"""Revert detection over a page's change history (operator J6).

Tags each (property, value, change_target) history with
``(is_reverted, reversion, reversion_timestamp, revision_id_reversion)``
flags by a forward pairwise scan within a time window — reference
scripts/feature_creation.py:877-934 (``check_revert``) and 936-1132
(``tag_reverted_edits``).

Input is the page's emitted value_change row dicts, in emission order —
the one shape both execution modes produce.  ``tag_reverted_edits`` groups
them into (property_id, value_id, change_target) histories itself and reads
each row's PK (revision_id, property_id, value_id, change_target) from the
row.  The grouped mode passes a whole page's rows; the salted mode passes
one (page, property, value) group's rows, which holds every row sharing a
PK, so the dedup below sees the same rows in both modes.

The scan is order-dependent (flag precedence, early break, intermediate
marking on restores) so it stays sequential *per history* — far finer than
pages, so the hot-page skew the reference suffers from is already diluted.

Faithfully replicated quirks:
  * pairing compares the *serialized values* (old_value/new_value), not the
    sha1 hashes, with ``'{}'`` collapsed to ``''``
    (feature_creation.py:880-884);
  * ``check_revert`` lowercases the comment, but the UPDATE->CREATE
    restore-pair gate in ``tag_reverted_edits`` does not
    (feature_creation.py:886 vs 1026);
  * rank CREATE/DELETE rows are never paired directly; at output, *all* rank
    rows inherit the flags of their value row — even a directly-tagged rank
    UPDATE reads its value row's flags (feature_creation.py:1115-1118) while
    its own tagging still counts in the stats;
  * output rows are deduplicated by PK, last emission wins
    (feature_creation.py:977-982 dict_lookup).

Documented divergence: reference line 1061 assigns into a tuple
(``revert_flags[k][1] = (...)``), which would raise TypeError — i.e. that
upgrade path crashes the reference worker.  We implement the evident intent
(upgrade flags to (1, 1), keep the recorded reversion metadata).
"""

from __future__ import annotations

from operator import itemgetter

from . import canonical as C

DEFAULT_TIME_THRESHOLD_SECONDS = 2419200  # 4 weeks (reference setup.yml:28-29)

# the entity_stats counts tag_reverted_edits returns
REVERT_STATS = ("num_reverted_edits", "num_reversions",
                "num_reverted_edits_create", "num_reverted_edits_delete",
                "num_reverted_edits_update")

_itemgetter_ts = itemgetter("timestamp")


def _pair_hash(change: dict, side: str) -> str:
    v = change.get(side, "")
    return str(v).strip() if v != "{}" else ""


_EPOCH_CACHE: dict = {}


def _ts_to_epoch(ts: str) -> float:
    """Timestamp-string -> epoch seconds, cached per worker: one revision
    fans out to many change rows sharing the same timestamp string, and
    timestamps repeat across pages in a bucket.  Bounded: cleared at 512k
    entries (~50 MB worst case) so a long-lived worker cannot grow it
    unboundedly."""
    ep = _EPOCH_CACHE.get(ts)
    if ep is None:
        ep = C.parse_timestamp(ts).timestamp()
        if len(_EPOCH_CACHE) >= 524288:
            _EPOCH_CACHE.clear()
        _EPOCH_CACHE[ts] = ep
    return ep


def _precompute_pair_fields(change: dict) -> None:
    """Attach the per-change fields the pairwise scan reads per comparison
    (pair strings, lowered comment, epoch) — computed once per change
    instead of once per (current, future) pair, which was the scan's #1
    remaining cost in profiling (str/strip/lower allocations per pair)."""
    change["_po"] = _pair_hash(change, "old_value")
    change["_pn"] = _pair_hash(change, "new_value")
    change["_cl"] = str(change.get("comment", "")).lower()
    change["_ts_epoch"] = _ts_to_epoch(change["timestamp"])


def check_revert(current: dict, future: dict,
                 time_threshold: int = DEFAULT_TIME_THRESHOLD_SECONDS) -> int:
    """1 if ``future`` reverts ``current`` (feature_creation.py:877-934)."""
    try:
        # fields precomputed by tag_reverted_edits' history prologue
        curr_old = current["_po"]
        curr_new = current["_pn"]
        next_old = future["_po"]
        next_new = future["_pn"]
        next_comment = future["_cl"]
        diff_ts = future["_ts_epoch"] - current["_ts_epoch"]
    except KeyError:
        # direct callers pass bare change dicts: precompute on copies, so
        # the caller's dicts stay as they were
        current, future = dict(current), dict(future)
        _precompute_pair_fields(current)
        _precompute_pair_fields(future)
        return check_revert(current, future, time_threshold)

    direct = (curr_old == next_new and curr_new == next_old
              and curr_old != "" and next_new != ""
              and diff_ts <= time_threshold)

    trailing = (curr_old == next_new and curr_old != "" and next_new != ""
                and curr_new != next_old
                and (("restore" in next_comment or "rollback" in next_comment)
                     and diff_ts <= time_threshold))

    create_case = (curr_old == "" and next_new == ""
                   and curr_new == next_old
                   and diff_ts <= time_threshold)

    return 1 if (direct or trailing or create_case) else 0


def tag_reverted_edits(value_rows: list,
                       time_threshold: int = DEFAULT_TIME_THRESHOLD_SECONDS):
    """Tag a page's value/rank rows; return (tagged_rows, revert_stats).

    ``value_rows``: the emitted value_change row dicts in emission order,
    each with revision_id/property_id/value_id/change_target/action/
    timestamp/old_value/new_value/comment (page_parser.py:412-422).  The
    scan's private fields land on the row dicts; ``tagged_rows`` are the
    PK-deduplicated rows with their four flag fields set.
    """
    histories: dict = {}
    for row in value_rows:
        histories.setdefault((row["property_id"], row["value_id"],
                              row["change_target"]), []).append(row)
    revert_flags: dict = {}
    stats = dict.fromkeys(REVERT_STATS, 0)

    def bump(change):
        stats["num_reverted_edits"] += 1
        action = change["action"]
        if action == "CREATE":
            stats["num_reverted_edits_create"] += 1
        elif action == "DELETE":
            stats["num_reverted_edits_delete"] += 1
        elif action == "UPDATE":
            stats["num_reverted_edits_update"] += 1

    for (property_id, value_id, change_target), pv_changes in histories.items():
        if len(pv_changes) < 2:
            # a single change can never pair with anything — the scan below
            # is a no-op, so skip it AND its per-change precompute (single-
            # change histories are the common case)
            continue
        pv_changes.sort(key=_itemgetter_ts)
        reversion_keys: set = set()
        reverted_keys: set = set()

        # history prologue: compute each change's pair strings / lowered
        # comment / epoch / flag key ONCE — the pairwise scan below reads
        # them once per comparison
        for c in pv_changes:
            _precompute_pair_fields(c)
            c["_rk"] = (c["revision_id"], property_id, value_id,
                        c["change_target"])

        for i, current in enumerate(pv_changes):
            curr_key = current["_rk"]
            if curr_key in reverted_keys:
                continue
            cur_epoch = current["_ts_epoch"]

            next_changes = pv_changes[i + 1:]
            for j, future in enumerate(next_changes):
                # futures are timestamp-sorted and every revert pattern in
                # check_revert requires diff_ts <= threshold, so nothing
                # beyond the window can match — break, don't scan on.  This
                # bounds the per-history scan to the 4-week window (the
                # unbounded scan is O(n²) on 10k+-change hot histories);
                # semantics identical (the skipped pairs all return 0).
                if future["_ts_epoch"] - cur_epoch > time_threshold:
                    break
                future_key = future["_rk"]
                if (future_key in reversion_keys
                        or change_target != future["change_target"]
                        or (current["change_target"] == "rank"
                            and current["action"] in ("DELETE", "CREATE"))):
                    continue

                curr_action = current["action"]
                next_action = future["action"]
                valid_pair = (
                    (curr_action == "UPDATE" and next_action == "UPDATE")
                    or (curr_action == "CREATE" and next_action == "DELETE")
                    or (curr_action == "DELETE" and next_action == "CREATE")
                    or (curr_action == "UPDATE" and next_action == "CREATE"
                        and ("restore" in future["comment"]
                             or "rollback" in future["comment"]))
                )

                reverted = check_revert(current, future, time_threshold) \
                    if valid_pair else 0
                if reverted != 1:
                    continue

                # -- mark the reverted edit (feature_creation.py:1033-1049) --
                rank_key = (current["revision_id"], property_id, value_id, "rank")
                if curr_key not in revert_flags:
                    revert_flags[curr_key] = (1, 0, future["timestamp"],
                                              future["revision_id"])
                    if current["change_target"] == "" and \
                            current["action"] in ("DELETE", "CREATE"):
                        revert_flags[rank_key] = (1, 0, future["timestamp"],
                                                  future["revision_id"])
                elif revert_flags[curr_key][0] == 0 and revert_flags[curr_key][1] == 1:
                    revert_flags[curr_key] = (1, 1, future["timestamp"],
                                              future["revision_id"])
                    if change_target == "" and current["action"] in ("DELETE", "CREATE"):
                        revert_flags[rank_key] = (1, 1, future["timestamp"],
                                                  future["revision_id"])
                reverted_keys.add(curr_key)

                # -- mark the reversion edit (feature_creation.py:1051-1067) --
                rank_key_f = (future["revision_id"], property_id, value_id, "rank")
                if future_key not in revert_flags:
                    revert_flags[future_key] = (0, 1, None, None)
                    if future["change_target"] == "" and \
                            future["action"] in ("DELETE", "CREATE"):
                        revert_flags[rank_key_f] = (0, 1, None, None)
                elif revert_flags[future_key][1] == 0 and revert_flags[future_key][0] == 1:
                    # reference line 1061 crashes here (tuple item assignment);
                    # implement the evident intent: upgrade to (1, 1).
                    prev = revert_flags[future_key]
                    revert_flags[future_key] = (1, 1, prev[2], prev[3])
                    if future["change_target"] == "" and \
                            future["action"] in ("DELETE", "CREATE"):
                        prev_r = revert_flags.get(rank_key_f, (0, 0, None, None))
                        revert_flags[rank_key_f] = (1, 1, prev_r[2], prev_r[3])
                reversion_keys.add(future_key)

                # -- restore-of-update chain: mark intermediates
                #    (feature_creation.py:1069-1096) --
                if (("restore" in future["comment"] or "rollback" in future["comment"])
                        and current["action"] == "UPDATE"
                        and future["action"] == "CREATE"):
                    for inter in next_changes[:j]:
                        inter_key = inter["_rk"]
                        reverted_keys.add(inter_key)
                        if inter_key not in revert_flags:
                            revert_flags[inter_key] = (
                                1, 0, future["timestamp"], future["revision_id"])
                            if inter["change_target"] == "" and \
                                    inter["action"] in ("DELETE", "CREATE"):
                                rk = (inter["revision_id"], property_id,
                                      value_id, "rank")
                                revert_flags[rk] = (1, 0, future["timestamp"],
                                                    future["revision_id"])
                            bump(inter)

                bump(current)
                stats["num_reversions"] += 1
                break  # found the revert; move on (feature_creation.py:1109)

    # output: PK-dedup (last wins) + rank rows inherit value-row flags
    dict_lookup = {}
    for row in value_rows:
        dict_lookup[(row["revision_id"], row["property_id"], row["value_id"],
                     row["change_target"])] = row

    tagged = []
    for key, row in dict_lookup.items():
        if key[3] == "rank":
            flags = revert_flags.get((key[0], key[1], key[2], ""),
                                     (0, 0, None, None))
        else:
            flags = revert_flags.get(key, (0, 0, None, None))
        row["is_reverted"], row["reversion"], row["reversion_timestamp"], \
            row["revision_id_reversion"] = flags
        tagged.append(row)

    return tagged, stats
