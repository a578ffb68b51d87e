"""Property-based invariants over random edit scripts (SURVEY.md §5.4).

Drives parse.digest_revision + diff.PageDiffer directly (no Spark session —
the grouped UDF's inner engine), asserting:

  * replaying the emitted CREATE/DELETE/UPDATE rows per statement
    reconstructs the final snapshot's value;
  * CREATE/DELETE balance matches statement liveness;
  * the differ is deterministic (identical rows on identical input).
"""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from widiff_spark import fixtures as FX
from widiff_spark.config import DEFAULT_CONFIG
from widiff_spark.diff import PageDiffer
from widiff_spark.parse import digest_revision, keep_flags, state_key

VALUES = ["alpha", "beta", "gamma", "delta"]
PIDS = ["P100", "P200"]
SIDS = ["s1", "s2"]


@st.composite
def edit_script(draw):
    """A page history: each revision is a full claim snapshot — a dict
    {(pid, sid): value} drawn from small pools."""
    n_revs = draw(st.integers(min_value=1, max_value=6))
    revs = []
    for _ in range(n_revs):
        snapshot = {}
        for pid in PIDS:
            for sid in SIDS:
                v = draw(st.sampled_from(VALUES + [None, None]))
                if v is not None:
                    snapshot[(pid, sid)] = v
        revs.append(snapshot)
    return revs


def run_differ(script):
    revisions = []
    for i, snapshot in enumerate(script):
        claims: dict = {}
        for (pid, sid), v in snapshot.items():
            claims.setdefault(pid, []).append(
                FX.statement(f"q9$%s$%s" % (pid, sid),
                             FX.string_snak(pid, v)))
        body = FX.content(1000 + i, FX._ts(i), claims=claims,
                          label="proptest")
        meta, digest, err = digest_revision(body, "wikidata-json")
        redirect, cleaned, alias_only = keep_flags(digest)
        revisions.append({
            "state_key": state_key(digest), "is_redirect": redirect,
            "is_cleaned": cleaned, "is_alias_only": alias_only,
            "revision_id": meta["revision_id"],
            "timestamp": meta["timestamp"],
            "comment": meta.get("comment") or "",
            "username": meta.get("username") or "",
            "user_id": str(meta.get("user_id") or ""),
            "is_deleted": False,
            "digest": digest,
        })
    differ = PageDiffer("repo", 9, DEFAULT_CONFIG)
    return differ.process_page(revisions)


@settings(max_examples=40, deadline=None)
@given(edit_script())
def test_replay_reconstructs_final_snapshot(script):
    result = run_differ(script)
    # replay value rows (change_target='') per (pid, sid) in revision order
    state: dict = {}
    rows = sorted((r for r in result["value_change"]
                   if r["change_target"] == "" and r["property_id"] > 0),
                  key=lambda r: r["revision_id"])
    for r in rows:
        key = (r["property_id"], r["value_id"])
        if r["action"] in ("CREATE", "UPDATE"):
            state[key] = r["new_value"]
        elif r["action"] == "DELETE":
            state.pop(key, None)

    final = {}
    for (pid, sid), v in script[-1].items():
        final[(int(pid[1:]), f"q9${pid}${sid}")] = json.dumps(
            v, ensure_ascii=False)
    assert state == final


@settings(max_examples=40, deadline=None)
@given(edit_script())
def test_create_delete_balance(script):
    result = run_differ(script)
    per_key: dict = {}
    for r in result["value_change"]:
        if r["change_target"] != "" or r["property_id"] < 0:
            continue
        k = (r["property_id"], r["value_id"])
        c = per_key.setdefault(k, {"CREATE": 0, "DELETE": 0})
        if r["action"] in c:
            c[r["action"]] += 1
    live = {(int(pid[1:]), f"q9${pid}${sid}")
            for (pid, sid) in script[-1].keys()}
    for k, c in per_key.items():
        assert c["CREATE"] - c["DELETE"] == (1 if k in live else 0), (k, c)


@settings(max_examples=20, deadline=None)
@given(edit_script())
def test_determinism(script):
    a = run_differ(script)
    b = run_differ(script)
    assert a["value_change"] == b["value_change"]
    timing = {k for k in a["entity_stats"] if "time" in k and "stamp" not in k}
    assert {k: v for k, v in a["entity_stats"].items() if k not in timing} \
        == {k: v for k, v in b["entity_stats"].items() if k not in timing}
