"""Cleanroom replay of the reference change-extraction semantics.

Written from the reference implementation only (file:line cites below refer
to /root/reference). Shares ZERO code with the engine (`widiff_spark`):
this module never imports it, keeps no digest format, and replays raw
revision JSON per page the way the reference's ``PageParser`` does —
homogenize-at-diff-time, hash-at-diff-time, one sequential pass.

Where the reference is nondeterministic (it iterates ``set()``s, whose
order is per-process hash-randomized) the repo's documented deterministic
winners apply (SURVEY.md §7.4.6); both this module and the engine implement
those same *spec decisions*, independently:
  * pids / statement ids / qualifier hashes / reference keys iterate in
    sorted order;
  * datatype-metadata dicts iterate in insertion order (and the mismatched-
    datatype positional pairing consumes keys in insertion order);
  * ``entity_types_31`` deduplicates preserving first-seen order.

Documented divergences from the literal reference text (both implemented
identically here and in the engine, as the evident intent):
  * feature_creation.py:1061 assigns into a tuple (would raise TypeError);
    the intent — upgrade the flags to (1, 1) keeping the recorded reversion
    metadata — is implemented;
  * feature_creation.py:1065 reads ``revert_flags[rank_key]`` that may be
    absent (KeyError); a (0, 0, None, None) default applies;
  * page_parser.py:1449/1665 ``set.remove`` raises on a type value that was
    never added; a tolerant discard applies;
  * page_parser.py:750/834/... call ``.split('/')`` on a possibly-missing
    calendarmodel/unit metadata value; non-strings pass through unchanged.

Input contract: corpus rows ``(repo, path, commit, lang, content)`` where
``content`` is the revision payload (entity JSON with a ``meta`` header) and
``lang == 'deleted'`` marks a suppressed revision (<text deleted="deleted"/>
in the reference's XML, page_parser.py:1993-2011).
"""

from __future__ import annotations

import hashlib
import html
import json
import re
from datetime import datetime

# --- constants (reference scripts/const.py) ---------------------------------
NO_VALUE = "novalue"
SOME_VALUE = "somevalue"
WD_ENTITY_TYPES = (
    "wikibase-item", "wikibase-entityid", "wikibase-property",
    "wikibase-lexeme", "wikibase-sense", "wikibase-form", "entity-schema",
)
LABEL_PID = -1
DESCRIPTION_PID = -2
LANG = "en"  # reference setup.yml:3
FOUR_WEEKS = 28 * 24 * 60 * 60  # reference feature_creation.py:901

_CTRL = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
_TIME_ZEROS = re.compile(r"^([+-])0*(\d+)")
_TIME_PAD = re.compile(r"^([+-])0+(?=\d{4}-)")
_TZ_TAIL = re.compile(r"[+-]\d{2}:?\d{0,2}$")

_STAT_KEYS = (
    "num_revisions", "num_value_changes", "num_value_change_creates",
    "num_value_change_deletes", "num_value_change_updates",
    "num_rank_changes", "num_rank_creates", "num_rank_deletes",
    "num_rank_updates", "num_qualifier_changes", "num_reference_changes",
    "num_datatype_metadata_changes", "num_datatype_metadata_creates",
    "num_datatype_metadata_deletes", "num_datatype_metadata_updates",
    "num_bot_edits", "num_anonymous_edits", "num_human_edits",
    "num_reverted_edits", "num_reversions", "num_reverted_edits_create",
    "num_reverted_edits_delete", "num_reverted_edits_update",
    "num_revisions_timed", "num_feature_creations_timed",
)


# --------------------------------------------------------------------------
# decode + scalar helpers (page_parser.py:152-376, utils.py:428-459)
# --------------------------------------------------------------------------

def decode(text: str):
    """Two-stage tolerant revision decode (page_parser.py:158-173)."""
    try:
        cleaned = html.unescape(text.strip())
        cleaned = (cleaned.replace("“", '"').replace("”", '"')
                   .replace("„", '"').replace("‟", '"'))
        return json.loads(_CTRL.sub("", cleaned))
    except json.JSONDecodeError:
        pass
    try:
        return json.loads(text.strip())
    except json.JSONDecodeError:
        return None


def qid_int(wd_id: str) -> int:
    """'Q42' / 'P31' -> 42 / 31 (utils.py:428-432)."""
    return int(wd_id[1:])


def nested(d, *keys):
    """Dict walk where misses and list values collapse to {}
    (page_parser.py:213-235)."""
    cur = d
    for k in keys:
        if isinstance(cur, dict):
            cur = cur.get(k, {})
        else:
            return {}
    return {} if isinstance(cur, list) else cur


def ser(value):
    """Change-value serialization with the '{}'-for-falsy DB convention
    (page_parser.py:364-376)."""
    return json.dumps(value, ensure_ascii=False) if value else "{}"


def split_type(change_type):
    """'CREATE_PROPERTY_VALUE' -> ('CREATE', 'PROPERTY_VALUE')
    (page_parser.py:189-200)."""
    if not change_type or "_" not in change_type:
        return change_type, None
    a, t = change_type.split("_", 1)
    return a, t


def homogenize(snak):
    """In-place snak normalization before hashing (page_parser.py:1000-1030)."""
    if not isinstance(snak, dict) or "datavalue" not in snak:
        return snak
    kind = snak["datavalue"]["type"]
    val = snak["datavalue"]["value"]
    if kind == "globecoordinate":
        val.pop("altitude", None)
    if kind == "time":
        val.pop("before", None)
        val.pop("after", None)
        val["time"] = _TIME_ZEROS.sub(r"\1\2", val["time"])
    if kind in WD_ENTITY_TYPES:
        if "id" not in val:
            val["id"] = f"Q{val['numeric-id']}"
        val.pop("numeric-id", None)
    return snak


def snak_hash(hom):
    """sha1 of the compact-dumped datavalue; sentinel snaks keep their own
    hash field (page_parser.py:1032-1082)."""
    if not hom:
        return None
    if hom.get("snaktype") in (NO_VALUE, SOME_VALUE):
        return hom.get("hash")
    return hashlib.sha1(
        json.dumps(hom["datavalue"], separators=(",", ":")).encode("utf-8")
    ).hexdigest()


def parse_dv(value_json, datatype):
    """(value, datatype, metadata) split of a raw datavalue
    (page_parser.py:250-280)."""
    value, meta = None, {}
    if isinstance(value_json, dict):
        if datatype == "globecoordinate":
            value = {"longitude": value_json["longitude"],
                     "latitude": value_json["latitude"]}
        if datatype != "wikibase-entityid":
            for k, v in value_json.items():
                if k not in ("time", "amount", "text", "latitude",
                             "longitude", "altitude", "before", "after",
                             "timezone"):
                    meta[k] = v
                elif datatype != "globecoordinate" and k not in (
                        "altitude", "before", "after", "timezone"):
                    value = v
        else:
            value = (value_json["id"] if "id" in value_json
                     else "Q" + str(value_json.get("numeric-id")))
    else:
        value = value_json
    return value, datatype, meta


def parse_mainsnak(stmt):
    """Mainsnak -> (value, datatype, metadata); sentinel snaktypes map to
    'unknown-values' (page_parser.py:282-304)."""
    if not stmt:
        return None, None, None
    snaktype = stmt["mainsnak"].get("snaktype")
    if snaktype == "value":
        dv = stmt["mainsnak"].get("datavalue")
        return parse_dv(dv.get("value"), dv.get("type"))
    return (NO_VALUE if snaktype == "novalue" else SOME_VALUE,
            "unknown-values", None)


def parse_small_snak(snak):
    """Qualifier/reference snak parse; sentinels map to 'string'
    (page_parser.py:1176-1180, 1302-1308)."""
    if snak.get("snaktype") in (NO_VALUE, SOME_VALUE):
        return snak["snaktype"], "string", None
    dv = snak["datavalue"]
    return parse_dv(dv["value"], dv["type"])


def label_change_type(old, new):
    """CREATE/DELETE/UPDATE typing for single-valued fields
    (page_parser.py:306-317)."""
    if not old and new:
        return "CREATE_PROPERTY_VALUE"
    if old and not new:
        return "DELETE_PROPERTY_VALUE"
    if old and new and old != new:
        return "UPDATE_PROPERTY_VALUE"
    return None


def _qtail(key, v):
    """calendarmodel/unit URLs keep only the trailing Q-id
    (page_parser.py:620-621 etc.); tolerant on non-strings."""
    if key in ("calendarmodel", "unit") and isinstance(v, str):
        return v.split("/")[-1]
    return v


def _hkey(v):
    return json.dumps(v, sort_keys=True) if isinstance(v, (dict, list)) else v


# --------------------------------------------------------------------------
# per-page replayer (page_parser.py:1350-2326)
# --------------------------------------------------------------------------

class Replayer:
    def __init__(self, repo: str, entity_id: int,
                 re_interpretation: bool = True,
                 extract_datatype_metadata: bool = True,
                 time_threshold: int = FOUR_WEEKS):
        self.repo = repo
        self.entity_id = entity_id
        self.re_interpretation = re_interpretation
        self.extract_metadata = extract_datatype_metadata
        self.time_threshold = time_threshold

        self.meta: dict = {}
        self.redirect_pending = False
        self.label = ""
        self.alias = ""
        self.description = ""
        self.p31: dict = {}   # (sid, hashable(value)) -> value, insertion order
        self.p279: dict = {}

        self.revision_rows: list[dict] = []
        self.value_rows: list[dict] = []
        self.qual_rows: list[dict] = []
        self.ref_rows: list[dict] = []
        self.meta_rows: list[dict] = []
        self.history: dict = {}  # (pid, vid, target) -> [change dict]
        self.quarantine: list[dict] = []
        self.stats = {k: 0 for k in _STAT_KEYS}

    # -- emitters (page_parser.py:371-611) --------------------------------

    def _bump_value_stats(self, target, action):
        # page_parser.py:129-149
        if target == "":
            self.stats["num_value_changes"] += 1
            if action == "CREATE":
                self.stats["num_value_change_creates"] += 1
            elif action == "DELETE":
                self.stats["num_value_change_deletes"] += 1
            elif action == "UPDATE":
                self.stats["num_value_change_updates"] += 1
        if target == "rank":
            self.stats["num_rank_changes"] += 1
            if action == "CREATE":
                self.stats["num_rank_creates"] += 1
            elif action == "DELETE":
                self.stats["num_rank_deletes"] += 1
            elif action == "UPDATE":
                self.stats["num_rank_updates"] += 1

    def emit_value(self, pid_int, vid, old, new, old_dt, new_dt, target,
                   change_type, old_hash=None, new_hash=None):
        # page_parser.py:371-466
        old_s, new_s = ser(old), ser(new)
        action, tgt = split_type(change_type)
        target = target if target else ""
        label = ""
        if self.re_interpretation and target == "":
            if new_dt != old_dt and action == "UPDATE":
                label = "value_update"
            if action == "CREATE" and tgt == "PROPERTY_VALUE":
                label = "statement_insertion"
            if action == "DELETE" and tgt == "PROPERTY_VALUE":
                label = "statement_deletion"
        if self.re_interpretation and target == "rank" and action == "UPDATE":
            of = old_s.replace('"', "") if old_s else ""
            nf = new_s.replace('"', "") if new_s else ""
            if of in ("normal", "preferred") and nf == "deprecated":
                label = "soft_deletion"
            if nf == "preferred" and of in ("deprecated", "normal"):
                label = "soft_insertion"

        self._bump_value_stats(target, action)
        self.history.setdefault((pid_int, vid, target), []).append({
            "timestamp": self.meta["timestamp"],
            "old_value": old_s, "new_value": new_s,
            "comment": self.meta["comment"], "change_target": target,
            "revision_id": self.meta["revision_id"], "action": action,
        })
        self.value_rows.append({
            "revision_id": self.meta["revision_id"], "property_id": pid_int,
            "value_id": vid, "old_value": old_s, "new_value": new_s,
            "old_datatype": old_dt, "new_datatype": new_dt,
            "change_target": target, "action": action, "target": tgt,
            "old_hash": old_hash or "", "new_hash": new_hash or "",
            "timestamp": self.meta["timestamp"], "label": label,
            "entity_id": self.entity_id,
        })

    def emit_metadata(self, pid_int, vid, old, new, old_dt, new_dt, target,
                      change_type, old_hash=None, new_hash=None):
        # page_parser.py:472-517
        action, tgt = split_type(change_type)
        label = ("datatype_context_update"
                 if self.re_interpretation and action == "UPDATE" else "")
        self.meta_rows.append({
            "revision_id": self.meta["revision_id"], "property_id": pid_int,
            "value_id": vid, "old_value": ser(old), "new_value": ser(new),
            "old_datatype": old_dt, "new_datatype": new_dt,
            "change_target": target if target else "", "action": action,
            "target": tgt, "old_hash": old_hash or "",
            "new_hash": new_hash or "", "timestamp": self.meta["timestamp"],
            "label": label, "entity_id": self.entity_id,
        })
        if action == "CREATE":
            self.stats["num_datatype_metadata_creates"] += 1
        elif action == "DELETE":
            self.stats["num_datatype_metadata_deletes"] += 1
        elif action == "UPDATE":
            self.stats["num_datatype_metadata_updates"] += 1
        self.stats["num_datatype_metadata_changes"] += 1

    def emit_qualifier(self, pid_int, vid, qpid_int, vhash, old, new,
                       old_dt, new_dt, change_type):
        # page_parser.py:530-574
        action, tgt = split_type(change_type)
        label = ""
        if self.re_interpretation and action == "CREATE" \
                and qpid_int in (582, 8554, 12506, 3416):
            label = "soft_deletion"  # end-time qualifiers, page_parser.py:541-549
        self.qual_rows.append({
            "revision_id": self.meta["revision_id"], "property_id": pid_int,
            "value_id": vid, "qual_property_id": qpid_int,
            "value_hash": vhash, "old_value": ser(old), "new_value": ser(new),
            "old_datatype": old_dt, "new_datatype": new_dt,
            "change_target": "", "action": action, "target": tgt,
            "timestamp": self.meta["timestamp"], "label": label,
            "entity_id": self.entity_id,
        })

    def emit_reference(self, pid_int, vid, rpid_int, ref_hash, vhash, old,
                       new, old_dt, new_dt, change_type):
        # page_parser.py:577-611
        action, tgt = split_type(change_type)
        self.ref_rows.append({
            "revision_id": self.meta["revision_id"], "property_id": pid_int,
            "value_id": vid, "ref_property_id": rpid_int,
            "ref_hash": ref_hash, "value_hash": vhash, "old_value": ser(old),
            "new_value": ser(new), "old_datatype": old_dt,
            "new_datatype": new_dt, "change_target": "", "action": action,
            "target": tgt, "timestamp": self.meta["timestamp"], "label": "",
            "entity_id": self.entity_id,
        })

    # -- type-set replay (page_parser.py:1362-1366 etc.) -------------------

    def _types_add(self, pid, sid, value):
        if pid == "P31":
            self.p31[(sid, _hkey(value))] = value
        if pid == "P279":
            self.p279[(sid, _hkey(value))] = value

    def _types_remove(self, pid, sid, value):
        if pid == "P31":
            self.p31.pop((sid, _hkey(value)), None)
        if pid == "P279":
            self.p279.pop((sid, _hkey(value)), None)

    # -- qualifier / reference diffs (page_parser.py:1084-1348) ------------

    def diff_qualifiers(self, pid, vid, prev_stmt, curr_stmt):
        prev = (prev_stmt or {}).get("qualifiers") or {}
        curr = (curr_stmt or {}).get("qualifiers") or {}
        if not isinstance(prev, dict):
            prev = {}
        if not isinstance(curr, dict):
            curr = {}
        if not prev and not curr:
            return False

        def hash_map(snaks):
            out = {}
            for snak in snaks:
                hom = homogenize(snak)
                out[snak_hash(hom)] = hom  # dedup by hash, last wins
            return out

        changed = False
        for qpid in sorted(set(prev) | set(curr)):
            pm = hash_map(prev.get(qpid, []))
            cm = hash_map(curr.get(qpid, []))
            for h in sorted(set(pm) - set(cm), key=str):
                changed = True
                v, dt, _ = parse_small_snak(pm[h])
                self.emit_qualifier(qid_int(pid), vid, qid_int(qpid), h,
                                    v, None, dt, None,
                                    "DELETE_QUALIFIER_VALUE")
            for h in sorted(set(cm) - set(pm), key=str):
                changed = True
                v, dt, _ = parse_small_snak(cm[h])
                self.emit_qualifier(qid_int(pid), vid, qid_int(qpid), h,
                                    None, v, None, dt,
                                    "CREATE_QUALIFIER_VALUE")
        return changed

    def diff_references(self, pid, vid, prev_stmt, curr_stmt):
        prev_refs = (prev_stmt or {}).get("references") or []
        curr_refs = (curr_stmt or {}).get("references") or []
        if not prev_refs and not curr_refs:
            return False

        def hash_map(refs):
            out = {}
            for ref in refs:
                if not isinstance(ref.get("snaks"), dict):
                    continue
                pairs = []
                homs = []
                for rpid, snaks in ref["snaks"].items():
                    for snak in snaks:
                        hom = homogenize(snak)
                        h = snak_hash(hom)
                        pairs.append((rpid, h))
                        homs.append((rpid, h, hom))
                group = hashlib.sha1(
                    json.dumps(sorted(pairs)).encode("utf-8")).hexdigest()
                for rpid, h, hom in homs:
                    out[(group, rpid, h)] = hom  # keyed triple, last wins
            return out

        pm = hash_map(prev_refs)
        cm = hash_map(curr_refs)
        changed = False
        for key in sorted(set(pm) - set(cm), key=str):
            changed = True
            group, rpid, h = key
            v, dt, _ = parse_small_snak(pm[key])
            self.emit_reference(qid_int(pid), vid, qid_int(rpid), group, h,
                                v, None, dt, None, "DELETE_REFERENCE_VALUE")
        for key in sorted(set(cm) - set(pm), key=str):
            changed = True
            group, rpid, h = key
            v, dt, _ = parse_small_snak(cm[key])
            self.emit_reference(qid_int(pid), vid, qid_int(rpid), group, h,
                                None, v, None, dt, "CREATE_REFERENCE_VALUE")
        return changed

    # -- datatype-metadata diff (page_parser.py:614-983) -------------------

    def _emit_meta_row(self, pid, vid, old, new, old_dt, new_dt, key,
                       change_type, old_hash, new_hash, to_value):
        emit = self.emit_value if to_value else self.emit_metadata
        emit(qid_int(pid), vid, old, new, old_dt, new_dt, key, change_type,
             old_hash, new_hash)

    def diff_metadata(self, old_md, new_md, vid, old_dt, new_dt, pid,
                      change_type, old_hash=None, new_hash=None):
        old_md = old_md or {}
        new_md = new_md or {}

        if old_md and not new_md:  # deletion, page_parser.py:616-678
            for key in old_md:
                self._emit_meta_row(pid, vid, _qtail(key, old_md[key]), None,
                                    old_dt, new_dt, key, change_type,
                                    old_hash, None,
                                    to_value=(old_dt == "monolingualtext"))
            return
        if new_md and not old_md:  # creation, page_parser.py:680-741
            for key in new_md:
                self._emit_meta_row(pid, vid, None, _qtail(key, new_md[key]),
                                    old_dt, new_dt, key, change_type,
                                    None, new_hash,
                                    to_value=(new_dt == "monolingualtext"))
            return
        if old_dt == new_dt:  # same-type update, page_parser.py:743-811
            for key in old_md:
                ov = _qtail(key, old_md.get(key))
                nv = _qtail(key, new_md.get(key))
                if ov != nv:
                    self._emit_meta_row(pid, vid, ov, nv, old_dt, new_dt,
                                        key, change_type, old_hash, new_hash,
                                        to_value=(old_dt == "monolingualtext"))
            return

        # mismatched datatypes: positional small-set -> big-set pairing
        # (page_parser.py:813-983; insertion-order deterministic winner)
        old_keys, new_keys = list(old_md), list(new_md)
        big_old = len(old_keys) > len(new_keys)
        big, small = (old_keys, new_keys) if big_old else (new_keys, old_keys)
        used: set = set()
        for key in small:
            paired = next((k for k in big if k not in used), None)
            if paired is not None:
                used.add(paired)
            if big_old:
                ov = _qtail(paired, old_md.get(paired))
                nv = _qtail(key, new_md.get(key))
            else:
                ov = _qtail(key, old_md.get(key))
                nv = _qtail(paired, new_md.get(paired))
            self._emit_meta_row(pid, vid, ov, nv, old_dt, new_dt, key,
                                change_type, old_hash, new_hash,
                                to_value=(key == "language"))
        for key in [k for k in big if k not in used]:
            ov = _qtail(key, old_md.get(key)) if big_old else None
            nv = None if big_old else _qtail(key, new_md.get(key))
            self._emit_meta_row(pid, vid, ov, nv, old_dt, new_dt, key,
                                change_type, old_hash, new_hash,
                                to_value=(key == "language"))

    # -- page-level branches (page_parser.py:1350-1953) --------------------

    def _created_entity(self, revision):
        # page_parser.py:1350-1429: raw values, the snak's own hash, NO rank
        # rows, NO homogenization.
        claims = nested(revision, "claims")
        for pid in sorted(claims):
            for stmt in claims[pid]:
                value, dt, _md = parse_mainsnak(stmt)
                raw_hash = stmt["mainsnak"].get("hash")
                sid = stmt.get("id")
                self._types_add(pid, sid, value)
                self.emit_value(qid_int(pid), sid, None, value, None, dt,
                                None, "CREATE_PROPERTY_VALUE", None, raw_hash)
                self.diff_qualifiers(pid, sid, None, stmt)
                self.diff_references(pid, sid, None, stmt)
        label = nested(revision, "labels", LANG, "value")
        desc = nested(revision, "descriptions", LANG, "value")
        for pid, vid, val in ((LABEL_PID, "label", label),
                              (DESCRIPTION_PID, "description", desc)):
            if val:
                self.emit_value(pid, vid, None,
                                val if not isinstance(val, dict) else None,
                                None, "string", None,
                                "CREATE_PROPERTY_VALUE", "", "")

    def _cleaned_entity(self, prev):
        # page_parser.py:1431-1530 — cascade DELETEs; the reference passes
        # the dying statement as curr to the qual/ref handlers (so their
        # rows come out as CREATEs); replicated for parity.
        claims = nested(prev, "claims")
        for pid in sorted(claims):
            for stmt in claims[pid]:
                homogenize(stmt["mainsnak"])
                value, dt, _md = parse_mainsnak(stmt)
                old_hash = snak_hash(stmt["mainsnak"])
                sid = stmt.get("id")
                self._types_remove(pid, sid, value)
                self.emit_value(qid_int(pid), sid, value, None, dt, None,
                                None, "DELETE_PROPERTY_VALUE", old_hash, None)
                self.emit_value(qid_int(pid), sid, stmt.get("rank"), None,
                                dt, None, "rank", "DELETE_PROPERTY_VALUE",
                                old_hash, None)
                self.diff_qualifiers(pid, sid, None, stmt)
                self.diff_references(pid, sid, None, stmt)
        label = nested(prev, "labels", LANG, "value")
        desc = nested(prev, "descriptions", LANG, "value")
        for pid, vid, val in ((LABEL_PID, "label", label),
                              (DESCRIPTION_PID, "description", desc)):
            if val:
                self.emit_value(pid, vid,
                                val if not isinstance(val, dict) else None,
                                None, "string", None, None,
                                "DELETE_PROPERTY_VALUE", "", "")

    def _label_desc_diff(self, prev, curr):
        # page_parser.py:1532-1597
        changed = False
        for pid, vid, field in ((LABEL_PID, "label", "labels"),
                                (DESCRIPTION_PID, "description",
                                 "descriptions")):
            pv = nested(prev, field, LANG, "value") if prev else None
            cv = nested(curr, field, LANG, "value")
            if cv != pv:
                changed = True
                old = pv if not isinstance(pv, dict) else None
                new = cv if not isinstance(cv, dict) else None
                self.emit_value(pid, vid, old, new,
                                "string" if old is not None else None,
                                "string" if new is not None else None,
                                None, label_change_type(pv, cv), "", "")
        return changed

    def _new_pids(self, pids, curr_claims):
        # page_parser.py:1600-1647
        for pid in sorted(pids):
            for stmt in curr_claims.get(pid, []):
                homogenize(stmt["mainsnak"])
                value, dt, md = parse_mainsnak(stmt)
                new_hash = snak_hash(stmt["mainsnak"])
                sid = stmt.get("id")
                self._types_add(pid, sid, value)
                self.emit_value(qid_int(pid), sid, None, value, None, dt,
                                None, "CREATE_PROPERTY_VALUE", None, new_hash)
                if md and self.extract_metadata:
                    self.diff_metadata(None, md, sid, None, dt, pid,
                                       "CREATE_PROPERTY_VALUE", None, new_hash)
                self.emit_value(qid_int(pid), sid, None, stmt.get("rank"),
                                None, dt, "rank", "CREATE_PROPERTY_VALUE",
                                None, new_hash)
                self.diff_qualifiers(pid, sid, None, stmt)
                self.diff_references(pid, sid, None, stmt)

    def _removed_pids(self, pids, prev_claims):
        # page_parser.py:1649-1700
        for pid in sorted(pids):
            for stmt in prev_claims.get(pid, []):
                homogenize(stmt["mainsnak"])
                value, dt, md = parse_mainsnak(stmt)
                old_hash = snak_hash(stmt["mainsnak"])
                sid = stmt.get("id")
                self._types_remove(pid, sid, value)
                self.emit_value(qid_int(pid), sid, value, None, dt, None,
                                None, "DELETE_PROPERTY_VALUE", old_hash, None)
                if md and self.extract_metadata:
                    self.diff_metadata(md, {}, sid, dt, None, pid,
                                       "DELETE_PROPERTY_VALUE", old_hash, None)
                self.emit_value(qid_int(pid), sid, stmt.get("rank"), None,
                                dt, None, "rank", "DELETE_PROPERTY_VALUE",
                                old_hash, None)
                self.diff_qualifiers(pid, sid, stmt, None)
                self.diff_references(pid, sid, stmt, None)

    def _rank_diff(self, prev_stmt, curr_stmt, pid, sid, old_hash, new_hash):
        # page_parser.py:1702-1752
        prev_rank = prev_stmt.get("rank") if prev_stmt else None
        curr_rank = curr_stmt.get("rank") if curr_stmt else None
        _, new_dt, _ = parse_mainsnak(curr_stmt)
        _, old_dt, _ = parse_mainsnak(prev_stmt)
        if not prev_stmt:
            self.emit_value(qid_int(pid), sid, None, curr_rank, old_dt,
                            new_dt, "rank", "CREATE_PROPERTY_VALUE",
                            None, new_hash)
            return True
        if not curr_stmt:
            self.emit_value(qid_int(pid), sid, prev_rank, None, old_dt,
                            new_dt, "rank", "DELETE_PROPERTY_VALUE",
                            old_hash, None)
            return True
        if prev_rank != curr_rank:
            self.emit_value(qid_int(pid), sid, prev_rank, curr_rank, old_dt,
                            new_dt, "rank", "UPDATE_RANK", old_hash, new_hash)
            return True
        return False

    def _remaining_pids(self, pids, prev_claims, curr_claims):
        # page_parser.py:1754-1888
        changed = False
        for pid in sorted(pids):
            prev_by_id = {s["id"]: s for s in prev_claims.get(pid, [])}
            curr_by_id = {s["id"]: s for s in curr_claims.get(pid, [])}
            for sid in sorted(set(prev_by_id) | set(curr_by_id), key=str):
                prev_stmt = prev_by_id.get(sid)
                curr_stmt = curr_by_id.get(sid)
                old_hash = new_hash = None
                if prev_stmt:
                    homogenize(prev_stmt["mainsnak"])
                    old_hash = snak_hash(prev_stmt["mainsnak"])
                if curr_stmt:
                    homogenize(curr_stmt["mainsnak"])
                    new_hash = snak_hash(curr_stmt["mainsnak"])
                new_value, new_dt, new_md = parse_mainsnak(curr_stmt)
                old_value, old_dt, old_md = parse_mainsnak(prev_stmt)

                if prev_stmt and not curr_stmt:
                    changed = True
                    self._types_remove(pid, sid, old_value)
                    self.emit_value(qid_int(pid), sid, old_value, new_value,
                                    old_dt, new_dt, None,
                                    "DELETE_PROPERTY_VALUE", old_hash,
                                    new_hash)
                    if old_md and self.extract_metadata:
                        # the reference passes old_dt as BOTH datatypes here
                        # (page_parser.py:1830)
                        self.diff_metadata(old_md, new_md, sid, old_dt,
                                           old_dt, pid,
                                           "DELETE_PROPERTY_VALUE",
                                           old_hash, new_hash)
                elif curr_stmt and not prev_stmt:
                    changed = True
                    self._types_add(pid, sid, new_value)
                    self.emit_value(qid_int(pid), sid, old_value, new_value,
                                    old_dt, new_dt, None,
                                    "CREATE_PROPERTY_VALUE", old_hash,
                                    new_hash)
                    if new_md and self.extract_metadata:
                        self.diff_metadata(old_md, new_md, sid, None, new_dt,
                                           pid, "CREATE_PROPERTY_VALUE",
                                           old_hash, new_hash)
                elif prev_stmt and curr_stmt and old_hash != new_hash:
                    changed = True
                    if (old_dt != new_dt) or (old_value != new_value):
                        if new_dt == "time":
                            # suppress WD zero-pad noise (page_parser.py:1854-1860)
                            ov = _TIME_PAD.sub(r"\1", old_value)
                            nv = _TIME_PAD.sub(r"\1", new_value)
                            if ov != nv:
                                self.emit_value(qid_int(pid), sid, ov, nv,
                                                old_dt, new_dt, None,
                                                "UPDATE_PROPERTY_VALUE",
                                                old_hash, new_hash)
                        else:
                            self.emit_value(qid_int(pid), sid, old_value,
                                            new_value, old_dt, new_dt, None,
                                            "UPDATE_PROPERTY_VALUE",
                                            old_hash, new_hash)
                        self._types_remove(pid, sid, old_value)
                        self._types_add(pid, sid, new_value)
                    if ((old_dt != new_dt) or (old_md != new_md)) \
                            and self.extract_metadata:
                        self.diff_metadata(old_md, new_md, sid, old_dt,
                                           new_dt, pid,
                                           "UPDATE_PROPERTY_DATATYPE_METADATA",
                                           old_hash, new_hash)

                changed = self._rank_diff(prev_stmt, curr_stmt, pid, sid,
                                          old_hash, new_hash) or changed
                changed = self.diff_qualifiers(pid, sid, prev_stmt,
                                               curr_stmt) or changed
                changed = self.diff_references(pid, sid, prev_stmt,
                                               curr_stmt) or changed
        return changed

    def diff_revision(self, curr, prev):
        # page_parser.py:1890-1953
        if prev is None:
            self._created_entity(curr)
            return True
        if "redirect" in curr:
            self.redirect_pending = True
            return True
        curr_claims = nested(curr, "claims")
        if not curr_claims and not nested(curr, "labels") \
                and not nested(curr, "descriptions"):
            if nested(curr, "aliases") or nested(curr, "sitelinks"):
                return False  # alias/sitelink-only revision
            self._cleaned_entity(prev)
            return True
        changed = self._label_desc_diff(prev, curr)
        prev_claims = nested(prev, "claims")
        prev_pids, curr_pids = set(prev_claims), set(curr_claims)
        if curr_pids - prev_pids:
            changed = True
            self._new_pids(curr_pids - prev_pids, curr_claims)
        if prev_pids - curr_pids:
            changed = True
            self._removed_pids(prev_pids - curr_pids, prev_claims)
        if prev_pids & curr_pids:
            changed = self._remaining_pids(prev_pids & curr_pids,
                                           prev_claims, curr_claims) or changed
        return changed

    # -- page replay (page_parser.py:1956-2326) ----------------------------

    def run(self, rows: list[dict]) -> None:
        """rows: one page's corpus rows sorted by commit."""
        previous = None
        last_stored = -1
        for row in rows:
            if row["lang"] == "deleted":
                continue  # invisible except for parent repair
            content = row["content"]
            revision = decode(content)
            if isinstance(revision, dict):
                meta = revision.get("meta", {}) or {}
            else:
                # quarantined rows: best-effort meta from the raw payload
                try:
                    meta = json.loads(content).get("meta", {}) or {}
                except (json.JSONDecodeError, AttributeError):
                    meta = {}
            username = meta.get("username") or ""
            user_type = ("bot" if "bot" in username.lower()
                         else "anonymous" if username == "" else "human")
            self.meta = {
                "revision_id": meta.get("revision_id"),
                "timestamp": meta.get("timestamp"),
                "comment": meta.get("comment") or "",
                "username": username,
                "user_id": str(meta.get("user_id") or ""),
                "user_type": user_type,
            }
            if revision is None:
                self.quarantine.append({
                    "repo": row["repo"], "path": row["path"],
                    "commit": row["commit"],
                    "revision_id": meta.get("revision_id"),
                    "error": "json_decode_error"})
                change = False
            else:
                # last-non-empty label/alias/description (page_parser.py:2049-2058)
                label = nested(revision, "labels", LANG, "value")
                desc = nested(revision, "descriptions", LANG, "value")
                alias = ""
                if isinstance(revision.get("aliases"), dict):
                    al = revision["aliases"].get(LANG, [])
                    alias = al[0]["value"] if len(al) > 0 else ""
                if label and not isinstance(label, dict):
                    self.label = label
                if desc and not isinstance(desc, dict):
                    self.description = desc
                if alias:
                    self.alias = alias
                change = self.diff_revision(revision, previous)
                self.stats["num_revisions_timed"] += 1

            if change:
                redirect_qid = None
                if self.redirect_pending and isinstance(revision, dict) \
                        and revision.get("redirect"):
                    redirect_qid = qid_int(revision["redirect"])
                self.revision_rows.append({
                    "prev_revision_id": last_stored,
                    "revision_id": self.meta["revision_id"],
                    "entity_id": self.entity_id,
                    "timestamp": self.meta["timestamp"],
                    "user_id": self.meta["user_id"],
                    "username": username,
                    "user_type": user_type,
                    "comment": self.meta["comment"],
                    "redirect": self.redirect_pending,
                    "q_id_redirect": redirect_qid,
                })
                self.stats["num_%s_edits" % ("bot" if user_type == "bot"
                                             else "anonymous"
                                             if user_type == "anonymous"
                                             else "human")] += 1
                self.redirect_pending = False
                last_stored = self.meta["revision_id"]
                if revision is not None:
                    previous = revision

        self._tag_reverts()

    # -- revert tagging (feature_creation.py:877-1132) ---------------------

    def _tag_reverts(self) -> None:
        threshold = self.time_threshold

        def epoch(change):
            ts = change.get("_epoch")
            if ts is None:
                s = _TZ_TAIL.sub("", str(change["timestamp"])
                                 .replace("T", " ").replace("Z", "")).strip()
                ts = datetime.strptime(s, "%Y-%m-%d %H:%M:%S").timestamp()
                change["_epoch"] = ts
            return ts

        def side(change, key):
            v = change.get(key, "")
            return str(v).strip() if v != "{}" else ""

        def check_revert(cur, fut):
            # feature_creation.py:877-934
            co, cn = side(cur, "old_value"), side(cur, "new_value")
            fo, fn = side(fut, "old_value"), side(fut, "new_value")
            comment = str(fut.get("comment", "")).lower()
            dt = epoch(fut) - epoch(cur)
            direct = (co == fn and cn == fo and co != "" and fn != ""
                      and dt <= threshold)
            trailing = (co == fn and co != "" and fn != "" and cn != fo
                        and ("restore" in comment or "rollback" in comment)
                        and dt <= threshold)
            create_case = (co == "" and fn == "" and cn == fo
                           and dt <= threshold)
            return 1 if (direct or trailing or create_case) else 0

        flags: dict = {}
        st = self.stats

        def bump(change):
            st["num_reverted_edits"] += 1
            a = change["action"]
            if a == "CREATE":
                st["num_reverted_edits_create"] += 1
            elif a == "DELETE":
                st["num_reverted_edits_delete"] += 1
            elif a == "UPDATE":
                st["num_reverted_edits_update"] += 1

        for (pid, vid, target), changes in self.history.items():
            changes.sort(key=lambda x: x["timestamp"])
            reversions: set = set()
            reverted: set = set()
            for i, cur in enumerate(changes):
                cur_key = (cur["revision_id"], pid, vid,
                           cur["change_target"])
                if cur_key in reverted:
                    continue
                futures = changes[i + 1:]
                for j, fut in enumerate(futures):
                    fut_key = (fut["revision_id"], pid, vid,
                               fut["change_target"])
                    if (fut_key in reversions
                            or target != fut["change_target"]
                            or (cur["change_target"] == "rank"
                                and cur["action"] in ("DELETE", "CREATE"))):
                        continue
                    pair_ok = (
                        (cur["action"] == "UPDATE" and fut["action"] == "UPDATE")
                        or (cur["action"] == "CREATE" and fut["action"] == "DELETE")
                        or (cur["action"] == "DELETE" and fut["action"] == "CREATE")
                        or (cur["action"] == "UPDATE" and fut["action"] == "CREATE"
                            and ("restore" in fut["comment"]
                                 or "rollback" in fut["comment"])))
                    if not pair_ok or check_revert(cur, fut) != 1:
                        continue

                    rank_key = (cur["revision_id"], pid, vid, "rank")
                    if cur_key not in flags:
                        flags[cur_key] = (1, 0, fut["timestamp"],
                                          fut["revision_id"])
                        if cur["change_target"] == "" \
                                and cur["action"] in ("DELETE", "CREATE"):
                            flags[rank_key] = (1, 0, fut["timestamp"],
                                               fut["revision_id"])
                    elif flags[cur_key][0] == 0 and flags[cur_key][1] == 1:
                        flags[cur_key] = (1, 1, fut["timestamp"],
                                          fut["revision_id"])
                        if target == "" \
                                and cur["action"] in ("DELETE", "CREATE"):
                            flags[rank_key] = (1, 1, fut["timestamp"],
                                               fut["revision_id"])
                    reverted.add(cur_key)

                    frank_key = (fut["revision_id"], pid, vid, "rank")
                    if fut_key not in flags:
                        flags[fut_key] = (0, 1, None, None)
                        if fut["change_target"] == "" \
                                and fut["action"] in ("DELETE", "CREATE"):
                            flags[frank_key] = (0, 1, None, None)
                    elif flags[fut_key][1] == 0 and flags[fut_key][0] == 1:
                        # reference line 1061 evident intent (see module doc)
                        prev = flags[fut_key]
                        flags[fut_key] = (1, 1, prev[2], prev[3])
                        if fut["change_target"] == "" \
                                and fut["action"] in ("DELETE", "CREATE"):
                            pr = flags.get(frank_key, (0, 0, None, None))
                            flags[frank_key] = (1, 1, pr[2], pr[3])
                    reversions.add(fut_key)

                    if (("restore" in fut["comment"]
                         or "rollback" in fut["comment"])
                            and cur["action"] == "UPDATE"
                            and fut["action"] == "CREATE"):
                        for inter in futures[:j]:
                            ikey = (inter["revision_id"], pid, vid,
                                    inter["change_target"])
                            reverted.add(ikey)
                            if ikey not in flags:
                                flags[ikey] = (1, 0, fut["timestamp"],
                                               fut["revision_id"])
                                if inter["change_target"] == "" and \
                                        inter["action"] in ("DELETE", "CREATE"):
                                    flags[(inter["revision_id"], pid, vid,
                                           "rank")] = (1, 0,
                                                       fut["timestamp"],
                                                       fut["revision_id"])
                                bump(inter)
                    bump(cur)
                    st["num_reversions"] += 1
                    break

        # output: PK-dedup last-wins; rank rows read the value row's flags
        # (feature_creation.py:977-982, 1115-1118)
        lookup = {}
        for row in self.value_rows:
            lookup[(row["revision_id"], row["property_id"], row["value_id"],
                    row["change_target"])] = row
        tagged = []
        for key, row in lookup.items():
            src = (key[0], key[1], key[2], "") if key[3] == "rank" else key
            f = flags.get(src, (0, 0, None, None))
            row["is_reverted"], row["reversion"], \
                row["reversion_timestamp"], row["revision_id_reversion"] = f
            tagged.append(row)
        self.value_rows = tagged

    # -- assembly (page_parser.py:2247-2326) --------------------------------

    def result(self) -> dict:
        st = dict(self.stats)
        st["entity_id"] = self.entity_id
        st["num_revisions"] = len(self.revision_rows)
        st["num_qualifier_changes"] = len(self.qual_rows)
        st["num_reference_changes"] = len(self.ref_rows)
        st["entity_label"] = self.label if self.label else self.alias
        # first-seen-order dedup of P31 type values (deterministic winner
        # for the reference's ', '.join(list(set(...))), page_parser.py:2288)
        seen = dict.fromkeys(_hkey(v) for v in self.p31.values())
        st["entity_types_31"] = ", ".join(str(t) for t in seen)
        st["first_revision_timestamp"] = (
            self.revision_rows[0]["timestamp"] if self.revision_rows else None)
        st["last_revision_timestamp"] = (
            self.revision_rows[-1]["timestamp"] if self.revision_rows else None)
        st["file_path"] = self.repo
        for k in ("total_xml_parse_time_sec", "total_process_time_sec",
                  "total_revision_diff_time_sec", "total_rev_edit_time_sec",
                  "total_feature_creation_sec"):
            st[k] = 0.0
        entity_label = st["entity_label"]
        return {
            "revision": self.revision_rows,
            "value_change": self.value_rows,
            "qualifier_change": self.qual_rows,
            "reference_change": self.ref_rows,
            "datatype_metadata_change": self.meta_rows,
            "entity_stats": st,
            "entity_label": entity_label,
            # final label state (ExtractLabelsProperties.java:111-146 dim)
            "labels": {"label": self.label, "alias": self.alias,
                       "description": self.description},
            "quarantine": self.quarantine,
        }


# --------------------------------------------------------------------------
# corpus driver
# --------------------------------------------------------------------------

def replay_page(repo: str, path: str, rows: list[dict], **cfg) -> dict:
    """Replay one page's corpus rows (any order; sorted by commit here)."""
    rows = sorted(rows, key=lambda r: r["commit"])
    rp = Replayer(repo, qid_int(path), **cfg)
    rp.run(rows)
    return rp.result()


def replay_corpus(rows, **cfg) -> dict:
    """Full-corpus replay: namespace filter (item pages ``Q<digits>`` only,
    reference file_parser.py:326-329), group by (repo, path), replay each.

    ``rows``: iterable of dicts with repo/path/commit/lang/content.
    Returns {table: [row dicts incl. repo + entity_label], "entity_stats":
    [stats dicts incl. repo], "quarantine": [...]}.
    """
    item_re = re.compile(r"^Q\d+$")
    pages: dict = {}
    for r in rows:
        if not item_re.match(r["path"]):
            continue
        pages.setdefault((r["repo"], r["path"]), []).append(r)

    out: dict = {t: [] for t in ("revision", "value_change",
                                 "qualifier_change", "reference_change",
                                 "datatype_metadata_change")}
    out["entity_stats"] = []
    out["entity_labels"] = []
    out["quarantine"] = []
    for (repo, path) in sorted(pages):
        res = replay_page(repo, path, pages[(repo, path)], **cfg)
        for table in ("revision", "value_change", "qualifier_change",
                      "reference_change", "datatype_metadata_change"):
            for row in res[table]:
                row["repo"] = repo
                row["entity_label"] = res["entity_label"]
                out[table].append(row)
        stats = res["entity_stats"]
        stats["repo"] = repo
        out["entity_stats"].append(stats)
        out["entity_labels"].append({
            "repo": repo, "qid": path, "numeric_id": qid_int(path),
            **res["labels"]})
        out["quarantine"].extend(res["quarantine"])
    return out
