"""Per-page snapshot diff: the engine's core grouped operator (J3-J5, W1-W3).

``extract_changes`` groups the parsed revision table by page and replays each
page's history in revision order, emitting CREATE/DELETE/UPDATE rows for
statement values, ranks, qualifiers, references, datatype metadata and
labels/descriptions — the semantics of the reference's
``PageParser.process_page`` + ``get_changes_from_revisions``
(page_parser.py:1890-2350) re-hosted as one ``applyInArrow`` grouped-map UDF
over *pre-digested* snapshots (see parse.py; all JSON decoding and sha1
hashing already happened row-parallel).  The UDF reads Arrow rows as
Python objects (nulls are None) and writes one Arrow table per bucket.

Sequential-by-construction rules that force the per-page grouping:
  * the diff predecessor only advances on a kept revision
    (page_parser.py:2066-2123) — W1's "kept revisions only" lag.  The keep
    rule reads the parse's keep columns (parse.state_key /
    parse.keep_flags), the rule salted.kept_pairs applies too;
  * parent-pointer repair across deleted/skipped revisions (W2,
    page_parser.py:2002-2011, 2066-2073);
  * the running P31 type set replay (W3);
  * last-non-empty label/alias backfill (W4);
  * revert tagging over the page's accumulated histories (J6, revert.py).

Scale note: groups receive only compact digests, so the grouped stage is
cheap set algebra; a 60k-revision hot page is bounded by O(revisions ×
statements) dict ops, not JSON/sha1 work.  AQE handles residual shuffle skew;
see BENCH/BASELINE.md for the two-parallelism scaling evidence.
"""

from __future__ import annotations

import json
import time
from typing import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from . import canonical as C
from . import revert as R
from .config import DEFAULT_CONFIG, PipelineConfig
from .schema import ENTITY_STATS_SCHEMA, UNIFIED_SCHEMA, pyrows

_UNIFIED_ARROW = to_arrow_schema(UNIFIED_SCHEMA)
_STATS_KEYS = [f.name for f in ENTITY_STATS_SCHEMA.fields]


class PageDiffer:
    """Replays one page's digested revisions and collects output rows.

    Mirrors the control flow of the reference PageParser but consumes
    pre-hashed digests.  One instance per page per task.
    """

    def __init__(self, repo: str, entity_id: int, config: PipelineConfig):
        self.repo = repo
        self.entity_id = entity_id
        self.config = config

        self.revision_rows: list[dict] = []
        self.value_rows: list[dict] = []
        self.qualifier_rows: list[dict] = []
        self.reference_rows: list[dict] = []
        self.metadata_rows: list[dict] = []

        self.meta: dict = {}  # the revision being replayed
        self.entity_data = {"label": "", "alias": "", "p31_types": {}}
        self.stats = {k: 0 for k in _STATS_KEYS}
        self.stats.update({
            "entity_id": entity_id, "entity_label": "", "entity_types_31": "",
            "first_revision_timestamp": None, "last_revision_timestamp": None,
            "file_path": repo,
            "total_xml_parse_time_sec": 0.0, "total_process_time_sec": 0.0,
            "total_revision_diff_time_sec": 0.0,
            "total_rev_edit_time_sec": 0.0, "total_feature_creation_sec": 0.0,
        })

    # ------------------------------------------------------------------ #
    # row emitters (reference save_changes family, page_parser.py:371-611)
    # ------------------------------------------------------------------ #

    def _update_entity_stats(self, change_target: str, action: str) -> None:
        # page_parser.py:129-149
        if change_target == "":
            self.stats["num_value_changes"] += 1
            if action == "CREATE":
                self.stats["num_value_change_creates"] += 1
            elif action == "DELETE":
                self.stats["num_value_change_deletes"] += 1
            elif action == "UPDATE":
                self.stats["num_value_change_updates"] += 1
        if change_target == "rank":
            self.stats["num_rank_changes"] += 1
            if action == "CREATE":
                self.stats["num_rank_creates"] += 1
            elif action == "DELETE":
                self.stats["num_rank_deletes"] += 1
            elif action == "UPDATE":
                self.stats["num_rank_updates"] += 1

    def save_change(self, property_id, value_id, old_value, new_value,
                    old_datatype, new_datatype, change_target, change_type,
                    old_hash=None, new_hash=None) -> None:
        """Value / rank / monolingual-language change row
        (page_parser.py:371-466)."""
        old_ser = C.serialize_or_empty(old_value)
        new_ser = C.serialize_or_empty(new_value)
        action, target = C.split_change_type(change_type)
        timestamp = self.meta["timestamp"]
        revision_id = self.meta["revision_id"]
        change_target = change_target if change_target else ""

        label = ""
        if self.config.re_interpretation and change_target == "":
            if new_datatype != old_datatype and action == "UPDATE":
                label = "value_update"
            if action == "CREATE" and target == "PROPERTY_VALUE":
                label = "statement_insertion"
            if action == "DELETE" and target == "PROPERTY_VALUE":
                label = "statement_deletion"
        if self.config.re_interpretation and change_target == "rank" \
                and action == "UPDATE":
            old_f = old_ser.replace('"', "") if old_ser else ""
            new_f = new_ser.replace('"', "") if new_ser else ""
            if old_f in ("normal", "preferred") and new_f == "deprecated":
                label = "soft_deletion"
            if new_f == "preferred" and old_f in ("deprecated", "normal"):
                label = "soft_insertion"

        self._update_entity_stats(change_target, action)

        # comment feeds revert tagging only (the restore/rollback gates)
        self.value_rows.append({
            "revision_id": revision_id,
            "property_id": property_id,
            "value_id": value_id,
            "old_value": old_ser,
            "new_value": new_ser,
            "old_datatype": old_datatype,
            "new_datatype": new_datatype,
            "change_target": change_target,
            "action": action,
            "target": target,
            "old_hash": old_hash or "",
            "new_hash": new_hash or "",
            "timestamp": timestamp,
            "label": label,
            "entity_id": self.entity_id,
            "comment": self.meta["comment"],
        })

    def save_metadata_change(self, property_id, value_id, old_value, new_value,
                             old_datatype, new_datatype, change_target,
                             change_type, old_hash=None, new_hash=None) -> None:
        """datatype_metadata_change row (page_parser.py:472-517)."""
        action, target = C.split_change_type(change_type)
        label = ""
        if self.config.re_interpretation and action == "UPDATE":
            label = "datatype_context_update"
        self.metadata_rows.append({
            "revision_id": self.meta["revision_id"],
            "property_id": property_id,
            "value_id": value_id,
            "old_value": C.serialize_or_empty(old_value),
            "new_value": C.serialize_or_empty(new_value),
            "old_datatype": old_datatype,
            "new_datatype": new_datatype,
            "change_target": change_target if change_target else "",
            "action": action,
            "target": target,
            "old_hash": old_hash or "",
            "new_hash": new_hash or "",
            "timestamp": self.meta["timestamp"],
            "label": label,
            "entity_id": self.entity_id,
        })
        if action == "CREATE":
            self.stats["num_datatype_metadata_creates"] += 1
        elif action == "DELETE":
            self.stats["num_datatype_metadata_deletes"] += 1
        elif action == "UPDATE":
            self.stats["num_datatype_metadata_updates"] += 1
        self.stats["num_datatype_metadata_changes"] += 1

    def save_qualifier_change(self, property_id, value_id, qual_property_id,
                              value_hash, old_value, new_value, old_datatype,
                              new_datatype, change_type) -> None:
        """qualifier_change row (page_parser.py:530-574)."""
        action, target = C.split_change_type(change_type)
        label = ""
        if self.config.re_interpretation and action == "CREATE" \
                and qual_property_id in C.END_TIME_QUALIFIER_PIDS:
            label = "soft_deletion"  # end-time qualifier (page_parser.py:541-549)
        self.qualifier_rows.append({
            "revision_id": self.meta["revision_id"],
            "property_id": property_id,
            "value_id": value_id,
            "qual_property_id": qual_property_id,
            "value_hash": value_hash,
            "old_value": C.serialize_or_empty(old_value),
            "new_value": C.serialize_or_empty(new_value),
            "old_datatype": old_datatype,
            "new_datatype": new_datatype,
            "change_target": "",
            "action": action,
            "target": target,
            "timestamp": self.meta["timestamp"],
            "label": label,
            "entity_id": self.entity_id,
        })

    def save_reference_change(self, property_id, value_id, ref_property_id,
                              ref_hash, value_hash, old_value, new_value,
                              old_datatype, new_datatype, change_type) -> None:
        """reference_change row (page_parser.py:577-611)."""
        action, target = C.split_change_type(change_type)
        self.reference_rows.append({
            "revision_id": self.meta["revision_id"],
            "property_id": property_id,
            "value_id": value_id,
            "ref_property_id": ref_property_id,
            "ref_hash": ref_hash,
            "value_hash": value_hash,
            "old_value": C.serialize_or_empty(old_value),
            "new_value": C.serialize_or_empty(new_value),
            "old_datatype": old_datatype,
            "new_datatype": new_datatype,
            "change_target": "",
            "action": action,
            "target": target,
            "timestamp": self.meta["timestamp"],
            "label": "",
            "entity_id": self.entity_id,
        })

    # ------------------------------------------------------------------ #
    # qualifier / reference set-diffs (J4/J5)
    # ------------------------------------------------------------------ #

    def _diff_qualifiers(self, stmt_pid: str, stmt_value_id,
                         prev_stmt, curr_stmt) -> None:
        """Hash-keyed CREATE/DELETE diff of qualifier snaks
        (page_parser.py:1226-1348)."""
        prev = (prev_stmt or {}).get("quals") or {}
        curr = (curr_stmt or {}).get("quals") or {}
        if prev == curr:
            # identical qualifier sets (the common case between consecutive
            # revisions) produce zero CREATE/DELETE rows below — skip the
            # per-pid map/sort construction entirely
            return
        for pid in sorted(set(prev) | set(curr)):
            prev_map = {h: (v, dt) for h, v, dt in prev.get(pid, [])}
            curr_map = {h: (v, dt) for h, v, dt in curr.get(pid, [])}
            for h in sorted(set(prev_map) - set(curr_map), key=str):
                val, dtype = prev_map[h]
                self.save_qualifier_change(
                    C.id_to_int(stmt_pid), stmt_value_id, C.id_to_int(pid), h,
                    old_value=val, new_value=None, old_datatype=dtype,
                    new_datatype=None, change_type=C.DELETE_QUALIFIER_VALUE)
            for h in sorted(set(curr_map) - set(prev_map), key=str):
                val, dtype = curr_map[h]
                self.save_qualifier_change(
                    C.id_to_int(stmt_pid), stmt_value_id, C.id_to_int(pid), h,
                    old_value=None, new_value=val, old_datatype=None,
                    new_datatype=dtype, change_type=C.CREATE_QUALIFIER_VALUE)

    def _diff_references(self, stmt_pid: str, stmt_value_id,
                         prev_stmt, curr_stmt) -> None:
        """(ref_hash, pid, value_hash)-keyed CREATE/DELETE diff of reference
        snaks (page_parser.py:1084-1224)."""
        prev_refs = (prev_stmt or {}).get("refs") or []
        curr_refs = (curr_stmt or {}).get("refs") or []
        if prev_refs == curr_refs:
            # identical reference sets emit nothing below — skip the
            # key-map construction (covers the both-empty case too)
            return
        prev_map = {(rh, pid, vh): (v, dt) for rh, pid, vh, v, dt in prev_refs}
        curr_map = {(rh, pid, vh): (v, dt) for rh, pid, vh, v, dt in curr_refs}
        for key in sorted(set(prev_map) - set(curr_map), key=str):
            rh, pid, vh = key
            val, dtype = prev_map[key]
            self.save_reference_change(
                C.id_to_int(stmt_pid), stmt_value_id, C.id_to_int(pid), rh, vh,
                old_value=val, new_value=None, old_datatype=dtype,
                new_datatype=None, change_type=C.DELETE_REFERENCE_VALUE)
        for key in sorted(set(curr_map) - set(prev_map), key=str):
            rh, pid, vh = key
            val, dtype = curr_map[key]
            self.save_reference_change(
                C.id_to_int(stmt_pid), stmt_value_id, C.id_to_int(pid), rh, vh,
                old_value=None, new_value=val, old_datatype=None,
                new_datatype=dtype, change_type=C.CREATE_REFERENCE_VALUE)

    # ------------------------------------------------------------------ #
    # datatype metadata diff (page_parser.py:614-983)
    # ------------------------------------------------------------------ #

    @staticmethod
    def _qid_tail(key, meta):
        """calendarmodel/unit URLs keep only the trailing Q-id
        (page_parser.py:620-621 etc.)."""
        if key in ("calendarmodel", "unit") and isinstance(meta, str):
            return meta.split("/")[-1]
        return meta

    def _emit_meta(self, property_id, value_id, old_meta, new_meta,
                   old_datatype, new_datatype, key, change_type,
                   old_hash, new_hash, route_to_value: bool) -> None:
        emit = self.save_change if route_to_value else self.save_metadata_change
        emit(C.id_to_int(property_id), value_id, old_meta, new_meta,
             old_datatype, new_datatype, change_target=key,
             change_type=change_type, old_hash=old_hash, new_hash=new_hash)

    def _diff_datatype_metadata(self, old_meta: dict | None,
                                new_meta: dict | None, value_id,
                                old_datatype, new_datatype, property_id,
                                change_type, old_hash=None,
                                new_hash=None) -> None:
        """Per-key metadata diff with the reference's monolingualtext routing
        ('language' -> value_change) and the positional old<->new pairing when
        datatypes differ (page_parser.py:614-983).

        Determinism note: the reference iterates ``set(keys)`` (per-process
        hash-randomized); we iterate in dict insertion order — a documented
        deterministic winner (SURVEY.md §7.4.6).
        """
        old_meta = old_meta or {}
        new_meta = new_meta or {}

        if old_meta and not new_meta:  # deletion (page_parser.py:616-678)
            for key in old_meta:
                ov = self._qid_tail(key, old_meta.get(key))
                self._emit_meta(property_id, value_id, ov, None, old_datatype,
                                new_datatype, key, change_type, old_hash, None,
                                route_to_value=(old_datatype == "monolingualtext"))
            return

        if new_meta and not old_meta:  # creation (page_parser.py:680-741)
            for key in new_meta:
                nv = self._qid_tail(key, new_meta.get(key))
                self._emit_meta(property_id, value_id, None, nv, old_datatype,
                                new_datatype, key, change_type, None, new_hash,
                                route_to_value=(new_datatype == "monolingualtext"))
            return

        if old_datatype == new_datatype:  # same-type update (page_parser.py:743-811)
            for key in old_meta:
                ov = self._qid_tail(key, old_meta.get(key))
                nv = self._qid_tail(key, new_meta.get(key))
                if ov != nv:
                    self._emit_meta(
                        property_id, value_id, ov, nv, old_datatype,
                        new_datatype, key, change_type, old_hash, new_hash,
                        route_to_value=(old_datatype == "monolingualtext"))
            return

        # mismatched datatypes: positional pairing small-set -> big-set
        # (page_parser.py:813-983)
        old_keys = list(old_meta)
        new_keys = list(new_meta)
        big_old = len(old_keys) > len(new_keys)
        big_keys, small_keys = (old_keys, new_keys) if big_old else (new_keys, old_keys)
        keys_to_skip: set = set()
        for key in small_keys:
            if big_old:
                nv = self._qid_tail(key, new_meta.get(key))
                paired = next((k for k in big_keys if k not in keys_to_skip), None)
                ov = self._qid_tail(paired, old_meta.get(paired))
                if paired is not None:
                    keys_to_skip.add(paired)
            else:
                ov = self._qid_tail(key, old_meta.get(key))
                paired = next((k for k in big_keys if k not in keys_to_skip), None)
                nv = self._qid_tail(paired, new_meta.get(paired))
                if paired is not None:
                    keys_to_skip.add(paired)
            self._emit_meta(property_id, value_id, ov, nv, old_datatype,
                            new_datatype, key, change_type, old_hash, new_hash,
                            route_to_value=(key == "language"))
        for key in [k for k in big_keys if k not in keys_to_skip]:
            if big_old:
                ov = self._qid_tail(key, old_meta.get(key))
                nv = None
            else:
                nv = self._qid_tail(key, new_meta.get(key))
                ov = None
            self._emit_meta(property_id, value_id, ov, nv, old_datatype,
                            new_datatype, key, change_type, old_hash, new_hash,
                            route_to_value=(key == "language"))

    # ------------------------------------------------------------------ #
    # type-set replay helpers (W3)
    # ------------------------------------------------------------------ #

    def _types_add(self, pid: str, sid, value) -> None:
        if pid == "P31":
            self.entity_data["p31_types"][(sid, _hashable(value))] = value

    def _types_remove(self, pid: str, sid, value) -> None:
        if pid == "P31":
            self.entity_data["p31_types"].pop((sid, _hashable(value)), None)

    # ------------------------------------------------------------------ #
    # page-level diff branches (page_parser.py:1350-1953)
    # ------------------------------------------------------------------ #

    def _changes_created_entity(self, digest: dict) -> None:
        """First parse-ok revision: everything is a CREATE — using *raw*
        (non-homogenized) values and the snak's own hash
        (page_parser.py:1350-1429)."""
        for pid in sorted(digest["claims"]):
            for stmt in digest["claims"][pid]:
                sid = stmt["sid"]
                self._types_add(pid, sid, stmt["raw_value"])
                self.save_change(
                    C.id_to_int(pid), sid, old_value=None,
                    new_value=stmt["raw_value"], old_datatype=None,
                    new_datatype=stmt["datatype"], change_target=None,
                    change_type=C.CREATE_PROPERTY_VALUE, old_hash=None,
                    new_hash=stmt["raw_hash"])
                # no rank rows on the created path (page_parser.py:1350-1429)
                self._diff_qualifiers(pid, sid, None, stmt)
                self._diff_references(pid, sid, None, stmt)
        for prop_id, value_id, val in ((C.LABEL_PROP_ID, "label", digest["label"]),
                                       (C.DESCRIPTION_PROP_ID, "description",
                                        digest["description"])):
            if val:
                self.save_change(prop_id, value_id, old_value=None,
                                 new_value=val, old_datatype=None,
                                 new_datatype="string", change_target=None,
                                 change_type=C.CREATE_PROPERTY_VALUE,
                                 old_hash="", new_hash="")

    def _changes_cleaned_entity(self, prev: dict) -> None:
        """Completely emptied revision (merge artifact): cascade DELETEs of the
        previous snapshot (page_parser.py:1431-1530).  The reference passes
        ``curr_stmt=stmt`` to the qualifier/reference handlers here — i.e.
        emits CREATE rows for the dying statement's qualifiers/references
        (page_parser.py:1503-1507); replicated as-is for parity."""
        for pid in sorted(prev["claims"]):
            for stmt in prev["claims"][pid]:
                sid = stmt["sid"]
                self._types_remove(pid, sid, stmt["value"])
                self.save_change(
                    C.id_to_int(pid), sid, old_value=stmt["value"],
                    new_value=None, old_datatype=stmt["datatype"],
                    new_datatype=None, change_target=None,
                    change_type=C.DELETE_PROPERTY_VALUE,
                    old_hash=stmt["hash"], new_hash=None)
                self.save_change(
                    C.id_to_int(pid), sid, old_value=stmt["rank"],
                    new_value=None, old_datatype=stmt["datatype"],
                    new_datatype=None, change_target="rank",
                    change_type=C.DELETE_PROPERTY_VALUE,
                    old_hash=stmt["hash"], new_hash=None)
                self._diff_qualifiers(pid, sid, None, stmt)
                self._diff_references(pid, sid, None, stmt)
        for prop_id, value_id, val in ((C.LABEL_PROP_ID, "label", prev["label"]),
                                       (C.DESCRIPTION_PROP_ID, "description",
                                        prev["description"])):
            if val:
                self.save_change(prop_id, value_id, old_value=val,
                                 new_value=None, old_datatype="string",
                                 new_datatype=None, change_target=None,
                                 change_type=C.DELETE_PROPERTY_VALUE,
                                 old_hash="", new_hash="")

    def _diff_label_description(self, prev: dict, curr: dict) -> None:
        """Label/description change rows with synthetic pids -1/-2
        (page_parser.py:1532-1597)."""
        for prop_id, value_id, field in ((C.LABEL_PROP_ID, "label", "label"),
                                         (C.DESCRIPTION_PROP_ID, "description",
                                          "description")):
            prev_val = prev.get(field) if prev else None
            curr_val = curr.get(field)
            if curr_val != prev_val:
                self.save_change(
                    prop_id, value_id, old_value=prev_val, new_value=curr_val,
                    old_datatype="string" if prev_val is not None else None,
                    new_datatype="string" if curr_val is not None else None,
                    change_target=None,
                    change_type=C.label_change_type(prev_val, curr_val),
                    old_hash="", new_hash="")

    def _handle_new_pids(self, new_pids: Iterable[str], curr_claims: dict) -> None:
        # page_parser.py:1600-1647
        for pid in sorted(new_pids):
            for stmt in curr_claims.get(pid, []):
                sid = stmt["sid"]
                self._types_add(pid, sid, stmt["value"])
                self.save_change(
                    C.id_to_int(pid), sid, old_value=None,
                    new_value=stmt["value"], old_datatype=None,
                    new_datatype=stmt["datatype"], change_target=None,
                    change_type=C.CREATE_PROPERTY_VALUE, old_hash=None,
                    new_hash=stmt["hash"])
                if stmt["metadata"] and self.config.extract_datatype_metadata:
                    self._diff_datatype_metadata(
                        None, stmt["metadata"], sid, None, stmt["datatype"],
                        pid, C.CREATE_PROPERTY_VALUE, None, stmt["hash"])
                self.save_change(
                    C.id_to_int(pid), sid, old_value=None,
                    new_value=stmt["rank"], old_datatype=None,
                    new_datatype=stmt["datatype"], change_target="rank",
                    change_type=C.CREATE_PROPERTY_VALUE, old_hash=None,
                    new_hash=stmt["hash"])
                self._diff_qualifiers(pid, sid, None, stmt)
                self._diff_references(pid, sid, None, stmt)

    def _handle_removed_pids(self, removed_pids: Iterable[str],
                             prev_claims: dict) -> None:
        # page_parser.py:1649-1700
        for pid in sorted(removed_pids):
            for stmt in prev_claims.get(pid, []):
                sid = stmt["sid"]
                self._types_remove(pid, sid, stmt["value"])
                self.save_change(
                    C.id_to_int(pid), sid, old_value=stmt["value"],
                    new_value=None, old_datatype=stmt["datatype"],
                    new_datatype=None, change_target=None,
                    change_type=C.DELETE_PROPERTY_VALUE,
                    old_hash=stmt["hash"], new_hash=None)
                if stmt["metadata"] and self.config.extract_datatype_metadata:
                    self._diff_datatype_metadata(
                        stmt["metadata"], {}, sid, stmt["datatype"], None,
                        pid, C.DELETE_PROPERTY_VALUE, stmt["hash"], None)
                self.save_change(
                    C.id_to_int(pid), sid, old_value=stmt["rank"],
                    new_value=None, old_datatype=stmt["datatype"],
                    new_datatype=None, change_target="rank",
                    change_type=C.DELETE_PROPERTY_VALUE,
                    old_hash=stmt["hash"], new_hash=None)
                self._diff_qualifiers(pid, sid, stmt, None)
                self._diff_references(pid, sid, stmt, None)

    def _handle_rank_changes(self, prev_stmt, curr_stmt, pid, sid,
                             old_hash, new_hash) -> None:
        # page_parser.py:1702-1752
        prev_rank = (prev_stmt or {}).get("rank")
        curr_rank = (curr_stmt or {}).get("rank")
        old_dt = (prev_stmt or {}).get("datatype")
        new_dt = (curr_stmt or {}).get("datatype")
        if not prev_stmt:
            self.save_change(C.id_to_int(pid), sid, None, curr_rank, old_dt,
                             new_dt, "rank", C.CREATE_PROPERTY_VALUE,
                             None, new_hash)
        elif not curr_stmt:
            self.save_change(C.id_to_int(pid), sid, prev_rank, None, old_dt,
                             new_dt, "rank", C.DELETE_PROPERTY_VALUE,
                             old_hash, None)
        elif prev_rank != curr_rank:
            self.save_change(C.id_to_int(pid), sid, prev_rank, curr_rank,
                             old_dt, new_dt, "rank", C.UPDATE_RANK,
                             old_hash, new_hash)

    def _handle_remaining_pids(self, remaining: Iterable[str],
                               prev_claims: dict, curr_claims: dict) -> None:
        """Statement-id full-outer diff per shared pid
        (page_parser.py:1754-1888)."""
        for pid in sorted(remaining):
            prev_stmts = prev_claims.get(pid, [])
            curr_stmts = curr_claims.get(pid, [])
            if prev_stmts == curr_stmts:
                # deep-equal statement lists: every branch below is a no-op
                # (hash-equal statements emit nothing, touch no type state,
                # and their rank/qualifier/reference diffs are all empty) —
                # one C-speed compare replaces the whole per-sid loop.  The
                # compare is conservative: any difference (including NaN
                # values, which never compare equal) falls through to the
                # full diff.
                continue
            prev_by_id = {s["sid"]: s for s in prev_stmts}
            curr_by_id = {s["sid"]: s for s in curr_stmts}
            for sid in sorted(set(prev_by_id) | set(curr_by_id), key=str):
                prev_stmt = prev_by_id.get(sid)
                curr_stmt = curr_by_id.get(sid)
                if prev_stmt == curr_stmt:
                    # deep-equal statements (the common case when only one
                    # sid of a multi-statement pid changed): equal hashes
                    # take no value/metadata branch, equal ranks emit no
                    # rank row, and equal quals/refs hit the == early-exits
                    # — one C-speed compare replaces the three sub-diff
                    # calls.  Conservative like the
                    # list-level check above: any difference (incl. NaN)
                    # falls through to the full diff.
                    continue
                old_hash = prev_stmt["hash"] if prev_stmt else None
                new_hash = curr_stmt["hash"] if curr_stmt else None
                old_value = prev_stmt["value"] if prev_stmt else None
                new_value = curr_stmt["value"] if curr_stmt else None
                old_dt = prev_stmt["datatype"] if prev_stmt else None
                new_dt = curr_stmt["datatype"] if curr_stmt else None
                old_md = prev_stmt["metadata"] if prev_stmt else None
                new_md = curr_stmt["metadata"] if curr_stmt else None

                if prev_stmt and not curr_stmt:
                    self._types_remove(pid, sid, old_value)
                    self.save_change(
                        C.id_to_int(pid), sid, old_value, new_value, old_dt,
                        new_dt, None, C.DELETE_PROPERTY_VALUE, old_hash,
                        new_hash)
                    if old_md and self.config.extract_datatype_metadata:
                        # NB: the reference passes old_datatype as *both* the
                        # old and new datatype here (page_parser.py:1830)
                        self._diff_datatype_metadata(
                            old_md, new_md, sid, old_dt, old_dt, pid,
                            C.DELETE_PROPERTY_VALUE, old_hash, new_hash)
                elif curr_stmt and not prev_stmt:
                    self._types_add(pid, sid, new_value)
                    self.save_change(
                        C.id_to_int(pid), sid, old_value, new_value, old_dt,
                        new_dt, None, C.CREATE_PROPERTY_VALUE, old_hash,
                        new_hash)
                    if new_md and self.config.extract_datatype_metadata:
                        self._diff_datatype_metadata(
                            old_md, new_md, sid, None, new_dt, pid,
                            C.CREATE_PROPERTY_VALUE, old_hash, new_hash)
                elif prev_stmt and curr_stmt and old_hash != new_hash:
                    if (old_dt != new_dt) or (old_value != new_value):
                        if new_dt == "time":
                            # suppress WD-internal zero-padding noise
                            # (page_parser.py:1854-1860)
                            ov = C.clean_time_string(old_value)
                            nv = C.clean_time_string(new_value)
                            if ov != nv:
                                self.save_change(
                                    C.id_to_int(pid), sid, ov, nv, old_dt,
                                    new_dt, None, C.UPDATE_PROPERTY_VALUE,
                                    old_hash, new_hash)
                        else:
                            self.save_change(
                                C.id_to_int(pid), sid, old_value, new_value,
                                old_dt, new_dt, None, C.UPDATE_PROPERTY_VALUE,
                                old_hash, new_hash)
                        self._types_remove(pid, sid, old_value)
                        self._types_add(pid, sid, new_value)
                    if ((old_dt != new_dt) or (old_md != new_md)) \
                            and self.config.extract_datatype_metadata:
                        self._diff_datatype_metadata(
                            old_md, new_md, sid, old_dt, new_dt, pid,
                            C.UPDATE_PROPERTY_DATATYPE_METADATA,
                            old_hash, new_hash)

                self._handle_rank_changes(
                    prev_stmt, curr_stmt, pid, sid, old_hash, new_hash)
                self._diff_qualifiers(pid, sid, prev_stmt, curr_stmt)
                self._diff_references(pid, sid, prev_stmt, curr_stmt)

    def get_changes_from_revisions(self, curr: dict, prev: dict | None) -> None:
        """Dispatch one kept revision's diff (page_parser.py:1890-1953).
        Alias/sitelink-only revisions are never kept after the first, so
        the only emptied revisions that reach here are cleaned ones."""
        if prev is None:
            self._changes_created_entity(curr)
        elif curr["redirect"]:
            return  # the revision row alone records it
        elif not curr["has_claims"] and not curr["has_labels"] \
                and not curr["has_descs"]:
            self._changes_cleaned_entity(prev)
        else:
            self._diff_label_description(prev, curr)
            prev_pids = set(prev["claims"])
            curr_pids = set(curr["claims"])
            self._handle_new_pids(curr_pids - prev_pids, curr["claims"])
            self._handle_removed_pids(prev_pids - curr_pids, prev["claims"])
            self._handle_remaining_pids(prev_pids & curr_pids, prev["claims"],
                                        curr["claims"])

    # ------------------------------------------------------------------ #
    # page replay (page_parser.py:1956-2326)
    # ------------------------------------------------------------------ #

    def replay_revision(self, rev: dict, prev: dict | None,
                        prev_revision_id: int) -> None:
        """One kept revision: its change rows against the last kept
        snapshot ``prev`` (the save_* emitters stamp them with the
        revision's id, timestamp and comment), then its revision row and
        user-type count (P6, page_parser.py:2020-2026)."""
        self.meta = rev
        digest = rev["digest"]
        self.get_changes_from_revisions(digest, prev)
        redirect = prev is not None and digest["redirect"]
        username = rev["username"]
        user_type = ("bot" if "bot" in username.lower()
                     else "anonymous" if username == "" else "human")
        self.revision_rows.append({
            "prev_revision_id": prev_revision_id,
            "revision_id": rev["revision_id"],
            "entity_id": self.entity_id,
            "timestamp": rev["timestamp"],
            "user_id": rev["user_id"],
            "username": username,
            "user_type": user_type,
            "comment": rev["comment"],
            "redirect": redirect,
            "q_id_redirect": digest["redirect_qid"] if redirect else None,
        })
        self.stats[f"num_{user_type}_edits"] += 1

    def process_page(self, revisions: list[dict]) -> dict:
        """``revisions``: page rows sorted by commit, as plain dicts with the
        PARSED_SCHEMA fields (snapshot already json-decoded into 'digest').

        A parse-ok revision is kept — replayed against the last kept one —
        iff it is the page's first, a redirect, an emptied revision, or not
        alias-only with a ``state_key`` that differs from the last kept
        one's: salted.kept_pairs' rule, read from the same parse columns.
        The stored prev pointer is the last kept revision (W2;
        page_parser.py:2066-2073 + 2117 make the XML parentid moot)."""
        t0 = time.time()
        previous: dict | None = None
        last_key = None
        last_stored_revision_id = -1

        for rev in revisions:
            digest = rev["digest"]
            if digest is None:
                # deleted (invisible except for parent repair,
                # page_parser.py:1993-2011, 2125-2126) or quarantined
                # (page_parser.py:2045-2047)
                continue
            # last-non-empty label/alias (W4, page_parser.py:2049-2058)
            if digest["label"]:
                self.entity_data["label"] = digest["label"]
            if digest["alias"]:
                self.entity_data["alias"] = digest["alias"]
            self.stats["num_revisions_timed"] += 1
            if previous is None or rev["is_redirect"] or rev["is_cleaned"] \
                    or (not rev["is_alias_only"]
                        and rev["state_key"] != last_key):
                self.replay_revision(rev, previous, last_stored_revision_id)
                previous, last_key = digest, rev["state_key"]
                last_stored_revision_id = rev["revision_id"]

        diff_sec = time.time() - t0

        # revert tagging (J6)
        t1 = time.time()
        self.value_rows, revert_stats = R.tag_reverted_edits(
            self.value_rows, self.config.time_threshold_seconds)
        self.stats.update(revert_stats)

        # entity stats assembly (page_parser.py:2281-2309)
        self.stats["num_revisions"] = len(self.revision_rows)
        self.stats["num_qualifier_changes"] = len(self.qualifier_rows)
        self.stats["num_reference_changes"] = len(self.reference_rows)
        self.stats["entity_label"] = (self.entity_data["label"]
                                      or self.entity_data["alias"])
        # de-duplicated last P31 type values, insertion order (the reference
        # joins a set — hash-randomized; we pick a deterministic winner)
        type_ids = list(dict.fromkeys(
            _hashable(t) for t in self.entity_data["p31_types"].values()))
        self.stats["entity_types_31"] = ", ".join(str(t) for t in type_ids)
        if self.revision_rows:
            self.stats["first_revision_timestamp"] = self.revision_rows[0]["timestamp"]
            self.stats["last_revision_timestamp"] = self.revision_rows[-1]["timestamp"]
        self.stats["total_revision_diff_time_sec"] = diff_sec
        self.stats["total_process_time_sec"] = time.time() - t0
        self.stats["total_rev_edit_time_sec"] = time.time() - t1

        return {**self.table_rows(), "entity_stats": self.stats,
                "entity_label": self.stats["entity_label"]}

    def table_rows(self) -> dict[str, list[dict]]:
        """Collected rows per change table, in emission order."""
        return {
            "revision": self.revision_rows,
            "value_change": self.value_rows,
            "qualifier_change": self.qualifier_rows,
            "reference_change": self.reference_rows,
            "datatype_metadata_change": self.metadata_rows,
        }


def _hashable(value):
    return json.dumps(value, sort_keys=True) if isinstance(value, (dict, list)) \
        else value


# ---------------------------------------------------------------------------
# Spark wiring
# ---------------------------------------------------------------------------

def _emit_rows(out_cols: dict, rows: list[dict], const: dict) -> None:
    """Append one table's rows into columnar accumulators.

    Columnar: every row of one table shares the same key set (the save_*
    emitters build them from fixed literals), so each column extends its
    accumulator with ONE list comprehension instead of a per-row dict copy
    + full-width column loop (the old per-row ``emit`` was ~15% of the
    whole diff stage in profiling; output rows outnumber revisions ~8x).
    ``const`` holds the columns that are the same on every row (table,
    repo, ...); it wins over row keys, and absent columns are None."""
    n = len(rows)
    keys = rows[0].keys()
    for c, acc in out_cols.items():
        if c in const:
            acc.extend([const[c]] * n)
        elif c in keys:
            acc.extend([r[c] for r in rows])
        else:
            acc.extend([None] * n)


def _table_const(table: str) -> dict:
    """The constant columns of one table's rows in the unified stream.
    Value rows carry their revision's comment for revert tagging only; the
    stream keeps comments on revision rows alone."""
    if table == "value_change":
        return {"table": table, "comment": None}
    return {"table": table}


def _emit_page(out_cols: dict, repo: str, differ: PageDiffer) -> None:
    """Append one replayed page's rows; emission order per page — revision,
    value_change, qualifier, reference, metadata, stats — is fixed."""
    stats = differ.stats
    const = {"repo": repo, "entity_label": stats["entity_label"]}
    for table, rows in differ.table_rows().items():
        if rows:
            _emit_rows(out_cols, rows, {**const, **_table_const(table)})
    _emit_rows(out_cols, [{"entity_id": stats["entity_id"],
                           "payload": json.dumps(stats, ensure_ascii=False)}],
               {**const, "table": "entity_stats"})


def _prep_revisions(records: list[dict]) -> list[dict]:
    loads = C.fast_json_loads  # digest transport decode (orjson fast path)
    for rec in records:
        rec["digest"] = (loads(rec["snapshot"])
                         if rec["parse_ok"] and rec["snapshot"] else None)
    return records


def make_bucket_diff_udf(config: PipelineConfig = DEFAULT_CONFIG):
    """Grouped-map UDF over page *buckets*, not single pages.

    Grouping the shuffle by bucket (many pages per group) amortizes the
    per-group Arrow overhead ~1000x versus per-page groups — at 120k pages
    the harness overhead dominated the actual diff work.  One stable Arrow
    sort + one row read over the whole bucket (row order within a group is
    not guaranteed), then plain-Python grouping; one Arrow table built per
    bucket from the columnar accumulators."""
    from itertools import groupby as _groupby

    def bucket_diff(table: pa.Table) -> pa.Table:
        out_cols: dict = {c: [] for c in _UNIFIED_ARROW.names}
        records = _prep_revisions(pyrows(table.sort_by(
            [(c, "ascending") for c in ("repo", "path", "commit")])))
        for (repo, _path), revs in _groupby(
                records, key=lambda r: (r["repo"], r["path"])):
            revisions = list(revs)
            differ = PageDiffer(repo, revisions[0]["entity_id"], config)
            differ.process_page(revisions)
            _emit_page(out_cols, repo, differ)
        return pa.Table.from_pydict(out_cols, schema=_UNIFIED_ARROW)
    return bucket_diff


def extract_changes(parsed: DataFrame,
                    config: PipelineConfig = DEFAULT_CONFIG,
                    n_buckets: int | None = None) -> DataFrame:
    """Parsed revisions -> unified change stream (one grouped-map pass).

    The shuffle key is a deterministic page-hash bucket (pages never split
    across buckets); bucket count defaults to 4x the shuffle parallelism so
    stragglers rebalance.  Only the compact digest columns shuffle —
    everything wide (original content) was dropped at parse time.
    """
    from pyspark.sql import functions as F

    if n_buckets is None:
        spark = parsed.sparkSession
        n_buckets = 4 * int(spark.conf.get("spark.sql.shuffle.partitions",
                                           "200"))
    cols = ["repo", "path", "commit", "entity_id", "revision_id", "timestamp",
            "username", "user_id", "comment", "parse_ok", "snapshot",
            "state_key", "is_redirect", "is_cleaned", "is_alias_only"]
    # explicit-count repartition on the bucket key: the groupBy reuses the
    # partitioning (no second exchange), the Python-heavy grouped stage runs
    # one task per bucket (4x the core count — fine-grained enough that the
    # wave tail stays short, guide §2.6), and the explicit count is exempt
    # from AQE byte-based coalescing, which otherwise folds the CPU-bound
    # stage into ~1-2 coarse waves sized for its (small) shuffle bytes
    return (parsed.select(*cols)
            .withColumn("__bucket",
                        F.pmod(F.xxhash64("repo", "path"), F.lit(n_buckets)))
            .repartition(n_buckets, "__bucket")
            .groupBy("__bucket")
            .applyInArrow(make_bucket_diff_udf(config), schema=UNIFIED_SCHEMA))
