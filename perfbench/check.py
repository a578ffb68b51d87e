"""Output checks against the cleanroom replay (a second implementation of
the reference diff semantics and feature batteries that shares no code
with the engine).

The engine's materialized tables are read back with pyarrow, so checking
costs no Spark job.  Two checks:

* ``run_mismatches`` - every call: count and order-independent digest of
  the change triples (``pipeline.triples`` semantics) of ``value_change``,
  and the row count of every other table written.
* ``sample_mismatches`` - once per process: ``value_change`` and
  ``entity_stats`` rows of a seeded sample of pages, and every row of the
  feature tables written, compared field by field with the cleanroom's.
"""

from __future__ import annotations

import hashlib
import math
import os
import random

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cleanroom import features as CF
from cleanroom import replay_corpus
from widiff_spark.canonical import WD_ENTITY_TYPES, WD_STRING_TYPES
from widiff_spark.features import (GLOBE_FEATURE_COLS, QUANTITY_FEATURE_COLS,
                                   TEXT_FEATURE_COLS, TIME_FEATURE_COLS)

STAT_FIELDS = (
    "entity_id", "num_revisions", "num_value_changes",
    "num_value_change_creates", "num_value_change_deletes",
    "num_value_change_updates", "num_rank_changes", "num_qualifier_changes",
    "num_reference_changes", "num_datatype_metadata_changes",
    "first_revision_timestamp", "last_revision_timestamp", "num_bot_edits",
    "num_anonymous_edits", "num_human_edits", "num_reverted_edits",
    "num_reversions")
# feature table -> (datatypes routed to it, cleanroom battery, its columns)
FEATURE_TABLES = {
    "features_text": (tuple(WD_STRING_TYPES),
                      lambda o, n: CF.text_features("text", o, n),
                      TEXT_FEATURE_COLS),
    "features_time": (("time",), CF.time_features, TIME_FEATURE_COLS),
    "features_quantity": (("quantity",), CF.quantity_features,
                          QUANTITY_FEATURE_COLS),
    "features_globecoordinate": (("globecoordinate",), CF.globe_features,
                                 GLOBE_FEATURE_COLS),
    "features_entity": (tuple(WD_ENTITY_TYPES), None, []),
}
FEATURE_KEY = ("revision_id", "property_id", "value_id", "old_value",
               "new_value")


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float) and v == int(v):
        return int(v)
    return v


def _triple(entity_id, property_id, old, new, action, revision_id, ts):
    obj = new if new is not None and new != "{}" else old
    return (int(entity_id), int(property_id), obj, action,
            int(revision_id), ts)


def _digest(triples: list[tuple]) -> tuple[int, str]:
    h = hashlib.sha256()
    for t in sorted(triples, key=repr):
        h.update(repr(t).encode())
    return len(triples), h.hexdigest()


class Reference:
    """Cleanroom replay of one workload input, computed once per process."""

    def __init__(self, rows: list[dict]):
        self.replay = replay_corpus(rows)
        vc = self.replay["value_change"]
        self.triples = _digest([
            _triple(r["entity_id"], r["property_id"], r["old_value"],
                    r["new_value"], r["action"], r["revision_id"],
                    r["timestamp"])
            for r in vc if r["change_target"] == ""])
        self.n_revisions = len(self.replay["revision"])
        self.n_pages = len(self.replay["entity_stats"])
        # the feature-row predicate (features._update_rows), per table
        upd = [r for r in vc if r["change_target"] == ""
               and r["action"] == "UPDATE"
               and r["new_datatype"] == r["old_datatype"]]
        self.feature_rows = {
            table: [r for r in upd if r["new_datatype"] in types]
            for table, (types, _fn, _cols) in FEATURE_TABLES.items()}


def read_table(out_dir: str, table: str, columns=None):
    return pq.read_table(os.path.join(out_dir, table), columns=columns)


def triples_digest(out_dir: str) -> tuple[int, str]:
    t = read_table(out_dir, "value_change", [
        "entity_id", "property_id", "old_value", "new_value", "action",
        "revision_id", "timestamp", "change_target"])
    t = t.filter(pc.equal(t["change_target"], ""))
    cols = [t[c].to_pylist() for c in (
        "entity_id", "property_id", "old_value", "new_value", "action",
        "revision_id", "timestamp")]
    return _digest([_triple(*row) for row in zip(*cols)])


def run_mismatches(out_dir: str, ref: Reference,
                   tables: list[str]) -> list[str]:
    """Per-call check: the triples, and the row count of every other
    table written (``value_change`` is always written)."""
    errors = []
    got = triples_digest(out_dir)
    if got != ref.triples:
        errors.append(f"triples {got} != cleanroom {ref.triples}")
    want = {"entity_stats": ref.n_pages,
            **{t: len(rows) for t, rows in ref.feature_rows.items()}}
    for table in tables:
        if table in want:
            key = "revision_id" if table in FEATURE_TABLES else "entity_id"
            n = read_table(out_dir, table, [key]).num_rows
            if n != want[table]:
                errors.append(f"{table}: {n} rows != cleanroom {want[table]}")
    return errors


def _canon(rows, fields) -> list[tuple]:
    return sorted((tuple(_norm(r.get(k)) for k in fields) for r in rows),
                  key=repr)


def sample_mismatches(out_dir: str, ref: Reference, tables: list[str],
                      seed: int, n_pages: int,
                      always: tuple[int, ...] = ()) -> list[str]:
    """Compare ``value_change`` and (if written) ``entity_stats`` for a
    seeded sample of pages plus the ``always`` entity ids, and every row of
    the feature tables written, with the cleanroom replay."""
    pages = sorted({s["entity_id"] for s in ref.replay["entity_stats"]})
    rng = random.Random(seed)
    sample = set(rng.sample(pages, min(n_pages, len(pages)))) | set(always)
    errors = []

    vc = read_table(out_dir, "value_change")
    vc = vc.filter(pc.is_in(vc["entity_id"],
                            value_set=pa.array(sorted(sample), "int64")))
    got = vc.to_pylist()
    want = [r for r in ref.replay["value_change"] if r["entity_id"] in sample]
    fields = sorted(set(vc.column_names)
                    & set().union(*(r.keys() for r in want)))
    if _canon(got, fields) != _canon(want, fields):
        errors.append(f"value_change: {len(got)} engine rows vs {len(want)} "
                      f"cleanroom rows differ on sampled pages")

    if "entity_stats" in tables:
        stats = read_table(out_dir, "entity_stats",
                           list(STAT_FIELDS)).to_pylist()
        got = [s for s in stats if s["entity_id"] in sample]
        want = [s for s in ref.replay["entity_stats"]
                if s["entity_id"] in sample]
        if _canon(got, STAT_FIELDS) != _canon(want, STAT_FIELDS):
            errors.append("entity_stats differ on sampled pages")

    for table, (_types, battery, cols) in FEATURE_TABLES.items():
        if table not in tables:
            continue
        fields = FEATURE_KEY + tuple(cols)
        got = read_table(out_dir, table, list(fields)).to_pylist()
        want = [{**r, **dict(zip(cols, battery(r["old_value"],
                                               r["new_value"])))}
                if battery else r for r in ref.feature_rows[table]]
        if _canon(got, fields) != _canon(want, fields):
            errors.append(f"{table}: {len(got)} engine rows vs {len(want)} "
                          f"cleanroom rows differ")
    return errors
