"""Hot-page-immune execution mode: pair-then-salt (SURVEY.md §7.3).

The grouped mode (diff.extract_changes) replays each page sequentially inside
one task — correct and cheap at 10^6 pages, but a 60k-revision hot page (the
reference's own sandbox-entity skew, general_analysis.py:367-369) pins a
single core for the whole replay.  This module removes that bound: the page
replay decomposes into

  1. KEEP decision (a window straight over the parse stream):  a revision
     advances the diff predecessor iff it is the page's first parse-ok
     revision, a redirect, a cleaned (fully emptied) revision, or its
     *comparable projection* differs from the previous candidate's — the
     rule the grouped replay applies to the same columns.  The parse
     computes the projection's key and the three flags from the digest it
     has just built (parse.state_key / parse.keep_flags), so no stage
     decodes a snapshot before this window.  The projection —
     (label, description, claims as {pid: {sid: [value_hash, rank,
     qualifier-hash-sets, reference-key-sets]}}) — captures EXACTLY the
     reference's ``changed`` predicate (page_parser.py:1890-1953): every
     setter of ``changed`` reads only projected fields, and projection
     equality is transitive, so lag-dedup against the previous *candidate*
     equals dedup against the previous *kept* revision.
  2. PAIR construction (one window shuffle): lag(snapshot) over kept
     revisions per page — each output row carries (prev, curr).
  3. PAIR DIFF (mapInArrow, row-parallel — the skew killer): the grouped
     replay's kept-revision step (PageDiffer.replay_revision) per pair; a
     60k-revision page becomes 60k independent rows spread over the
     cluster.
  4. REVERT TAGGING (applyInArrow over (page, property, value) — far finer
     than pages): the grouped mode's revert.tag_reverted_edits over the
     group's emitted value rows.  Every row of one value_change PK falls in
     one group, so the stage emits the PK-deduplicated, flagged rows itself;
     the group's five revert-stat counts ride on its first row as int
     columns.
  5. ENTITY STATS: one conditional aggregation over the pair-diff output
     (counts + first/last revision timestamps), one over the parse stream
     (the page list, timed revisions, and the W4 label/alias that
     ``json_tuple`` reads from the snapshot in the JVM), the
     revert-stat column sums and a tiny P31-replay UDF over only the P31
     statement rows; three left joins onto the page list, and the payload
     JSON is built in the JVM (to_json in ENTITY_STATS_SCHEMA order, the
     grouped payload's key order).

A page is (repo, path) in every stage, as in the grouped replay: two paths
that name one entity id (Q012, Q12) stay two pages.  The pair-diff and
tag outputs carry ``path`` for that and drop it at the end.

Output is row-identical to the grouped mode (tests/test_salted_parity.py
proves equality on the edge-case corpus incl. the hot page and on the
derived driver corpus), except the diagnostic ``total_*_time_sec`` payload
fields, which are 0.0 here (they time a loop that no longer exists).

Cost trade (measured, local[16], 8000-revision/61-statement hot page):
grouped replays the page in ONE task (13.7 s end-to-end); salted runs the
same replay as ~8000 independent pair rows across all cores (pair-diff
stage 7.6 s) at the price of two snapshot shuffles + the label-stamp join
(18.9 s end-to-end locally).  The parse stream is cached (run_pipeline
caches it in both modes; an uncached input is cached here), so the keep
window, the page aggregation and the quarantine table read one parse of
each input row, and no Python stage sits between the parse and the keep
window.  The keep key costs the parse about a fifth more CPU in both
modes (it hashes the in-memory digest); in exchange salted mode decodes
a snapshot only in the pair diff.  The stats and tagging side
adds little on top: a warm count over the 60-revision edge corpus at
local[4] runs 13 Spark jobs and 61 tasks (15 and 74 while a PK window
and a flags join deduplicated and re-tagged the value rows after the tag
stage).  The remaining sequential floor in
BOTH modes is the revert scan of one (property, value) history — bounded
by the 4-week window since revert.py's early exit.  On one shared box the
shuffle tax outweighs the spread; on a real cluster the grouped mode's
hot-page task bounds the whole stage (minutes of idle executors at 10^12
scale) while salted's critical path is the window-bounded tag scan only.
Round 4: ``run_pipeline(mode='auto')`` (the default) probes
max-revisions-per-page and flips to this mode above WIDIFF_SKEW_THRESHOLD
(default 40k — the measured local[32] crossover; BENCH/BASELINE.md round-4
section).
"""

from __future__ import annotations

import json
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F, types as T
from pyspark.sql.pandas.types import to_arrow_schema

from . import canonical as C
from .config import DEFAULT_CONFIG, PipelineConfig
from .diff import (PageDiffer, _emit_rows, _hashable, _prep_revisions,
                   _table_const)
from .revert import REVERT_STATS, tag_reverted_edits
from .schema import ENTITY_STATS_SCHEMA, UNIFIED_SCHEMA, pyrows


def kept_pairs(parsed: DataFrame) -> DataFrame:
    """Candidate filter + keep decision + (prev, curr) pairing windows over
    the parse stream's keep projection (state_key and the three flags).

    The page's FIRST parse-ok revision takes the created-entity path before
    any branch dispatch (page_parser.py:1890-1893) — it is kept and becomes
    the predecessor even if alias/sitelink-only; only NON-first alias-only
    revisions are skipped (and they never advance the predecessor, so they
    leave the comparison chain entirely)."""
    w = Window.partitionBy("repo", "path").orderBy("commit")
    cand = (parsed.filter(F.col("parse_ok") & (~F.col("is_deleted")))
            .withColumn("__rn", F.row_number().over(w)))
    # the first candidate heads the chain and is always kept, so row
    # position, not a null lagged revision_id, marks the created-entity path
    first = F.col("__rn") == 1
    chain = cand.filter(first | (~F.col("is_alias_only")))
    kept = (chain.withColumn("__prev_key", F.lag("state_key").over(w))
            .filter(first | F.col("is_redirect") | F.col("is_cleaned")
                    | (F.col("state_key") != F.col("__prev_key"))))
    return (kept
            .withColumn("prev_snapshot", F.lag("snapshot").over(w))
            .withColumn("prev_revision_id",
                        F.when(first, F.lit(-1))
                        .otherwise(F.lag("revision_id").over(w)))
            .withColumn("is_first", first)
            .drop("__prev_key", "__rn"))


def make_pair_diff_udf(config: PipelineConfig = DEFAULT_CONFIG):
    """Row-parallel pair diff: one output block per (prev, curr) pair.

    Output = UNIFIED columns (entity_label left empty — stamped later from
    the page dim) + the page's path + commit + emit_idx carriers for the
    downstream replay ordering (emit_idx = the row's position within its
    table's rows of the pair); value rows carry their revision's comment
    for the revert-tagging stage.  Each pair runs the kept-revision step
    of the grouped replay (PageDiffer.replay_revision), the output columns
    come from its emitter."""
    def pair_diff(batches: Iterator[pa.RecordBatch]
                  ) -> Iterator[pa.RecordBatch]:
        # rows arrive page-partitioned and commit-ordered (the pair window's
        # own shuffle), so the previous row's decoded curr IS this row's
        # prev: one decode per revision, like the grouped replay (a
        # string-equality check guards page boundaries / reordered input)
        last: dict | None = None
        for batch in batches:
            out: dict = {c: [] for c in _PAIR_OUT_ARROW.names}
            for rec in _prep_revisions(pyrows(batch)):
                if rec["is_first"]:
                    prev = None
                elif last is not None and rec["prev_snapshot"] == last["snapshot"]:
                    prev = last["digest"]
                else:
                    prev = C.fast_json_loads(rec["prev_snapshot"])
                last = rec
                differ = PageDiffer(rec["repo"], rec["entity_id"], config)
                differ.replay_revision(rec, prev, rec["prev_revision_id"])
                for table, rows in differ.table_rows().items():
                    if not rows:
                        continue
                    _emit_rows(out, rows, {"table": table, "repo": rec["repo"],
                                           "path": rec["path"],
                                           "commit": rec["commit"]})
                    out["emit_idx"][-len(rows):] = range(len(rows))
            yield pa.RecordBatch.from_pydict(out, schema=_PAIR_OUT_ARROW)
    return pair_diff


# internal pair-diff output = unified columns + the page key's path +
# replay-ordering carriers.  StructType.add mutates in place — build a
# fresh struct, never touch the shared UNIFIED_SCHEMA
_PATH = T.StructField("path", T.StringType())
_PAIR_OUT_SCHEMA = T.StructType(
    list(UNIFIED_SCHEMA.fields)
    + [_PATH, T.StructField("commit", T.StringType()),
       T.StructField("emit_idx", T.IntegerType())])
_PAIR_OUT_ARROW = to_arrow_schema(_PAIR_OUT_SCHEMA)


# tag-stage output = unified columns + path + the group's revert-stat
# counts, which only its first row carries
_TAG_OUT_SCHEMA = T.StructType(
    list(UNIFIED_SCHEMA.fields) + [_PATH]
    + [T.StructField(c, T.IntegerType()) for c in REVERT_STATS])
_TAG_OUT_ARROW = to_arrow_schema(_TAG_OUT_SCHEMA)

_P31_SCHEMA = T.StructType([T.StructField("repo", T.StringType()), _PATH,
                            T.StructField("entity_types_31", T.StringType())])
_P31_ARROW = to_arrow_schema(_P31_SCHEMA)


def _sorted_rows(table: pa.Table) -> list[dict]:
    """A group's rows in replay order: row order within a group is not
    guaranteed, and the sort is stable like the emission it restores."""
    return pyrows(table.sort_by([("commit", "ascending"),
                                 ("emit_idx", "ascending")]))


def _tag_udf(config: PipelineConfig):
    """Revert tagging per (repo, path, property_id, value_id) group —
    the grouped mode's tag_reverted_edits on a key far finer than pages.
    Every row of one value_change PK falls in one group, so the PK dedup
    happens here too: the group emits its tagged, deduplicated rows."""
    def tag(table: pa.Table) -> pa.Table:
        tagged, stats = tag_reverted_edits(_sorted_rows(table),
                                           config.time_threshold_seconds)
        out: dict = {c: [] for c in _TAG_OUT_ARROW.names}
        _emit_rows(out, tagged, _table_const("value_change"))
        for c in REVERT_STATS:
            out[c][0] = stats[c]
        return pa.Table.from_pydict(out, schema=_TAG_OUT_ARROW)
    return tag


def _p31_replay_udf():
    """entity_types_31 per page: the running (sid, value) type-set replay
    over only the P31 statement-value rows, in (commit, emit_idx) order —
    every _types_add/_types_remove in the reference coincides with an
    emitted P31 row (diff.py call sites), so the row stream is a complete
    event log of the type set."""
    # (grouping-key scalars, pa.Table) -> pa.Table, without type hints:
    # PySpark infers the UDF form from hints and fails on a partial set
    def replay(key, table):
        types: dict = {}
        for rec in _sorted_rows(table):
            sid = rec["value_id"]

            def parse(ser):
                if ser == "{}":
                    return None
                return json.loads(ser)
            if rec["action"] == "CREATE":
                v = parse(rec["new_value"])
                types[(sid, _hashable(v))] = v
            elif rec["action"] == "DELETE":
                v = parse(rec["old_value"])
                types.pop((sid, _hashable(v)), None)
            elif rec["action"] == "UPDATE":
                ov, nv = parse(rec["old_value"]), parse(rec["new_value"])
                types.pop((sid, _hashable(ov)), None)
                types[(sid, _hashable(nv))] = nv
        type_ids = list(dict.fromkeys(_hashable(t) for t in types.values()))
        return pa.Table.from_pydict(
            {"repo": [key[0].as_py()], "path": [key[1].as_py()],
             "entity_types_31": [", ".join(str(t) for t in type_ids)]},
            schema=_P31_ARROW)
    return replay


def extract_changes_salted(parsed: DataFrame,
                           config: PipelineConfig = DEFAULT_CONFIG
                           ) -> DataFrame:
    """Salted (pair-parallel) analog of diff.extract_changes: identical
    unified output stream, no per-page sequential stage on the hot path."""
    spark = parsed.sparkSession
    # read by the pair diff and by the page aggregation: parse once
    if not parsed.is_cached:
        parsed = parsed.persist()
    pairs = kept_pairs(parsed)

    # the pair window co-locates each page in ONE partition — exactly the
    # skew this mode exists to break.  Range-repartition on (page, commit):
    # a hot page splits across many tasks at range boundaries, while commit
    # runs stay contiguous so the pair-diff's decode cache keeps its 1-parse-
    # per-revision property.
    n_parts = max(spark.sparkContext.defaultParallelism * 2,
                  int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    diffed = pairs.select(
        "repo", "path", "commit", "entity_id", "revision_id", "timestamp",
        "username", "user_id", "comment", "parse_ok", "snapshot",
        "prev_snapshot", "prev_revision_id", "is_first"
    ).repartitionByRange(n_parts, "repo", "path", "commit") \
     .mapInArrow(make_pair_diff_udf(config), schema=_PAIR_OUT_SCHEMA)
    diffed = diffed.persist()

    # ---- revert tagging + PK dedup on (page, property, value) groups ----
    page = ["repo", "path"]  # entity_id may name two pages (Q012, Q12)
    value_rows = diffed.filter(F.col("table") == "value_change")
    tagged = (value_rows
              .groupBy(*page, "property_id", "value_id")
              .applyInArrow(_tag_udf(config), schema=_TAG_OUT_SCHEMA)
              .persist())
    revert_stats = tagged.groupBy(*page).agg(
        *[F.sum(c).cast("int").alias(c) for c in REVERT_STATS])

    # ---- entity_stats: one aggregation per source, payload in the JVM ----
    def cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("int")

    table, action = F.col("table"), F.col("action")
    is_rev = table == "revision"
    rev_commit = F.when(is_rev, F.col("commit"))
    counts = [cnt(is_rev).alias("num_revisions"),
              F.min_by("timestamp", rev_commit)
              .alias("first_revision_timestamp"),
              F.max_by("timestamp", rev_commit)
              .alias("last_revision_timestamp")]
    counts += [cnt(is_rev & (F.col("user_type") == u)).alias(f"num_{u}_edits")
               for u in ("bot", "anonymous", "human")]

    def by_action(rows, total: str, each: str) -> list:
        return [cnt(rows).alias(total)] + [
            cnt(rows & (action == a)).alias(each.format(a.lower()))
            for a in ("CREATE", "DELETE", "UPDATE")]

    # value and rank rows count pre-dedup: the reference counts at
    # save_change time
    is_value = table == "value_change"
    counts += by_action(is_value & (F.col("change_target") == ""),
                        "num_value_changes", "num_value_change_{}s")
    counts += by_action(is_value & (F.col("change_target") == "rank"),
                        "num_rank_changes", "num_rank_{}s")
    counts += [cnt(table == "qualifier_change").alias("num_qualifier_changes"),
               cnt(table == "reference_change").alias("num_reference_changes")]
    counts += by_action(table == "datatype_metadata_change",
                        "num_datatype_metadata_changes",
                        "num_datatype_metadata_{}s")
    diff_agg = diffed.groupBy(*page).agg(*counts)

    p31 = (value_rows.filter((F.col("property_id") == 31)
                             & (F.col("change_target") == ""))
           .select(*page, "value_id", "action", "old_value", "new_value",
                   "commit", "emit_idx")
           .groupBy(*page)
           .applyInArrow(_p31_replay_udf(), schema=_P31_SCHEMA))

    # every page gets a stats row, even with zero kept revisions (grouped
    # mode instantiates a PageDiffer per page unconditionally); W4 label/
    # alias = the last non-empty one over the page's timed revisions
    ok = F.col("parse_ok") & ~F.col("is_deleted")

    def last_nonempty(c):
        return F.max_by(c, F.when(ok & (F.col(c) != ""), F.col("commit")))

    pages = parsed.select(
        *page, "entity_id", "commit", "parse_ok", "is_deleted",
        F.json_tuple("snapshot", "label", "alias")
        .alias("w4_label", "w4_alias")).groupBy(*page, "entity_id").agg(
        cnt(ok).alias("num_revisions_timed"),
        F.coalesce(last_nonempty("w4_label"), last_nonempty("w4_alias"),
                   F.lit("")).alias("entity_label"))
    stats = (pages.join(diff_agg, page, "left")
             .join(revert_stats, page, "left")
             .join(p31, page, "left")
             .fillna(0).fillna({"entity_types_31": ""}))
    # struct fields in ENTITY_STATS_SCHEMA order = the grouped payload's key
    # order; the total_* fields time a per-page loop this mode does not have
    fields = {"file_path": F.col("repo"),
              "num_feature_creations_timed": F.lit(0)}
    for f in ENTITY_STATS_SCHEMA.fields:
        if f.name.startswith("total_"):
            fields[f.name] = F.lit(0.0)
    payload = F.to_json(
        F.struct(*[fields.get(f.name, F.col(f.name)).cast(f.dataType)
                   .alias(f.name) for f in ENTITY_STATS_SCHEMA.fields]),
        {"ignoreNullFields": "false"})
    stats_rows = stats.select("repo", "entity_id", "entity_label",
                              payload.alias("payload"),
                              F.lit("entity_stats").alias("table"))

    # ---- assemble the unified stream + stamp page entity_label -----------
    body = diffed.filter(F.col("table") != "value_change") \
                 .drop("commit", "emit_idx") \
                 .unionByName(tagged.drop(*REVERT_STATS))
    label_dim = pages.select(*page, F.col("entity_label").alias("__el"))
    body = (body.join(label_dim, page, "left")
            .withColumn("entity_label", F.col("__el")).drop("__el", "path"))
    out = body.unionByName(stats_rows, allowMissingColumns=True)
    # cached intermediates, for the caller to release (PipelineResult)
    out.widiff_caches = [parsed, diffed, tagged]
    return out
