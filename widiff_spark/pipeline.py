"""End-to-end wiring: documents -> parsed -> unified diff -> typed tables.

Spark-shaped restatement of the reference's main pipeline
(main.py + file_parser.py + page_parser.py, see SURVEY.md §3.1): the
file-claiming / queueing / multiprocess plumbing collapses into Spark task
scheduling; the only surviving stages are

    scan -> parse (mapInArrow) -> group by page bucket -> diff (applyInArrow)
         -> split/enrich (joins + column exprs) -> materialize

The diff path's Python stages read and write Arrow batches directly (no
pandas frame, so a null long stays None, never NaN).

Recommended session conf (see ``configure_session``): AQE on (skew-join +
partition coalescing), UTC session timezone, Arrow enabled.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.storagelevel import StorageLevel

from . import diff, enrich, features, parse
from .config import DEFAULT_CONFIG, PipelineConfig

CHANGE_TABLES = ["revision", "value_change", "qualifier_change",
                 "reference_change", "datatype_metadata_change"]

SESSION_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # allow shuffled-hash join where the per-partition build side fits
    # (guide §3.1/§9 baseline): sort-merge pays two sorts the dedup/verify
    # equi-joins don't need (measured −15% on the minhash family); the AQE
    # threshold additionally rewrites SMJ->SHJ at runtime from REAL sizes,
    # so the choice stays size-guarded on any cluster, not local-tuned
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "64m",
    # the parse stage is CPU-bound Python over modest bytes: split file scans
    # well below the 128m default so a handful of input files still fans out
    # to every core (row-group-bounded; writers here emit many small files)
    "spark.sql.files.maxPartitionBytes": "16m",
}


def default_driver_memory() -> str:
    """Half the host's physical RAM in whole GiB (at least 1g, at most 24g):
    the driver JVM shares the host with the Python workers."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24, max(1, ram // 2 ** 31))}g"


def build_session(app_name: str = "widiff", master: str | None = None,
                  shuffle_partitions: int | None = None,
                  driver_memory: str | None = None) -> SparkSession:
    """Session with the engine's conf.  In local mode the driver JVM is the
    whole cluster, so give it real heap (local[32] with a 1g default OOMs on
    the wide diff shuffles); on a real cluster spark-submit owns memory.
    ``driver_memory``, then ``WIDIFF_DRIVER_MEMORY``, override the
    host-derived default."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    mem = (driver_memory or os.environ.get("WIDIFF_DRIVER_MEMORY")
           or default_driver_memory())
    builder = builder.config("spark.driver.memory", mem) \
                     .config("spark.driver.maxResultSize", "4g")
    for k, v in SESSION_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    return builder.getOrCreate()


class LazyTables(Mapping):
    """Table name -> DataFrame, each plan built on first access.  Building a
    plan runs no Spark job but costs driver time (analysis of a deep diff
    plan), so a caller that writes two tables pays for two."""

    def __init__(self, builders: dict):
        self._builders, self._built = builders, {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._built:
            self._built[name] = self._builders[name]()
        return self._built[name]

    def __iter__(self):
        return iter(self._builders)

    def __len__(self) -> int:
        return len(self._builders)


@dataclass
class PipelineResult:
    """Lazy handles to every output table; `unified` is persisted so each
    split reads the diff output once instead of re-running the UDF.
    ``caches`` holds the other cached frames — the parse stream, which the
    diff and the quarantine table both read, and the salted mode's own
    intermediates (``unified.widiff_caches``); ``unpersist`` releases them
    all."""
    unified: DataFrame
    tables: Mapping[str, DataFrame] = field(default_factory=dict)
    mode: str = "grouped"          # execution mode actually chosen
    max_page_revisions: int = 0    # the auto probe's measurement (0 = not probed)
    caches: list[DataFrame] = field(default_factory=list)

    def unpersist(self):
        for df in [self.unified, *self.caches]:
            df.unpersist()


# mode='auto' flips to the salted (pair-parallel) diff when any single page
# carries more revisions than this.  Measured crossover at local[32]
# (scripts/skew_crossover.py; full table in BENCH/BASELINE.md):
# salted/grouped wall ratio 2.8x @1k-rev hot page, 1.04x @32k, 0.56x @48k,
# 0.54x @64k -> local crossover ~35-40k.  On a multi-executor cluster the
# grouped mode's hot-page task bounds the whole stage (idle executors), so
# salted wins even earlier; 40k is therefore a conservative default.
# Override per-cluster with WIDIFF_SKEW_THRESHOLD.
def _auto_threshold() -> int:
    return int(os.environ.get("WIDIFF_SKEW_THRESHOLD", "40000"))


def probe_max_page_revisions(docs: DataFrame) -> int:
    """Max revisions on any single page — ONE cheap aggregation over the
    raw (repo, path) columns (column-pruned scan + partial map-side count;
    no parse, no Python).  This is the skew statistic that decides the
    diff execution mode."""
    row = (docs.groupBy("repo", "path").count()
           .agg(F.max("count").alias("m")).collect()[0])
    return int(row["m"] or 0)


def mode_for(max_page_revisions: int, threshold: int | None = None) -> str:
    """'salted' iff some page exceeds the skew threshold, else 'grouped'."""
    t = threshold if threshold is not None else _auto_threshold()
    return "salted" if max_page_revisions > t else "grouped"


def choose_mode(docs: DataFrame, threshold: int | None = None) -> tuple[str, int]:
    """('grouped'|'salted', max_page_revisions), probed over ``docs``."""
    hot = probe_max_page_revisions(docs)
    return mode_for(hot, threshold), hot


def run_pipeline(spark: SparkSession, docs: DataFrame,
                 config: PipelineConfig = DEFAULT_CONFIG,
                 property_labels: DataFrame | None = None,
                 astronomical: DataFrame | None = None,
                 scholarly: DataFrame | None = None,
                 persist: bool = True,
                 mode: str = "auto") -> PipelineResult:
    """``mode='auto'`` (default): probe max-revisions-per-page and pick.
    ``mode='grouped'``: per-page applyInArrow replay — minimal shuffle,
    right for balanced corpora.  ``mode='salted'``: pair-parallel diff
    (salted.py) — immune to hot-page skew, one extra window shuffle;
    row-identical output (tests/test_salted_parity.py).

    NOTE ``mode='auto'`` makes this call EAGER: the skew probe runs a
    real aggregation job over ``docs`` at invocation time (~0.5 s at
    sf0.1), before any result DataFrame is consumed.  ``run_incremental``
    runs no probe: it reads the statistic from its checkpoint pass and
    passes an explicit mode.

    ``tables`` maps every table name to its DataFrame, but each table's
    plan (and the plans it reads: ``value_change`` for the feature tables,
    ``cohorts`` for ``entity_stats``) is built on first access only."""
    from . import fixtures

    max_page_revisions = 0
    if mode == "auto":
        mode, max_page_revisions = choose_mode(docs)

    # read by the diff and by the quarantine table: parse once
    parsed = parse.parse_documents(docs)
    if persist:
        parsed = parsed.persist(StorageLevel.MEMORY_AND_DISK)
    if mode == "salted":
        from . import salted
        unified = salted.extract_changes_salted(parsed, config)
    else:
        unified = diff.extract_changes(parsed, config)
    if persist:
        unified = unified.persist(StorageLevel.MEMORY_AND_DISK)

    @functools.cache
    def labels() -> DataFrame:
        return property_labels if property_labels is not None \
            else fixtures.property_labels_df(spark)

    @functools.cache
    def stats() -> DataFrame:
        return enrich.explode_entity_stats(unified)

    def cohorts() -> DataFrame:
        return enrich.compute_cohorts(
            stats(),
            astronomical if astronomical is not None
            else fixtures.cohort_types_df(spark, "astronomical"),
            scholarly if scholarly is not None
            else fixtures.cohort_types_df(spark, "scholarly"), config)

    def entity_stats() -> DataFrame:
        return (stats().join(tables["cohorts"].select(
            "repo", "entity_id", "is_scholarly_article",
            "is_astronomical_object", "has_less_revisions", "cohort"),
            ["repo", "entity_id"], "left")
            .fillna({"cohort": "rest", "is_scholarly_article": False,
                     "is_astronomical_object": False,
                     "has_less_revisions": False}))

    label_joins = {
        "value_change": {"property_id": "property_label"},
        "datatype_metadata_change": {"property_id": "property_label"},
        "qualifier_change": {"property_id": "property_label",
                             "qual_property_id": "qual_property_label"},
        "reference_change": {"property_id": "property_label",
                             "ref_property_id": "ref_property_label"},
    }

    def change_table(name: str) -> DataFrame:
        t = enrich.add_time_buckets(enrich.split_table(unified, name))
        if name in label_joins:
            t = enrich.add_property_labels(t, labels(), label_joins[name])
        return t

    def feature_table(name: str) -> DataFrame:
        return features.feature_tables(tables["value_change"], [name])[name]

    builders = {"entity_stats": entity_stats}
    for name in CHANGE_TABLES:
        builders[name] = functools.partial(change_table, name)
    builders["quarantine"] = lambda: parse.quarantine(parsed)
    builders["cohorts"] = cohorts
    if config.extract_features:
        for name in features.FEATURE_TABLES:
            builders[name] = functools.partial(feature_table, name)
    tables = LazyTables(builders)

    return PipelineResult(
        unified=unified, tables=tables, mode=mode,
        max_page_revisions=max_page_revisions,
        caches=[parsed, *getattr(unified, "widiff_caches", [])])


def run_incremental(spark: SparkSession, docs: DataFrame, output_path: str,
                    config: PipelineConfig = DEFAULT_CONFIG,
                    run_id: str = "run",
                    tables: list[str] | None = None,
                    mode: str = "auto") -> dict:
    """Checkpointed, idempotent end-to-end run (north_rule resume contract).

    Only buckets whose input advanced past the recorded high-water mark are
    re-processed; their table partitions are overwritten in place; the
    checkpoint table gains one lineage row (pages/revisions/triples counts)
    per bucket.  Re-running on unchanged input is a no-op.  The default
    table list includes ``quarantine``, so undecodable revisions land in a
    table rather than vanishing.

    The input is aggregated once per call: ``checkpoint.pending_buckets``
    returns the pending buckets with their marks, ``mode='auto'`` picks the
    diff mode from the largest page among them (no probe job), and
    ``checkpoint.record`` records those same marks.  Only the written
    tables' plans are built.  Returns the processed buckets, the chosen
    mode and each written table's location.
    """
    from . import checkpoint, materialize

    todo = checkpoint.pending_buckets(docs, spark, output_path)
    if not todo:
        return {"processed_buckets": [], "tables": {}}

    if mode == "auto":
        mode = mode_for(todo.max_page_revisions)
    subset = checkpoint.filter_to_buckets(docs, todo)
    res = run_pipeline(spark, subset, config, mode=mode)
    wanted = tables or (CHANGE_TABLES + ["entity_stats", "quarantine"])
    locations = {}
    for name in wanted:
        df = res.tables[name]
        if name == "quarantine":
            # no entity_id column: the same bucket, derived from the path,
            # so a redo overwrites exactly the buckets it re-parsed
            df = df.withColumn("entity_bucket", checkpoint.bucket_col())
        locations[name] = materialize.write_table(df, output_path, name)
    lineage = checkpoint.lineage_from_unified(res.unified)
    checkpoint.record(spark, output_path, docs, lineage, run_id,
                      buckets=todo)
    res.unpersist()
    return {"processed_buckets": list(todo), "mode": mode,
            "tables": locations}


def triples(value_change: DataFrame) -> DataFrame:
    """The headline (subj, pred, obj, action) change-triple view used for the
    P/R comparison (BASELINE.json north_rule): statement-value rows only."""
    return (value_change
            .filter(F.col("change_target") == "")
            .select(F.col("entity_id").alias("subj"),
                    F.col("property_id").alias("pred"),
                    F.coalesce(F.when(F.col("new_value") != "{}",
                                      F.col("new_value")),
                               F.col("old_value")).alias("obj"),
                    "action", "revision_id", "timestamp"))
