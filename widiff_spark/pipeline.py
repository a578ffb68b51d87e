"""End-to-end wiring: documents -> parsed -> unified diff -> typed tables.

Spark-shaped restatement of the reference's main pipeline
(main.py + file_parser.py + page_parser.py, see SURVEY.md §3.1): the
file-claiming / queueing / multiprocess plumbing collapses into Spark task
scheduling; the only surviving stages are

    scan -> parse (mapInPandas) -> group by page -> diff (applyInPandas)
         -> split/enrich (joins + column exprs) -> materialize

Recommended session conf (see ``configure_session``): AQE on (skew-join +
partition coalescing), UTC session timezone, Arrow enabled.
"""

from __future__ import annotations

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


def build_session(app_name: str = "widiff", master: str | None = None,
                  shuffle_partitions: int | None = None,
                  driver_memory: str | None = None) -> SparkSession:
    """Session with the engine's conf.  In local mode the driver JVM is the
    whole cluster, so give it real heap (local[32] with a 1g default OOMs on
    the wide diff shuffles); on a real cluster spark-submit owns memory."""
    import os
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    mem = driver_memory or os.environ.get("WIDIFF_DRIVER_MEMORY", "24g")
    builder = builder.config("spark.driver.memory", mem) \
                     .config("spark.driver.maxResultSize", "4g")
    for k, v in SESSION_CONF.items():
        builder = builder.config(k, v)
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    return builder.getOrCreate()


@dataclass
class PipelineResult:
    """Lazy handles to every output table; `unified` is persisted so each
    split reads the diff output once instead of re-running the UDF.
    ``caches`` holds the other cached frames — the parse stream, which the
    diff and the quarantine table both read, and the salted mode's own
    intermediates (``unified.widiff_caches``); ``unpersist`` releases them
    all."""
    unified: DataFrame
    tables: dict[str, DataFrame] = field(default_factory=dict)
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
    import os
    return int(os.environ.get("WIDIFF_SKEW_THRESHOLD", "40000"))


def probe_max_page_revisions(docs: DataFrame) -> int:
    """Max revisions on any single page — ONE cheap aggregation over the
    raw (repo, path) columns (column-pruned scan + partial map-side count;
    no parse, no Python).  This is the skew statistic that decides the
    diff execution mode."""
    row = (docs.groupBy("repo", "path").count()
           .agg(F.max("count").alias("m")).collect()[0])
    return int(row["m"] or 0)


def choose_mode(docs: DataFrame, threshold: int | None = None) -> tuple[str, int]:
    """('grouped'|'salted', max_page_revisions) — salted iff some page
    exceeds the skew threshold."""
    t = threshold if threshold is not None else _auto_threshold()
    hot = probe_max_page_revisions(docs)
    return ("salted" if hot > t else "grouped"), hot


def run_pipeline(spark: SparkSession, docs: DataFrame,
                 config: PipelineConfig = DEFAULT_CONFIG,
                 property_labels: DataFrame | None = None,
                 astronomical: DataFrame | None = None,
                 scholarly: DataFrame | None = None,
                 persist: bool = True,
                 mode: str = "auto") -> PipelineResult:
    """``mode='auto'`` (default): probe max-revisions-per-page and pick.
    ``mode='grouped'``: per-page applyInPandas replay — minimal shuffle,
    right for balanced corpora.  ``mode='salted'``: pair-parallel diff
    (salted.py) — immune to hot-page skew, one extra window shuffle;
    row-identical output (tests/test_salted_parity.py).

    NOTE ``mode='auto'`` makes this call EAGER: the skew probe runs a
    real aggregation job over ``docs`` at invocation time (~0.5 s at
    sf0.1), before any result DataFrame is consumed.  Loop callers pass
    an explicit mode (see run_incremental / the streaming sink)."""
    from . import fixtures

    max_page_revisions = 0
    if mode == "auto":
        mode, max_page_revisions = choose_mode(docs)

    property_labels = property_labels or fixtures.property_labels_df(spark)
    astronomical = astronomical if astronomical is not None \
        else fixtures.cohort_types_df(spark, "astronomical")
    scholarly = scholarly if scholarly is not None \
        else fixtures.cohort_types_df(spark, "scholarly")

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

    tables: dict[str, DataFrame] = {}

    entity_stats = enrich.explode_entity_stats(unified)
    cohorts = enrich.compute_cohorts(entity_stats, astronomical, scholarly,
                                     config)
    tables["entity_stats"] = (
        entity_stats.join(cohorts.select(
            "repo", "entity_id", "is_scholarly_article",
            "is_astronomical_object", "has_less_revisions", "cohort"),
            ["repo", "entity_id"], "left")
        .fillna({"cohort": "rest", "is_scholarly_article": False,
                 "is_astronomical_object": False, "has_less_revisions": False}))

    label_joins = {
        "value_change": {"property_id": "property_label"},
        "datatype_metadata_change": {"property_id": "property_label"},
        "qualifier_change": {"property_id": "property_label",
                             "qual_property_id": "qual_property_label"},
        "reference_change": {"property_id": "property_label",
                             "ref_property_id": "ref_property_label"},
    }
    for name in CHANGE_TABLES:
        t = enrich.split_table(unified, name)
        t = enrich.add_time_buckets(t)
        if name in label_joins:
            t = enrich.add_property_labels(t, property_labels, label_joins[name])
        tables[name] = t

    tables["quarantine"] = parse.quarantine(parsed)
    tables["cohorts"] = cohorts

    if config.extract_features:
        for fname, fdf in features.feature_tables(
                tables["value_change"]).items():
            tables[fname] = fdf

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

    ``mode`` passes through to ``run_pipeline``.  NOTE ``'auto'`` probes
    page skew with a real aggregation job over the bucket-filtered input
    at call time — repeated callers (the streaming sink) resolve the mode
    once and pass it explicitly rather than paying the probe per trigger.
    """
    from . import checkpoint, materialize

    todo = checkpoint.pending_buckets(docs, spark, output_path)
    if not todo:
        return {"processed_buckets": [], "tables": {}}

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
    return {"processed_buckets": todo, "tables": locations}


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
