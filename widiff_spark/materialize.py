"""Partitioned, PK-deduplicated table writes (S5/S6 analog).

The reference bulk-loads via Postgres COPY into temp tables with
``INSERT ... ON CONFLICT (pk) DO NOTHING`` (utils.py:151-241) and routes rows
to ``{suffix}`` table families (db_writer.py:146-156).  Here:

* each output table is a *partitioned* columnar table — partition spec
  ``(cohort, entity_bucket)`` for fact tables so cohort queries prune entire
  partitions (the ``{suffix}`` families collapsed into one table, SURVEY.md
  §1.2) and pages co-locate by bucket;
* ``ON CONFLICT DO NOTHING`` becomes an explicit *deterministic* PK dedup
  (row_number over the PK ordered by all columns — the reference's winner is
  whichever row insert-raced first, i.e. nondeterministic; SURVEY.md §7.4.6
  requires us to pick a stable winner);
* the write is an idempotent partition overwrite (dynamic partition
  overwrite), the batch analog of an Iceberg ``overwritePartitions`` — on an
  Iceberg-enabled cluster swap ``_write`` for ``df.writeTo(tbl).
  overwritePartitions()`` (same logical contract, snapshot isolation for
  free).

Format: the writer auto-detects a configured Iceberg catalog
(``spark.sql.catalog.<name> = org.apache.iceberg...``) and routes through
``writeTo(...).overwritePartitions()`` when one is present (north_rule:
"materializing partitioned Iceberg tables"); otherwise it falls back to
plain parquet with dynamic partition overwrite — the same logical contract
without snapshot isolation.  This container ships no Iceberg runtime, so
only the fallback executes here; the catalog path is exercised on any
cluster with the iceberg-spark-runtime jar + a catalog conf, no code
changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .schema import TABLE_PKS

N_ENTITY_BUCKETS = 64  # bucket(entity_id) analog of an Iceberg bucket transform


def dedup_by_pk(df: DataFrame, pk: list[str]) -> DataFrame:
    """Deterministic ON-CONFLICT-DO-NOTHING: keep the first row per PK under
    a total order of the remaining columns."""
    order = [F.col(c).asc_nulls_last() for c in df.columns if c not in pk]
    if not order:
        return df.dropDuplicates(pk)
    w = Window.partitionBy(*pk).orderBy(*order)
    return (df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def with_entity_bucket(df: DataFrame, n_buckets: int = N_ENTITY_BUCKETS) -> DataFrame:
    return df.withColumn(
        "entity_bucket", F.pmod(F.xxhash64("repo", "entity_id"),
                                F.lit(n_buckets)).cast("int"))


def hadoop_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for ``path``: driver-side file checks that
    run no Spark job and work on any scheme (file/hdfs/s3a)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _has_parquet_file(spark: SparkSession, path: str) -> bool:
    fs, hpath = hadoop_path(spark, path)
    files = fs.listFiles(hpath, True)
    while files.hasNext():
        if files.next().getPath().getName().endswith(".parquet"):
            return True
    return False


def iceberg_catalog(spark: SparkSession) -> str | None:
    """Name of the first configured Iceberg catalog, or None.

    Detection is conf-based (``spark.sql.catalog.<name>`` pointing at an
    Iceberg catalog impl) so the engine needs no Iceberg import at all when
    the runtime jar is absent."""
    try:
        confs = spark.sparkContext.getConf().getAll()
    except Exception:  # e.g. Connect sessions without a SparkContext
        return None
    return _catalog_from_confs(confs)


def _catalog_from_confs(confs) -> str | None:
    for k, v in confs:
        parts = str(k).split(".")
        if (len(parts) == 4 and parts[:3] == ["spark", "sql", "catalog"]
                and "iceberg" in str(v).lower()):
            return parts[3]
    return None


def iceberg_identifier(catalog: str, table: str,
                       namespace: str = "widiff") -> str:
    """Fully-qualified Iceberg identifier with each part backtick-quoted —
    table names derived from paths (e.g. '_checkpoints/highwater') would
    otherwise be unparseable SQL identifiers."""
    return ".".join(f"`{p}`" for p in (catalog, namespace, table))


def _write_iceberg(df: DataFrame, catalog: str, table: str,
                   partition_cols: list[str], mode: str = "overwrite",
                   namespace: str = "widiff") -> None:
    """Iceberg sink: create-on-first-write, then ``overwritePartitions``
    (or ``append`` when mode='append') — the exactly-once redo-unit
    contract write_table documents, with snapshot isolation from the table
    format.  Executes only on clusters with an Iceberg catalog configured
    (see module docstring)."""
    spark = df.sparkSession
    full = iceberg_identifier(catalog, table, namespace)
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS `{catalog}`.`{namespace}`")
    if spark.catalog.tableExists(full):
        if mode == "append":
            df.writeTo(full).append()
        else:
            df.writeTo(full).overwritePartitions()
    else:
        writer = df.writeTo(full).using("iceberg")
        if partition_cols:
            writer = writer.partitionedBy(*[F.col(c) for c in partition_cols])
        writer.create()


def write_table(df: DataFrame, path: str, table: str,
                partition_cols: list[str] | None = None,
                mode: str = "overwrite") -> str:
    """Idempotent partitioned write with PK dedup.  Returns the location
    the table was actually written to — a catalog identifier on Iceberg
    clusters, a parquet path otherwise — so callers never hand out paths
    that were never written.

    Routes to the Iceberg catalog when one is configured; otherwise plain
    parquet with dynamic partition overwrite, so re-running a subset of
    buckets replaces exactly those partitions (the resume path,
    checkpoint.py).
    """
    pk = TABLE_PKS.get(table)
    if pk and all(c in df.columns for c in pk):
        df = dedup_by_pk(df, pk)
    if partition_cols is None:
        # partition by entity_bucket only: the bucket is the checkpoint redo
        # unit, so a dynamic partition overwrite of re-processed buckets is
        # always exactly-once.  cohort stays a plain column (row-group stats
        # still prune cohort filters); under Iceberg one would add
        # ``cohort`` to the spec and let MERGE INTO reconcile moves.
        partition_cols = []
        if "entity_bucket" not in df.columns and "entity_id" in df.columns \
                and "repo" in df.columns:
            df = with_entity_bucket(df)
        if "entity_bucket" in df.columns:
            partition_cols.append("entity_bucket")
    catalog = iceberg_catalog(df.sparkSession)
    if catalog is not None:
        _write_iceberg(df, catalog, table, partition_cols, mode)
        return iceberg_identifier(catalog, table)
    writer = (df.write.mode(mode)
              .option("partitionOverwriteMode", "dynamic"))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    target = f"{path}/{table}"
    writer.parquet(target)
    if partition_cols and not _has_parquet_file(df.sparkSession, target):
        # a partitioned write of no rows leaves no file, so the table would
        # have no schema to read: park one empty file in a partition (an
        # unpartitioned write of no rows writes such a file by itself)
        first = "/".join(f"{c}=0" for c in partition_cols)
        df.limit(0).drop(*partition_cols).write.mode("overwrite") \
            .parquet(f"{target}/{first}")
    return target


def read_table(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Read back a table written by write_table — from the Iceberg catalog
    when one is configured (mirroring the write-side routing; a
    parquet-path read on an Iceberg cluster would see stale or absent
    data), else the parquet path."""
    catalog = iceberg_catalog(spark)
    if catalog is not None:
        return spark.read.table(iceberg_identifier(catalog, table))
    return spark.read.parquet(f"{path}/{table}")
