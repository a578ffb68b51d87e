"""Partitioned table writes (S5/S6 analog).

The reference bulk-loads via Postgres COPY into temp tables with
``INSERT ... ON CONFLICT (pk) DO NOTHING`` (utils.py:151-241) and routes rows
to ``{suffix}`` table families (db_writer.py:146-156).  Here:

* each output table is a columnar table partitioned by ``entity_bucket``
  (the ``{suffix}`` families collapse into one table with a ``cohort``
  column, SURVEY.md §1.2), so pages co-locate by bucket;
* ``ON CONFLICT DO NOTHING`` has no analog.  Its keys assume one global
  revision-id space and one title per entity, but a page here is
  (repo, path), so they do not name a row: two forks share every revision
  id.  The write stores every row the diff emitted;
* the write's one shuffle hash-distributes rows on the partition column,
  so each bucket is one file (Iceberg's ``hash`` write distribution);
* the write is an idempotent partition overwrite (dynamic partition
  overwrite), the batch analog of an Iceberg ``overwritePartitions``.

Format: with an Iceberg catalog configured (``spark.sql.catalog.<name> =
org.apache.iceberg...``) the write goes through ``writeTo(...)
.overwritePartitions()`` (north_rule: "materializing partitioned Iceberg
tables"); otherwise plain parquet, the same contract without snapshot
isolation.  The catalog path needs the iceberg-spark-runtime jar and a
catalog conf, and no code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

N_ENTITY_BUCKETS = 64  # bucket(entity_id) analog of an Iceberg bucket transform


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
    """Iceberg sink: create on the first write, then ``overwritePartitions``
    (or ``append``), with snapshot isolation from the table format."""
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


def write_table(df: DataFrame, path: str, table: str) -> str:
    """Idempotent partitioned write of every row of ``df``.  Returns the
    location the table was actually written to — a catalog identifier on
    Iceberg clusters, a parquet path otherwise — so callers never hand out
    paths that were never written.

    A table with an entity (or an ``entity_bucket`` column) is partitioned
    by ``entity_bucket`` and hash-distributed on it, so each bucket is one
    file.  The bucket is the checkpoint redo unit, so a dynamic partition
    overwrite of re-processed buckets replaces exactly those partitions
    (the resume path, checkpoint.py).  ``cohort`` stays a plain column:
    row-group stats still prune cohort filters.
    """
    cols = set(df.columns)
    if "entity_bucket" not in cols and {"repo", "entity_id"} <= cols:
        df = with_entity_bucket(df)
    partition_cols = ["entity_bucket"] if "entity_bucket" in df.columns \
        else []
    if partition_cols:
        df = df.repartition(*partition_cols)
    catalog = iceberg_catalog(df.sparkSession)
    if catalog is not None:
        _write_iceberg(df, catalog, table, partition_cols)
        return iceberg_identifier(catalog, table)
    writer = (df.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy(*partition_cols))
    target = f"{path}/{table}"
    writer.parquet(target)
    if partition_cols and not _has_parquet_file(df.sparkSession, target):
        # a partitioned write of no rows leaves no file, so the table would
        # have no schema to read: park one empty file in a partition (an
        # unpartitioned write of no rows writes such a file by itself)
        df.limit(0).drop("entity_bucket").write.mode("overwrite") \
            .parquet(f"{target}/entity_bucket=0")
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
