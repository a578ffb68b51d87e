"""Table splitting + enrichment: broadcast dimension joins, JVM-side time
buckets, cohort routing (operators J1, J2, P8, P10/P11 tails).

Everything here is declarative DataFrame algebra — Catalyst prunes columns,
pushes the `table` filters into the unified-stream scan, and broadcasts the
small dims (J1: 13k property labels — reference keeps them as a Python dict
per worker, file_parser.py:84-88; here it's an explicit broadcast hash join).

NOTE: timestamps are UTC strings; sessions must run with
``spark.sql.session.timeZone=UTC`` for the week/year buckets to be
byte-identical to the reference's strftime (utils.py:442-459) — parity is
unit-tested in tests/test_enrich.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .schema import ENTITY_STATS_SCHEMA, TABLE_COLUMNS


def split_table(unified: DataFrame, table: str) -> DataFrame:
    """One typed table out of the unified change stream (column-pruned)."""
    return unified.filter(F.col("table") == table).select(*TABLE_COLUMNS[table])


def explode_entity_stats(unified: DataFrame) -> DataFrame:
    """entity_stats payload JSON -> typed columns (JVM-side from_json)."""
    return (unified.filter(F.col("table") == "entity_stats")
            .select("repo", F.from_json("payload", ENTITY_STATS_SCHEMA).alias("s"))
            .select("repo", "s.*"))


def add_time_buckets(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """Denormalized week/year_month/year columns (P8).

    ``week`` must equal Python's ``%Y-W%V`` — *calendar* year + ISO week
    number (utils.py:455-457): Spark's ``weekofyear`` is the ISO week and
    ``year`` the calendar year, so the concat below matches (parity-tested).
    """
    ts = F.to_timestamp(F.col(ts_col))
    return (df
            .withColumn("week", F.concat(F.year(ts).cast("string"), F.lit("-W"),
                                         F.lpad(F.weekofyear(ts).cast("string"),
                                                2, "0")))
            .withColumn("year_month", F.date_format(ts, "yyyy-MM"))
            .withColumn("year", F.date_format(ts, "yyyy")))


def add_property_labels(df: DataFrame, property_labels: DataFrame,
                        columns: dict[str, str] | None = None) -> DataFrame:
    """Broadcast label lookup (J1) for each *_property_id column.

    ``columns`` maps id-column -> label-column, default
    {'property_id': 'property_label'}.  Missing pids get '' like the
    reference's ``dict.get(pid, '')`` (page_parser.py:424).
    """
    columns = columns or {"property_id": "property_label"}
    dim = F.broadcast(property_labels.select(
        F.col("property_id").alias("__pid"),
        F.col("property_label").alias("__plabel")))
    out = df
    for id_col, label_col in columns.items():
        out = (out.join(dim, out[id_col] == dim["__pid"], "left")
               .withColumn(label_col, F.coalesce(F.col("__plabel"), F.lit("")))
               .drop("__pid", "__plabel"))
    return out


def compute_cohorts(entity_stats: DataFrame, astronomical: DataFrame,
                    scholarly: DataFrame,
                    config: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Per-entity cohort flags + routing column (P11, J2).

    The reference's ``{suffix}`` table-family trick (db_writer.py:146-156:
    route each page's rows to `''/_sa/_ao/_less` tables) becomes a single
    ``cohort`` column with values rest|sa|ao|less.  Membership = any of the
    entity's last P31 types in the broadcast subclass lists
    (page_parser.py:2250-2273); ``less`` = ≤ threshold value changes and not
    sa/ao (setup.yml:24).
    """
    types = (entity_stats
             .select("repo", "entity_id", "num_value_changes",
                     F.explode(F.split(F.col("entity_types_31"), ", "))
                     .alias("p31_type")))
    ao = F.broadcast(astronomical.select(F.col("s").alias("p31_type"),
                                         F.lit(True).alias("is_ao")))
    sa = F.broadcast(scholarly.select(F.col("s").alias("p31_type"),
                                      F.lit(True).alias("is_sa")))
    flags = (types
             .join(ao, "p31_type", "left")
             .join(sa, "p31_type", "left")
             .groupBy("repo", "entity_id")
             .agg(F.max(F.coalesce("is_ao", F.lit(False))).alias("is_astronomical_object"),
                  F.max(F.coalesce("is_sa", F.lit(False))).alias("is_scholarly_article"),
                  F.first("num_value_changes").alias("_nvc")))
    return (flags
            .withColumn("has_less_revisions",
                        (~F.col("is_astronomical_object"))
                        & (~F.col("is_scholarly_article"))
                        & (F.col("_nvc") <= F.lit(config.less_threshold)))
            .withColumn("cohort",
                        F.when(F.col("is_scholarly_article"), "sa")
                        .when(F.col("is_astronomical_object"), "ao")
                        .when(F.col("has_less_revisions"), "less")
                        .otherwise("rest"))
            .drop("_nvc"))
