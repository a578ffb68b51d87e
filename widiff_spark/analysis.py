"""Descriptive analytics over the pipeline's output tables (A4-A7).

Spark-SQL restatements of the reference's analysis queries
(analysis/sql/stats_properties.sql, stats_entity_type.sql, stats_sa_ao.sql
and analysis/scripts/general_analysis.py) — CTAS-and-pandas loops become
plain declarative aggregations; the sandbox-entity exclusion
(general_analysis.py:367-369) is a filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SANDBOX_ENTITIES = [4115189, 13406268, 15397819]  # known WD sandboxes


def property_stats(value_change: DataFrame) -> DataFrame:
    """Per-property change profile (analysis/sql/stats_properties.sql:1-12):
    distinct entities, row counts by action, revert counts — restricted to
    statement-value rows (change_target = '')."""
    return (value_change.filter(F.col("change_target") == "")
            .groupBy("property_id", "property_label")
            .agg(F.countDistinct("entity_id").alias("num_entities"),
                 F.count("*").alias("num_changes"),
                 F.count(F.when(F.col("action") == "CREATE", 1)).alias("num_creates"),
                 F.count(F.when(F.col("action") == "DELETE", 1)).alias("num_deletes"),
                 F.count(F.when(F.col("action") == "UPDATE", 1)).alias("num_updates"),
                 F.count(F.when(F.col("is_reverted") == 1, 1)).alias("num_reverted"),
                 F.count(F.when(F.col("reversion") == 1, 1)).alias("num_reversions"))
            .orderBy(F.desc("num_changes")))


def entity_type_stats(entity_stats: DataFrame,
                      exclude_sandbox: bool = True) -> DataFrame:
    """Per-P31-type entity counts (analysis/sql/stats_entity_type.sql:1-42):
    unnest the comma-joined type list, group by individual type."""
    df = entity_stats
    if exclude_sandbox:
        df = df.filter(~F.col("entity_id").isin(SANDBOX_ENTITIES))
    return (df.select("entity_id", "num_revisions", "num_value_changes",
                      F.explode(F.split("entity_types_31", ", ")).alias("p31_type"))
            .filter(F.col("p31_type") != "")
            .groupBy("p31_type")
            .agg(F.countDistinct("entity_id").alias("num_entities"),
                 F.sum("num_revisions").alias("num_revisions"),
                 F.sum("num_value_changes").alias("num_value_changes"))
            .orderBy(F.desc("num_entities")))


def cohort_rollup(entity_stats: DataFrame) -> DataFrame:
    """The 22-metric UNION-ALL corpus rollup per cohort
    (analysis/sql/stats_sa_ao.sql:1-67) as one agg + stack."""
    agg = (entity_stats.groupBy("cohort").agg(
        F.count("*").alias("num_entities"),
        F.sum("num_revisions").alias("num_revisions"),
        F.sum("num_value_changes").alias("num_value_changes"),
        F.sum("num_rank_changes").alias("num_rank_changes"),
        F.sum("num_qualifier_changes").alias("num_qualifier_changes"),
        F.sum("num_reference_changes").alias("num_reference_changes"),
        F.sum("num_reverted_edits").alias("num_reverted_edits"),
        F.sum("num_reversions").alias("num_reversions"),
        F.sum("num_bot_edits").alias("num_bot_edits"),
        F.sum("num_human_edits").alias("num_human_edits"),
        F.sum("num_anonymous_edits").alias("num_anonymous_edits"),
        F.round(F.avg("num_value_changes"), 2).alias("avg_value_changes"),
    ))
    metrics = [c for c in agg.columns if c != "cohort"]
    stack_expr = "stack({n}, {pairs}) as (metric, value)".format(
        n=len(metrics),
        pairs=", ".join(f"'{m}', cast({m} as double)" for m in metrics))
    return agg.selectExpr("cohort", stack_expr).orderBy("cohort", "metric")


def top_entities(entity_stats: DataFrame, k: int = 10) -> DataFrame:
    """Top-k most-edited entities (general_analysis.py:98-121 nlargest)."""
    return (entity_stats
            .select("entity_id", "entity_label", "num_revisions",
                    "num_value_changes")
            .orderBy(F.desc("num_value_changes"), F.asc("entity_id"))
            .limit(k))
