"""Per-layer tracing from outside the engine.

``traced_call`` makes the calls ``pipeline.run_incremental`` makes, in the
same order, each inside a span and under a Spark job group named after its
layer (checkpoint, pipeline, parse, diff, salted, enrich, features,
materialize).  Each layer's lazy output is persisted and counted at its
boundary, so a span holds that layer's own work and not a later layer's
recomputation.  Spans stay in memory; the caller writes them out once.

Stage metrics (executor run and CPU time, shuffle bytes, spill, GC, task
times) come from the Spark driver's status store through the local UI REST
endpoint and are summed per job group.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.request
import uuid

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from widiff_spark import (checkpoint, enrich, features, fixtures,
                          materialize, parse, pipeline)

LAYERS = ("checkpoint", "pipeline", "parse", "diff", "salted", "enrich",
          "features", "materialize")


class Tracer:
    """Spans of one run: name, layer, start, end, parent, run id."""

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        sid = len(self.spans)
        rec = {"run_id": self.run_id, "span_id": sid, "name": name,
               "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"{self.run_id}:{layer}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self.spans[self._stack[-1]] if self._stack else None
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}:{parent['layer']}",
                                    parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def self_seconds(self) -> dict[str, float]:
        """Per layer: summed span time minus the time child spans cover."""
        out = {layer: 0.0 for layer in LAYERS}
        out["run"] = 0.0
        for s in self.spans:
            child = sum(c["end"] - c["start"] for c in self.spans
                        if c["parent"] == s["span_id"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + \
                (s["end"] - s["start"]) - child
        return out


def _force(df, tracker: list):
    """Persist and count ``df`` so the current span owns its computation."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    tracker.append(df)
    return df, df.count()


def traced_call(spark, docs, output_path: str, tables: list[str],
                tracer: Tracer) -> dict:
    """``run_incremental`` (with ``run_pipeline`` inlined) under spans,
    writing ``tables`` (enriched tables and feature tables).
    The per-entity diff timing sums and the feature pair counts are read
    after the last span, outside every job group.
    Returns the row counts observed at the layer boundaries."""
    config = pipeline.DEFAULT_CONFIG
    held: list = []
    counts: dict = {}
    with tracer.span("run_incremental", "run"):
        with tracer.span("checkpoint.pending_buckets", "checkpoint"):
            todo = checkpoint.pending_buckets(docs, spark, output_path)
        counts["buckets_redone"] = len(todo)
        with tracer.span("checkpoint.filter_to_buckets", "checkpoint"):
            subset = checkpoint.filter_to_buckets(docs, todo)

        with tracer.span("pipeline.choose_mode", "pipeline"):
            mode, hot = pipeline.choose_mode(subset)
        counts["mode"], counts["max_page_revisions"] = mode, hot
        property_labels = fixtures.property_labels_df(spark)
        astronomical = fixtures.cohort_types_df(spark, "astronomical")
        scholarly = fixtures.cohort_types_df(spark, "scholarly")

        with tracer.span("parse.parse_documents", "parse"):
            parsed = parse.parse_documents(subset).persist(
                StorageLevel.MEMORY_AND_DISK)
            held.append(parsed)
            row = parsed.agg(
                F.count("*").alias("n"),
                F.sum(F.col("parse_ok").cast("int")).alias("ok"),
                F.sum(((~F.col("parse_ok")) & (~F.col("is_deleted")))
                      .cast("int")).alias("bad")).collect()[0]
        counts["parse_rows_in"] = row["n"]
        counts["parse_rows_ok"] = row["ok"] or 0
        counts["parse_rows_quarantined"] = row["bad"] or 0
        counts["parse_output_mb"] = cached_mb(spark.sparkContext)

        diff_layer = "salted" if mode == "salted" else "diff"
        with tracer.span(f"{diff_layer}.extract_changes", diff_layer):
            if mode == "salted":
                from widiff_spark import salted
                unified = salted.extract_changes_salted(parsed, config)
            else:
                from widiff_spark import diff
                unified = diff.extract_changes(parsed, config)
            unified, counts["diff_rows_out"] = _force(unified, held)

        out: dict = {}
        with tracer.span("enrich.tables", "enrich"):
            entity_stats = enrich.explode_entity_stats(unified)
            cohorts = enrich.compute_cohorts(entity_stats, astronomical,
                                             scholarly, config)
            out["entity_stats"] = (
                entity_stats.join(cohorts.select(
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
            for name in pipeline.CHANGE_TABLES:
                t = enrich.split_table(unified, name)
                t = enrich.add_time_buckets(t)
                if name in label_joins:
                    t = enrich.add_property_labels(t, property_labels,
                                                   label_joins[name])
                out[name] = t
            n = 0
            for name in tables:
                if name in out:
                    out[name], c = _force(out[name], held)
                    n += c
        counts["enrich_rows_out"] = n

        # tables that are not written stay lazy plans: run_incremental
        # never evaluates them, so neither does the traced call
        with tracer.span("parse.quarantine", "parse"):
            out["quarantine"] = parse.quarantine(parsed)
        if config.extract_features:
            with tracer.span("features.feature_tables", "features"):
                feats = features.feature_tables(out["value_change"])
                for name in feats:
                    if name in tables:
                        feats[name], _ = _force(feats[name], held)
            out.update(feats)

        with tracer.span("materialize.write_table", "materialize"):
            for name in tables:
                with tracer.span(f"materialize.{name}", "materialize"):
                    materialize.write_table(out[name], output_path, name)

        with tracer.span("checkpoint.record", "checkpoint"):
            lineage = checkpoint.lineage_from_unified(unified)
            checkpoint.record(spark, output_path, docs, lineage, "traced",
                              buckets=todo)

    # measurements outside every span and job group
    row = out["entity_stats"].agg(
        F.sum("total_revision_diff_time_sec").alias("d"),
        F.sum("total_process_time_sec").alias("p")).collect()[0]
    counts["interior_diff_s"] = float(row["d"] or 0.0)
    counts["interior_process_s"] = float(row["p"] or 0.0)
    counts.update(feature_pairs(out["value_change"]))
    for df in held:
        df.unpersist()
    return counts


def feature_pairs(value_change) -> dict:
    """UPDATE rows the feature batteries score (``features._update_rows``
    routed to the text, time, quantity and globecoordinate families) and
    the distinct (family, old, new) pairs the batteries actually run on."""
    family = F.when(F.col("new_datatype").isin(features.WD_STRING_TYPES),
                    "text").otherwise(F.col("new_datatype"))
    rows = features._update_rows(value_change).select(
        family.alias("family"), "old_value", "new_value") \
        .filter(F.col("family").isin("text", "time", "quantity",
                                     "globecoordinate"))
    return {"feature_update_rows": rows.count(),
            "feature_distinct_pairs": rows.distinct().count()}


# --------------------------------------------------------------------------- #
# status-store metrics over the UI REST endpoint
# --------------------------------------------------------------------------- #

def _get(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


# the stage metrics of a job group that ran no job
EMPTY_GROUP = {"jobs": 0, "stages": 0, "run_s": 0.0, "cpu_s": 0.0,
               "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "input_records": 0, "task_s": ()}


def group_metrics(sc, prefix: str) -> dict[str, dict]:
    """Stage metrics summed per job group whose name starts with ``prefix``
    (the part after the prefix names the group in the result)."""
    for _ in range(40):   # the listener bus updates the store asynchronously
        jobs = [j for j in _get(sc, "jobs")
                if (j.get("jobGroup") or "").startswith(prefix)]
        if all(j["status"] != "RUNNING" for j in jobs):
            break
        time.sleep(0.25)
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(sc, "stages")}
    out: dict[str, dict] = {}
    for j in jobs:
        g = out.setdefault(j["jobGroup"][len(prefix):],
                           {**EMPTY_GROUP, "task_s": []})
        g["jobs"] += 1
        for (sid, att), s in stages.items():
            if sid not in j["stageIds"] or s["status"] != "COMPLETE":
                continue
            g["stages"] += 1
            g["run_s"] += s["executorRunTime"] / 1e3
            g["cpu_s"] += s["executorCpuTime"] / 1e9
            g["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            g["shuffle_write_mb"] += s["shuffleWriteBytes"] / 2**20
            g["spill_mb"] += (s["memoryBytesSpilled"]
                              + s["diskBytesSpilled"]) / 2**20
            g["input_records"] += s["inputRecords"]
            tasks = _get(sc, f"stages/{sid}/{att}/taskList?length=100000")
            g["task_s"] += [t["taskMetrics"]["executorRunTime"] / 1e3
                            for t in tasks if "taskMetrics" in t]
    return out


def task_quantiles(task_s: list[float]) -> tuple[float, float]:
    if not task_s:
        return 0.0, 0.0
    return statistics.median(task_s), max(task_s)


def cached_mb(sc) -> float:
    """Storage (memory + disk) still held by cached RDDs."""
    return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0)
               for r in _get(sc, "storage/rdd")) / 2**20


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1e3
