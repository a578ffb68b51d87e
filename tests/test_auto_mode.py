"""mode='auto' skew selection (VERDICT r3 ask #4): a cheap
max-revisions-per-page probe picks the diff execution mode, so at 10^12
scale nobody has to know to flip the salted switch by hand."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from widiff_spark import fixtures
from widiff_spark.pipeline import (choose_mode, probe_max_page_revisions,
                                   run_pipeline)


def _vc_rows(res):
    out = (res.tables["value_change"]
           .select("revision_id", "property_id", "value_id", "change_target",
                   "action", "old_value", "new_value", "is_reverted")
           .collect())
    res.unpersist()
    return sorted(map(tuple, out))


class TestProbe:
    def test_probe_counts_raw_page_revisions(self, spark):
        docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                         hot_revisions=123)
        hot = probe_max_page_revisions(docs)
        manual = (docs.groupBy("repo", "path").count()
                  .agg(F.max("count")).collect()[0][0])
        assert hot == manual >= 123

    def test_choose_mode_threshold(self, spark):
        docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                         hot_revisions=200)
        mode, hot = choose_mode(docs, threshold=100)
        assert mode == "salted" and hot >= 200
        mode2, _ = choose_mode(docs, threshold=10_000)
        assert mode2 == "grouped"


class TestAutoPipeline:
    def test_balanced_corpus_stays_grouped(self, spark):
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)
        res = run_pipeline(spark, docs, persist=False)  # default mode='auto'
        assert res.mode == "grouped"
        assert 0 < res.max_page_revisions <= 50
        res.unpersist()

    def test_hot_corpus_flips_to_salted_and_matches(self, spark, monkeypatch):
        """Under a lowered threshold the hot corpus runs salted — and the
        output is row-identical to the grouped run (the parity contract
        the auto switch relies on)."""
        docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                         hot_revisions=60)
        grouped = _vc_rows(run_pipeline(spark, docs, mode="grouped"))

        monkeypatch.setenv("WIDIFF_SKEW_THRESHOLD", "50")
        res = run_pipeline(spark, docs)  # auto
        assert res.mode == "salted"
        assert res.max_page_revisions >= 60
        assert _vc_rows(res) == grouped

    def test_explicit_mode_skips_probe(self, spark):
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)
        res = run_pipeline(spark, docs, mode="grouped", persist=False)
        assert res.mode == "grouped" and res.max_page_revisions == 0
        res.unpersist()


class TestIncrementalMode:
    @pytest.mark.parametrize("threshold,mode", [(50, "salted"),
                                                (1000, "grouped")])
    def test_one_input_pass_per_call(self, spark, tmp_path, monkeypatch,
                                     threshold, mode):
        """run_incremental(mode='auto') picks the mode from the checkpoint's
        input statistics: no probe job, one input aggregation per call, and
        no plan for a table it does not write."""
        from widiff_spark import checkpoint, features, pipeline

        def forbidden(*args, **kwargs):
            raise AssertionError("called by a value_change-only call")

        calls = []
        real = checkpoint.input_watermarks

        def counted(*args, **kwargs):
            calls.append(1)
            return real(*args, **kwargs)

        monkeypatch.setenv("WIDIFF_SKEW_THRESHOLD", str(threshold))
        monkeypatch.setattr(pipeline, "probe_max_page_revisions", forbidden)
        monkeypatch.setattr(features, "feature_tables", forbidden)
        monkeypatch.setattr(checkpoint, "input_watermarks", counted)
        docs = fixtures.edge_case_corpus(spark, include_hot_page=True,
                                         hot_revisions=60)
        r = pipeline.run_incremental(spark, docs, str(tmp_path / "out"),
                                     tables=["value_change"], mode="auto")
        assert r["processed_buckets"] and r["mode"] == mode
        assert len(calls) == 1
