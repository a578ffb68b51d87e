"""XML dump ingestion (S1) + Structured Streaming surface (T1-T5) tests."""

from __future__ import annotations

import bz2
import json

import pytest

from widiff_spark import sources, streaming
from widiff_spark.pipeline import run_pipeline

XML_TEMPLATE = """<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.11/">
  <page>
    <title>Q7000</title>
    <ns>0</ns>
    <revision>
      <id>1</id>
      <timestamp>2024-01-01T00:00:00Z</timestamp>
      <contributor><username>Alice</username><id>7</id></contributor>
      <comment>create</comment>
      <text>{rev1}</text>
    </revision>
    <revision>
      <id>2</id>
      <parentid>1</parentid>
      <timestamp>2024-01-02T00:00:00Z</timestamp>
      <contributor><username>Bob</username><id>8</id></contributor>
      <comment>update label</comment>
      <text>{rev2}</text>
    </revision>
    <revision>
      <id>3</id>
      <parentid>2</parentid>
      <timestamp>2024-01-03T00:00:00Z</timestamp>
      <text bytes="11" sha1="x" deleted="deleted"/>
    </revision>
    <revision>
      <id>4</id>
      <parentid>3</parentid>
      <timestamp>2024-01-04T00:00:00Z</timestamp>
      <contributor><username>Eve</username><id>9</id></contributor>
      <text>{{broken json</text>
    </revision>
  </page>
  <page>
    <title>Property:P1</title>
    <revision><id>9</id>
      <timestamp>2024-01-01T00:00:00Z</timestamp>
      <text>ignored</text>
    </revision>
  </page>
</mediawiki>
"""


def _snapshot(label, qid="Q5"):
    body = json.dumps({
        "labels": {"en": {"language": "en", "value": label}},
        "descriptions": {}, "aliases": {},
        "claims": {"P31": [{"id": "q7000$S1", "type": "statement",
                            "rank": "normal",
                            "mainsnak": {"snaktype": "value", "property": "P31",
                                         "datavalue": {"value": {
                                             "entity-type": "item", "id": qid,
                                             "numeric-id": int(qid[1:])},
                                             "type": "wikibase-entityid"}}}]},
        "sitelinks": {}})
    return body.replace("&", "&amp;").replace("<", "&lt;").replace('"', "&quot;")


def _dump_xml() -> str:
    return XML_TEMPLATE.format(rev1=_snapshot("first label"),
                               rev2=_snapshot("second label"))


class TestXmlSource:
    def test_roundtrip_plain_and_bz2(self, spark, tmp_path):
        (tmp_path / "dump1.xml").write_text(_dump_xml())
        (tmp_path / "dump2.xml.bz2").write_bytes(
            bz2.compress(_dump_xml().encode()))
        docs = sources.read_mediawiki_dump(spark, str(tmp_path / "dump*"))
        pdf = docs.toPandas()
        # 2 files x (3 Q-page revisions kept + 1 deleted); P-page dropped
        assert len(pdf) == 8
        assert set(pdf.path) == {"Q7000"}
        assert (pdf.lang == "deleted").sum() == 2

        res = run_pipeline(spark, docs)
        vc = res.tables["value_change"].toPandas()
        rev = res.tables["revision"].toPandas()
        q = res.tables["quarantine"].toPandas()
        res.unpersist()
        for repo in ("dump1.xml", "dump2.xml.bz2"):
            sub = vc[vc.repo == repo]
            assert ("CREATE" == sub.action).sum() == 2   # P31 + label
            assert ("UPDATE" == sub.action).sum() == 1   # label update
            # deleted revision (id 3) invisible; broken rev 4 quarantined
            assert list(rev[rev.repo == repo]
                        .sort_values("revision_id").revision_id) == [1, 2]
        assert len(q) == 2 and set(q.error) == {"json_decode_error"}

    def test_escaped_text_decoded(self, spark, tmp_path):
        (tmp_path / "d.xml").write_text(_dump_xml())
        docs = sources.read_mediawiki_dump(spark, str(tmp_path / "d.xml"))
        row = docs.filter("commit = 'r0000000001'").collect()[0]
        payload = json.loads(row["content"])
        assert payload["labels"]["en"]["value"] == "first label"
        assert payload["meta"]["username"] == "Alice"


class TestStreaming:
    def test_foreachbatch_incremental(self, spark, tmp_path):
        from widiff_spark import fixtures
        in_dir = str(tmp_path / "incoming")
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)
        docs.write.mode("overwrite").parquet(in_dir)

        stream = streaming.stream_documents(spark, in_dir,
                                            max_files_per_trigger=4)
        assert stream.isStreaming
        q = streaming.run_streaming_pipeline(
            stream, staging_dir=str(tmp_path / "staging"),
            output_dir=str(tmp_path / "out"),
            checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        q.stop()

        vc = spark.read.parquet(str(tmp_path / "out/value_change"))
        batch = run_pipeline(spark, docs)
        expected = batch.tables["value_change"].count()
        batch.unpersist()
        assert vc.count() == expected

    def test_trigger_runs_salted_diff_on_hot_page(self, spark, tmp_path,
                                                  monkeypatch):
        """A trigger picks the diff mode from its checkpoint statistics:
        with the skew threshold below the hot page, it runs the salted
        diff."""
        from widiff_spark import fixtures, salted
        calls = []
        extract = salted.extract_changes_salted

        def counted(*args, **kwargs):
            calls.append(1)
            return extract(*args, **kwargs)

        monkeypatch.setattr(salted, "extract_changes_salted", counted)
        monkeypatch.setenv("WIDIFF_SKEW_THRESHOLD", "50")
        in_dir = str(tmp_path / "incoming_hot")
        fixtures.edge_case_corpus(spark, include_hot_page=True,
                                  hot_revisions=60) \
            .write.mode("overwrite").parquet(in_dir)
        q = streaming.run_streaming_pipeline(
            streaming.stream_documents(spark, in_dir),
            staging_dir=str(tmp_path / "staging_hot"),
            output_dir=str(tmp_path / "out_hot"),
            checkpoint_dir=str(tmp_path / "ckpt_hot"))
        q.awaitTermination(120)
        q.stop()
        assert calls

    def test_flat_legacy_staging_fails_with_restage_message(self, spark,
                                                            tmp_path):
        """ADVICE r5: appending partitionBy('bucket') files into a staging
        dir written by the pre-r5 flat layout would make the staging read
        fail mid-stream with a confusing Spark error — the sink must
        detect the legacy layout up front and name the restage step."""
        from widiff_spark import fixtures
        in_dir = str(tmp_path / "incoming_flat")
        staging = str(tmp_path / "staging_flat")
        docs = fixtures.edge_case_corpus(spark, include_hot_page=False)
        docs.write.mode("overwrite").parquet(in_dir)
        # fake a legacy FLAT staging dir (top-level parquet, no bucket=)
        docs.limit(5).coalesce(1).write.mode("overwrite").parquet(staging)

        stream = streaming.stream_documents(spark, in_dir)
        q = streaming.run_streaming_pipeline(
            stream, staging_dir=staging,
            output_dir=str(tmp_path / "out_flat"),
            checkpoint_dir=str(tmp_path / "ckpt_flat"))
        with pytest.raises(Exception, match="FLAT.*Restage"):
            try:
                q.awaitTermination(120)
            finally:
                q.stop()

    def test_watermarked_rates(self, spark, tmp_path):
        from widiff_spark import fixtures
        in_dir = str(tmp_path / "incoming2")
        fixtures.edge_case_corpus(spark, include_hot_page=False) \
            .write.mode("overwrite").parquet(in_dir)
        stream = streaming.stream_documents(spark, in_dir)
        rates = streaming.revision_rates(stream, window="1 day")
        q = (rates.writeStream.format("memory").queryName("rates_tbl")
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "ckpt2"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        out = spark.sql("select * from rates_tbl").toPandas()
        assert len(out) > 0
        assert (out.n_revisions > 0).all()


class TestStreamChunkStaging:
    def test_one_sorted_file_per_chunk_with_monotone_mtimes(self, spark,
                                                           tmp_path):
        """The single-job staging rewrite must preserve the old per-chunk
        contract: exactly one file per chunk value, rows inside each file
        sorted by (timestamp, revision_id) — V1Writes strips a local sort
        that does not lead with the partition column, so this pins the
        part_key-first ordering — and strictly increasing mtimes in chunk
        order, with the chunk column still present in the file data."""
        import os

        import pandas as pd
        from pyspark.sql import functions as F

        rows = [("Q%d" % i, "r0", i,
                 "2024-0%d-%02dT0%d:00:00Z" % (1 + i % 3, 1 + i % 27, i % 9),
                 "2024-0%d" % (1 + i % 3))
                for i in range(300)]
        rev = spark.createDataFrame(
            rows, "path string, repo string, revision_id long, "
                  "timestamp string, chunk string")
        out = str(tmp_path / "staged")
        n = streaming.write_revision_stream_chunks(rev, out,
                                                   chunk_col="chunk")
        assert n == 3
        parts = sorted(os.path.join(out, f) for f in os.listdir(out)
                       if f.startswith("part-"))
        assert len(parts) == 3  # one file per chunk value
        mtimes = [os.path.getmtime(p) for p in parts]
        assert all(b > a for a, b in zip(mtimes, mtimes[1:]))
        seen_chunks = []
        for p in parts:
            pdf = pd.read_parquet(p)
            assert set(pdf["chunk"].unique()) == {pdf["chunk"].iloc[0]}
            seen_chunks.append(pdf["chunk"].iloc[0])
            key = list(zip(pdf["timestamp"], pdf["revision_id"]))
            assert key == sorted(key)  # in-file event-time order
        assert seen_chunks == sorted(seen_chunks)  # mtime order == chunk order


class TestDocumentQualityStream:
    def test_stream_equals_batch_rollup(self, spark, tmp_path):
        """availableNow stream over a chunked documents dir must produce
        exactly the batch groupBy of the same derivation — the monitor
        adds streaming mechanics, not new semantics."""
        from pyspark.sql import functions as F

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        in_dir = str(tmp_path / "docs_in")
        docs.repartition(4).write.mode("overwrite").parquet(in_dir)

        ts = F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id") * 60)
        stream = streaming.stream_training_documents(
            spark, in_dir, max_files_per_trigger=1).withColumn("ts", ts)
        q = (streaming.document_quality_rates(stream)
             .writeStream.format("memory").queryName("dq_tbl")
             .outputMode("complete")
             .option("checkpointLocation", str(tmp_path / "dq_ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        got = sorted(map(tuple, spark.sql(
            "select window_start, source, n_docs, avg_tokens, n_short "
            "from dq_tbl").collect()))

        toks = F.split(F.trim("text"), r"\s+")
        want = sorted(map(tuple, (
            docs.withColumn("ts", ts)
            .groupBy(F.window("ts", "1 hour"), "source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg(F.size(toks)), 4).alias("avg_tokens"),
                 F.sum(F.when(F.size(toks) < 15, 1).otherwise(0))
                 .cast("int").alias("n_short"))
            .select(F.col("window.start").alias("window_start"), "source",
                    "n_docs", "avg_tokens", "n_short")).collect()))
        assert got == want and len(got) > 0

    def test_watermark_bounds_state(self, spark, tmp_path):
        """The plan must carry the event-time watermark — without it the
        windowed state grows forever on a real stream."""
        from pyspark.sql import functions as F

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        in_dir = str(tmp_path / "docs_wm")
        docs.limit(10).write.mode("overwrite").parquet(in_dir)
        stream = streaming.stream_training_documents(spark, in_dir) \
            .withColumn("ts", F.timestamp_seconds(
                F.lit(1704067200) + F.col("doc_id") * 60))
        plan = streaming.document_quality_rates(
            stream, watermark="2 hours")._jdf.queryExecution() \
            .analyzed().toString()
        assert "EventTimeWatermark" in plan
        assert "2 hours" in plan
