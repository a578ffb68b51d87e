"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship KG change-extraction pipeline on a
versioned-document corpus derived deterministically from sf0.001 and returns
the (subj, pred, obj, action) change-triple DataFrame.

``queries()`` exposes every implemented operator family from SURVEY.md §2:
the KG pipeline outputs (kg_*: all five change tables, entity stats, the
five feature tables, quarantine, and the analysis rollups), the relational
operator suite (rel_*), and the training-data operators (text_*, dedup_*,
ann_*, mm_*).  EVERY query has an ``oracle_sql()`` entry: the rel_/text_/
dedup_/ann_/mm_ oracles are self-contained DuckDB SQL over the driver's
parquet views; the kg_* oracles are golden parquet materialized from the
pure-pandas reference pipeline (widiff_spark/golden.py, regenerated by
scripts/make_golden.py, staleness-gated by tests/test_golden.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from widiff_spark import dedup, fixtures, relops, sampling, similarity, \
    textops
from widiff_spark.pipeline import run_pipeline, triples

# one pipeline run per sf_dir, shared across kg_* queries (persisted)
_PIPELINE_CACHE: dict[str, object] = {}

# every mkdtemp this module creates, removed at interpreter exit so repeated
# driver sessions don't accumulate /tmp dirs (the per-sf caches are bounded
# but long driver fleets leaked one dir set per session)
_TMP_DIRS: list[str] = []


def _tracked_mkdtemp(prefix: str) -> str:
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    _TMP_DIRS.append(d)
    return d


def _cleanup_tmp_dirs() -> None:
    import shutil

    while _TMP_DIRS:
        shutil.rmtree(_TMP_DIRS.pop(), ignore_errors=True)


import atexit  # noqa: E402

atexit.register(_cleanup_tmp_dirs)


_SHIPPED_SESSIONS: set[int] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make ``widiff_spark`` importable on Python workers regardless of the
    driver's cwd/sys.path — the session-level analog of
    ``spark-submit --py-files`` (north_rule deployment contract).  Without
    this, UDF closures unpickle only when workers happen to inherit a cwd
    containing the package."""
    if id(spark) in _SHIPPED_SESSIONS:
        return
    import os
    import zipfile

    import hashlib

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    members = []
    digest = hashlib.sha256()
    # ship BOTH packages: widiff_spark.golden imports the cleanroom oracle
    # kernel, so an executor-side (or zip-consumer) import of golden would
    # otherwise raise ModuleNotFoundError for cleanroom
    for pkg in ("widiff_spark", "cleanroom"):
        src = os.path.join(pkg_dir, pkg)
        for root, _dirs, files in os.walk(src):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    members.append(full)
                    digest.update(os.path.relpath(full, pkg_dir).encode())
                    with open(full, "rb") as fh:
                        digest.update(fh.read())
    # key the zip by a content hash of the sources, not the PID: PID reuse
    # across driver restarts must never ship stale package code to executors
    zip_path = os.path.join(
        "/tmp", f"widiff_spark_pyfiles_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp_path = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp_path, "w") as zf:
            for full in members:
                zf.write(full, os.path.relpath(full, pkg_dir))
        os.replace(tmp_path, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Connect sessions without an SC; cwd-based import applies
    _SHIPPED_SESSIONS.add(id(spark))


def _ensure_conf(spark: SparkSession) -> SparkSession:
    """The driver owns the session; set the runtime-settable conf the engine
    semantics depend on (UTC week/year buckets, Arrow batches, AQE)."""
    for k, v in (("spark.sql.session.timeZone", "UTC"),
                 ("spark.sql.execution.arrow.pyspark.enabled", "true"),
                 ("spark.sql.adaptive.enabled", "true")):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    _ship_package(spark)
    return spark


def _pipeline(spark: SparkSession, sf_dir: str):
    _ensure_conf(spark)
    if sf_dir not in _PIPELINE_CACHE:
        docs = fixtures.corpus_from_documents(spark, sf_dir)
        _PIPELINE_CACHE[sf_dir] = run_pipeline(spark, docs)
    return _PIPELINE_CACHE[sf_dir]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG change triples extracted from the sf0.001-derived
    versioned-document corpus."""
    res = _pipeline(spark, "/root/testdata/sf0.001")
    return triples(res.tables["value_change"])


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_conf(spark)
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _emb_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return e.filter(F.col("vec_id") < 5) \
        .select(F.col("vec_id").alias("query_id"), "embedding")


# ---------------------------------------------------------------------------
# KG pipeline queries — every one value-checked against the golden parquet
# oracles (widiff_spark/golden.py); four of them re-derive the same goldens
# through alternate engine paths (salted mode, XML dump source, incremental
# sink, streaming ingest) so each path is driver-checked end-to-end
# ---------------------------------------------------------------------------

def kg_triples(spark, sf_dir):
    return triples(_pipeline(spark, sf_dir).tables["value_change"]) \
        .orderBy("subj", "pred", "revision_id", "action")


def kg_triples_salted(spark, sf_dir):
    """The same change triples through the hot-page-immune pair-parallel
    execution mode (widiff_spark/salted.py) — oracled against the SAME
    golden parquet as kg_triples, so mode equivalence is driver-checked."""
    _ensure_conf(spark)
    from widiff_spark import enrich, parse, salted
    docs = fixtures.corpus_from_documents(spark, sf_dir)
    unified = salted.extract_changes_salted(parse.parse_documents(docs))
    vc = enrich.split_table(unified, "value_change")
    return triples(vc).orderBy("subj", "pred", "revision_id", "action")


_XML_CACHE: dict[str, str] = {}


def kg_xml_scan(spark, sf_dir):
    """S1 end-to-end: the corpus rendered as MediaWiki pages-meta-history
    XML (.xml.bz2, one file per repo shard), streamed back through the
    bz2+iterparse source, then the full extraction — must reproduce the
    SAME golden triples as kg_triples, so the dump reader is driver-checked
    value-for-value."""
    _ensure_conf(spark)
    from widiff_spark import diff, enrich, parse, sources
    if sf_dir not in _XML_CACHE:
        d = _tracked_mkdtemp("widiff_xml_")
        sources.write_corpus_as_dumps_distributed(
            fixtures.corpus_from_documents(spark, sf_dir), d)
        _XML_CACHE[sf_dir] = d
    docs = sources.read_mediawiki_dump(spark, f"{_XML_CACHE[sf_dir]}/*.xml.bz2")
    unified = diff.extract_changes(parse.parse_documents(docs))
    vc = enrich.split_table(unified, "value_change")
    return triples(vc).orderBy("subj", "pred", "revision_id", "action")


_INCR_CACHE: dict[str, str] = {}
_VC_COLS = ["revision_id", "property_id", "value_id", "change_target",
            "action", "old_value", "new_value", "is_reverted", "reversion",
            "entity_id", "week", "year_month", "year", "property_label",
            "label"]


def kg_incremental(spark, sf_dir):
    """S5/T4 end-to-end: the checkpointed incremental pipeline
    (pipeline.run_incremental — bucket high-water marks, entity-bucket
    partitioned writes, dynamic partition overwrite) run TWICE (the second run must be
    a no-op), then the materialized value_change table read back from disk.
    Oracled against the same golden parquet as kg_value_change, so the
    resume/sink path is driver-checked value-for-value."""
    _ensure_conf(spark)
    from widiff_spark.pipeline import run_incremental
    if sf_dir not in _INCR_CACHE:
        out = _tracked_mkdtemp("widiff_incr_")
        docs = fixtures.corpus_from_documents(spark, sf_dir) \
            .persist()  # identical input for both runs
        run_incremental(spark, docs, out, run_id="incr-1")
        second = run_incremental(spark, docs, out, run_id="incr-2")
        assert second["processed_buckets"] == [], \
            "re-run on unchanged input must be a no-op"
        docs.unpersist()
        _INCR_CACHE[sf_dir] = out
    t = spark.read.parquet(f"{_INCR_CACHE[sf_dir]}/value_change")
    return t.select(*_VC_COLS).orderBy("revision_id", "property_id",
                                       "value_id", "change_target")


_STREAM_INGEST_CACHE: dict[str, str] = {}


def kg_streaming_ingest(spark, sf_dir):
    """T2/T4 end-to-end through Structured Streaming: the corpus lands as a
    growing file directory, a foreachBatch stream (maxFilesPerTrigger
    backpressure, availableNow) routes each micro-batch through the
    checkpointed incremental pipeline, and the final materialized
    value_change table must equal the batch pipeline's — oracled against
    the same golden parquet as kg_value_change."""
    _ensure_conf(spark)
    from widiff_spark import streaming

    if sf_dir not in _STREAM_INGEST_CACHE:
        base = _tracked_mkdtemp("widiff_singest_")
        src, out = f"{base}/src", f"{base}/out"
        fixtures.corpus_from_documents(spark, sf_dir) \
            .repartition(8).write.mode("overwrite").parquet(src)
        q = streaming.run_streaming_pipeline(
            streaming.stream_documents(spark, src, max_files_per_trigger=4),
            staging_dir=f"{base}/staging", output_dir=out,
            checkpoint_dir=f"{base}/ckpt")
        q.awaitTermination()
        _STREAM_INGEST_CACHE[sf_dir] = out
    t = spark.read.parquet(f"{_STREAM_INGEST_CACHE[sf_dir]}/value_change")
    return t.select(*_VC_COLS).orderBy("revision_id", "property_id",
                                       "value_id", "change_target")


def kg_value_change(spark, sf_dir):
    t = _pipeline(spark, sf_dir).tables["value_change"]
    return t.select("revision_id", "property_id", "value_id", "change_target",
                    "action", "old_value", "new_value", "is_reverted",
                    "reversion", "entity_id", "week", "year_month", "year",
                    "property_label", "label") \
            .orderBy("revision_id", "property_id", "value_id", "change_target")


def kg_revision(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["revision"] \
        .orderBy("revision_id")


def kg_entity_stats(spark, sf_dir):
    t = _pipeline(spark, sf_dir).tables["entity_stats"]
    return t.select("repo", "entity_id", "entity_label", "num_revisions",
                    "num_value_changes", "num_value_change_creates",
                    "num_value_change_deletes", "num_value_change_updates",
                    "num_rank_changes", "num_reverted_edits", "num_reversions",
                    "num_bot_edits", "num_human_edits", "cohort") \
            .orderBy("repo", "entity_id")


def kg_features_text(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["features_text"] \
        .orderBy("revision_id", "property_id", "value_id")


def kg_features_time(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["features_time"] \
        .orderBy("revision_id", "property_id", "value_id")


def kg_features_quantity(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["features_quantity"] \
        .orderBy("revision_id", "property_id", "value_id")


def kg_features_globecoordinate(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["features_globecoordinate"] \
        .orderBy("revision_id", "property_id", "value_id")


def kg_features_entity(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["features_entity"] \
        .orderBy("revision_id", "property_id", "value_id")


def kg_qualifier_change(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["qualifier_change"] \
        .orderBy("revision_id", "property_id", "value_id", "qual_property_id",
                 "value_hash")


def kg_reference_change(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["reference_change"] \
        .orderBy("revision_id", "property_id", "value_id", "ref_property_id",
                 "value_hash", "ref_hash")


def kg_datatype_metadata_change(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["datatype_metadata_change"] \
        .orderBy("revision_id", "property_id", "value_id", "change_target")


def kg_property_stats(spark, sf_dir):
    from widiff_spark import analysis
    return analysis.property_stats(
        _pipeline(spark, sf_dir).tables["value_change"]) \
        .orderBy("property_id")


def kg_cohort_rollup(spark, sf_dir):
    from widiff_spark import analysis
    return analysis.cohort_rollup(
        _pipeline(spark, sf_dir).tables["entity_stats"])


def kg_entity_type_stats(spark, sf_dir):
    from widiff_spark import analysis
    return analysis.entity_type_stats(
        _pipeline(spark, sf_dir).tables["entity_stats"]) \
        .orderBy("p31_type")


def kg_quarantine(spark, sf_dir):
    return _pipeline(spark, sf_dir).tables["quarantine"] \
        .orderBy("repo", "path", "commit")


def kg_entity_labels(spark, sf_dir):
    """Entity label/alias/description dim extractor
    (wdtk/ExtractLabelsProperties.java:111-146): last-non-empty fields per
    page, JVM-side from the parsed snapshot column.  Oracled against the
    cleanroom replayer's label state (golden parquet)."""
    from widiff_spark import extractors, parse

    _ensure_conf(spark)
    parsed = parse.parse_documents(
        fixtures.corpus_from_documents(spark, sf_dir))
    return extractors.entity_labels(parsed).orderBy("repo", "qid")


def kg_edit_sessions(spark, sf_dir):
    """Batch edit-session analytics (streaming.edit_sessions): per-page
    gap-based sessionization as pure JVM window algebra.  Oracle: DuckDB
    re-derives the identical windows over the golden revision parquet."""
    from widiff_spark import streaming

    return streaming.edit_sessions(
        _pipeline(spark, sf_dir).tables["revision"]) \
        .orderBy("repo", "entity_id", "session_ord")


def kg_edit_sessions_native(spark, sf_dir):
    """The same sessions through Spark's BUILT-IN ``F.session_window``
    (native JVM session merging — the idiomatic operator) — checked
    against the SAME oracle as kg_edit_sessions, so the manual lag-rule
    window and the built-in agree value-for-value."""
    from widiff_spark import streaming

    return streaming.edit_sessions_native(
        _pipeline(spark, sf_dir).tables["revision"]) \
        .orderBy("repo", "entity_id", "session_ord")


_SESSIONS_CACHE: dict[str, str] = {}


def kg_edit_sessions_stream(spark, sf_dir):
    """The custom STATEFUL streaming operator (applyInPandasWithState):
    closed editing sessions emitted from per-page state over a
    micro-batched revision stream (files consumed in global timestamp
    order).  Oracle: the batch sessionization minus each page's final
    (still-open) session — derived independently in DuckDB from the golden
    revision parquet."""
    _ensure_conf(spark)
    from widiff_spark import streaming

    if sf_dir not in _SESSIONS_CACHE:
        base = _tracked_mkdtemp("widiff_sessions_")
        rev = _pipeline(spark, sf_dir).tables["revision"]
        # sequential per-week appends: arrival order == event-time order
        # (a parallel write races part-file mtimes, which is the order the
        # file stream source consumes in)
        streaming.write_revision_stream_chunks(rev, f"{base}/rev")
        q = streaming.edit_sessions_stream(
            spark, f"{base}/rev", f"{base}/ckpt", f"{base}/out",
            max_files_per_trigger=2)
        q.awaitTermination()
        _SESSIONS_CACHE[sf_dir] = f"{base}/out"
    return spark.read.parquet(_SESSIONS_CACHE[sf_dir]) \
        .orderBy("repo", "entity_id", "session_ord")


def kg_entity_labels_fast(spark, sf_dir):
    """JVM-only label dim pass (extractors.entity_labels_fast): raw-JSON
    get_json_object projections + one hash aggregate, zero Python — must
    reproduce the SAME cleanroom golden as kg_entity_labels, so the
    no-decode fast path is driver-checked value-for-value against the
    decode path."""
    from widiff_spark import extractors

    _ensure_conf(spark)
    return extractors.entity_labels_fast(
        fixtures.corpus_from_documents(spark, sf_dir)).orderBy("repo", "qid")


def kg_property_labels(spark, sf_dir):
    """PropertyDocument half of the reference's label extractor
    (wdtk/ExtractLabelsProperties.java:87-110) — previously a pre-extracted
    CSV side input, now a first-class pass: deterministic property-page
    corpus (paths ``P<digits>``) -> namespace-filtered parse
    (parse_documents(namespace='property')) -> last-non-empty
    label/alias/description aggregate.  Oracle: DuckDB re-derives the
    analytically-known dim from the same inlined (pid, label) list —
    including that the empty-label middle revision must not clobber the
    label under last-non-empty semantics."""
    from widiff_spark import extractors, parse

    _ensure_conf(spark)
    parsed = parse.parse_documents(fixtures.property_pages_corpus(spark),
                                   namespace="property")
    return extractors.property_labels(parsed).orderBy("pid")


def kg_type_pairs(spark, sf_dir):
    """Live P31/P279 (entity, type) pair extractor
    (wdtk/ExtractInstanceOfSubclassOf.java:75-150) over the change stream's
    end-of-history statements.  Oracled by an independent DuckDB window
    derivation over the golden value_change parquet."""
    from widiff_spark import extractors

    return extractors.type_pairs(
        _pipeline(spark, sf_dir).tables["value_change"]) \
        .orderBy("property_id", "entity", "entity_type")


def kg_transitive_closure(spark, sf_dir):
    """Transitive-closure builder (reference wdtk/ExtractTransitiveClosure
    .java:97-228): direct edges = the pipeline's live entity-valued
    statements for P279/P361/P527/P131 plus a deterministic multi-hop P279
    hierarchy over the page QIDs; closed by distributed semi-naive
    iteration.  Oracle: an independent DuckDB recursive CTE over the golden
    value_change parquet + the same documents-derived hierarchy."""
    from widiff_spark import closure

    edges = closure.live_edges(
        _pipeline(spark, sf_dir).tables["value_change"]) \
        .unionByName(closure.hierarchy_edges(spark, sf_dir))
    return closure.transitive_closure(edges) \
        .orderBy("property_id", "src", "dst")


_STREAM_CACHE: dict[str, str] = {}


def kg_stream_rates(spark, sf_dir):
    """T1/T3 through a REAL Structured Streaming job: file-source stream of
    the corpus (maxFilesPerTrigger backpressure), watermarked 1-day windowed
    ingest counts per repo shard, availableNow trigger, memory sink
    (complete mode so windows inside the final watermark still emit).  The
    oracle recomputes the day windows from the same corpus in pandas."""
    import tempfile

    _ensure_conf(spark)
    from widiff_spark import streaming

    if sf_dir not in _STREAM_CACHE:
        d = tempfile.mkdtemp(prefix="widiff_stream_src_")
        fixtures.corpus_from_documents(spark, sf_dir) \
            .repartition(8).write.mode("overwrite").parquet(d)
        _STREAM_CACHE[sf_dir] = d
    src = _STREAM_CACHE[sf_dir]

    name = f"stream_rates_{abs(hash(sf_dir)) % 10**8}"
    q = (streaming.revision_rates(
            streaming.stream_documents(spark, src, max_files_per_trigger=2))
         .drop("approx_pages")  # HLL estimate: not an oracle-stable value
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    F.date_format("window_end", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_end"),
                    "repo", "n_revisions")
            .orderBy("window_start", "repo"))


def text_stream_quality(spark, sf_dir):
    """Corpus-intake quality monitor through a REAL Structured Streaming
    job (streaming.document_quality_rates): file-source documents stream
    (maxFilesPerTrigger backpressure), deterministic event time (doc_id
    minutes past 2024-01-01), watermarked hourly windows per source,
    availableNow trigger, memory sink in complete mode.  The oracle
    recomputes the hourly windows with plain timestamp arithmetic."""
    import tempfile

    _ensure_conf(spark)
    from widiff_spark import streaming

    key = f"docs:{sf_dir}"
    if key not in _STREAM_CACHE:
        d = tempfile.mkdtemp(prefix="widiff_docstream_src_")
        _docs(spark, sf_dir).repartition(8) \
            .write.mode("overwrite").parquet(d)
        _STREAM_CACHE[key] = d
    src = _STREAM_CACHE[key]

    name = f"stream_quality_{abs(hash(sf_dir)) % 10**8}"
    stream = (streaming.stream_training_documents(
                  spark, src, max_files_per_trigger=4)
              .withColumn("ts", F.timestamp_seconds(
                  F.lit(1704067200) + F.col("doc_id") * 60)))
    q = (streaming.document_quality_rates(stream)
         .writeStream.format("memory").queryName(name)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .select(F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_start"),
                    F.date_format("window_end", "yyyy-MM-dd HH:mm:ss")
                    .alias("window_end"),
                    "source", "n_docs", "avg_tokens", "n_short")
            .orderBy("window_start", "source"))


# ---------------------------------------------------------------------------
# training-data operators over documents/embeddings
# ---------------------------------------------------------------------------

def text_token_count(spark, sf_dir):
    return textops.token_count(_docs(spark, sf_dir)).orderBy("doc_id") \
        .withColumn("n_tokens", F.col("n_tokens").cast("int"))


def text_quality(spark, sf_dir):
    return textops.quality_score(_docs(spark, sf_dir)).orderBy("doc_id") \
        .withColumn("n_tokens", F.col("n_tokens").cast("int"))


def text_language_id(spark, sf_dir):
    return textops.language_id(_docs(spark, sf_dir)).orderBy("doc_id") \
        .withColumn("lang_hits", F.col("lang_hits").cast("long"))


def text_fingerprint(spark, sf_dir):
    return textops.fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


def text_vocab(spark, sf_dir):
    """Corpus vocabulary (textops.vocabulary): tf + exact df, top-200 by
    (tf DESC, token ASC) with rank — map-side-combined wordcount plus a
    two-phase distinct aggregate; ordered-limit, no global sort."""
    return textops.vocabulary(_docs(spark, sf_dir), top_k=200) \
        .orderBy("rank")


def text_unigram_logprob(spark, sf_dir):
    """CCNet/Gopher-style fluency score under the corpus's own unigram LM
    (textops.unigram_logprob): wordcount LM + broadcast 1-row normalizer
    + per-doc mean log10 prob.  Oracle re-derives the LM and the means."""
    return textops.unigram_logprob(_docs(spark, sf_dir)).orderBy("doc_id")


def text_bigram_logprob(spark, sf_dir):
    """Stupid-Backoff bigram LM fluency (textops.bigram_logprob, Brants
    2007): S(w|prev) = c(prev w)/c(prev), backoff 0.4 x c(w)/N; per-doc
    mean log10.  Oracle re-derives both count tables, the backoff
    routing, and the means from the same normalized token stream."""
    return textops.bigram_logprob(_docs(spark, sf_dir)).orderBy("doc_id")


def text_repetition(spark, sf_dir):
    """Gopher-style repetition battery (textops.repetition_signals):
    type-token ratio per-row, top/dup bigram fractions via wordcount-
    shaped bigram counts.  Oracle replays the identical normalization,
    bigram slide, and rollup."""
    return textops.repetition_signals(_docs(spark, sf_dir)) \
        .withColumn("n_tokens", F.col("n_tokens").cast("int")) \
        .orderBy("doc_id")


def text_pii_redact(spark, sf_dir):
    """PII scrub (textops.redact_pii) over the corpus with a
    deterministic PII suffix appended in-plan (the synthetic corpus
    carries no organic PII, so the query seeds one email / IP / phone
    per document — both engines apply the same concat, then the same
    ordered regex passes)."""
    docs = _docs(spark, sf_dir).withColumn("text", F.concat(
        F.col("text"), F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 192.168.0.1 tel 555-010-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
    return textops.redact_pii(docs) \
        .select("doc_id", "n_email", "n_ipv4", "n_phone", "text") \
        .orderBy("doc_id")


def kg_training_docs(spark, sf_dir):
    """The KG -> training-data bridge (curation.verbalize_entities):
    the engine-extracted entity label dim rendered as one verbalized
    sentence per entity in the documents schema (KELM/TekGen recipe) —
    the output feeds the curation suite directly.  Oracle applies the
    identical string assembly to the golden label dim."""
    from widiff_spark import curation, extractors, parse

    _ensure_conf(spark)
    parsed = parse.parse_documents(
        fixtures.corpus_from_documents(spark, sf_dir))
    return curation.verbalize_entities(extractors.entity_labels(parsed)) \
        .orderBy("doc_id")


def curate_corpus(spark, sf_dir):
    """End-to-end curation flagship (curation.curate_corpus): quality
    filter -> near-dup keep-list -> decontamination -> temperature
    resampling, every doc labeled with its fate.  Oracle re-derives all
    four gates (incl. the recursive-CTE component closure) and the
    survivor-side mixture arithmetic."""
    from widiff_spark import curation

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 23 == 0) \
        .selectExpr("doc_id as bench_id", "text")
    return curation.curate_corpus(docs, bench, target_rows=100) \
        .orderBy("doc_id")


def text_corpus_filter(spark, sf_dir):
    """Composed C4/Gopher-style keep/drop filter with first-failing-rule
    reasons (textops.corpus_filter over quality + lang-ID + repetition
    signals).  Oracle re-derives every signal and the rule cascade."""
    return textops.corpus_filter(_docs(spark, sf_dir)).orderBy("doc_id")


def text_dsir_scores(spark, sf_dir):
    """DSIR importance scores (textops.dsir_logratio): hashed-bigram
    log-likelihood ratio of each document under the lang='en' target
    distribution vs the whole corpus, add-1 smoothed.  Oracle re-derives
    both hashed LMs and the per-doc sums."""
    docs = _docs(spark, sf_dir)
    return textops.dsir_logratio(docs, docs.filter(F.col("lang") == "en"),
                                 n_buckets=1024).orderBy("doc_id")


def text_mix_weights(spark, sf_dir):
    """Temperature-flattened mixture weights per source
    (sampling.temperature_weights, alpha=0.5): the data-mixing table of
    corpus assembly — pure arithmetic over one count aggregate."""
    from widiff_spark import sampling

    return sampling.temperature_weights(_docs(spark, sf_dir),
                                        "source", alpha=0.5) \
        .orderBy("source")


def text_mix_weights_tokens(spark, sf_dir):
    """Token-weighted mixture weights (sampling.temperature_weights with
    size_col): the mixture unit is each source's token SUM, the unit
    real assemblies budget in.  Oracle re-derives the token counts and
    the alpha arithmetic over sums."""
    from widiff_spark import sampling

    toks = F.size(F.split(F.trim("text"), r"\s+"))
    docs = _docs(spark, sf_dir).withColumn("n_tok", toks.cast("long"))
    return sampling.temperature_weights(docs, "source", alpha=0.5,
                                        size_col="n_tok") \
        .withColumnRenamed("n_docs", "n_tokens").orderBy("source")


def sample_shard_hash(spark, sf_dir):
    """Token-balanced output sharding, hash mode (sampling.
    shard_by_tokens): shard = md5(doc_id) mod 16 — the map-only 100-TB
    path.  Oracle re-derives the md5 arithmetic."""
    from widiff_spark import sampling

    return sampling.shard_by_tokens(_docs(spark, sf_dir), n_shards=16) \
        .orderBy("doc_id")


def sample_shard_exact(spark, sf_dir):
    """Token-balanced output sharding, serpentine-LPT mode (bounded
    inputs only — documented single-sort).  Oracle replays the
    (n_tokens DESC, doc_id) rank and the boustrophedon deal."""
    from widiff_spark import sampling

    return sampling.shard_by_tokens(_docs(spark, sf_dir), n_shards=16,
                                    exact=True).orderBy("doc_id")


def sample_temperature(spark, sf_dir):
    """Temperature resampling end-to-end: per-source keep fractions at
    alpha=0.5 and half the corpus as target, applied via the
    deterministic md5-threshold rule with IN-PLAN hex thresholds
    (sampling.sample_weighted).  Oracle re-derives weights, thresholds,
    and the per-row keep decision."""
    from widiff_spark import sampling

    docs = _docs(spark, sf_dir)
    w = sampling.temperature_weights(docs, "source", alpha=0.5,
                                     target_rows=250)
    return sampling.sample_weighted(docs, w, "source") \
        .select("doc_id", "lang", "source").orderBy("doc_id")


def text_decontaminate(spark, sf_dir):
    """Benchmark decontamination (textops.decontaminate): flag documents
    sharing 8-token-gram collisions with a deterministic held-out 'eval
    set' (every 23rd doc_id).  Broadcast benchmark grams, map-side probe
    — the corpus itself is never shuffled.  Oracle: DuckDB re-derives
    both gram sets, the semi-join hit counts, and the flag."""
    docs = _docs(spark, sf_dir)
    benchmark = docs.filter(F.col("doc_id") % 23 == 0) \
        .select(F.col("doc_id").alias("bench_id"), "text")
    return (textops.decontaminate(docs, benchmark, n=8, min_fraction=0.1)
            .withColumn("n_hits", F.col("n_hits").cast("long"))
            .orderBy("doc_id"))


def dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_docs(spark, sf_dir)) \
        .orderBy("fingerprint")


def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard at 0.8, candidate-bounded by MinHash-LSH band
    buckets: on a densely near-duplicate corpus the shared-(rare-)shingle
    candidate set is itself quadratic (measured 1.13M pairs from 5k docs at
    sf0.1), while band buckets keep ~10^3 — recall for 0.8-Jaccard pairs is
    1-(1-s^2)^4 ≈ 0.98 by construction.  The oracle applies the identical
    bucket restriction."""
    return dedup.minhash_near_duplicates(_docs(spark, sf_dir),
                                         min_jaccard=0.8) \
        .orderBy("doc_a", "doc_b")


def dedup_minhash_lsh(spark, sf_dir):
    return dedup.minhash_near_duplicates(_docs(spark, sf_dir),
                                         min_jaccard=0.5) \
        .orderBy("doc_a", "doc_b")


def dedup_simhash(spark, sf_dir):
    return dedup.simhash(_docs(spark, sf_dir)).orderBy("doc_id")


def dedup_components(spark, sf_dir):
    """Near-duplicate CLUSTERS + canonical keep-list: MinHash+LSH pairs ->
    distributed connected components (alternating large-star/small-star,
    O(log n) shuffle rounds — diameter-independent, unlike min-label
    propagation) -> one row per doc with cluster id/size/keep flag.
    Oracle: DuckDB re-derives the identical pair set from scratch and
    closes it with a recursive min-label CTE."""
    return dedup.duplicate_components(_docs(spark, sf_dir),
                                      min_jaccard=0.5) \
        .orderBy("doc_id")


def dedup_substring_spans(spark, sf_dir):
    """Exact duplicated-substring spans (dedup.duplicate_spans, the Lee
    et al. 2022 substring-dedup rule): maximal runs of cross-document
    duplicated 10-token grams per doc, with token counts and fraction.
    Oracle replays the positional gram slide, the >1-distinct-doc gram
    set, and the lag-based span merge."""
    return dedup.duplicate_spans(_docs(spark, sf_dir), k=10) \
        .orderBy("doc_id")


def dedup_segments(spark, sf_dir):
    """Segment-level cross-doc dedup (dedup.duplicate_segments — the
    CCNet line-dedup / RefinedWeb paragraph-dedup analog on fixed
    3-token windows; width 3 here because the synthetic corpus has no
    line structure and wider windows never collide across its random
    word salad — real corpora run the default 8).  Oracle re-derives
    segments, the distinct-owner counts, and the per-doc fractions."""
    return dedup.duplicate_segments(_docs(spark, sf_dir), width=3) \
        .orderBy("doc_id")


def dedup_canonical(spark, sf_dir):
    """Quality-aware cluster-representative selection
    (dedup.canonical_corpus): near-dup clusters (same MinHash/LSH/CC
    machinery as dedup_components) but the kept document is the
    HIGHEST-QUALITY member (ties -> min doc_id), via one max_by hash
    aggregate — no window, no global sort.  Oracle re-derives the pair
    set, closes it with the recursive min-label CTE, replays the
    quality formula, and picks the winner with a per-component
    row_number."""
    return dedup.canonical_corpus(_docs(spark, sf_dir),
                                  min_jaccard=0.5).orderBy("doc_id")


def text_source_stats(spark, sf_dir):
    """Per-source curation rollup (textops.source_stats): doc count,
    token volume, mean quality, language spread, within-source exact
    dups — the domain-level filter view (C4 domain blocklists,
    RefinedWeb/Dolma domain caps).  One scan, one partial-aggregated
    shuffle; quality computed inline, not joined.  Oracle replays the
    per-doc signals and the aggregate."""
    return textops.source_stats(_docs(spark, sf_dir)).orderBy("source")


def sample_curriculum(spark, sf_dir):
    """Quality-quantile curriculum buckets
    (sampling.curriculum_buckets): exact interpolated quartile
    thresholds from ONE percentile aggregate (bounded state — quality
    is 4-dec rounded), broadcast to a map-only CASE bucketing; the
    ntile() formulation would global-sort the corpus.  Oracle:
    quantile_cont thresholds + the same CASE chain."""
    return sampling.curriculum_buckets(_docs(spark, sf_dir)) \
        .orderBy("doc_id")


def dedup_incremental(spark, sf_dir):
    """Incremental (cross-snapshot) exact dedup
    (dedup.incremental_new_docs): a deterministic 'recrawl batch' is
    synthesized from the documents table — every doc_id%5==0 document
    re-appears verbatim (must be dropped) and every doc_id%7==3 one
    re-appears with a ' rev2' suffix (changed -> must survive) — and
    anti-joined against the full corpus snapshot on the 64-bit hash of
    the normalized text.  Oracle re-derives the batch and the verdict
    from the normalized TEXT itself (no shared hash function), so a
    hash collision would surface as a mismatch."""
    from pyspark.sql import functions as F
    docs = _docs(spark, sf_dir)
    recrawl = (docs.filter(F.col("doc_id") % 5 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"),
                       "text", "source"))
    updated = (docs.filter(F.col("doc_id") % 7 == 3)
               .select((F.col("doc_id") + 2000000).alias("doc_id"),
                       F.concat(F.col("text"), F.lit(" rev2")).alias("text"),
                       "source"))
    batch = recrawl.unionByName(updated)
    return (dedup.incremental_new_docs(docs, batch)
            .select("doc_id", "source").orderBy("doc_id"))


def text_ppl_buckets(spark, sf_dir):
    """CCNet perplexity head/middle/tail bucketing
    (textops.perplexity_buckets): every document labeled by its
    corpus-wide fluency third under the corpus's own Stupid-Backoff
    bigram LM — one exact-percentile aggregate on the 4-dec rounded
    score (bounded state), broadcast thresholds, map-only CASE.
    Oracle replays the full LM chain (shared CTE with
    text_bigram_logprob) + quantile_cont thresholds."""
    return textops.perplexity_buckets(_docs(spark, sf_dir)) \
        .orderBy("doc_id")


def sample_domain_cap(spark, sf_dir):
    """Per-source document cap (sampling.domain_cap, cap=15): keep the
    15 highest-quality documents per source (ties -> lowest doc_id)
    WITHOUT the per-domain global sort — bounded-state (source,
    4-dec-quality) histogram + one descending aggregate scan per
    source + broadcast threshold filter; the only ordered step is a
    row_number over the tie rows at the threshold quality.  Oracle is
    the straight window formulation (row_number <= 15), which must
    produce the identical set."""
    return sampling.domain_cap(_docs(spark, sf_dir), cap=15) \
        .orderBy("doc_id")


def text_chunk_windows(spark, sf_dir):
    """Token-window chunking (textops.chunk_windows, width 64 / stride
    48): map-only explode of per-document chunk structs — zero shuffle
    at any corpus size (plan-asserted).  Oracle replays the whitespace
    tokenization, the stride grid, and the 1-based inclusive list
    slice."""
    return textops.chunk_windows(_docs(spark, sf_dir),
                                 width=64, stride=48) \
        .orderBy("doc_id", "chunk_id")


def dedup_embedding_cosine(spark, sf_dir):
    """LSH-bucketed embedding near-dup: sketch equi-join candidates, exact
    cosine verify inside buckets (the all-pairs cartesian does not survive
    corpus scale; the oracle applies the identical sketch restriction)."""
    return similarity.bucketed_pairwise_cosine(
        _emb(spark, sf_dir), min_cosine=0.4, dim=64, n_planes=4) \
        .orderBy("vec_a", "vec_b")


def kg_link_mentions(spark, sf_dir):
    """Entity linking (north_star stage): surface-form dictionary from the
    documents table (first-3-token title -> Q<doc_id+10000>, ambiguity ->
    min qid), sliding 3-gram mention detection, head distribution linked
    via broadcast exact join, tail via consecutive-bigram blocking under
    the default hot-key cap (max_block_df=DEFAULT_MAX_BLOCK_DF, ON) +
    Arrow-batched Jaccard (the measured-faster scorer; a score-identical
    zero-Python JVM variant is one flag away, linking.py docstring) +
    deterministic top-1.  Oracle: DuckDB re-derives dictionary, mentions,
    head/tail split, the cap, scores, and the top-1 choice from
    scratch."""
    from widiff_spark import linking

    return linking.link_mentions(_docs(spark, sf_dir)) \
        .orderBy("doc_id", "mention", "qid")


def text_pack_documents(spark, sf_dir):
    """Greedy sequence packing (textops.pack_documents): shard-parallel
    first-fit to a 512-token budget — deterministic on any partitioning.
    Oracle: a DuckDB recursive CTE replays the identical greedy fold per
    shard."""
    return textops.pack_documents(_docs(spark, sf_dir),
                                  token_budget=512, n_shards=16) \
        .orderBy("doc_id")


def sample_hash(spark, sf_dir):
    """Deterministic Bernoulli sample (sampling.hash_sample): md5-threshold
    keep decision — map-only, no shuffle, no RNG state; the same rows
    survive on any cluster size/partitioning, and the oracle re-derives
    the identical hash cut in DuckDB."""
    from widiff_spark import sampling

    return sampling.hash_sample(_docs(spark, sf_dir), 0.1) \
        .select("doc_id", "lang", "source").orderBy("doc_id")


def sample_stratified(spark, sf_dir):
    """Exact-quota stratified sample (sampling.stratified_sample): first 20
    docs per language under the stable (md5(doc_id), doc_id) order — one
    window shuffle; small strata kept whole."""
    from widiff_spark import sampling

    return sampling.stratified_sample(_docs(spark, sf_dir), "lang", 20) \
        .select("doc_id", "lang").orderBy("doc_id")


def ann_knn_bruteforce(spark, sf_dir):
    return similarity.knn_bruteforce(_emb(spark, sf_dir),
                                     _emb_queries(spark, sf_dir), k=5) \
        .orderBy("query_id", "rank")


def ann_knn_lsh(spark, sf_dir):
    """Single-table LSH ANN — deliberately the COST-FLOOR point of the
    published recall/cost curve (53% recall@5 at 1x candidate cost; see
    BENCH/BASELINE.md).  ann_knn_lsh_multi (99%) is the recommended
    operator; this one pins the cheap end of the curve."""
    return similarity.knn_lsh(_emb(spark, sf_dir),
                              _emb_queries(spark, sf_dir), dim=64, k=5,
                              n_planes=4) \
        .orderBy("query_id", "rank")


def ann_knn_lsh_multi(spark, sf_dir):
    """Multi-table LSH (6 tables x 4 planes, radius-1 probes): the recall
    lever over single-table ann_knn_lsh — 99% vs 53% recall@5 on this
    corpus at ~6x candidate cost (see BENCH/BASELINE.md)."""
    return similarity.knn_lsh_tables(_emb(spark, sf_dir),
                                     _emb_queries(spark, sf_dir), dim=64,
                                     k=5, n_planes=4, n_tables=6) \
        .orderBy("query_id", "rank")


def ann_knn_ivf(spark, sf_dir):
    return similarity.knn_ivf(_emb(spark, sf_dir),
                              _emb_queries(spark, sf_dir), k=5) \
        .orderBy("query_id", "rank")


def ann_knn_sq8(spark, sf_dir):
    """8-bit scalar-quantized ANN (similarity.knn_sq8): per-dimension
    min/max codebook from one aggregate pass, asymmetric cosine (corpus
    reconstructed from codes, queries full precision), top-k.  The
    memory/IO-compression rung of the ANN ladder (FAISS SQ8).  Oracle
    re-derives the codebook, codes, reconstruction, and ranking."""
    return similarity.knn_sq8(_emb(spark, sf_dir),
                              _emb_queries(spark, sf_dir), k=5) \
        .orderBy("query_id", "rank")


def dedup_semantic(spark, sf_dir):
    """SemDeDup (similarity.semdedup): IVF-cell-scoped greedy semantic
    pruning — drop a vector iff a lower-id vector in its cell is within
    the cosine threshold.  0.35 is calibrated to the synthetic isotropic
    embeddings (max within-cell cosine ~0.49; real-model embeddings use
    the paper's ~0.95).  Oracle re-derives centroids, assignment, and
    the within-cell duplicate probe."""
    return similarity.semdedup(_emb(spark, sf_dir), min_cosine=0.35) \
        .orderBy("vec_id")


def mm_media_features(spark, sf_dir):
    from widiff_spark import multimodal
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return (multimodal.extract_features(media)
            .select("doc_id", "media_type", "n_bytes",
                    F.round(F.element_at("feature", 1), 4).alias("f0"))
            .orderBy("doc_id"))


def mm_resize_plan(spark, sf_dir):
    from widiff_spark import multimodal
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return multimodal.resize_images(media).orderBy("doc_id")


def mm_frame_sample(spark, sf_dir):
    from widiff_spark import multimodal
    media = multimodal.synthesize_media(_docs(spark, sf_dir))
    return multimodal.sample_frames(media).orderBy("doc_id", "frame_ts_ms")


def dedup_simhash_pairs(spark, sf_dir):
    return dedup.simhash_near_duplicates(_docs(spark, sf_dir),
                                         max_hamming=1) \
        .orderBy("doc_a", "doc_b")


def _oracle_rotation(registry: dict) -> dict:
    """Order the registry so the stalest-oracled queries lead.

    ROTATION POLICY (permanent): the per-round driver oracles only the
    FIRST 50 entries of this dict, so a fixed order starves the tail —
    in r5 the last 36 registered queries got no oracle row and two were
    never checked at all (VERDICT r5 finding #1).  This sorts the
    registry ascending by each query's most recent appearance in the
    repo's CORRECTNESS_r*.json records (never-oracled first, then oldest
    round, ties by registration order), so every query re-enters the
    driver's 50-query window within ceil(86/50) = 2 rounds and new
    operators are oracled in their first round.  Self-maintaining: each
    round's CORRECTNESS file reshuffles the next round's order."""
    import glob as _glob
    import json as _json
    import os as _os
    import re as _re

    here = _os.path.dirname(_os.path.abspath(__file__))
    last_round: dict[str, int] = {}
    try:
        for path in sorted(_glob.glob(_os.path.join(here,
                                                    "CORRECTNESS_r*.json"))):
            m = _re.search(r"_r(\d+)\.json$", path)
            if not m:
                continue
            rnd = int(m.group(1))
            with open(path) as fh:
                rec = _json.load(fh)
            if not isinstance(rec, dict):
                continue  # malformed record shape: skip, never crash
            for key in rec:
                last_round[key] = max(last_round.get(key, -1), rnd)
    except Exception:
        # the rotation is an optimization — a malformed record must
        # never take down queries(), the driver's entry point (ADVICE
        # r6: a JSON list of dicts raised TypeError through the old
        # OSError/ValueError net)
        return registry
    order = {name: i for i, name in enumerate(registry)}
    return dict(sorted(registry.items(),
                       key=lambda kv: (last_round.get(kv[0], -1),
                                       order[kv[0]])))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable] = {
        # KG pipeline (SURVEY §2.1-§2.10 core: S4, J3-J6, W1-W4, A1-A3, F1-F7)
        "kg_triples": kg_triples,
        "kg_triples_salted": kg_triples_salted,
        "kg_xml_scan": kg_xml_scan,
        "kg_incremental": kg_incremental,
        "kg_streaming_ingest": kg_streaming_ingest,
        "kg_value_change": kg_value_change,
        "kg_revision": kg_revision,
        "kg_entity_stats": kg_entity_stats,
        "kg_features_text": kg_features_text,
        "kg_features_time": kg_features_time,
        "kg_features_quantity": kg_features_quantity,
        "kg_features_globecoordinate": kg_features_globecoordinate,
        "kg_features_entity": kg_features_entity,
        "kg_qualifier_change": kg_qualifier_change,
        "kg_reference_change": kg_reference_change,
        "kg_datatype_metadata_change": kg_datatype_metadata_change,
        # training-data ops
        "text_token_count": text_token_count,
        "text_quality": text_quality,
        "text_language_id": text_language_id,
        "text_fingerprint": text_fingerprint,
        "text_decontaminate": text_decontaminate,
        "text_vocab": text_vocab,
        "text_unigram_logprob": text_unigram_logprob,
        "text_bigram_logprob": text_bigram_logprob,
        "text_repetition": text_repetition,
        "text_pii_redact": text_pii_redact,
        "text_corpus_filter": text_corpus_filter,
        "curate_corpus": curate_corpus,
        "kg_training_docs": kg_training_docs,
        "text_dsir_scores": text_dsir_scores,
        "text_mix_weights": text_mix_weights,
        "text_mix_weights_tokens": text_mix_weights_tokens,
        "sample_temperature": sample_temperature,
        "sample_shard_hash": sample_shard_hash,
        "sample_shard_exact": sample_shard_exact,
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_simhash": dedup_simhash,
        "dedup_components": dedup_components,
        "dedup_substring_spans": dedup_substring_spans,
        "dedup_segments": dedup_segments,
        "dedup_canonical": dedup_canonical,
        "dedup_incremental": dedup_incremental,
        "text_source_stats": text_source_stats,
        "text_chunk_windows": text_chunk_windows,
        "sample_curriculum": sample_curriculum,
        "sample_domain_cap": sample_domain_cap,
        "text_ppl_buckets": text_ppl_buckets,
        "sample_hash": sample_hash,
        "sample_stratified": sample_stratified,
        "text_pack_documents": text_pack_documents,
        "kg_link_mentions": kg_link_mentions,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_embedding_cosine": dedup_embedding_cosine,
        "ann_knn_bruteforce": ann_knn_bruteforce,
        "ann_knn_lsh": ann_knn_lsh,
        "ann_knn_lsh_multi": ann_knn_lsh_multi,
        "ann_knn_ivf": ann_knn_ivf,
        "ann_knn_sq8": ann_knn_sq8,
        "dedup_semantic": dedup_semantic,
        "mm_media_features": mm_media_features,
        "mm_resize_plan": mm_resize_plan,
        "mm_frame_sample": mm_frame_sample,
        "kg_property_stats": kg_property_stats,
        "kg_cohort_rollup": kg_cohort_rollup,
        "kg_entity_type_stats": kg_entity_type_stats,
        "kg_quarantine": kg_quarantine,
        "kg_entity_labels": kg_entity_labels,
        "kg_entity_labels_fast": kg_entity_labels_fast,
        "kg_edit_sessions": kg_edit_sessions,
        "kg_edit_sessions_native": kg_edit_sessions_native,
        "kg_edit_sessions_stream": kg_edit_sessions_stream,
        "kg_property_labels": kg_property_labels,
        "kg_type_pairs": kg_type_pairs,
        "kg_transitive_closure": kg_transitive_closure,
        "kg_stream_rates": kg_stream_rates,
        "text_stream_quality": text_stream_quality,
    }
    out.update(relops.QUERIES)
    return _oracle_rotation(out)


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_NORM = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"
_TOKS = "string_split_regex(trim(text), '\\s+')"
_STOPLIST = ", ".join(
    f"'{w}'" for w in sorted(set(w for ws in textops.STOPWORDS.values()
                                 for w in ws)))
_STOPVALUES = ", ".join(
    f"('{lang}', '{w}')" for lang, ws in sorted(textops.STOPWORDS.items())
    for w in ws)

_SHINGLES = """
    WITH t AS (
      SELECT doc_id, string_split({norm}, ' ') AS toks FROM documents),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(toks[s:least(s + 2, len(toks))], ' ') AS shingle
      FROM t, unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS u(s))
""".format(norm=_NORM)

def _sketch_sql(emb_expr: str, n_planes: int, dim: int = 64,
                table: int = 0) -> str:
    """The sign-bit LSH sketch as DuckDB SQL with the deterministic sha256
    hyperplanes (similarity._hyperplane) inlined as constants — the oracle
    recomputes the bucketing independently of Spark.  ``table`` selects the
    hyperplane family (seed offset table*64, matching _sketch_expr)."""
    from widiff_spark.similarity import _hyperplane
    terms = []
    for p in range(n_planes):
        plane = "[" + ", ".join(
            repr(v) for v in _hyperplane(dim, table * 64 + p)) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST({emb_expr} AS DOUBLE[]), "
            f"{plane}) >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_MINHASH_SIG = _SHINGLES + """
    , sig AS (
      SELECT doc_id,
             """ + ",\n             ".join(
    f"min(md5('{i}:' || shingle)) AS mh{i}" for i in range(8)) + """
      FROM sh GROUP BY doc_id)
"""


def oracle_sql() -> dict[str, str]:
    out = dict(relops.ORACLE_SQL)

    # per-source rollup: replay the per-doc signals (tokens, 4-dec
    # quality, md5 fingerprint) and the one source-keyed aggregate
    out["text_source_stats"] = f"""
        WITH qbase AS (
          SELECT doc_id, source, lang,
                 len({_TOKS}) AS n_tokens,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                   AS punct,
                 len(list_filter({_TOKS}, x -> x IN ({_STOPLIST}))) AS stop_hits,
                 md5({_NORM}) AS fp
          FROM documents),
        qual AS (
          SELECT *, round((CASE WHEN n_tokens BETWEEN 5 AND 1000
                                THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN round(punct / greatest(n_chars, 1), 4) < 0.1
                               THEN 0.3 ELSE 0.0 END)
                       + least(round(stop_hits / greatest(n_tokens, 1), 4) * 2,
                               0.3), 4) AS quality
          FROM qbase)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
               round(avg(quality), 4) AS mean_quality,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS dup_docs
        FROM qual GROUP BY source ORDER BY source
    """
    # curriculum buckets: interpolated quartile thresholds
    # (quantile_cont = Spark's exact percentile) + the same CASE chain
    out["sample_curriculum"] = f"""
        WITH qbase AS (
          SELECT doc_id,
                 len({_TOKS}) AS n_tokens,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                   AS punct,
                 len(list_filter({_TOKS}, x -> x IN ({_STOPLIST}))) AS stop_hits
          FROM documents),
        qual AS (
          SELECT doc_id,
                 round((CASE WHEN n_tokens BETWEEN 5 AND 1000
                             THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN round(punct / greatest(n_chars, 1), 4) < 0.1
                               THEN 0.3 ELSE 0.0 END)
                       + least(round(stop_hits / greatest(n_tokens, 1), 4) * 2,
                               0.3), 4) AS quality
          FROM qbase),
        th AS (
          SELECT round(quantile_cont(quality, 0.25), 4) AS t0,
                 round(quantile_cont(quality, 0.50), 4) AS t1,
                 round(quantile_cont(quality, 0.75), 4) AS t2
          FROM qual)
        SELECT q.doc_id, q.quality,
               CAST(CASE WHEN q.quality <= t.t0 THEN 1
                         WHEN q.quality <= t.t1 THEN 2
                         WHEN q.quality <= t.t2 THEN 3
                         ELSE 4 END AS INT) AS bucket
        FROM qual q CROSS JOIN th t ORDER BY q.doc_id
    """
    out["text_token_count"] = f"""
        SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars_actual,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        FROM documents ORDER BY doc_id
    """
    out["text_quality"] = f"""
        WITH base AS (
          SELECT doc_id,
                 len({_TOKS}) AS n_tokens,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                   AS punct,
                 len(list_filter({_TOKS}, x -> x IN ({_STOPLIST}))) AS stop_hits
          FROM documents)
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               round(punct / greatest(n_chars, 1), 4) AS punct_ratio,
               round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
               round((n_chars - (n_tokens - 1)) / greatest(n_tokens, 1), 4)
                 AS mean_word_len,
               round((CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END)
                     + (CASE WHEN round(punct / greatest(n_chars, 1), 4) < 0.1
                             THEN 0.3 ELSE 0.0 END)
                     + least(round(stop_hits / greatest(n_tokens, 1), 4) * 2, 0.3),
                     4) AS quality
        FROM base ORDER BY doc_id
    """
    out["text_language_id"] = f"""
        WITH words AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
            AS word FROM documents),
        dim(cand_lang, word) AS (VALUES {_STOPVALUES}),
        hits AS (
          SELECT doc_id, cand_lang, count(*) AS hits
          FROM words JOIN dim USING (word) GROUP BY 1, 2),
        best AS (
          SELECT doc_id, cand_lang, hits,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY hits DESC, cand_lang ASC) AS rn
          FROM hits)
        SELECT d.doc_id,
               coalesce(b.cand_lang, 'und') AS lang_pred,
               CAST(coalesce(b.hits, 0) AS BIGINT) AS lang_hits
        FROM documents d
        LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
        ORDER BY d.doc_id
    """
    out["text_fingerprint"] = f"""
        SELECT doc_id, md5({_NORM}) AS fingerprint
        FROM documents ORDER BY doc_id
    """
    out["dedup_exact"] = f"""
        SELECT md5({_NORM}) AS fingerprint,
               min(doc_id) AS canonical_doc_id, count(*) AS n_docs
        FROM documents GROUP BY 1 ORDER BY fingerprint
    """
    out["text_vocab"] = f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
          FROM documents),
        v AS (
          SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
          FROM tok GROUP BY token),
        top AS (
          SELECT token, tf, df,
                 CAST(row_number() OVER (ORDER BY tf DESC, token ASC)
                      AS INT) AS rank
          FROM v ORDER BY tf DESC, token ASC LIMIT 200)
        SELECT token, tf, df, rank FROM top ORDER BY rank
    """
    out["text_unigram_logprob"] = f"""
        WITH tok AS (
          SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS token
          FROM documents),
        v AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
        t AS (SELECT sum(tf) AS total FROM v),
        lp AS (SELECT v.token, log10(v.tf * 1.0 / t.total) AS logp
               FROM v, t)
        SELECT tok.doc_id, count(*) AS n_tokens,
               round(avg(lp.logp), 4) AS mean_logprob
        FROM tok JOIN lp USING (token)
        GROUP BY tok.doc_id ORDER BY doc_id
    """
    # the per-doc Stupid-Backoff bigram LM derivation, shared by the
    # text_bigram_logprob oracle and the perplexity-bucket one
    bigram_doc = f"""
        WITH toks AS (
          SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
        pos AS (
          SELECT doc_id, unnest(generate_series(1, len(t))) AS p, t
          FROM toks WHERE len(t) >= 1),
        pt AS (SELECT doc_id, p, t[p] AS token,
                      CASE WHEN p > 1 THEN t[p-1] END AS prev FROM pos),
        uni AS (SELECT token, count(*) AS uc FROM pt GROUP BY token),
        tot AS (SELECT sum(uc) AS n FROM uni),
        big AS (SELECT prev, token, count(*) AS bc FROM pt
                WHERE prev IS NOT NULL GROUP BY prev, token),
        scored AS (
          SELECT pt.doc_id,
                 CASE WHEN pt.prev IS NULL
                        THEN log10(uni.uc * 1.0 / tot.n)
                      WHEN big.bc IS NOT NULL
                        THEN log10(big.bc * 1.0 / pu.uc)
                      ELSE log10(0.4 * uni.uc / tot.n) END AS logp
          FROM pt
          JOIN uni USING (token)
          LEFT JOIN big ON big.prev = pt.prev AND big.token = pt.token
          LEFT JOIN uni pu ON pu.token = pt.prev
          CROSS JOIN tot)
        SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
               round(avg(logp), 4) AS mean_logprob
        FROM scored GROUP BY doc_id"""
    out["text_bigram_logprob"] = bigram_doc + " ORDER BY doc_id"
    out["text_ppl_buckets"] = f"""
        WITH lp AS ({bigram_doc}),
        th AS (SELECT round(quantile_cont(mean_logprob, 0.3333), 4) AS t0,
                      round(quantile_cont(mean_logprob, 0.6667), 4) AS t1
               FROM lp)
        SELECT lp.doc_id, lp.mean_logprob,
               CASE WHEN lp.mean_logprob <= th.t0 THEN 'tail'
                    WHEN lp.mean_logprob <= th.t1 THEN 'middle'
                    ELSE 'head' END AS ppl_bucket
        FROM lp CROSS JOIN th ORDER BY lp.doc_id
    """
    # incremental dedup: re-derive the synthetic recrawl batch and the
    # verdict from the normalized TEXT (the Spark side anti-joins on
    # xxhash64 — no shared hash function between the two derivations)
    out["dedup_incremental"] = f"""
        WITH snap AS (SELECT {_NORM} AS nt FROM documents),
        batch AS (
          SELECT doc_id + 1000000 AS doc_id, text, source
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id + 2000000, text || ' rev2', source
          FROM documents WHERE doc_id % 7 = 3)
        SELECT doc_id, source FROM batch
        WHERE {_NORM} NOT IN (SELECT nt FROM snap)
        ORDER BY doc_id
    """
    # domain cap: the straight window formulation the Spark side avoids
    out["sample_domain_cap"] = f"""
        WITH q AS (
          SELECT doc_id, source,
                 round((CASE WHEN len({_TOKS}) BETWEEN 5 AND 1000
                             THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN round(
                            (length(text) - length(regexp_replace(
                                 text, '[^\\w\\s]', '', 'g')))
                            / greatest(length(text), 1), 4) < 0.1
                          THEN 0.3 ELSE 0.0 END)
                       + least(round(
                            len(list_filter({_TOKS},
                                            x -> x IN ({_STOPLIST})))
                            / greatest(len({_TOKS}), 1), 4) * 2, 0.3),
                       4) AS quality
          FROM documents),
        r AS (SELECT doc_id, source, quality,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY quality DESC, doc_id)
                       AS rn
              FROM q)
        SELECT doc_id, source, quality FROM r WHERE rn <= 15
        ORDER BY doc_id
    """
    # token-window chunking: stride grid + 1-based inclusive list slice
    out["text_chunk_windows"] = f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id, toks,
                     unnest(range(0, len(toks), 48)) AS st
              FROM t)
        SELECT doc_id,
               st // 48 AS chunk_id,
               array_to_string(toks[st + 1 : st + 64], ' ') AS chunk,
               CAST(least(64, len(toks) - st) AS INT) AS n_tokens
        FROM s ORDER BY doc_id, chunk_id
    """
    out["dedup_segments"] = f"""
        WITH toks AS (
          SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents),
        pos AS (
          SELECT doc_id,
                 unnest(generate_series(1,
                        CAST(floor(len(t) / 3.0) AS INT))) AS g, t
          FROM toks WHERE len(t) >= 3),
        segs AS (SELECT doc_id,
                        array_to_string(t[(g-1)*3+1:g*3], ' ') AS segment
                 FROM pos),
        owners AS (SELECT segment, count(DISTINCT doc_id) AS nd
                   FROM segs GROUP BY segment)
        SELECT s.doc_id,
               CAST(count(*) AS INT) AS n_segments,
               CAST(sum(CASE WHEN o.nd >= 2 THEN 1 ELSE 0 END) AS INT)
                 AS n_dup_segments,
               round(sum(CASE WHEN o.nd >= 2 THEN 1 ELSE 0 END) * 1.0
                     / count(*), 4) AS dup_segment_frac
        FROM segs s JOIN owners o USING (segment)
        GROUP BY s.doc_id ORDER BY doc_id
    """
    out["text_repetition"] = f"""
        WITH t AS (
          SELECT doc_id, string_split({_NORM}, ' ') AS toks
          FROM documents),
        pr AS (SELECT doc_id, len(toks) AS n_tokens,
                      len(list_distinct(toks)) AS n_distinct FROM t),
        bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
               FROM t, unnest(range(1, len(toks))) AS u(i)),
        c AS (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY 1, 2),
        r AS (SELECT doc_id, max(c) AS top, sum(c) AS n_bi,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
              FROM c GROUP BY 1)
        SELECT pr.doc_id, pr.n_tokens,
               round(pr.n_distinct * 1.0 / greatest(pr.n_tokens, 1), 4)
                 AS type_token_ratio,
               round(coalesce(r.top * 1.0 / r.n_bi, 0), 4)
                 AS top_bigram_frac,
               round(coalesce(r.dup * 1.0 / r.n_bi, 0), 4)
                 AS dup_bigram_frac
        FROM pr LEFT JOIN r USING (doc_id) ORDER BY doc_id
    """
    out["sample_shard_hash"] = f"""
        SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens,
               CAST(CAST(('0x' || substring(
                      md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 16 AS INT) AS shard
        FROM documents ORDER BY doc_id
    """
    out["sample_shard_exact"] = f"""
        WITH b AS (
          SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens
          FROM documents),
        r AS (
          SELECT doc_id, n_tokens,
                 row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC)
                   - 1 AS rk
          FROM b)
        SELECT doc_id, n_tokens,
               CAST(CASE WHEN (rk // 16) % 2 = 0 THEN rk % 16
                         ELSE 15 - (rk % 16) END AS INT) AS shard
        FROM r ORDER BY doc_id
    """
    out["text_stream_quality"] = f"""
        WITH b AS (
          SELECT source,
                 TIMESTAMP '2024-01-01 00:00:00'
                   + (doc_id // 60) * INTERVAL 1 HOUR AS ws,
                 len({_TOKS}) AS nt
          FROM documents)
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S')
                 AS window_end,
               source, count(*) AS n_docs,
               round(avg(nt), 4) AS avg_tokens,
               CAST(sum(CASE WHEN nt < 15 THEN 1 ELSE 0 END) AS INT)
                 AS n_short
        FROM b GROUP BY ws, source ORDER BY window_start, source
    """
    out["text_corpus_filter"] = f"""
        WITH q AS (
          SELECT doc_id, len({_TOKS}) AS n_tokens,
                 round(len(list_filter({_TOKS}, x -> x IN ({_STOPLIST})))
                       / greatest(len({_TOKS}), 1), 4) AS stopword_ratio
          FROM documents),
        words AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
            AS word FROM documents),
        dim(cand_lang, word) AS (VALUES {_STOPVALUES}),
        hits AS (
          SELECT doc_id, cand_lang, count(*) AS hits
          FROM words JOIN dim USING (word) GROUP BY 1, 2),
        best AS (
          SELECT doc_id, cand_lang,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY hits DESC, cand_lang ASC) AS rn
          FROM hits),
        lang AS (
          SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS lang_pred
          FROM documents d
          LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)),
        t AS (SELECT doc_id, string_split({_NORM}, ' ') AS toks
              FROM documents),
        pr AS (SELECT doc_id, len(toks) AS nt,
                      len(list_distinct(toks)) AS n_distinct FROM t),
        bi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
               FROM t, unnest(range(1, len(toks))) AS u(i)),
        c AS (SELECT doc_id, gram, count(*) AS c FROM bi GROUP BY 1, 2),
        r AS (SELECT doc_id, sum(c) AS n_bi,
                     sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
              FROM c GROUP BY 1),
        rep AS (
          SELECT pr.doc_id,
                 round(pr.n_distinct * 1.0 / greatest(pr.nt, 1), 4)
                   AS type_token_ratio,
                 round(coalesce(r.dup * 1.0 / r.n_bi, 0), 4)
                   AS dup_bigram_frac
          FROM pr LEFT JOIN r USING (doc_id)),
        sig AS (
          SELECT q.doc_id, q.n_tokens, q.stopword_ratio, lang.lang_pred,
                 rep.type_token_ratio, rep.dup_bigram_frac,
                 CASE WHEN q.n_tokens < 15 THEN 'too_short'
                      WHEN lang.lang_pred <> 'en' THEN 'wrong_lang'
                      WHEN rep.dup_bigram_frac > 0.2 THEN 'too_repetitive'
                      WHEN rep.type_token_ratio < 0.25 THEN 'low_diversity'
                      WHEN q.stopword_ratio < 0.01 THEN 'no_stopwords'
                      ELSE 'kept' END AS reason
          FROM q JOIN lang USING (doc_id) JOIN rep USING (doc_id))
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens, lang_pred,
               dup_bigram_frac, type_token_ratio, stopword_ratio,
               (reason = 'kept') AS keep, reason
        FROM sig ORDER BY doc_id
    """
    out["text_dsir_scores"] = f"""
        WITH t AS (SELECT doc_id, lang, string_split({_NORM}, ' ') AS toks
                   FROM documents),
        rg AS (SELECT doc_id,
                      CAST(('0x' || substring(md5(
                          toks[i] || ' ' || toks[i+1]), 1, 8))
                           AS BIGINT) % 1024 AS bucket
               FROM t, unnest(range(1, len(toks))) AS u(i)
               WHERE len(toks) >= 2),
        tg AS (SELECT t.doc_id,
                      CAST(('0x' || substring(md5(
                          toks[i] || ' ' || toks[i+1]), 1, 8))
                           AS BIGINT) % 1024 AS bucket
               FROM t, unnest(range(1, len(toks))) AS u(i)
               WHERE len(toks) >= 2 AND lang = 'en'),
        rc AS (SELECT bucket, count(*) AS c_raw FROM rg GROUP BY 1),
        tc AS (SELECT bucket, count(*) AS c_tgt FROM tg GROUP BY 1),
        tot AS (SELECT (SELECT sum(c_raw) FROM rc) AS tr,
                       (SELECT sum(c_tgt) FROM tc) AS tt),
        lm AS (SELECT coalesce(rc.bucket, tc.bucket) AS bucket,
                      ln((coalesce(tc.c_tgt, 0) + 1) * 1.0 / (tot.tt + 1024))
                    - ln((coalesce(rc.c_raw, 0) + 1) * 1.0 / (tot.tr + 1024))
                        AS lr
               FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket, tot),
        pd AS (SELECT rg.doc_id, count(*) AS n_grams, sum(lm.lr) AS score
               FROM rg JOIN lm USING (bucket) GROUP BY 1)
        SELECT d.doc_id, CAST(coalesce(pd.n_grams, 0) AS INT) AS n_grams,
               round(coalesce(pd.score, 0.0), 4) AS dsir_score
        FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY doc_id
    """
    # plain string (not f-string): regex quantifier braces stay literal;
    # patterns are the Java-regex/RE2 common subset of textops.PII_PATTERNS
    out["text_pii_redact"] = r"""
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com at 192.168.0.1 tel 555-010-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS text
          FROM documents),
        s1 AS (SELECT doc_id,
                 len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                   AS n_email,
                 regexp_replace(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g') AS text
               FROM aug),
        s2 AS (SELECT doc_id, n_email,
                 len(regexp_extract_all(text,
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
                 regexp_replace(text,
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b',
                   '<IP>', 'g') AS text
               FROM s1)
        SELECT doc_id, n_email, n_ipv4,
               len(regexp_extract_all(text,
                 '\b\d{3}[- ]\d{3}[- ]\d{4}\b')) AS n_phone,
               regexp_replace(text, '\b\d{3}[- ]\d{3}[- ]\d{4}\b',
                              '<PHONE>', 'g') AS text
        FROM s2 ORDER BY doc_id
    """
    _MIXW = """
        WITH stats AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        norm AS (
          SELECT sum(pow(n_docs, 0.5)) AS z, sum(n_docs) AS total
          FROM stats),
        wts AS (
          SELECT s.source, s.n_docs,
                 round(pow(s.n_docs, 0.5) / n.z, 6) AS weight,
                 round(least(1.0, {target} * (pow(s.n_docs, 0.5) / n.z)
                             / s.n_docs), 6) AS keep_fraction
          FROM stats s, norm n)
    """
    out["text_mix_weights"] = _MIXW.format(target="n.total") + """
        SELECT source, n_docs, weight, keep_fraction
        FROM wts ORDER BY source
    """
    out["text_mix_weights_tokens"] = f"""
        WITH stats AS (
          SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        norm AS (
          SELECT sum(pow(n_tokens, 0.5)) AS z, sum(n_tokens) AS total
          FROM stats),
        wts AS (
          SELECT s.source, s.n_tokens,
                 round(pow(s.n_tokens, 0.5) / n.z, 6) AS weight,
                 round(least(1.0, n.total * (pow(s.n_tokens, 0.5) / n.z)
                             / s.n_tokens), 6) AS keep_fraction
          FROM stats s, norm n)
        SELECT source, n_tokens, weight, keep_fraction
        FROM wts ORDER BY source
    """
    out["sample_temperature"] = _MIXW.format(target="250") + f"""
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN wts w ON d.source = w.source
        WHERE substring(md5(':' || CAST(d.doc_id AS VARCHAR)), 1, 8)
              < CASE WHEN w.keep_fraction >= 1.0 THEN 'g'
                     ELSE lower(lpad(to_hex(CAST(floor(
                            w.keep_fraction * 4294967296.0) AS BIGINT)),
                          8, '0')) END
        ORDER BY d.doc_id
    """
    out["text_decontaminate"] = f"""
        WITH t AS (
          SELECT doc_id, string_split({_NORM}, ' ') AS toks
          FROM documents),
        dg AS (
          SELECT DISTINCT doc_id,
                 array_to_string(toks[s:s + 7], ' ') AS gram
          FROM t, unnest(range(1, len(toks) - 6)) AS u(s)
          WHERE len(toks) >= 8),
        bg AS (
          SELECT DISTINCT gram FROM dg WHERE doc_id % 23 = 0),
        tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
        hit AS (
          SELECT doc_id, count(*) AS n_hits
          FROM dg SEMI JOIN bg USING (gram) GROUP BY doc_id)
        SELECT d.doc_id,
               CAST(COALESCE(tot.n_grams, 0) AS INT) AS n_grams,
               COALESCE(hit.n_hits, 0) AS n_hits,
               CASE WHEN COALESCE(tot.n_grams, 0) > 0
                    THEN round(COALESCE(hit.n_hits, 0) * 1.0 / tot.n_grams, 4)
                    ELSE 0.0 END AS contamination,
               (CASE WHEN COALESCE(tot.n_grams, 0) > 0
                     THEN round(COALESCE(hit.n_hits, 0) * 1.0 / tot.n_grams, 4)
                     ELSE 0.0 END) >= 0.1 AS is_contaminated
        FROM documents d
        LEFT JOIN tot ON d.doc_id = tot.doc_id
        LEFT JOIN hit ON d.doc_id = hit.doc_id
        ORDER BY d.doc_id
    """
    bands = []
    for b in range(4):
        cols = " || '|' || ".join(f"mh{b * 2 + r}" for r in range(2))
        bands.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS key FROM sig")

    def _minhash_oracle(min_jaccard: float) -> str:
        return _MINHASH_SIG + f"""
        , buckets AS ({' UNION ALL '.join(bands)}),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        verified AS (
          SELECT i.doc_a, i.doc_b, i.n_common,
                 round(i.n_common / (sa.n + sb.n - i.n_common), 4) AS jaccard
          FROM inter i
          JOIN cands c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b)
        SELECT * FROM verified WHERE jaccard >= {min_jaccard}
        ORDER BY doc_a, doc_b
    """
    out["dedup_minhash_lsh"] = _minhash_oracle(0.5)
    # exact-Jaccard verify at 0.8 over the same band-bucket candidates the
    # Spark query uses (dense near-dup corpora make the shared-shingle
    # candidate set itself quadratic)
    out["dedup_ngram_jaccard"] = _minhash_oracle(0.8)
    # connected components over the same 0.5-Jaccard pair set: recursive
    # min-label reachability CTE (component id = min doc_id reachable),
    # singletons default to themselves — independent of the engine's
    # large-star/small-star contraction
    _comp_ctes = _MINHASH_SIG.replace(
        "WITH", "WITH RECURSIVE", 1) + f"""
        , buckets AS ({' UNION ALL '.join(bands)}),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT i.doc_a, i.doc_b
          FROM inter i
          JOIN cands c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE round(i.n_common / (sa.n + sb.n - i.n_common), 4) >= 0.5),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
        comp AS (
          SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component_id
          FROM reach GROUP BY node),
        csizes AS (
          SELECT component_id, count(*) AS component_size
          FROM comp GROUP BY 1)
    """
    out["dedup_components"] = _comp_ctes + """
        SELECT c.doc_id, c.component_id, s.component_size,
               (c.doc_id = c.component_id) AS is_canonical
        FROM comp c JOIN csizes s USING (component_id)
        ORDER BY c.doc_id
    """
    # quality-aware representative over the SAME component CTE chain:
    # replay the text_quality score formula, rank each component by
    # (quality DESC, doc_id ASC), keep rank 1 — independent of the
    # engine's max_by((quality, -doc_id)) hash aggregate
    out["dedup_canonical"] = _comp_ctes + f"""
        , qbase AS (
          SELECT doc_id,
                 len({_TOKS}) AS n_tokens,
                 length(text) AS n_chars,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                   AS punct,
                 len(list_filter({_TOKS}, x -> x IN ({_STOPLIST}))) AS stop_hits
          FROM documents),
        qual AS (
          SELECT doc_id,
                 round((CASE WHEN n_tokens BETWEEN 5 AND 1000 THEN 0.4 ELSE 0.0 END)
                       + (CASE WHEN round(punct / greatest(n_chars, 1), 4) < 0.1
                               THEN 0.3 ELSE 0.0 END)
                       + least(round(stop_hits / greatest(n_tokens, 1), 4) * 2, 0.3),
                       4) AS quality
          FROM qbase),
        ranked AS (
          SELECT c.doc_id, c.component_id, s.component_size, q.quality,
                 row_number() OVER (PARTITION BY c.component_id
                                    ORDER BY q.quality DESC, c.doc_id ASC)
                   AS rn
          FROM comp c
          JOIN csizes s USING (component_id)
          JOIN qual q USING (doc_id))
        SELECT doc_id, component_id, component_size, quality,
               (rn = 1) AS is_kept
        FROM ranked ORDER BY doc_id
    """
    # curation flagship: all four gates composed in one statement —
    # minhash/LSH/closure block shared verbatim with dedup_components,
    # filter/decon blocks shared with text_corpus_filter /
    # text_decontaminate (filter CTEs prefixed f* to avoid colliding
    # with the minhash t/sh/sig), survivor-side mixture arithmetic from
    # sample_temperature
    out["curate_corpus"] = _MINHASH_SIG.replace(
        "WITH", "WITH RECURSIVE", 1) + f"""
        , buckets AS ({' UNION ALL '.join(bands)}),
        cands AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM buckets a JOIN buckets b
            ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT i.doc_a, i.doc_b
          FROM inter i
          JOIN cands c ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
          JOIN sizes sa ON sa.doc_id = i.doc_a
          JOIN sizes sb ON sb.doc_id = i.doc_b
          WHERE round(i.n_common / (sa.n + sb.n - i.n_common), 4) >= 0.5),
        edges AS (
          SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach(node, lbl) AS (
          SELECT doc_id, doc_id FROM documents
          UNION
          SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v),
        comp AS (
          SELECT node AS doc_id, CAST(min(lbl) AS BIGINT) AS component_id
          FROM reach GROUP BY node),
        q AS (
          SELECT doc_id, len({_TOKS}) AS n_tokens,
                 round(len(list_filter({_TOKS}, x -> x IN ({_STOPLIST})))
                       / greatest(len({_TOKS}), 1), 4) AS stopword_ratio
          FROM documents),
        words AS (
          SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+'))
            AS word FROM documents),
        dim(cand_lang, word) AS (VALUES {_STOPVALUES}),
        hits AS (
          SELECT doc_id, cand_lang, count(*) AS hits
          FROM words JOIN dim USING (word) GROUP BY 1, 2),
        best AS (
          SELECT doc_id, cand_lang,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY hits DESC, cand_lang ASC) AS rn
          FROM hits),
        lang AS (
          SELECT d.doc_id, coalesce(b.cand_lang, 'und') AS lang_pred
          FROM documents d
          LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)),
        fpr AS (SELECT doc_id, len(toks) AS nt,
                       len(list_distinct(toks)) AS n_distinct FROM t),
        fbi AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS gram
                FROM t, unnest(range(1, len(toks))) AS u(i)),
        fc AS (SELECT doc_id, gram, count(*) AS c FROM fbi GROUP BY 1, 2),
        fr AS (SELECT doc_id, sum(c) AS n_bi,
                      sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
               FROM fc GROUP BY 1),
        rep AS (
          SELECT fpr.doc_id,
                 round(fpr.n_distinct * 1.0 / greatest(fpr.nt, 1), 4)
                   AS type_token_ratio,
                 round(coalesce(fr.dup * 1.0 / fr.n_bi, 0), 4)
                   AS dup_bigram_frac
          FROM fpr LEFT JOIN fr USING (doc_id)),
        fsig AS (
          SELECT q.doc_id,
                 CASE WHEN q.n_tokens < 15 THEN 'too_short'
                      WHEN lang.lang_pred <> 'en' THEN 'wrong_lang'
                      WHEN rep.dup_bigram_frac > 0.2 THEN 'too_repetitive'
                      WHEN rep.type_token_ratio < 0.25 THEN 'low_diversity'
                      WHEN q.stopword_ratio < 0.01 THEN 'no_stopwords'
                      ELSE 'kept' END AS reason
          FROM q JOIN lang USING (doc_id) JOIN rep USING (doc_id)),
        dg AS (
          SELECT DISTINCT doc_id,
                 array_to_string(toks[s:s + 7], ' ') AS gram
          FROM t, unnest(range(1, len(toks) - 6)) AS u(s)
          WHERE len(toks) >= 8),
        bg AS (
          SELECT DISTINCT gram FROM dg WHERE doc_id % 23 = 0),
        tot AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
        hit AS (
          SELECT doc_id, count(*) AS n_hits
          FROM dg SEMI JOIN bg USING (gram) GROUP BY doc_id),
        cont AS (
          SELECT d.doc_id,
                 (CASE WHEN COALESCE(tot.n_grams, 0) > 0
                       THEN round(COALESCE(hit.n_hits, 0) * 1.0
                                  / tot.n_grams, 4)
                       ELSE 0.0 END) >= 0.1 AS is_contaminated
          FROM documents d
          LEFT JOIN tot ON d.doc_id = tot.doc_id
          LEFT JOIN hit ON d.doc_id = hit.doc_id),
        base AS (
          SELECT d.doc_id, d.lang, d.source, fsig.reason,
                 (fsig.reason = 'kept') AS keep,
                 (d.doc_id = comp.component_id) AS is_canonical,
                 cont.is_contaminated
          FROM documents d
          JOIN fsig USING (doc_id)
          JOIN comp USING (doc_id)
          JOIN cont USING (doc_id)),
        surv AS (
          SELECT * FROM base
          WHERE keep AND is_canonical AND NOT is_contaminated),
        stats AS (SELECT source, count(*) AS n_docs FROM surv
                  GROUP BY source),
        nrm AS (SELECT sum(pow(n_docs, 0.5)) AS z FROM stats),
        wts AS (
          SELECT s.source,
                 round(least(1.0, 100 * (pow(s.n_docs, 0.5) / n.z)
                             / s.n_docs), 6) AS keep_fraction
          FROM stats s, nrm n),
        samp AS (
          SELECT surv.doc_id
          FROM surv JOIN wts USING (source)
          WHERE substring(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8)
                < CASE WHEN wts.keep_fraction >= 1.0 THEN 'g'
                       ELSE lower(lpad(to_hex(CAST(floor(
                              wts.keep_fraction * 4294967296.0) AS BIGINT)),
                            8, '0')) END)
        SELECT b.doc_id, b.lang, b.source,
               CASE WHEN NOT b.keep THEN 'filtered:' || b.reason
                    WHEN NOT b.is_canonical THEN 'duplicate'
                    WHEN b.is_contaminated THEN 'contaminated'
                    WHEN samp.doc_id IS NULL THEN 'resampled_out'
                    ELSE 'kept' END AS fate,
               (CASE WHEN NOT b.keep THEN 'filtered:' || b.reason
                     WHEN NOT b.is_canonical THEN 'duplicate'
                     WHEN b.is_contaminated THEN 'contaminated'
                     WHEN samp.doc_id IS NULL THEN 'resampled_out'
                     ELSE 'kept' END) = 'kept' AS kept
        FROM base b LEFT JOIN samp USING (doc_id) ORDER BY doc_id
    """
    out["dedup_substring_spans"] = f"""
        WITH t AS (
          SELECT doc_id, string_split({_NORM}, ' ') AS toks
          FROM documents),
        sz AS (SELECT doc_id, len(toks) AS n_tokens FROM t),
        pos AS (SELECT doc_id, i AS p,
                       array_to_string(list_slice(toks, i, i + 9), ' ')
                         AS gram
                FROM t, unnest(range(1, len(toks) - 10 + 2)) AS u(i)
                WHERE len(toks) >= 10),
        dg AS (SELECT gram FROM pos GROUP BY gram
               HAVING count(DISTINCT doc_id) > 1),
        m AS (SELECT pos.doc_id, pos.p FROM pos SEMI JOIN dg USING (gram)),
        f AS (SELECT doc_id, p,
                     CASE WHEN lag(p) OVER w IS NULL
                               OR p > lag(p) OVER w + 10 THEN 1 ELSE 0 END
                       AS nw
              FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
        g AS (SELECT doc_id, p,
                     sum(nw) OVER (PARTITION BY doc_id ORDER BY p
                                   ROWS UNBOUNDED PRECEDING) AS span
              FROM f),
        sp AS (SELECT doc_id, span, max(p) - min(p) + 10 AS span_tokens
               FROM g GROUP BY 1, 2),
        pd AS (SELECT doc_id, count(*) AS n_dup_spans,
                      sum(span_tokens) AS dup_tokens
               FROM sp GROUP BY 1)
        SELECT sz.doc_id, sz.n_tokens,
               CAST(coalesce(pd.n_dup_spans, 0) AS INT) AS n_dup_spans,
               CAST(coalesce(pd.dup_tokens, 0) AS INT) AS dup_tokens,
               round(coalesce(pd.dup_tokens, 0) * 1.0
                     / greatest(sz.n_tokens, 1), 4) AS dup_token_frac
        FROM sz LEFT JOIN pd USING (doc_id) ORDER BY doc_id
    """
    from widiff_spark.linking import DEFAULT_MAX_BLOCK_DF as _LINK_CAP
    _j = ("round(len(list_intersect(list_distinct(string_split(r.mention"
          ", ' ')), list_distinct(string_split(r.label, ' ')))) * 1.0 / "
          "len(list_distinct(list_concat(string_split(r.mention, ' '), "
          "string_split(r.label, ' ')))), 4)")
    out["kg_link_mentions"] = f"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
          FROM documents),
        dict0 AS (
          SELECT doc_id, t[1] || ' ' || t[2] || ' ' || t[3] AS label
          FROM toks WHERE len(t) >= 3),
        dict AS (
          SELECT label, min(doc_id) + 10000 AS qid_num, count(*) AS n_docs
          FROM dict0 GROUP BY label),
        head AS (SELECT * FROM dict ORDER BY n_docs DESC, label LIMIT 50),
        tail AS (SELECT d.* FROM dict d ANTI JOIN head h USING (label)),
        mentions AS (
          SELECT DISTINCT doc_id,
                 t[g] || ' ' || t[g+1] || ' ' || t[g+2] AS mention
          FROM toks, unnest(generate_series(1, len(t) - 2)) AS s(g)
          WHERE len(t) >= 3),
        head_links AS (
          SELECT m.doc_id, m.mention, h.qid_num, 1.0 AS score,
                 'head' AS link_path
          FROM mentions m JOIN head h ON m.mention = h.label),
        rest AS (
          SELECT m.* FROM mentions m ANTI JOIN head h ON m.mention = h.label),
        restb AS (
          SELECT r.doc_id, r.mention, b.bg
          FROM rest r, unnest(list_value(
            split_part(r.mention, ' ', 1) || ' ' || split_part(r.mention, ' ', 2),
            split_part(r.mention, ' ', 2) || ' ' || split_part(r.mention, ' ', 3)
          )) AS b(bg)),
        tailb0 AS (
          SELECT t.label, t.qid_num, b.bg
          FROM tail t, unnest(list_value(
            split_part(t.label, ' ', 1) || ' ' || split_part(t.label, ' ', 2),
            split_part(t.label, ' ', 2) || ' ' || split_part(t.label, ' ', 3)
          )) AS b(bg)),
        keepbg AS (
          SELECT bg FROM tailb0 GROUP BY bg
          HAVING count(*) <= {_LINK_CAP}),
        tailb AS (
          SELECT t.* FROM tailb0 t SEMI JOIN keepbg k ON t.bg = k.bg),
        cand0 AS (
          SELECT DISTINCT rb.doc_id, rb.mention, tb.qid_num, tb.label
          FROM restb rb JOIN tailb tb ON rb.bg = tb.bg),
        cand AS (
          SELECT r.doc_id, r.mention, r.qid_num, {_j} AS score
          FROM cand0 r),
        tail_links AS (
          SELECT doc_id, mention, qid_num, score, 'tail' AS link_path
          FROM (SELECT *, row_number() OVER (
                  PARTITION BY doc_id, mention
                  ORDER BY score DESC, qid_num ASC) AS rk
                FROM cand WHERE score >= 0.5)
          WHERE rk = 1)
        SELECT doc_id, mention, 'Q' || CAST(qid_num AS VARCHAR) AS qid,
               score, link_path
        FROM (SELECT * FROM head_links UNION ALL SELECT * FROM tail_links)
        ORDER BY doc_id, mention, qid
    """
    out["text_pack_documents"] = f"""
        WITH RECURSIVE docs_t AS (
          SELECT doc_id,
                 CAST(doc_id % 16 AS INT) AS shard,
                 CAST(len({_TOKS}) AS INT) AS n_tokens,
                 row_number() OVER (PARTITION BY doc_id % 16
                                    ORDER BY doc_id) AS rn
          FROM documents),
        pack(shard, rn, doc_id, n_tokens, pack_id, acc) AS (
          SELECT shard, rn, doc_id, n_tokens, CAST(1 AS INT), n_tokens
          FROM docs_t WHERE rn = 1
          UNION ALL
          SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
                 CAST(CASE WHEN p.acc + d.n_tokens > 512
                      THEN p.pack_id + 1 ELSE p.pack_id END AS INT),
                 CASE WHEN p.acc + d.n_tokens > 512
                      THEN d.n_tokens ELSE p.acc + d.n_tokens END
          FROM docs_t d JOIN pack p
            ON d.shard = p.shard AND d.rn = p.rn + 1)
        SELECT doc_id, shard, pack_id, n_tokens
        FROM pack ORDER BY doc_id
    """
    from widiff_spark.sampling import fraction_threshold as _fthr
    _hash8 = "substring(md5(':' || CAST(doc_id AS VARCHAR)), 1, 8)"
    out["sample_hash"] = f"""
        SELECT doc_id, lang, source FROM documents
        WHERE {_hash8} < '{_fthr(0.1)}'
        ORDER BY doc_id
    """
    out["sample_stratified"] = f"""
        WITH ranked AS (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_hash8}, doc_id) AS rk
          FROM documents)
        SELECT doc_id, lang FROM ranked WHERE rk <= 20 ORDER BY doc_id
    """
    bit_sums = ",\n               ".join(
        f"sum(ascii(substring(h, {j + 1}, 1)) % 2 * 2 - 1) AS s{j}"
        for j in range(16))
    bit_value = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(16))
    out["dedup_simhash"] = f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
          FROM documents),
        h AS (SELECT doc_id, md5(tok) AS h FROM toks),
        bits AS (
          SELECT doc_id,
               {bit_sums}
          FROM h GROUP BY doc_id)
        SELECT doc_id, CAST({bit_value} AS BIGINT) AS simhash
        FROM bits ORDER BY doc_id
    """
    out["dedup_embedding_cosine"] = f"""
        WITH sk AS (
          SELECT vec_id, embedding,
                 {_sketch_sql('embedding', n_planes=4)} AS sketch
          FROM embeddings)
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(
                 CAST(a.embedding AS DOUBLE[]),
                 CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        FROM sk a JOIN sk b
          ON a.sketch = b.sketch AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(
                CAST(a.embedding AS DOUBLE[]),
                CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
        ORDER BY vec_a, vec_b
    """
    out["ann_knn_bruteforce"] = """
        WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                   WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 round(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]),
                   CAST(q.embedding AS DOUBLE[])), 4) AS cosine
          FROM embeddings e CROSS JOIN q
          WHERE e.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC)
                      AS INT) AS rank
          FROM scored)
        SELECT * FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
    """
    _MEDIA = """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               CAST(doc_id % 640 + 16 AS INT) AS width,
               CAST(doc_id % 480 + 16 AS INT) AS height,
               CAST(doc_id * 40 % 60000 AS INT) AS duration_ms
        FROM documents
    """
    out["mm_resize_plan"] = f"""
        WITH media AS ({_MEDIA})
        SELECT doc_id, width, height,
               round(least(1.0, 256 / greatest(width, height)), 4) AS scale,
               CAST(floor(width * least(1.0, 256 / greatest(width, height)))
                    AS INT) AS target_width,
               CAST(floor(height * least(1.0, 256 / greatest(width, height)))
                    AS INT) AS target_height
        FROM media WHERE media_type LIKE 'image/%' ORDER BY doc_id
    """
    out["mm_frame_sample"] = f"""
        WITH media AS ({_MEDIA})
        SELECT doc_id,
               CAST(unnest(generate_series(0, duration_ms, 1000)) AS INT)
                 AS frame_ts_ms
        FROM media WHERE media_type LIKE 'video/%'
        ORDER BY doc_id, frame_ts_ms
    """
    out["dedup_simhash_pairs"] = f"""
        WITH toks AS (
          SELECT DISTINCT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
          FROM documents),
        h AS (SELECT doc_id, md5(tok) AS h FROM toks),
        bits AS (
          SELECT doc_id,
               {bit_sums}
          FROM h GROUP BY doc_id),
        sig AS (SELECT doc_id, CAST({bit_value} AS BIGINT) AS simhash
                FROM bits)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
        ORDER BY doc_a, doc_b
    """
    out["ann_knn_lsh"] = f"""
        WITH corpus AS (
          SELECT vec_id, embedding,
                 {_sketch_sql('embedding', n_planes=4)} AS sketch
          FROM embeddings),
        q0 AS (
          SELECT vec_id AS query_id, embedding AS q_emb,
                 {_sketch_sql('embedding', n_planes=4)} AS sketch
          FROM embeddings WHERE vec_id < 5),
        q AS (  -- radius-1 multi-probe: own bucket + one-bit-flip buckets
          SELECT query_id, q_emb,
                 unnest([sketch, xor(sketch, 1), xor(sketch, 2),
                         xor(sketch, 4), xor(sketch, 8)]) AS sketch
          FROM q0),
        scored AS (
          SELECT DISTINCT q.query_id, c.vec_id,
                 round(list_cosine_similarity(
                   CAST(c.embedding AS DOUBLE[]),
                   CAST(q.q_emb AS DOUBLE[])), 4) AS cosine
          FROM corpus c JOIN q ON c.sketch = q.sketch
          WHERE c.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC)
                      AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, cosine, rank FROM ranked
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    _corpus_tables = "\n          UNION ALL ".join(
        f"SELECT vec_id, embedding, {t} AS table_id, "
        f"{_sketch_sql('embedding', n_planes=4, table=t)} AS sketch "
        f"FROM embeddings" for t in range(6))
    _query_tables = "\n          UNION ALL ".join(
        f"SELECT vec_id AS query_id, embedding AS q_emb, {t} AS table_id, "
        f"{_sketch_sql('embedding', n_planes=4, table=t)} AS sketch "
        f"FROM embeddings WHERE vec_id < 5" for t in range(6))
    out["ann_knn_lsh_multi"] = f"""
        WITH corpus AS (
          {_corpus_tables}),
        q0 AS (
          {_query_tables}),
        q AS (
          SELECT query_id, q_emb, table_id,
                 unnest([sketch, xor(sketch, 1), xor(sketch, 2),
                         xor(sketch, 4), xor(sketch, 8)]) AS sketch
          FROM q0),
        scored AS (
          SELECT DISTINCT q.query_id, c.vec_id,
                 round(list_cosine_similarity(
                   CAST(c.embedding AS DOUBLE[]),
                   CAST(q.q_emb AS DOUBLE[])), 4) AS cosine
          FROM corpus c
          JOIN q ON c.sketch = q.sketch AND c.table_id = q.table_id
          WHERE c.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC)
                      AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, cosine, rank FROM ranked
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    out["dedup_semantic"] = """
        WITH cent AS (
          SELECT vec_id AS cell_id, embedding AS c_emb
          FROM embeddings ORDER BY vec_id LIMIT 32),
        sc AS (
          SELECT e.vec_id, e.embedding, c.cell_id,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(c.c_emb AS DOUBLE[])) AS c_cos
          FROM embeddings e CROSS JOIN cent c),
        assigned AS (
          SELECT vec_id, embedding, cell_id, c_cos FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY c_cos DESC, cell_id ASC)
                      AS r
            FROM sc) WHERE r = 1),
        dup AS (
          SELECT DISTINCT a.vec_id
          FROM assigned a JOIN assigned b
            ON a.cell_id = b.cell_id AND b.vec_id < a.vec_id
          WHERE round(list_cosine_similarity(
                  CAST(a.embedding AS DOUBLE[]),
                  CAST(b.embedding AS DOUBLE[])), 4) >= 0.35)
        SELECT a.vec_id, a.cell_id, round(a.c_cos, 4) AS centroid_cos,
               (d.vec_id IS NULL) AS keep
        FROM assigned a LEFT JOIN dup d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id
    """
    out["ann_knn_sq8"] = """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings),
        dims AS (
          SELECT i AS d, min(emb[i]) AS mn, max(emb[i]) AS mx
          FROM e, (SELECT unnest(generate_series(1, 64)) AS i)
          GROUP BY i),
        cb AS (SELECT list(mn ORDER BY d) AS mns,
                      list(CASE WHEN mx > mn THEN mx - mn
                                ELSE 1.0 END ORDER BY d) AS rgs
               FROM dims),
        recon AS (
          SELECT vec_id,
                 [cb.mns[i] + least(255, greatest(0,
                     CAST(floor((emb[i] - cb.mns[i]) / cb.rgs[i] * 255)
                          AS INT)))
                  * cb.rgs[i] / 255.0
                  FOR i IN generate_series(1, 64)] AS r
          FROM e, cb),
        q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
              WHERE vec_id < 5),
        scored AS (
          SELECT q.query_id, r.vec_id,
                 round(list_cosine_similarity(r.r, q.q_emb), 4) AS cosine
          FROM recon r, q WHERE r.vec_id <> q.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC,
                                                  vec_id ASC)
                      AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, cosine, rank FROM ranked
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    out["ann_knn_ivf"] = """
        WITH cent AS (
          SELECT vec_id AS cell_id, embedding AS c_emb
          FROM embeddings ORDER BY vec_id LIMIT 32),
        corpus_sc AS (
          SELECT e.vec_id, e.embedding, c.cell_id,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(c.c_emb AS DOUBLE[])) AS c_cos
          FROM embeddings e CROSS JOIN cent c),
        corpus AS (
          SELECT vec_id, embedding, cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY c_cos DESC, cell_id ASC) AS r
            FROM corpus_sc) WHERE r = 1),
        probe_sc AS (
          SELECT e.vec_id AS query_id, e.embedding AS q_emb, c.cell_id,
                 list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                        CAST(c.c_emb AS DOUBLE[])) AS c_cos
          FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5),
        probes AS (
          SELECT query_id, q_emb, cell_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY c_cos DESC, cell_id ASC) AS r
            FROM probe_sc) WHERE r <= 8),
        scored AS (
          SELECT p.query_id, c.vec_id,
                 round(list_cosine_similarity(
                   CAST(c.embedding AS DOUBLE[]),
                   CAST(p.q_emb AS DOUBLE[])), 4) AS cosine
          FROM corpus c JOIN probes p ON c.cell_id = p.cell_id
          WHERE c.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, vec_id ASC)
                      AS INT) AS rank
          FROM scored)
        SELECT query_id, vec_id, cosine, rank FROM ranked
        WHERE rank <= 5 ORDER BY query_id, rank
    """
    # the fake-decoder seam is deterministic sha256 byte statistics — the
    # oracle recomputes f0 = (digest[0] - 127.5) / 128 from the hex digest
    _B0 = ("((instr('0123456789abcdef', substr(sha256(text), 1, 1)) - 1) * 16"
           " + (instr('0123456789abcdef', substr(sha256(text), 2, 1)) - 1))")
    out["mm_media_features"] = f"""
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               CAST(octet_length(encode(text)) AS INT) AS n_bytes,
               round(({_B0} - 127.5) / 128.0, 4) AS f0
        FROM documents ORDER BY doc_id
    """
    # kg_* queries: the oracle is the pure-pandas reference pipeline
    # (widiff_spark/golden.py) materialized as parquet by
    # scripts/make_golden.py — shared per-row kernels (PageDiffer/digest,
    # pinned by tests/test_diff_golden.py against the reference semantics),
    # fully independent orchestration (no Spark, no bucketing, no Arrow, no
    # joins).  DuckDB reads the golden parquet directly.
    import os
    gdir = os.environ.get(
        "WIDIFF_GOLDEN_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "golden", "sf0.01"))
    for q in ("kg_triples", "kg_value_change", "kg_revision",
              "kg_qualifier_change", "kg_reference_change",
              "kg_datatype_metadata_change", "kg_entity_stats",
              "kg_features_text", "kg_features_time", "kg_features_quantity",
              "kg_features_globecoordinate", "kg_features_entity",
              "kg_quarantine", "kg_property_stats", "kg_cohort_rollup",
              "kg_entity_type_stats", "kg_stream_rates",
              "kg_entity_labels"):
        out[q] = f"SELECT * FROM read_parquet('{gdir}/{q}.parquet')"
    # the JVM-only fast label pass must land on the SAME golden dim
    out["kg_entity_labels_fast"] = \
        f"SELECT * FROM read_parquet('{gdir}/kg_entity_labels.parquet')"
    # KG -> training-docs bridge: identical verbalization over the
    # golden label dim (empty clauses dropped, label-less rows skipped)
    out["kg_training_docs"] = f"""
        WITH l AS (
          SELECT * FROM read_parquet('{gdir}/kg_entity_labels.parquet')
          WHERE length(label) > 0),
        v AS (
          SELECT CAST(numeric_id AS BIGINT) AS doc_id,
                 label
                   || CASE WHEN length(description) > 0
                           THEN ' is ' || description ELSE '' END
                   || CASE WHEN length(alias) > 0
                           THEN ', also known as ' || alias ELSE '' END
                   || '.' AS text,
                 'en' AS lang, repo AS source
          FROM l)
        SELECT doc_id, text, lang, source,
               CAST(length(text) AS BIGINT) AS n_chars
        FROM v ORDER BY doc_id
    """
    # edit-session windows re-derived independently over the golden
    # revision parquet (same gap rule, DuckDB window algebra)
    _sess_cte = f"""
        WITH r AS (
          SELECT repo, entity_id, revision_id, timestamp,
                 CAST(strptime(timestamp, '%Y-%m-%dT%H:%M:%SZ')
                      AS TIMESTAMP) AS ts
          FROM read_parquet('{gdir}/kg_revision.parquet')),
        b AS (
          SELECT *, CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch(ts) - epoch(lag(ts) OVER w) > 129600
                     THEN 1 ELSE 0 END AS brk
          FROM r
          WINDOW w AS (PARTITION BY repo, entity_id
                       ORDER BY ts, revision_id)),
        s AS (
          SELECT *, CAST(sum(brk) OVER (
                   PARTITION BY repo, entity_id ORDER BY ts, revision_id
                   ROWS UNBOUNDED PRECEDING) AS INT) AS session_ord
          FROM b),
        sess AS (
          SELECT repo, entity_id, session_ord,
                 count(*) AS n_revisions,
                 min(timestamp) AS first_timestamp,
                 max(timestamp) AS last_timestamp
          FROM s GROUP BY 1, 2, 3)"""
    out["kg_edit_sessions"] = _sess_cte + """
        SELECT * FROM sess ORDER BY repo, entity_id, session_ord"""
    # the built-in session_window path must land on the same sessions
    out["kg_edit_sessions_native"] = out["kg_edit_sessions"]
    out["kg_edit_sessions_stream"] = _sess_cte + """
        SELECT * FROM sess
        WHERE session_ord < (SELECT max(s2.session_ord) FROM sess s2
                             WHERE s2.repo = sess.repo
                               AND s2.entity_id = sess.entity_id)
        ORDER BY repo, entity_id, session_ord"""
    # live P31/P279 (entity, type) pairs re-derived in SQL from the
    # (cleanroom-produced) golden value_change parquet — same independent
    # window derivation the closure oracle uses
    # property-label dim: the expected dim is analytically known from the
    # generator contract (3 revisions per property; middle revision has an
    # EMPTY label + the description; final revision the label + alias), so
    # the oracle re-derives it from the same inlined (pid, label) list —
    # zero engine code, and a last-non-empty regression (e.g. the empty
    # middle label clobbering) breaks the match
    _props = ", ".join(
        f"({pid}, '{label.replace(chr(39), chr(39) * 2)}')"
        for pid, label in sorted(fixtures.PROPERTY_LABELS.items())
        if pid > 0)
    out["kg_property_labels"] = f"""
        WITH props(numeric_id, base_label) AS (VALUES {_props})
        SELECT 'wd-fixture-0' AS repo,
               'P' || CAST(numeric_id AS VARCHAR) AS pid,
               CAST(numeric_id AS BIGINT) AS numeric_id,
               base_label AS label,
               base_label || ' alt' AS alias,
               'property P' || CAST(numeric_id AS VARCHAR) AS description
        FROM props ORDER BY pid"""
    out["kg_type_pairs"] = f"""
        WITH last AS (
          SELECT entity_id, property_id, value_id, action, new_value,
                 row_number() OVER (
                   PARTITION BY entity_id, property_id, value_id
                   ORDER BY revision_id DESC) AS rn
          FROM read_parquet('{gdir}/kg_value_change.parquet')
          WHERE change_target = '' AND property_id IN (31, 279)
        )
        SELECT DISTINCT property_id,
               'Q' || CAST(entity_id AS VARCHAR) AS entity,
               entity_id AS entity_numeric_id,
               replace(new_value, '"', '') AS entity_type,
               CAST(substring(replace(new_value, '"', ''), 2) AS BIGINT)
                 AS entity_type_numeric_id
        FROM last
        WHERE rn = 1 AND action <> 'DELETE'
          AND regexp_matches(new_value, '^"Q[0-9]+"$')
        ORDER BY property_id, entity, entity_type"""
    # mode equivalence: the salted pair-parallel path must reproduce the
    # grouped path's triples exactly
    out["kg_triples_salted"] = out["kg_triples"]
    # the XML dump round-trip must land on the same golden triples
    out["kg_xml_scan"] = out["kg_triples"]
    # the checkpointed incremental sink must materialize the same table
    out["kg_incremental"] = out["kg_value_change"]
    out["kg_streaming_ingest"] = out["kg_value_change"]
    # transitive closure: genuinely independent oracle — DuckDB derives the
    # live edges from the (cleanroom-produced) golden value_change parquet,
    # re-derives the documents hierarchy, and closes via a recursive CTE;
    # the Spark side runs the semi-naive iterative join (closure.py).
    out["kg_transitive_closure"] = f"""
        WITH RECURSIVE last AS (
          SELECT entity_id, property_id, value_id, action, new_value,
                 row_number() OVER (
                   PARTITION BY entity_id, property_id, value_id
                   ORDER BY revision_id DESC) AS rn
          FROM read_parquet('{gdir}/kg_value_change.parquet')
          WHERE change_target = '' AND property_id IN (279, 361, 527, 131)
        ), live AS (
          SELECT DISTINCT property_id,
                 'Q' || CAST(entity_id AS VARCHAR) AS src,
                 replace(new_value, '"', '') AS dst
          FROM last
          WHERE rn = 1 AND action <> 'DELETE'
            AND regexp_matches(new_value, '^"Q[0-9]+"$')
        ), tree AS (
          SELECT 279 AS property_id,
                 'Q' || CAST(CAST(doc_id AS BIGINT) + 10000 AS VARCHAR) AS src,
                 'Q' || CAST(CAST(doc_id AS BIGINT) // 2 + 10000 AS VARCHAR) AS dst
          FROM documents WHERE doc_id > 0
        ), edges AS (
          SELECT property_id, src, dst FROM live
          UNION
          SELECT property_id, src, dst FROM tree
        ), reach AS (
          SELECT property_id, src, dst FROM edges
          UNION
          SELECT e.property_id, e.src, r.dst
          FROM edges e JOIN reach r
            ON r.property_id = e.property_id AND r.src = e.dst
        )
        SELECT property_id, src, dst FROM reach
        ORDER BY property_id, src, dst"""
    return out
