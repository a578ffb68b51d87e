"""Structured Streaming surface (SURVEY.md §2.9, T1-T5).

The reference is batch, but its plumbing is streaming-shaped: bounded queues
(backpressure, T1), size-or-time flushes (micro-batches, T2), a 4-week
event-time revert window (bounded state, T3) and a processed-files ledger
(exactly-once source, T4).  The Spark-native statements:

* ``stream_documents``   — file-source stream with ``maxFilesPerTrigger``
  (T1) over the versioned-document contract;
* ``run_streaming_pipeline`` — ``foreachBatch`` + processing-time trigger
  (T2/T5): every micro-batch lands in a staging area and the *checkpointed
  incremental batch pipeline* (pipeline.run_incremental) re-diffs exactly the
  page buckets the batch touched — page diffs need full history, so the
  bucket redo IS the correct streaming-update semantics, and the high-water
  ledger (T4) makes replays idempotent;
* ``revision_rates``     — watermarked sliding-window aggregation over the
  stream (the T3 bounded-event-time shape) for live ingest monitoring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .config import DEFAULT_CONFIG, PipelineConfig
from .schema import DOCUMENTS_SCHEMA


def stream_documents(spark: SparkSession, input_dir: str,
                     max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming scan of a growing documents directory (parquet files)."""
    return (spark.readStream
            .schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def run_streaming_pipeline(stream: DataFrame, staging_dir: str,
                           output_dir: str,
                           checkpoint_dir: str,
                           config: PipelineConfig = DEFAULT_CONFIG,
                           trigger: dict | None = None,
                           mode: str = "grouped"):
    """Micro-batch sink: stage the batch, then incremental-diff the touched
    buckets.  Returns the StreamingQuery (caller awaits/stops).

    The staging area is PARTITIONED BY BUCKET (the checkpoint redo unit):
    each trigger appends only the partitions its batch touches, and the
    incremental re-diff's ``filter_to_buckets`` becomes partition pruning
    — a month of accumulated history costs a trigger only the file listing
    and scan of its touched buckets, not the whole staging directory
    (asserted in tests/test_plans.py).

    ``mode`` passes through to ``run_incremental``; with ``'auto'`` each
    trigger picks the diff mode from its touched buckets' largest page,
    which the checkpoint pass already computes, so no probe job runs.
    Both modes give row-identical output (tests/test_salted_parity.py)."""
    from .pipeline import run_incremental
    from . import checkpoint

    layout_checked = []

    def _assert_bucketed_layout(spark: SparkSession) -> None:
        """Appending bucket-partitioned files into a staging dir written by
        the pre-r5 FLAT layout makes ``spark.read.parquet(staging_dir)``
        fail with conflicting directory structures — detect the legacy
        layout up front and fail with the restage instruction instead of
        a mid-stream Spark error (ADVICE r5).  One listing per stream
        start, via Hadoop FS so any scheme (file/hdfs/s3a) works."""
        if layout_checked:
            return
        layout_checked.append(True)
        try:
            jvm = spark._jvm
            jsc = spark._jsc
            if jvm is None or jsc is None:
                return
        except AttributeError:
            # Spark Connect sessions have no py4j gateway — the guard is
            # best-effort; skip rather than crash the stream before the
            # helpful error could ever fire (ADVICE r6)
            return
        hpath = jvm.org.apache.hadoop.fs.Path(staging_dir)
        fs = hpath.getFileSystem(jsc.hadoopConfiguration())
        if not fs.exists(hpath):
            return
        for status in fs.listStatus(hpath):
            name = status.getPath().getName()
            if status.isFile() and name.endswith(".parquet"):
                raise ValueError(
                    f"staging dir {staging_dir!r} holds FLAT (pre-bucket-"
                    "partitioned) parquet files; the sink now writes "
                    "partitionBy('bucket') and Spark cannot read a mix. "
                    "Restage once before upgrading: read the old staging "
                    "dir, withColumn('bucket', checkpoint.bucket_col()), "
                    "and rewrite it partitioned by bucket (or point "
                    "staging_dir at a fresh location).")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        _assert_bucketed_layout(spark)
        (batch_df.withColumn("bucket", checkpoint.bucket_col())
         .write.mode("append").partitionBy("bucket").parquet(staging_dir))
        staged = spark.read.parquet(staging_dir)
        run_incremental(spark, staged, output_dir, config,
                        run_id=f"stream-batch-{batch_id}", mode=mode)

    writer = (stream.writeStream
              .foreachBatch(process_batch)
              .option("checkpointLocation", checkpoint_dir))
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def revision_rates(stream: DataFrame, window: str = "1 day",
                   slide: str | None = None,
                   watermark: str = "7 days") -> DataFrame:
    """Watermarked windowed ingest rates per repo shard (late rows beyond
    the watermark are dropped — the bounded-state analog of the reference's
    4-week revert window, setup.yml:28-29)."""
    ts = F.to_timestamp(
        F.get_json_object("content", "$.meta.timestamp"))
    win = F.window(F.col("event_ts"), window, slide or window)
    return (stream
            .withColumn("event_ts", ts)
            .filter(F.col("event_ts").isNotNull())
            .withWatermark("event_ts", watermark)
            .groupBy(win, "repo")
            .agg(F.count("*").alias("n_revisions"),
                 F.approx_count_distinct("path").alias("approx_pages"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "repo", "n_revisions", "approx_pages"))


# --------------------------------------------------------------------------- #
# edit-session analytics: batch window + custom stateful streaming operator
# --------------------------------------------------------------------------- #

SESSION_GAP_SECONDS = 36 * 3600  # > 1-day cadence, < the 2-day breaks

_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

SESSION_SCHEMA = ("repo string, entity_id long, session_ord int, "
                  "n_revisions long, first_timestamp string, "
                  "last_timestamp string")


def edit_sessions(revision: DataFrame,
                  gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """Batch sessionization of the revision stream: per (repo, entity),
    revisions closer than ``gap_seconds`` belong to one editing session.
    Pure JVM window algebra — boundary flag via lag, session ordinal via a
    running sum, one aggregate; the oracle re-derives the identical
    windows in DuckDB over the golden revision parquet."""
    ts = F.unix_timestamp(F.to_timestamp("timestamp", _TS_FMT))
    w = Window.partitionBy("repo", "entity_id") \
              .orderBy(ts, F.col("revision_id"))
    prev = F.lag(ts).over(w)
    boundary = F.when(prev.isNull() | ((ts - prev) > gap_seconds), 1) \
                .otherwise(0)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (revision
            .withColumn("_b", boundary)
            .withColumn("session_ord", F.sum("_b").over(wsum).cast("int"))
            .groupBy("repo", "entity_id", "session_ord")
            .agg(F.count("*").alias("n_revisions"),
                 F.min("timestamp").alias("first_timestamp"),
                 F.max("timestamp").alias("last_timestamp")))


def write_revision_stream_chunks(rev: DataFrame, path: str,
                                 chunk_col: str = "week") -> int:
    """TEST-HARNESS ONLY — stages a bounded revision table as a
    file-stream source whose ARRIVAL order is the event-time order, so
    the stateful-streaming tests get a deterministic feed.  The driver
    loop over ``collect()``-ed chunk values with ``coalesce(1)`` writes
    is deliberate here (one file per chunk, sequential mtimes) and is
    exactly what a production staging path must NOT do — production
    ingest is ``run_streaming_pipeline``'s bucket-partitioned append.

    A single parallel write is NOT enough: the file source orders part
    files by modification time, and concurrent part-writes carry racing
    mtimes that can invert the timestamp-range order across runs.  The
    one-file-per-chunk layout therefore comes from ONE single-task
    dynamic-partition write (coalesce(1) + partitionBy on a copy of the
    chunk column, so the chunk column itself stays in the file data like
    the old flat append produced); the lone task writes exactly one
    globally-sorted file per chunk value.  The files are then moved into
    ``path`` in chunk order on the driver and each is explicitly
    ``os.utime``-d one second after its predecessor — monotonicity
    enforced, not assumed (filesystem mtime granularity can be coarse
    enough for fast writes to tie).  One Spark job total, replacing the
    old one-job-per-chunk loop (plus its distinct+collect job) — same
    files, same order, same mtime contract.  ``chunk_col`` must be a
    STRING column whose lexicographic order is the intended arrival
    order (every in-repo caller uses zero-padded date strings); chunk
    order is taken from the partition directory names.  Returns the
    number of chunks written."""
    import os
    import shutil
    from urllib.parse import unquote

    stage = path.rstrip("/") + ".__stage__"
    part_key = "__chunk_part"
    # the local sort MUST lead with the partition-key column: V1Writes
    # requires an ordering on the partition columns and would otherwise
    # insert its own Sort(part_key) — whose alias has a fresh exprId, so
    # EliminateSorts then strips this one and the files would come out in
    # input order (verified against Spark 4.1.2).  Leading with part_key
    # satisfies the writer's requirement and the (timestamp, revision_id)
    # tail survives into each chunk file.
    (rev.withColumn(part_key, F.col(chunk_col))
     .coalesce(1)
     .sortWithinPartitions(part_key, "timestamp", "revision_id")
     .write.mode("overwrite").partitionBy(part_key).parquet(stage))

    chunk_dirs = sorted(
        ((unquote(d.split("=", 1)[1]), os.path.join(stage, d))
         for d in os.listdir(stage) if d.startswith(part_key + "=")),
        key=lambda kv: kv[0])
    os.makedirs(path, exist_ok=True)
    last_mtime = 0.0
    for i, (_ch, d) in enumerate(chunk_dirs):
        for f in sorted(os.listdir(d)):
            if not f.startswith("part-"):
                continue
            dst = os.path.join(path, f"part-{i:05d}-{f[len('part-'):]}")
            shutil.move(os.path.join(d, f), dst)
            target = max(os.path.getmtime(dst), last_mtime + 1.0)
            os.utime(dst, (target, target))
            last_mtime = target
    shutil.rmtree(stage, ignore_errors=True)
    return len(chunk_dirs)


def edit_sessions_stream(spark: SparkSession, revision_dir: str,
                         checkpoint_dir: str, output_dir: str,
                         gap_seconds: int = SESSION_GAP_SECONDS,
                         max_files_per_trigger: int = 2):
    """CLOSED editing sessions over a *streaming* revision source — the
    custom stateful operator path (``applyInPandasWithState``): state per
    (repo, entity) carries the open session (ordinal, count, bounds);
    a revision arriving beyond the gap closes it (emit) and opens the
    next.  Sessions still open at end-of-stream are never emitted — the
    batch oracle excludes each page's last session to match.

    Revision files must arrive in global timestamp order — stage them with
    ``write_revision_stream_chunks`` (sequential per-week appends; a single
    parallel write races part-file mtimes and the file source's
    mtime ordering could invert the range order).  Then per-page arrival
    is monotone and the in-batch sort covers intra-batch shuffling; the
    reference semantics need no out-of-order repair beyond that, matching
    its append-only dump feed.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = ("session_ord int, n long, first string, last string, "
                    "last_epoch long")

    def close_sessions(key, pdfs, state: GroupState):
        import datetime as _dt

        repo, entity_id = key

        def epoch(s: str) -> int:
            return int(_dt.datetime.strptime(
                s, "%Y-%m-%dT%H:%M:%SZ").replace(
                tzinfo=_dt.timezone.utc).timestamp())

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["timestamp", "revision_id"])
        if state.exists:
            ordv, n, first, last, last_epoch = state.get
        else:
            ordv, n, first, last, last_epoch = 0, 0, None, None, None
        closed = []
        for t in rows["timestamp"]:
            e = epoch(t)
            if last_epoch is None:
                ordv, n, first, last = 1, 1, t, t
            elif e - last_epoch > gap_seconds:
                closed.append((repo, entity_id, ordv, n, first, last))
                ordv, n, first, last = ordv + 1, 1, t, t
            else:
                n, last = n + 1, t
            last_epoch = e
        state.update((ordv, n, first, last, last_epoch))
        if closed:
            yield pd.DataFrame(closed, columns=[
                "repo", "entity_id", "session_ord", "n_revisions",
                "first_timestamp", "last_timestamp"])

    src_schema = spark.read.parquet(revision_dir).schema
    src = (spark.readStream
           .schema(src_schema)
           .option("maxFilesPerTrigger", max_files_per_trigger)
           .parquet(revision_dir)
           .select("repo", "entity_id", "timestamp", "revision_id"))
    sessions = (src.groupBy("repo", "entity_id")
                .applyInPandasWithState(
                    close_sessions, SESSION_SCHEMA, state_schema,
                    "append", GroupStateTimeout.NoTimeout))
    return (sessions.writeStream
            .format("parquet")
            .option("path", output_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start())


def edit_sessions_native(revision: DataFrame,
                         gap_seconds: int = SESSION_GAP_SECONDS) -> DataFrame:
    """The same sessionization through Spark's BUILT-IN session window
    (``F.session_window`` — native JVM session merging, the idiomatic
    operator when it exists).  Gap semantics: session_window(gap) splits at
    diff >= gap while the lag rule splits at diff > gap, so the native gap
    is ``gap_seconds + 1`` — identical sessions for whole-second
    timestamps.  Output is column-identical to edit_sessions and checked
    against the same oracle (`kg_edit_sessions_native`)."""
    ts = F.to_timestamp("timestamp", _TS_FMT)
    agg = (revision
           .groupBy("repo", "entity_id",
                    F.session_window(ts, f"{gap_seconds + 1} seconds")
                    .alias("_w"))
           .agg(F.count("*").alias("n_revisions"),
                F.min("timestamp").alias("first_timestamp"),
                F.max("timestamp").alias("last_timestamp")))
    w = Window.partitionBy("repo", "entity_id").orderBy(F.col("_w.start"))
    return (agg.withColumn("session_ord",
                           F.row_number().over(w).cast("int"))
            .select("repo", "entity_id", "session_ord", "n_revisions",
                    "first_timestamp", "last_timestamp"))


# --------------------------------------------------------------------------- #
# corpus-intake quality monitor (training-documents stream)
# --------------------------------------------------------------------------- #

TRAINING_DOCS_SCHEMA = "doc_id long, text string, lang string, " \
    "source string, n_chars long"


def stream_training_documents(spark: SparkSession, input_dir: str,
                              max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming scan of a growing training-documents directory."""
    return (spark.readStream
            .schema(TRAINING_DOCS_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def document_quality_rates(stream: DataFrame, window: str = "1 hour",
                           watermark: str = "2 hours",
                           min_tokens: int = 15) -> DataFrame:
    """Watermarked per-source windowed quality rollup over a document
    stream — the live corpus-intake dashboard: doc counts, mean token
    length, and the short-doc count (the corpus_filter too_short rule)
    per (window, source).  Late rows beyond the watermark drop, so state
    is bounded by (#open windows x #sources) regardless of stream age —
    **in append/update output mode only**: in ``complete`` mode Spark
    must retain every window ever emitted and the watermark does not
    evict, so state grows with stream age.  The in-repo consumers (driver
    query / bench) use complete mode deliberately — they run bounded
    availableNow fixtures and need every window for the oracle compare;
    a production dashboard should use update mode.

    Expects an event-time column ``ts`` (real intake pipelines carry an
    ingestion timestamp; the driver query derives one deterministically
    from doc_id).  All aggregates are per-row expressions + partial
    aggregation — streaming-safe and identical to the batch plan."""
    toks = F.split(F.trim("text"), r"\s+")
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), "source")
            .agg(F.count("*").alias("n_docs"),
                 F.round(F.avg(F.size(toks)), 4).alias("avg_tokens"),
                 F.sum(F.when(F.size(toks) < min_tokens, 1).otherwise(0))
                 .cast("int").alias("n_short"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    "source", "n_docs", "avg_tokens", "n_short"))
