"""widiff_spark benchmark: seeded inputs -> ``pipeline.run_incremental``.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload bulk_build --seed 1 --seconds 10 --trace 0

Workloads:

* ``bulk_build`` - the fixtures derived corpus (seeded documents, 3-8
  revisions each) built into an empty output directory.  Grouped diff.
* ``hot_page``   - a small balanced background plus one page with more
  revisions than the skew threshold, so ``choose_mode`` picks the salted
  diff.

Both call ``pipeline.run_incremental(mode="auto")`` and write the
workload's ``TABLES``.  One process: start a pinned local Spark session,
generate the input, run a discarded warm-up (``run_pipeline`` in grouped
mode over a small input, evaluating the written tables), then replay the
input through the cleanroom implementation as the reference and time
``run_incremental`` calls while the next one is expected to end within
``--seconds`` (at least one).  ``setup_s`` is session start + input
generation + warm-up.  Before every call, outside its timed window, the
cache is cleared (blocking), the output directory deleted and garbage
collected; after it the written tables are checked against the cleanroom
replay.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes an
untraced and then a traced (``layers.traced_call``) call and prints the
per-layer metrics.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

The command runs the benchmark in a child process and waits at most
``DEADLINE_S`` for it.  Whichever way the child ends (normal exit,
failure, deadline, or a signal to this process), every process it started
is killed and reaped before this process exits: this process is a child
subreaper, so the JVM and its Python workers stay its descendants even if
the child dies first.  The child is killed if this process dies.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# A run must end within 180 s.  Past this many seconds the child and all
# its descendants are killed, so no JVM or Python worker outlives a run.
DEADLINE_S = 165
# set in the child's environment: the work directory the supervisor owns
WORK_ENV = "PERFBENCH_WORK"

# Tables each call writes.  bulk_build writes the change-triple table, the
# per-entity stats (with cohorts) and the two largest feature tables (text
# and quantity), so enrich and features do executor work; hot_page writes
# the triples only, so the salted diff sets its time.  Every further table
# adds ~1-2 s of fixed cost to each call and to the warm-up (PK dedup plus
# a 64-bucket partitioned write) that the run budget has no room for.
TABLES = {
    "bulk_build": ["value_change", "entity_stats", "features_text",
                   "features_quantity"],
    "hot_page": ["value_change"],
}

# docs: background documents; hot: revisions on the hot page; warm_docs:
# the discarded warm-up input; threshold: WIDIFF_SKEW_THRESHOLD
SIZES = {
    "full": {
        "bulk_build": dict(docs=500, hot=0, warm_docs=20),
        "hot_page": dict(docs=10, hot=210, warm_docs=20),
        "threshold": 200, "sample_pages": 25,
    },
    "tiny": {
        "bulk_build": dict(docs=30, hot=0, warm_docs=5),
        "hot_page": dict(docs=10, hot=60, warm_docs=5),
        "threshold": 40, "sample_pages": 5,
    },
}


def _settings(size: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f
                          if line.startswith("MemTotal")).split()[1])
    # a quarter of physical RAM, at most 2 GiB: the engine's 24g default
    # exceeds small hosts, and the inputs here need far less
    driver_mb = max(1024, min(2048, mem_kb // 1024 // 4))
    # the inputs are a few MB, so AQE coalesces most shuffles to one
    # partition anyway; half the cores keeps the diff at two buckets per
    # core (extract_changes uses 4 x partitions) with fewer tiny tasks
    return {"master": f"local[{cores}]", "cores": cores,
            "shuffle_partitions": max(1, cores // 2),
            "driver_memory": f"{driver_mb}m",
            "skew_threshold": SIZES[size]["threshold"]}


def _prepare_env(work: str, settings: dict) -> None:
    """Everything the JVM and its Python workers inherit: the checkout on
    the Python path, local dirs and temp files inside the work dir."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["WIDIFF_SKEW_THRESHOLD"] = str(settings["skew_threshold"])
    # no perf-data file: the JVM would write it to /tmp, outside the work dir
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options",
        shlex.quote(f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                    "-XX:-UsePerfData"),
        "pyspark-shell"])
    sys.path.insert(0, ROOT)


def _inputs(seed: int, docs: int, hot: int):
    import pandas as pd
    import gen
    frames = [gen.bulk_rows(seed, docs)]
    if hot:
        frames.append(gen.hot_rows(seed, hot))
    return pd.concat(frames, ignore_index=True)


class Bench:
    def __init__(self, args, work: str, settings: dict):
        self.args = args
        self.work = work
        self.settings = settings
        self.spec = SIZES[args.size][args.workload]
        self.tables = TABLES[args.workload]
        self.spark = None
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0

    # -- set-up ----------------------------------------------------------
    def setup(self) -> float:
        import gen
        from widiff_spark.pipeline import build_session
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            master=self.settings["master"],
            shuffle_partitions=self.settings["shuffle_partitions"],
            driver_memory=self.settings["driver_memory"])
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()

        spec, n_files = self.spec, self.settings["cores"] * 2
        self.rows = _inputs(self.args.seed, spec["docs"], spec["hot"])
        gen.write_parquet(self.rows, os.path.join(self.work, "input"), n_files)
        self.docs = self.spark.read.parquet(os.path.join(self.work, "input"))
        t2 = time.perf_counter()

        # warm-up: run_pipeline over a small balanced input (another seed),
        # evaluating the tables the calls write; it starts the Python
        # workers and compiles the shared paths.  It runs grouped on both
        # workloads, so hot_page's timed call keeps the salted path's first
        # use.  A salted warm-up added ~20 s to every run and, on four
        # seeds, spread hot_page's wall time wider (25-33 s, against
        # 31-36 s); a full run_incremental warm-up added ~10 s.
        warm = _inputs(self.args.seed + 7919, spec["warm_docs"], 0)
        gen.write_parquet(warm, os.path.join(self.work, "warm"), n_files)
        from widiff_spark import pipeline
        res = pipeline.run_pipeline(
            self.spark,
            self.spark.read.parquet(os.path.join(self.work, "warm")),
            mode="grouped")
        for name in self.tables:
            res.tables[name].count()
        res.unpersist()
        t3 = time.perf_counter()
        print(f"setup: session_s={t1 - t0:.2f} input_s={t2 - t1:.2f} "
              f"warmup_s={t3 - t2:.2f}")
        return t3 - t0

    # -- one run_incremental call ---------------------------------------
    def clean_slate(self) -> None:
        """Clear every cache (blocking), delete the output, collect garbage."""
        spark = self.spark
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        left = jsc.getPersistentRDDs().size()
        if left:
            raise RuntimeError(f"{left} persistent RDDs survived clearing")
        shutil.rmtree(self.out, ignore_errors=True)
        gc.collect()
        spark._jvm.System.gc()

    @property
    def out(self) -> str:
        return os.path.join(self.work, "out")

    def call(self, group: str | None = None) -> dict:
        from widiff_spark import pipeline
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, "run_incremental")
        try:
            return pipeline.run_incremental(
                self.spark, self.docs, self.out,
                tables=self.tables, mode="auto")
        finally:
            if group:
                sc._jsc.clearJobGroup()

    def checked(self, fn) -> float | None:
        """Clear the slate, then run one timed call; a raise or a failed
        output check counts as failed.  Returns the call's wall seconds,
        or None if it failed."""
        import check
        import gen
        self.attempted += 1
        try:
            self.clean_slate()
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            errs = check.run_mismatches(self.out, self.ref, self.tables)
            if self.attempted == 1:
                hot = (gen.HOT_DOC_ID + 10000,) if self.spec["hot"] else ()
                errs += check.sample_mismatches(
                    self.out, self.ref, self.tables, self.args.seed,
                    SIZES[self.args.size]["sample_pages"], always=hot)
        except Exception:
            wall, errs = None, [traceback.format_exc(limit=3)]
        if errs:
            self.failed += 1
            self.errors += errs
            return None
        return wall

    # -- the two modes ---------------------------------------------------
    def end_to_end(self, setup_s: float, sampler) -> dict:
        walls = []
        sampler.reset_peak()
        t_start = time.perf_counter()
        while True:
            t0 = time.perf_counter()
            wall = self.checked(self.call)
            if wall is not None:
                walls.append(wall)
            # start another call only if it should end inside the window
            last = time.perf_counter() - t0
            if time.perf_counter() - t_start + last > self.args.seconds:
                break
        peak = sampler.peak_mb()
        if not walls:
            return {}
        wall = statistics.median(walls)
        return {
            "wall_s": wall,
            "revisions_per_s": self.ref.n_revisions / wall,
            "triples_per_s": self.ref.triples[0] / wall,
            "peak_rss_mb": peak,
            "setup_s": setup_s,
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }

    def traced(self) -> dict:
        import layers
        import procmon
        spark, sc = self.spark, self.spark.sparkContext
        tracer = layers.Tracer(sc)
        untraced_group = f"U{tracer.run_id}:all"

        gc0, cpu0 = layers.jvm_gc_seconds(spark), procmon.tree_cpu_seconds(
            os.getpid())
        untraced = self.checked(lambda: self.call(untraced_group))
        gc_s = layers.jvm_gc_seconds(spark) - gc0
        cpu_s = procmon.tree_cpu_seconds(os.getpid()) - cpu0
        cached_after = layers.cached_mb(sc)

        counts = {}
        traced = self.checked(lambda: counts.update(layers.traced_call(
            spark, self.docs, self.out, self.tables, tracer)))
        if untraced is None or traced is None:
            return {}
        files, nbytes, parts = _walk_output(self.out)

        spans_path = os.path.join(
            ROOT, ".perfbench_out",
            f"spans-{self.args.workload}-{self.args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f, indent=1)
        print(f"spans: {os.path.relpath(spans_path, ROOT)}")

        g = layers.group_metrics(sc, f"{tracer.run_id}:")
        u = layers.group_metrics(sc, "U" + tracer.run_id + ":")["all"]
        selft = tracer.self_seconds()
        span_s = {}
        for s in tracer.spans:
            span_s[s["name"]] = span_s.get(s["name"], 0.0) + \
                s["end"] - s["start"]
        gl = {layer: g.get(layer, layers.EMPTY_GROUP)
              for layer in layers.LAYERS}
        upd, pairs = (counts["feature_update_rows"],
                      counts["feature_distinct_pairs"])
        m = {
            "checkpoint.pending_s": span_s["checkpoint.pending_buckets"],
            "checkpoint.record_s": span_s["checkpoint.record"],
            "checkpoint.buckets_redone": counts["buckets_redone"],
            "checkpoint.rows_scanned": gl["checkpoint"]["input_records"],
            "checkpoint.redo_ratio":
                counts["parse_rows_in"] / max(1, self.n_input_revisions()),
            "pipeline.probe_s": span_s["pipeline.choose_mode"],
            "pipeline.mode_salted": int(counts["mode"] == "salted"),
            "pipeline.jobs": u["jobs"],
            "pipeline.stages": u["stages"],
            "parse.wall_s": selft["parse"],
            "parse.executor_cpu_s": gl["parse"]["cpu_s"],
            "parse.rows_in": counts["parse_rows_in"],
            "parse.rows_ok": counts["parse_rows_ok"],
            "parse.rows_quarantined": counts["parse_rows_quarantined"],
            "parse.output_mb": counts["parse_output_mb"],
        }
        for layer in ("diff", "salted"):
            p50, mx = layers.task_quantiles(gl[layer]["task_s"])
            ran = counts["mode"] == ("salted" if layer == "salted"
                                     else "grouped")
            m.update({
                f"{layer}.wall_s": selft[layer],
                f"{layer}.executor_cpu_s": gl[layer]["cpu_s"],
                f"{layer}.shuffle_write_mb": gl[layer]["shuffle_write_mb"],
                f"{layer}.spill_mb": gl[layer]["spill_mb"],
                f"{layer}.task_p50_s": p50,
                f"{layer}.task_max_s": mx,
                f"{layer}.rows_out": counts["diff_rows_out"] if ran else 0,
            })
        m.update({
            "diff.interior_diff_s": counts["interior_diff_s"],
            "diff.interior_process_s": counts["interior_process_s"],
            "enrich.wall_s": selft["enrich"],
            "enrich.shuffle_write_mb": gl["enrich"]["shuffle_write_mb"],
            "enrich.rows_out": counts["enrich_rows_out"],
            "features.wall_s": selft["features"],
            "features.executor_cpu_s": gl["features"]["cpu_s"],
            "features.update_rows": upd,
            "features.distinct_pairs": pairs,
            "features.pair_reuse": upd / max(1, pairs),
            "materialize.wall_s": selft["materialize"],
            "materialize.bytes_written_mb": nbytes / 2**20,
            "materialize.files_written": files,
            "materialize.partitions_written": parts,
            "run.gc_s": gc_s,
            "run.tree_cpu_s": cpu_s,
            "run.cached_mb_after": cached_after,
            "run.unattributed_s": selft["run"],
            # the traced call runs second, so it is warmer than the
            # untraced one it is compared with: this reads low by the
            # warming between two calls (~5-15 % of a call)
            "run.tracing_overhead_frac": traced / untraced - 1.0,
        })
        return m

    def n_input_revisions(self) -> int:
        return int(self.rows["path"].str.match(r"^Q\d+$").sum())


def _walk_output(out: str) -> tuple[int, int, int]:
    """(parquet files, bytes, table partitions) written under ``out``,
    excluding the checkpoint ledger."""
    files = nbytes = parts = 0
    for table in os.listdir(out):
        if table.startswith("_"):
            continue
        for dirpath, _dirs, names in os.walk(os.path.join(out, table)):
            data = [n for n in names if n.endswith(".parquet")]
            files += len(data)
            nbytes += sum(os.path.getsize(os.path.join(dirpath, n))
                          for n in data)
            parts += bool(data)
    return files, nbytes, parts


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bulk_build", "hot_page"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="input scale; 'tiny' is for the self-test")
    args = ap.parse_args(argv)
    if WORK_ENV in os.environ:
        return bench_main(args, os.environ[WORK_ENV])
    return supervise(argv, args.workload)


def supervise(argv: list[str], workload: str) -> int:
    """Run the benchmark in a child process for at most ``DEADLINE_S``;
    however it ends, kill and reap every process it left and delete its
    work directory.  Returns the child's exit code."""
    sys.path.insert(0, HERE)
    import procmon
    procmon.become_subreaper()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{workload}-{os.getpid()}")
    stop_signals = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)

    def on_signal(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in stop_signals:
        signal.signal(sig, on_signal)
    child = None
    try:
        child = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), *argv],
            env={**os.environ, WORK_ENV: work},
            preexec_fn=procmon.die_with_parent)
        rc = child.wait(timeout=DEADLINE_S)
        return rc if rc >= 0 else 128 - rc
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s and was killed",
              file=sys.stderr)
        return 1
    finally:
        signal.pthread_sigmask(signal.SIG_BLOCK, stop_signals)
        if child is not None:
            procmon.kill_and_reap(child)
        shutil.rmtree(work, ignore_errors=True)


def bench_main(args, work: str) -> int:
    """The benchmark proper, in the supervised child."""
    for pkg in ("widiff_spark", "cleanroom"):
        if not os.path.isfile(os.path.join(ROOT, pkg, "__init__.py")):
            print(f"perfbench: {pkg}/ not found next to perfbench/ in "
                  f"{ROOT}; run from the root of a full checkout",
                  file=sys.stderr)
            return 2

    settings = _settings(args.size)
    _prepare_env(work, settings)
    sys.path.insert(0, HERE)
    import check
    import procmon

    print("settings: " + json.dumps({**settings, "workload": args.workload,
                                     "seed": args.seed, "size": args.size}))
    sampler = procmon.RssSampler(os.getpid()).start()
    bench = Bench(args, work, settings)
    try:
        setup_s = bench.setup()
        bench.ref = check.Reference(bench.rows.to_dict("records"))
        if args.trace:
            metrics = bench.traced()
        else:
            metrics = bench.end_to_end(setup_s, sampler)
    finally:
        if bench.spark is not None:
            _stop_spark(bench.spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    for e in bench.errors:
        print("check failed: " + e.strip(), file=sys.stderr)
    units = _units("per_layer" if args.trace else "end_to_end")
    correct = not bench.errors and set(metrics) == set(units)
    print(json.dumps({
        "correct": correct, "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units if k in metrics}}))
    return 0


def _stop_spark(spark) -> None:
    """Stop the session, close the JVM's stdin (the JVM and its Python
    worker daemons exit on EOF) and wait until every process this run
    started has ended."""
    import procmon
    from pyspark import SparkContext
    started = procmon.tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    alive = procmon.wait_gone(started, timeout=30)
    if alive:
        raise RuntimeError(f"processes still running after stop: {alive}")


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
