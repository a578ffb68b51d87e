"""Self-test of the benchmark at tiny input sizes (about ten minutes).

    python3 perfbench/selftest.py

For each workload it runs ``run.py --size tiny`` untraced and traced and
asserts that the last stdout line is the result object, that the outputs
checked correct, that every metric BENCHMARK.json declares is printed with
its declared unit, that ``pipeline.mode_salted`` is 1 on hot_page and 0 on
bulk_build, that the spans file parses, and that no process the run started
is left once it has exited.  It also runs the benchmark in a directory
holding only BENCHMARK.json and perfbench/, where it must fail without
printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import procmon

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    # this process is a subreaper, so anything the run left is below it
    left = procmon.tree(os.getpid())[1:]
    assert not left, f"processes left after the run: {left}"
    return proc


def check_workload(workload: str, declared: dict) -> None:
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        proc = _run(ROOT, workload, trace)
        assert proc.returncode == 0, proc.stderr[-2000:]
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"], proc.stderr[-2000:]
        assert result["attempted"] >= 1 and result["failed"] == 0
        want = {m["name"]: m["unit"] for m in declared[kind]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, (workload, kind, set(want) ^ set(got))
        for k, v in result["metrics"].items():
            assert isinstance(v["value"], (int, float)), (k, v)
        if trace:
            salted = result["metrics"]["pipeline.mode_salted"]["value"]
            assert salted == (1 if workload == "hot_page" else 0), salted
            spans_path = os.path.join(
                ROOT, ".perfbench_out", f"spans-{workload}-3.json")
            with open(spans_path) as f:
                spans = json.load(f)
            assert spans and all(
                {"run_id", "span_id", "name", "layer", "parent", "start",
                 "end"} <= set(s) and s["end"] >= s["start"] for s in spans)
            assert len({s["run_id"] for s in spans}) == 1
        print(f"ok {workload} trace={trace}")


def check_bare_directory() -> None:
    """Only BENCHMARK.json and perfbench/: must fail, printing no result."""
    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run(bare, "bulk_build", 0)
        assert proc.returncode != 0, "bare directory run succeeded"
        assert '"metrics"' not in proc.stdout, proc.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok bare directory fails")


def main() -> int:
    procmon.become_subreaper()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    check_bare_directory()
    for w in declared["workloads"]:
        check_workload(w["name"], declared)
    return 0


if __name__ == "__main__":
    sys.exit(main())
