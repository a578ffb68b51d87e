"""The benchmark's traced call against the engine it traces.

``perfbench/layers.traced_call`` re-makes ``pipeline.run_incremental``'s
engine calls from outside the engine, one span per layer.  Running it here
at the benchmark's tiny input size, in both diff modes, makes an engine API
change that breaks ``perfbench/run.py --trace 1`` fail this suite instead
of the benchmark run.  The written tables are checked against the cleanroom
replay the way the benchmark checks them.
"""

from __future__ import annotations

import os
import sys

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench")


@pytest.mark.parametrize("workload,mode", [("bulk_build", "grouped"),
                                           ("hot_page", "salted")])
def test_traced_call_at_tiny_size(spark, tmp_path, monkeypatch, workload,
                                  mode):
    monkeypatch.syspath_prepend(PERFBENCH)
    monkeypatch.setattr(sys, "dont_write_bytecode", True)
    import check
    import gen
    import layers
    import run

    sizes = run.SIZES["tiny"]
    monkeypatch.setenv("WIDIFF_SKEW_THRESHOLD", str(sizes["threshold"]))
    rows = run._inputs(3, sizes[workload]["docs"], sizes[workload]["hot"])
    gen.write_parquet(rows, str(tmp_path / "input"), 4)
    docs = spark.read.parquet(str(tmp_path / "input"))
    out, tables = str(tmp_path / "out"), run.TABLES[workload]

    tracer = layers.Tracer(spark.sparkContext)
    counts = layers.traced_call(spark, docs, out, tables, tracer)

    assert counts["mode"] == mode
    assert counts["parse_rows_in"] == rows["path"].str.match(r"^Q\d+$").sum()
    assert counts["parse_rows_quarantined"] > 0
    assert {s["layer"] for s in tracer.spans} >= {
        "checkpoint", "pipeline", "parse", "enrich", "materialize",
        "diff" if mode == "grouped" else "salted"}
    ref = check.Reference(rows.to_dict("records"))
    assert check.run_mismatches(out, ref, tables) == []
