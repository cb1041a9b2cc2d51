#!/usr/bin/env python3
"""Self-test of the benchmark at toy sizes, in one Spark session.

    python3 perfbench/selftest.py

Runs every workload once untraced and once traced, and checks:

- the output checks tell a wrong output from a right one: the table
  hash and the lookup row comparison on a source file and on a copy of
  it with one value changed;
- every run's outputs are correct and no op failed;
- the metric names and units are exactly those in BENCHMARK.json;
- the trace arithmetic: each child span lies within its parent and
  every self time is >= 0, on the recorded spans and on a hand-made
  trace with known answers.

Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import config  # noqa: E402


def _trace_arithmetic() -> list[str]:
    from perfbench.trace import Span, check_nesting, self_times

    spans = [Span(0, "op", 0.0, 10.0, None, 0),
             Span(1, "a", 1.0, 4.0, 0, 0),
             Span(2, "b", 3.0, 6.0, 0, 0),   # overlaps a: covered once
             Span(3, "c", 2.0, 3.0, 1, 0)]
    st = self_times(spans)
    errs = []
    want = {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}
    for sid, v in want.items():
        if abs(st[sid] - v) > 1e-12:
            errs.append(f"self time of span {sid}: {st[sid]} != {v}")
    if check_nesting(spans):
        errs.append(f"valid trace flagged: {check_nesting(spans)}")
    bad = spans + [Span(4, "d", 9.0, 11.0, 0, 0)]
    if not check_nesting(bad):
        errs.append("child outside its parent not flagged")
    return errs


def _checks_catch_errors(spark, inputs) -> list[str]:
    import pyarrow as pa
    import pyarrow.compute as pc

    from perfbench import check

    errs = []
    src = inputs.lineitem
    rel = src.files[0][0]
    table = src.read(rel)
    col = table.column("l_extendedprice")
    bad = table.set_column(table.schema.get_field_index("l_extendedprice"),
                           "l_extendedprice",
                           pc.if_else(pc.equal(pa.array(range(len(col))), 0),
                                      pc.add(col, 0.01), col))
    df = spark.read.parquet(os.path.join(src.path, rel))
    if check.spark_table_hash(df, src.schema()) != src.hashes[rel]:
        errs.append("table hash of a source file != its stored hash")
    if check.spark_table_hash(spark.createDataFrame(bad), src.schema()) == src.hashes[rel]:
        errs.append("table hash misses a changed value")
    shuffled = table.take(pa.array(range(table.num_rows - 1, -1, -1)))
    if not check.same_rows(shuffled, table):
        errs.append("same_rows rejects the same rows in another order")
    if check.same_rows(bad, table) or check.same_rows(table.slice(1), table):
        errs.append("same_rows accepts a changed value or a missing row")
    return errs


def main() -> int:
    config.reexec_pinned(__file__)
    from perfbench import layers, procstat
    from perfbench.inputs import ensure_inputs
    from perfbench.run import E2E_UNITS, run
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    errs = _trace_arithmetic()
    if declared_e2e != E2E_UNITS:
        errs.append(f"end_to_end in BENCHMARK.json != run.E2E_UNITS: {declared_e2e} vs {E2E_UNITS}")
    if declared_layer != layers.UNITS:
        errs.append("per_layer in BENCHMARK.json != layers.UNITS")
    if {w["name"] for w in bench["workloads"]} != set(WORKLOADS):
        errs.append("workloads in BENCHMARK.json != workloads.WORKLOADS")

    seed = 3
    spark = config.start_spark()
    try:
        inputs = ensure_inputs(config.TOY, seed, "toy")
        inputs.ensure_hashes(spark)
        errs += _checks_catch_errors(spark, inputs)
        for name in WORKLOADS:
            for trace in (0, 1):
                result, detail = run(name, seed, 1.0, bool(trace), config.TOY, "toy", spark)
                tag = f"{name} trace={trace}"
                want = layers.UNITS if trace else E2E_UNITS
                got = {k: m["unit"] for k, m in result["metrics"].items()}
                if got != want:
                    errs.append(f"{tag}: metric names/units {sorted(got)} != {sorted(want)}")
                if set(result) != {"correct", "attempted", "failed", "metrics"}:
                    errs.append(f"{tag}: result keys {sorted(result)}")
                if not result["correct"] or result["failed"]:
                    errs.append(f"{tag}: correct={result['correct']} failed={result['failed']} "
                                f"errors={detail['errors']}")
                for k, m in result["metrics"].items():
                    if not isinstance(m["value"], (int, float)) or m["value"] <= 0:
                        errs.append(f"{tag}: metric {k} = {m['value']} (want a positive number)")
                if trace and detail["trace"]["nesting_errors"]:
                    errs.append(f"{tag}: {detail['trace']['nesting_errors']}")
                print(f"selftest: {tag}: attempted={result['attempted']} "
                      f"failed={result['failed']}", file=sys.stderr)
    finally:
        config.stop_spark(spark)
        procstat.wait_children()
    for e in errs:
        print("selftest FAIL:", e)
    print("selftest:", "FAIL" if errs else "ok")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
