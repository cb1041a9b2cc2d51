#!/usr/bin/env python3
"""Benchmark of record for libgiddy_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (bulk_roundtrip or append_compact; see workloads.py)
on local[4] against the library in this checkout. Inputs come from
``--seed`` and are cached under ``.perfbench_cache/``. The timed loop
runs for ``--seconds``; every op's output is checked.

Standard output: one ``{"detail": ...}`` line with sample counts, the
set-up breakdown and host context (CPU steal share, a fixed-work
capacity probe), then, as the last line, the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of the traced run (spans around every library call,
then replays of each layer on the workload's inputs). The CPU metrics
and ``setup_s`` are scaled by the run's reference job (reference.py);
their raw values are in the detail line.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import config  # noqa: E402

E2E_UNITS = {
    "encode_cpu_s_per_gb": "s/GB",
    "decode_cpu_s_per_gb": "s/GB",
    "lookup_cpu_s": "s",
    "append_cpu_s": "s",
    "compact_cpu_s": "s",
    "stored_bytes_ratio": "ratio",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
# wall-clock figures of the same ops: printed in the detail line with
# their sample counts, not gated (see README.md, "End-to-end metrics")
WALL_UNITS = {
    "encode_gbps": "GB/s",
    "decode_gbps": "GB/s",
    "lookup_p50_s": "s",
    "append_p50_s": "s",
    "compact_p50_s": "s",
}


MEASURED = ("timed", "tail")  # op phases the metrics are taken from


def _measured(ops, kinds: set[str]) -> list:
    return [o for o in ops if o.kind in kinds and o.ok and o.phase in MEASURED]


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def end_to_end(c, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict, dict]:
    """Metric values, their sample counts and the raw values of the
    scaled ones. Per GB: the median op of each input (``Op.group``),
    summed over the inputs, over their source bytes. Per op: the median
    over the ops of the kind. A scaled metric takes each op's CPU
    seconds scaled by the reference runs next to it (reference.py)."""
    from perfbench import reference

    vals, n, raw = {}, {}, {}
    factor = reference.local_factors(c.ops, MEASURED)

    def rate(name, kinds):
        ops = _measured(c.ops, kinds)
        by: dict[str, list] = {}
        for o in ops:
            by.setdefault(o.group, []).append(o)
        gb = sum(_median([o.nbytes for o in g]) for g in by.values()) / 1e9
        wall = sum(_median([o.wall for o in g]) for g in by.values())
        cpu = sum(_median([o.cpu for o in g]) for g in by.values())
        scaled = sum(_median([o.cpu * factor[id(o)] for o in g]) for g in by.values())
        vals[f"{name}_gbps"] = gb / wall if wall else float("nan")
        raw[f"{name}_cpu_s_per_gb"] = cpu / gb if gb else float("nan")
        vals[f"{name}_cpu_s_per_gb"] = scaled / gb if gb else float("nan")
        n[f"{name}_gbps"] = n[f"{name}_cpu_s_per_gb"] = len(ops)

    def per_op(name, kinds):
        ops = _measured(c.ops, kinds)
        vals[f"{name}_p50_s"] = _median([o.wall for o in ops])
        raw[f"{name}_cpu_s"] = _median([o.cpu for o in ops])
        vals[f"{name}_cpu_s"] = _median([o.cpu * factor[id(o)] for o in ops])
        n[f"{name}_p50_s"] = n[f"{name}_cpu_s"] = len(ops)

    rate("encode", {"encode", "append"})
    rate("decode", {"decode"})
    per_op("lookup", {"lookup"})
    per_op("append", {"append"})
    per_op("compact", {"compact"})
    vals["stored_bytes_ratio"] = _median(c.stored_ratio)
    n["stored_bytes_ratio"] = len(c.stored_ratio)
    ref = [o.cpu for o in _measured(c.ops, {"reference"})]
    raw["setup_s"] = setup_s
    vals["setup_s"] = setup_s * reference.REF_CPU_S / _median(ref)
    n["setup_s"] = 1
    vals["peak_rss_mb"], n["peak_rss_mb"] = peak_rss_mb, 1
    raw["reference_cpu_s"] = ref
    return vals, n, raw


def per_layer(c, wl, spark) -> tuple[dict, dict]:
    from perfbench import layers

    vals = layers.span_metrics(c.tr.spans, c.ops)
    vals.update(layers.client_metrics(c))
    vals.update(layers.replay_empty_job(spark))
    sources = wl.replay_sources()
    vals.update(layers.replay_selector(sources))
    kern, info = layers.replay_kernels(sources)
    vals.update(kern)
    table, key_col, _ = c.lookups[-1]
    keys = [k for t, _c, k in c.lookups if t == table]
    bloom, bloom_info = layers.replay_bloom(table, key_col, keys, c.seed)
    vals.update(bloom)
    info.update(bloom_info)
    vals.update(layers.replay_io(*c.last_append))
    return vals, info


def _clean(v: float):
    return None if isinstance(v, float) and math.isnan(v) else v


def run(workload: str, seed: int, seconds: float, trace: bool,
        sizes: config.Sizes = config.FULL, scale: str = "full", spark=None) -> tuple[dict, dict]:
    """One benchmark run -> (result line, detail). Starts and stops its
    own Spark session unless ``spark`` is given."""
    from perfbench import layers, procstat
    from perfbench.inputs import ensure_inputs
    from perfbench.trace import NoTrace, Tracer, check_nesting
    from perfbench.workloads import WORKLOADS, Client

    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; one of {sorted(WORKLOADS)}")
    t_in = time.perf_counter()
    inputs = ensure_inputs(sizes, seed, scale)
    wl = WORKLOADS[workload](inputs, seed)
    inputs_s = time.perf_counter() - t_in

    stat0 = procstat.cpu_times()
    probe_before = procstat.capacity_probe_s()
    own = spark is None
    t0, cpu0 = time.perf_counter(), procstat.tree_cpu_s()
    if own:
        spark = config.start_spark()
        spark.sparkContext.parallelize([0], 1).count()
    session_s, session_cpu_s = time.perf_counter() - t0, procstat.tree_cpu_s() - cpu0
    workdir = os.path.join(config.CACHE, "work", str(os.getpid()))
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        c = Client(spark, Tracer() if trace else NoTrace(), inputs, seed, workdir)
        t0, cpu0 = time.perf_counter(), procstat.tree_cpu_s()
        wl.warmup(c)
        warmup_s, warmup_cpu_s = time.perf_counter() - t0, procstat.tree_cpu_s() - cpu0
        # set-up is charged in CPU seconds of the process tree, like the
        # gated per-op metrics: wall seconds of a cold JVM start swing
        # with the host's load far more than the work done does
        setup_s = session_cpu_s + warmup_cpu_s
        # the reference job's first runs in a session are slow (JIT)
        c.phase = "calibrate"
        for _ in range(3):
            c.reference()

        # whole steps, at least two, until the deadline has passed
        c.phase = "timed"
        t0 = time.perf_counter()
        steps = 0
        while steps < 2 or time.perf_counter() - t0 < seconds:
            wl.step(c, steps)
            steps += 1
        timed_s = time.perf_counter() - t0
        c.phase = "tail"
        wl.tail(c)
        peak_rss = procstat.tree_peak_rss_mb()
        c.phase = "settle"
        c.settle()
        probe_after = procstat.capacity_probe_s()
        steal = procstat.steal_share(stat0, procstat.cpu_times())

        e2e, samples, raw = end_to_end(c, setup_s, peak_rss)
        # program ops; a failed reference run shows in c.errors
        prog = [o for o in c.ops if o.kind != "reference"]
        failed = sum(not o.ok for o in prog)
        detail = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": int(trace),
            "scale": scale,
            "samples": samples,
            "wall": {k: {"value": _clean(e2e[k]), "unit": u, "n": samples[k]}
                     for k, u in WALL_UNITS.items()},
            "unscaled": {k: v if isinstance(v, list) else _clean(v) for k, v in raw.items()},
            "failed_op_frac": failed / max(len(prog), 1),
            "op_wall_s": {k: [round(o.wall, 3) for o in c.ops if o.kind == k]
                          for k in sorted({o.kind for o in c.ops})},
            "op_cpu_s": {k: [round(o.cpu, 2) for o in c.ops if o.kind == k]
                         for k in sorted({o.kind for o in c.ops})},
            "steps": steps, "timed_s": timed_s,
            "setup": {"session_s": session_s, "warmup_s": warmup_s,
                      "session_cpu_s": session_cpu_s, "warmup_cpu_s": warmup_cpu_s},
            "inputs_s": inputs_s,
            "host": {"steal_share": steal,
                     "capacity_probe_s": [probe_before, probe_after]},
            "errors": c.errors[:5],
        }
        if trace:
            layer, info = per_layer(c, wl, spark)
            lw = sorted(o.wall for o in c.ops
                        if o.kind == "lookup" and o.ok and o.phase in MEASURED)
            detail["lookup_p90_s"] = {
                "value": statistics.quantiles(lw, n=10)[-1] if len(lw) >= 2 else None,
                "n": len(lw)}
            detail["trace"] = {"spans": len(c.tr.spans),
                               "nesting_errors": check_nesting(c.tr.spans)[:5], **info}
            detail["trace"]["overhead"] = _overhead(scale, workload, seed, e2e)
            metrics = {k: {"value": _clean(layer[k]), "unit": u}
                       for k, u in layers.UNITS.items()}
            bad = detail["trace"]["nesting_errors"] or info["replay_mismatches"]
        else:
            _save(scale, workload, seed, e2e)
            metrics = {k: {"value": _clean(e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
            bad = False
        missing = [k for k, m in metrics.items() if m["value"] is None]
        if missing:
            detail["errors"].append(f"no samples for {missing}")
        result = {
            "correct": failed == 0 and not c.errors and not missing and not bad,
            "attempted": len(prog),
            "failed": failed,
            "metrics": metrics,
        }
        return result, detail
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        if own:
            config.stop_spark(spark)


def _result_path(scale, workload, seed) -> str:
    return os.path.join(config.CACHE, "results", f"{scale}-{workload}-seed{seed}.json")


def _save(scale, workload, seed, e2e) -> None:
    path = _result_path(scale, workload, seed)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(e2e, f)


def _overhead(scale, workload, seed, traced: dict) -> dict:
    """Traced minus untraced end-to-end numbers, when an untraced run of
    the same workload and seed left its numbers in the cache."""
    try:
        with open(_result_path(scale, workload, seed)) as f:
            plain = json.load(f)
    except FileNotFoundError:
        return {"note": "no untraced run of this workload and seed cached"}
    return {k: traced[k] - plain[k] for k in {**E2E_UNITS, **WALL_UNITS}
            if plain.get(k) is not None and not math.isnan(traced[k])}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "libgiddy_spark", "__init__.py")):
        print(f"perfbench: no libgiddy_spark package under {ROOT}", file=sys.stderr)
        return 2
    config.reexec_pinned(__file__)
    from perfbench import procstat

    try:
        result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        left = procstat.wait_children()
        if left:
            print(f"perfbench: killed leftover processes {left}", file=sys.stderr)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
