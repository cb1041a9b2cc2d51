"""The reference job, the benchmark's yardstick for host speed.

The 4 vCPUs of a shared host run in faster and slower states, lasting
from under a minute to many minutes; in a slow one every op, the JVM
start included, costs up to half as many CPU seconds again. A run
cannot leave the state it lands in, so the CPU metrics are scaled by a
fixed job that does not touch the library and is run between the ops
of the timed loop: Spark hashes ``REF_ROWS`` generated rows in
``config.CORES`` tasks and sums the hashes. It is CPU-bound work on
every core, as the ops are, and it starts no Python worker and
allocates nothing per row, so it adds nothing to ``peak_rss_mb``.

A state can also change within a run, so each op's CPU seconds are
scaled by the reference runs next to it: ``cpu * REF_CPU_S / ref``,
with ``ref`` the mean CPU seconds of the nearest reference run before
and the nearest after the op. That is what the op would cost on a host
state where the reference job takes ``REF_CPU_S``. ``setup_s`` comes
before any reference run and is scaled by the run's median.
"""

from __future__ import annotations

# CPU seconds of the reference job that scaled metrics are expressed
# at: about its median on the 4-vCPU host the benchmark was built on
REF_CPU_S = 2.5
REF_ROWS = 200_000_000


def reference_job(spark) -> int:
    """Run the reference job; returns its sum of hashes."""
    from pyspark.sql import functions as F

    from . import config

    df = spark.range(0, REF_ROWS, 1, config.CORES)
    # fixed-width columns only: a string per row would grow the JVM heap
    h = F.xxhash64("id", F.col("id") * 1.5)
    return df.select(h.bitwiseAND(F.lit(0xFFFFFFFF)).alias("h")).agg(F.sum("h")).collect()[0][0]


def local_factors(ops, phases) -> dict[int, float]:
    """``id(op)`` -> the factor its CPU seconds are scaled by, for every
    op of ``phases``, from the reference ops of ``phases`` around it."""
    ops = [o for o in ops if o.phase in phases]
    refs = [i for i, o in enumerate(ops) if o.kind == "reference" and o.ok]
    out = {}
    for i, o in enumerate(ops):
        before = [j for j in refs if j < i][-1:]
        after = [j for j in refs if j > i][:1]
        near = [ops[j].cpu for j in before + after]
        out[id(o)] = REF_CPU_S / (sum(near) / len(near)) if near else float("nan")
    return out
