"""Pinned configuration owned by the benchmark.

Nothing here reads the caller's environment: run.py re-executes the
interpreter with the environment built by :func:`pinned_env`, which
drops every ``SPARK_GRAFT_*`` / ``LIBGIDDY_SPARK_*`` variable, so the
library runs on its own defaults whatever the shell exported.
"""

from __future__ import annotations

import dataclasses
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
PINNED_MARK = "PERFBENCH_PINNED"

CORES = 4
DRIVER_MEMORY = "4g"
ARROW_BATCH = 65536
EXCHANGE = "direct"
COMPACT_EVERY = 2  # append_compact: compact + vacuum after every 2nd slice


@dataclasses.dataclass(frozen=True)
class Sizes:
    """Input sizes and op schedule of one benchmark scale."""

    bulk_webtext_rows: int   # bulk_roundtrip webtext snapshot
    bulk_webtext_files: int
    lineitem_orders: int     # ~4 lineitem rows per order
    slice_rows: int          # append_compact file size, in l_orderkey order
    row_group_bytes: int     # webtext source row-group target (Arrow bytes)


FULL = Sizes(
    bulk_webtext_rows=24_000, bulk_webtext_files=12,
    lineitem_orders=37_500,
    slice_rows=10_000,
    row_group_bytes=8 << 20,
)
TOY = Sizes(
    bulk_webtext_rows=3_000, bulk_webtext_files=3,
    lineitem_orders=2_500,
    slice_rows=1_000,
    row_group_bytes=256 << 10,
)


def pinned_env(base: dict[str, str]) -> dict[str, str]:
    """The process environment every benchmark run executes under.

    The glibc and Arrow allocator variables must be set before the
    interpreter's first allocation, hence the re-exec; the JVM and its
    Python workers inherit them. TMPDIR keeps the library's compiled
    kernel cache and every temp file inside the checkout."""
    env = {
        k: v for k, v in base.items()
        if not k.startswith(("SPARK_GRAFT_", "LIBGIDDY_SPARK_", "PYSPARK_"))
    }
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update({
        PINNED_MARK: "1",
        "MALLOC_MMAP_THRESHOLD_": "1073741824",
        "MALLOC_TRIM_THRESHOLD_": "-1",
        "ARROW_DEFAULT_MEMORY_POOL": "system",
        "PYTHONHASHSEED": "0",
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    })
    return env


def reexec_pinned(script: str) -> None:
    """Re-execute ``script`` under :func:`pinned_env` unless already there."""
    if os.environ.get(PINNED_MARK) != "1":
        env = pinned_env(dict(os.environ))
        os.execve(sys.executable, [sys.executable, os.path.abspath(script), *sys.argv[1:]], env)


def start_spark():
    """SparkSession on local[4] with the benchmark's pinned settings."""
    from pyspark.sql import SparkSession

    local = os.path.join(CACHE, "spark-local")
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(local, exist_ok=True)
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("libgiddy-spark-perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(CACHE, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(CORES * 4))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        import subprocess

        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
