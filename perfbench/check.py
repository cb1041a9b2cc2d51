"""Output checks.

A table hash is Spark's ``xxhash64`` (seed 42) over each row's columns,
string and binary columns entering as their ``crc32``, folded over rows
into (row count, sum of low 32 bits, sum of high 32 bits). Sums of
disjoint row sets add up, so the hash of committed source files is the
sum of their per-file hashes. The two sums stay far below 2**63 for any
table this benchmark builds. Source and decoded output are hashed by
the same Spark expression; lookup rows are compared row for row.
"""

from __future__ import annotations

import os

import pyarrow as pa

Hash = tuple[int, int, int]


def _row_hash(schema: pa.Schema):
    from pyspark.sql import functions as F

    parts = []
    for f in schema:
        t = f.type
        if pa.types.is_string(t) or pa.types.is_large_string(t):
            parts.append(F.crc32(F.col(f.name).cast("binary")))
        elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
            parts.append(F.crc32(F.col(f.name)))
        else:
            parts.append(F.col(f.name))
    return F.xxhash64(*parts)


def _fold(h):
    from pyspark.sql import functions as F

    return [F.count(F.lit(1)).alias("n"),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
            F.sum(F.shiftrightunsigned(h, 32)).alias("hi")]


def _tuple(r) -> Hash:
    return (int(r["n"]), int(r["lo"] or 0), int(r["hi"] or 0))


def spark_table_hash(df, schema: pa.Schema) -> Hash:
    """Table hash of ``df``, computed by one Spark action (JVM-side)."""
    return _tuple(df.select(*_fold(_row_hash(schema))).collect()[0])


def spark_file_hashes(spark, path: str, schema: pa.Schema) -> dict[str, Hash]:
    """Table hash of each parquet file under ``path``, in one Spark
    action: file name -> hash."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path).withColumn("_file", F.input_file_name())
    rows = df.groupBy("_file").agg(*_fold(_row_hash(schema))).collect()
    return {os.path.basename(r["_file"]): _tuple(r) for r in rows}


def add(a: Hash, b: Hash) -> Hash:
    return (a[0] + b[0], a[1] + b[1], a[2] + b[2])


def same_rows(got: pa.Table, want: pa.Table) -> bool:
    """Whether ``got`` holds exactly the rows of ``want``, in any order
    (``got`` is cast to ``want``'s schema; extra columns are ignored)."""
    if got.num_rows != want.num_rows:
        return False
    got = got.select(want.schema.names).cast(want.schema)
    keys = [(n, "ascending") for n in want.schema.names]
    return got.sort_by(keys).equals(want.sort_by(keys))
