"""Seeded benchmark inputs, generated once per (scale, seed) into the
benchmark's cache, outside any timed region.

- ``webtext_bulk``: the webtext snapshot of bulk_roundtrip.
- ``lineitem``: a TPC-H-shaped lineitem table in one row group, rows
  in seeded random order (the l_orderkey domain of sf0.1).
- ``slices``: the same lineitem rows sorted by l_orderkey and cut into
  small files, the arrivals of append_compact.

Every file's table hash (check.py) is computed by the run's own Spark
session after the measured part of the first run with that seed
(:meth:`Inputs.ensure_hashes`) and kept in the seed's ``_HASHES.json``;
output checks that need it wait until then.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import check
from .config import CACHE, ROOT, Sizes

GEN_VERSION = 3
KEEP_SEEDS = 12  # seed dirs kept in the cache, least recently used evicted


@dataclasses.dataclass
class Source:
    """One generated source directory."""

    path: str
    files: list[tuple[str, int]]   # (relpath, bytes on disk), sorted
    arrow_bytes: dict[str, int]    # relpath -> Arrow bytes of its rows
    rows: dict[str, int]           # relpath -> row count
    key: str
    hashes: dict[str, check.Hash] = dataclasses.field(default_factory=dict)

    @property
    def total_arrow_bytes(self) -> int:
        return sum(self.arrow_bytes.values())

    def schema(self) -> pa.Schema:
        return pq.read_schema(os.path.join(self.path, self.files[0][0]))

    def read(self, rel: str) -> pa.Table:
        return pq.read_table(os.path.join(self.path, rel))

    def parts(self) -> list[tuple[Source, str]]:
        """(origin source, relpath) of each file, as output checks take them."""
        return [(self, rel) for rel, _ in self.files]


@dataclasses.dataclass
class Inputs:
    root: str
    webtext_bulk: Source
    lineitem: Source
    slices: Source

    def sources(self) -> list[Source]:
        return [self.webtext_bulk, self.lineitem, self.slices]

    def ensure_hashes(self, spark) -> None:
        """Hash every source file with ``spark`` unless the seed's cache
        already holds the hashes."""
        if all(s.hashes for s in self.sources()):
            return
        out = {}
        for s in self.sources():
            s.hashes = check.spark_file_hashes(spark, s.path, s.schema())
            out[os.path.basename(s.path)] = s.hashes
        tmp = os.path.join(self.root, "_HASHES.json.tmp")
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, os.path.join(self.root, "_HASHES.json"))


def _write(table: pa.Table, path: str, rel: str, rg_rows: int) -> list[int]:
    """Write one source file; returns [Arrow bytes, rows]."""
    pq.write_table(table, os.path.join(path, rel), row_group_size=max(1, rg_rows))
    return [table.nbytes, table.num_rows]


def _webtext_files(jobs: list[list]) -> dict[str, list[int]]:
    """Generate webtext files; returns path -> [Arrow bytes, rows]."""
    from libgiddy_spark.webtext import generate_batch

    out = {}
    for path, rel, lo, hi, seed, rg_bytes in jobs:
        t = pa.Table.from_batches([generate_batch(np.arange(lo, hi, dtype=np.int64), seed)])
        rg_rows = int((hi - lo) * rg_bytes / max(t.nbytes, 1))
        out[os.path.join(path, rel)] = _write(t, path, rel, rg_rows)
    return out


def make_lineitem(n_orders: int, seed: int) -> pa.Table:
    """TPC-H-shaped lineitem: 1-7 lines per order, ~4 per order."""
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - first + 1).astype(np.int32)
    partkey = rng.integers(0, 20 * n_orders // 150, n).astype(np.int64)
    suppkey = rng.integers(0, max(n_orders // 150, 10), n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900.0 + (partkey % 20000) * 0.1 + rng.integers(0, 100, n) * 0.01), 2)
    discount = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship_day = rng.integers(0, 2500, n)
    returnflag = np.where(ship_day > 1800, "N", np.where(rng.random(n) < 0.5, "A", "R"))
    linestatus = np.where(ship_day > 1750, "O", "F")
    base_us = np.datetime64("1995-01-02T00:00:00", "us")
    shipdate = base_us + ship_day.astype("timedelta64[D]").astype("timedelta64[us]")
    order = rng.permutation(n)
    cols = {
        "l_orderkey": pa.array(okey[order]),
        "l_partkey": pa.array(partkey[order]),
        "l_suppkey": pa.array(suppkey[order]),
        "l_linenumber": pa.array(linenumber[order]),
        "l_quantity": pa.array(qty[order]),
        "l_extendedprice": pa.array(price[order]),
        "l_discount": pa.array(discount[order]),
        "l_tax": pa.array(tax[order]),
        "l_returnflag": pa.array(returnflag[order]),
        "l_linestatus": pa.array(linestatus[order]),
        "l_shipdate": pa.array(shipdate[order]),
    }
    return pa.table(cols)


def _generate(root: str, sizes: Sizes, seed: int) -> None:
    name = "webtext_bulk"
    os.makedirs(os.path.join(root, name))
    per = sizes.bulk_webtext_rows // sizes.bulk_webtext_files
    jobs = [[os.path.join(root, name), f"part-{i:05d}.parquet", i * per, (i + 1) * per,
             seed, sizes.row_group_bytes] for i in range(sizes.bulk_webtext_files)]
    # generation is CPU-bound numpy: one child interpreter per core,
    # each started and waited for here
    procs = [subprocess.Popen([sys.executable, "-m", "perfbench.inputs", json.dumps(jobs[i::4])],
                              stdout=subprocess.PIPE, cwd=ROOT)
             for i in range(min(4, len(jobs)))]
    written: dict[str, list[int]] = {}
    for p in procs:
        out, _ = p.communicate()
        if p.returncode != 0:
            raise RuntimeError(f"webtext generation failed (exit {p.returncode})")
        written.update(json.loads(out))
    meta: dict[str, dict] = {name: {os.path.basename(k): v for k, v in written.items()}}

    li = make_lineitem(sizes.lineitem_orders, seed)
    os.makedirs(os.path.join(root, "lineitem"))
    meta["lineitem"] = {"lineitem.parquet": _write(
        li, os.path.join(root, "lineitem"), "lineitem.parquet", li.num_rows)}
    ordered = li.sort_by("l_orderkey")
    os.makedirs(os.path.join(root, "slices"))
    meta["slices"] = {}
    for i, lo in enumerate(range(0, ordered.num_rows, sizes.slice_rows)):
        part = ordered.slice(lo, sizes.slice_rows)
        rel = f"slice-{i:05d}.parquet"
        meta["slices"][rel] = _write(part, os.path.join(root, "slices"), rel, part.num_rows)
    with open(os.path.join(root, "_META.json"), "w") as f:
        json.dump(meta, f)


def _source(root: str, name: str, key: str, meta: dict, hashes: dict) -> Source:
    from libgiddy_spark.table_io import list_parquet_files

    path = os.path.join(root, name)
    files = [(r, s) for r, s in list_parquet_files(path) if not r.startswith("_")]
    return Source(path, files, {r: v[0] for r, v in meta[name].items()},
                  {r: v[1] for r, v in meta[name].items()}, key,
                  {r: tuple(h) for r, h in hashes.get(name, {}).items()})


def ensure_inputs(sizes: Sizes, seed: int, scale: str) -> Inputs:
    """Generate (once) and load the inputs for ``seed``."""
    base = os.path.join(CACHE, "inputs")
    digest = hashlib.sha256(repr((GEN_VERSION, sizes)).encode()).hexdigest()[:8]
    root = os.path.join(base, f"{scale}-{digest}-seed{seed}")
    if not os.path.exists(os.path.join(root, "_META.json")):
        os.makedirs(base, exist_ok=True)
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        _generate(tmp, sizes, seed)
        shutil.rmtree(root, ignore_errors=True)
        os.rename(tmp, root)
        _evict(base, keep=root)
    os.utime(root)
    with open(os.path.join(root, "_META.json")) as f:
        meta = json.load(f)
    hashes = {}
    if os.path.exists(os.path.join(root, "_HASHES.json")):
        with open(os.path.join(root, "_HASHES.json")) as f:
            hashes = json.load(f)
    return Inputs(
        root=root,
        webtext_bulk=_source(root, "webtext_bulk", "url", meta, hashes),
        lineitem=_source(root, "lineitem", "l_orderkey", meta, hashes),
        slices=_source(root, "slices", "l_orderkey", meta, hashes),
    )


def _evict(base: str, keep: str) -> None:
    dirs = [os.path.join(base, d) for d in os.listdir(base)]
    dirs = sorted((d for d in dirs if d != keep and os.path.isdir(d)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS - 1:]:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    print(json.dumps(_webtext_files(json.loads(sys.argv[1]))))
