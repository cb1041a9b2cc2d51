"""The workloads: closed loops with one client, which issues one library
call at a time against ``libgiddy_spark``'s public API.

Every workload runs every op kind (encode, append, decode, lookup,
compact), so every run reports every end-to-end metric; the mix is what
differs:

- ``bulk_roundtrip``: full-table encodes and decodes of the webtext
  snapshot and lineitem, plus url point lookups every round. Kernels,
  the selector and the block group loop do the work; the lookup's url
  bounds overlap in every block file, so bloom probes and per-file
  opens carry it. One append + compaction closes the run.
- ``append_compact``: small l_orderkey-ordered lineitem files arrive
  one at a time, each followed by an int point lookup; every k-th step
  compacts and vacuums. The write path (file registry, commit, manifest
  append and its resume sweep) does the work, and int zone maps prune
  lookups at the manifest, the opposite lookup path to bulk's url keys.

Each op checks its output against the source; a wrong output or an
exception marks the op failed. Checks against a source's table hash
wait until the run has hashed its sources (:meth:`Client.settle`).

Both workloads run the reference job (reference.py) at fixed points of
every step; the CPU metrics are scaled by it.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import check, config, procstat, reference
from .inputs import Inputs, Source

Parts = list[tuple[Source, str]]  # (origin source, relpath) of each file


@dataclasses.dataclass
class Op:
    kind: str
    phase: str
    nbytes: int = 0
    group: str = ""  # the input it ran on, for per-input medians
    wall: float = 0.0
    cpu: float = 0.0
    ok: bool = True


def group_of(parts: Parts) -> str:
    """Which input a table was built from: origin source and file count."""
    return f"{os.path.basename(parts[0][0].path)}x{len(parts)}"


def rows_with_key(table: pa.Table, key_col: str, key) -> pa.Table:
    """The expected result of a point lookup: pyarrow's filter of the
    source rows."""
    return table.filter(pc.equal(table.column(key_col), key))


def du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Client:
    """The one closed-loop client: issues ops, times them, checks them."""

    def __init__(self, spark, tracer, inputs: Inputs, seed: int, workdir: str):
        self.spark = spark
        self.tr = tracer
        self.inputs = inputs
        self.seed = seed
        self.workdir = workdir
        self.ops: list[Op] = []
        self.errors: list[str] = []
        self.phase = "warmup"
        self.stored_ratio: list[float] = []
        self.pending: list[tuple[Op, check.Hash, Parts]] = []
        self.ref_sum: int | None = None
        self.compactions: list[dict] = []
        # traced run only: per-layer facts gathered next to the ops
        self.lookup_facts: list[dict] = []
        self.manifest_facts: list[dict] = []
        self.last_append: tuple[Source, str] | None = None  # (source, file)
        self.lookups: list[tuple[str, str, object]] = []  # (table, key col, key)

    # -- op bookkeeping ------------------------------------------------

    @contextlib.contextmanager
    def op(self, kind: str, nbytes: int = 0, group: str = ""):
        rec = Op(kind, self.phase, nbytes, group)
        self.ops.append(rec)
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.tr.span("op." + kind, op=len(self.ops) - 1):
                yield rec
        except Exception:
            rec.ok = False
            self.errors.append(f"{kind}: {traceback.format_exc(limit=3)}")
            traceback.print_exc(file=sys.stderr)
        finally:
            rec.wall = time.perf_counter() - t0
            rec.cpu = procstat.tree_cpu_s() - cpu0

    def verify(self, rec: Op, ok: bool, msg: str) -> None:
        if rec.ok and not ok:
            rec.ok = False
            self.errors.append(f"{rec.kind}: {msg}")
            print(f"perfbench: wrong output: {rec.kind}: {msg}", file=sys.stderr)

    def expect_hash(self, rec: Op, got: check.Hash, parts: Parts) -> None:
        """Check ``got`` against the source hash of ``parts`` in :meth:`settle`."""
        if rec.ok:
            self.pending.append((rec, got, list(parts)))

    def settle(self) -> None:
        """Hash the sources (once per seed; after every timed op) and run
        the waiting hash checks."""
        self.inputs.ensure_hashes(self.spark)
        for rec, got, parts in self.pending:
            want = (0, 0, 0)
            for src, rel in parts:
                want = check.add(want, src.hashes[rel])
            self.verify(rec, got == want, f"all-column hash {got} != source {want}")
        self.pending = []

    def table_dir(self, name: str) -> str:
        path = os.path.join(self.workdir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    # -- the library calls ----------------------------------------------

    def encode_snapshot(self, src: Source, out: str, parts: Parts) -> None:
        from libgiddy_spark.engine import encode_snapshot

        with self.op("encode", src.total_arrow_bytes, group_of(parts)):
            with self.tr.span("engine.encode_snapshot"):
                encode_snapshot(self.spark, src.path, out, key_col=src.key,
                                exchange=config.EXCHANGE)

    def encode_file(self, kind: str, src: Source, rel: str, out: str,
                    origin: Source) -> None:
        """One ``encode_files`` call for one new source file (a copy of
        ``origin``'s), then the table's row count from
        ``meta.file_rows`` against the source's."""
        from libgiddy_spark.engine import encode_files
        from libgiddy_spark.meta import file_rows

        files = [f for f in src.files if f[0] == rel]
        with self.op(kind, src.arrow_bytes[rel], group_of([(origin, rel)])) as rec:
            with self.tr.span("engine.encode_files"):
                encode_files(self.spark, src.path, files, out, src.key,
                             exchange=config.EXCHANGE)
        self.last_append = (src, rel)
        rows = sum(r[3] for r in file_rows(out))
        expect_rows = sum(src.rows.values())
        self.verify(rec, rows == expect_rows,
                    f"meta.file_rows counts {rows} rows, source has {expect_rows}")

    def decode(self, kind: str, out: str, schema: pa.Schema, nbytes: int,
               parts: Parts) -> None:
        """Decode every column through ``decode_blocks`` and hash all
        columns JVM-side; compare with the source hash of ``parts``."""
        from libgiddy_spark.engine import decode_blocks

        got = None
        with self.op(kind, nbytes, group_of(parts)) as rec:
            with self.tr.span("engine.decode_blocks"):
                df = decode_blocks(self.spark, out, schema)
            with self.tr.span("spark.decode_action"):
                got = check.spark_table_hash(df, schema)
        self.expect_hash(rec, got, parts)

    def reference(self) -> None:
        """The reference job (reference.py). Being deterministic, every
        run of it must return the same sum. Not run in the warm-up,
        which ``setup_s`` charges for the program's work alone."""
        if self.phase == "warmup":
            return
        with self.op("reference") as rec:
            got = reference.reference_job(self.spark)
        if self.ref_sum is None:
            self.ref_sum = got
        self.verify(rec, got == self.ref_sum,
                    f"reference job summed {got}, its first run {self.ref_sum}")

    def lookup(self, out: str, schema: pa.Schema, key_col: str, key,
               want: pa.Table) -> None:
        from pyspark.sql import functions as F

        from libgiddy_spark.engine import decode_blocks

        self.lookups.append((out, key_col, key))
        with self.op("lookup") as rec:
            with self.tr.span("engine.decode_blocks"):
                df = decode_blocks(self.spark, out, schema, key_point=key)
            with self.tr.span("spark.lookup_action"):
                rows = df.filter(F.col(key_col) == key).toArrow()
        if not rec.ok:
            return
        self.verify(rec, check.same_rows(rows, want),
                    f"lookup {key!r}: {rows.num_rows} rows differ from the "
                    f"{want.num_rows} source rows with that key")
        if self.tr.enabled and len(self.lookup_facts) < 8:
            self._lookup_replay(out, schema, key, want.num_rows)

    def compact(self, out: str) -> None:
        """``compact_blocks`` then ``vacuum_blocks``."""
        from libgiddy_spark.engine import compact_blocks, vacuum_blocks

        blocks = os.path.join(out, "blocks")
        before = {d: du(os.path.join(blocks, d)) for d in os.listdir(blocks)}
        res = vres = None
        with self.op("compact") as rec:
            with self.tr.span("engine.compact_blocks"):
                res = compact_blocks(self.spark, out)
            with self.tr.span("engine.vacuum_blocks"):
                vres = vacuum_blocks(out)
        if not rec.ok:
            return
        new = [r["new_chunk"] for r in res.get("rewrites", ())]
        self.compactions.append({
            "phase": self.phase,
            "files_in": res["files_before"],
            "files_out": res["files_after"],
            "bytes_rewritten": sum(du(os.path.join(blocks, d)) for d in new),
            "vacuum_bytes_freed": sum(before.get(d, 0) for d in vres["removed"]),
        })
        self.verify(rec, res["bins"] >= 1, "compaction found nothing to rewrite")
        if self.tr.enabled:
            self._manifest_replay(out)

    def record_ratio(self, outs: list[str], source_bytes: int) -> None:
        self.stored_ratio.append(sum(du(o) for o in outs) / source_bytes)

    # -- traced-run replays next to the ops (outside op timings) ---------

    def _lookup_replay(self, out, schema, key, matched: int) -> None:
        from libgiddy_spark.engine import decode_blocks
        from libgiddy_spark.meta import file_rows

        with self.tr.span("replay.engine.pruning"):
            files = 0
            dirs = set()
            for _sid, chunk, _pid, _n, lo, hi, lo_s, hi_s in file_rows(out):
                if isinstance(key, str):
                    keep = lo_s is None or hi_s is None or lo_s <= key <= hi_s
                else:
                    keep = lo is None or hi is None or lo <= key <= hi
                if keep:
                    dirs.add(chunk)
            for d in dirs:
                files += sum(1 for f in os.listdir(os.path.join(out, "blocks", d))
                             if f.endswith(".parquet"))
            decoded = decode_blocks(self.spark, out, schema, key_point=key).count()
        self.lookup_facts.append({"block_files": files, "rows_decoded": decoded,
                                  "rows_matched": matched})

    def _manifest_replay(self, out: str) -> None:
        from libgiddy_spark.manifest import Manifest

        m = Manifest(out)
        with self.tr.span("replay.manifest.read") as s_read:
            entries = m.read()
        with self.tr.span("replay.manifest.read_index") as s_idx:
            m.read_index()
        mbytes = sum(os.path.getsize(p) for p in (m.path, m.index_path)
                     if os.path.exists(p))
        self.manifest_facts.append({
            "read_s": s_read.end - s_read.start,
            "index_read_s": s_idx.end - s_idx.start,
            "bytes": mbytes, "lines": len(entries)})


class Landing:
    """A source directory that grows one file at a time, the way a
    streaming source does: each arrival is a hard link to a cached
    input file (its size and row count travel with it, and ``parts``
    names where its hash will come from)."""

    def __init__(self, path: str, key: str):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        self.src = Source(path, [], {}, {}, key)
        self.parts: Parts = []

    def arrive(self, src: Source, rel: str) -> Source:
        dst = os.path.join(self.src.path, rel)
        try:
            os.link(os.path.join(src.path, rel), dst)
        except OSError:
            shutil.copyfile(os.path.join(src.path, rel), dst)
        self.src.files = sorted(self.src.files + [(rel, os.path.getsize(dst))])
        self.src.arrow_bytes[rel] = src.arrow_bytes[rel]
        self.src.rows[rel] = src.rows[rel]
        self.parts.append((src, rel))
        return self.src


class Workload:
    """Built from the inputs (untimed) -> warmup (charged to setup_s) ->
    steps until the deadline (the timed loop) -> tail."""

    def __init__(self, inputs: Inputs, seed: int):
        self.inputs = inputs
        self.rng = np.random.default_rng([seed, 7])

    def replay_sources(self) -> list[Source]:
        raise NotImplementedError


class BulkRoundtrip(Workload):
    name = "bulk_roundtrip"

    # url lookups per round, and append + compact rounds after the timed
    # loop with a reference run after every TAIL_REF_EVERY of them:
    # enough samples of each for a steady median
    LOOKUPS_PER_ROUND = 3
    TAIL_ROUNDS = 8
    TAIL_REF_EVERY = 4

    def __init__(self, inputs, seed):
        super().__init__(inputs, seed)
        self.W, self.L, self.S = inputs.webtext_bulk, inputs.lineitem, inputs.slices
        self.w_rows = pa.concat_tables(self.W.read(r) for r, _ in self.W.files)
        keys = self.w_rows.column(self.W.key)
        self.w_keys = keys.take(self.rng.integers(0, len(keys), 1000)).to_pylist()
        self.li_table = None
        self.prev: list[str] = []

    def replay_sources(self):
        return [self.W, self.L]

    def _round(self, c: Client, r: int, tag: str) -> None:
        for d in self.prev:  # the previous round's tables stay until now
            shutil.rmtree(d, ignore_errors=True)
        W = self.W
        tag = f"{tag}{r}"
        wt, li = c.table_dir(f"{tag}_webtext"), c.table_dir(f"{tag}_lineitem")
        # lineitem lands in a directory of its own, so the tail can
        # append slices to the same source the table was encoded from
        landing = Landing(os.path.join(c.workdir, f"{tag}_li_landing"), self.L.key)
        self.prev = [wt, li, landing.src.path]
        self.li_table = (li, landing)
        L = landing.arrive(self.L, self.L.files[0][0])
        c.encode_snapshot(W, wt, W.parts())
        c.encode_snapshot(L, li, landing.parts)
        if c.phase != "warmup":
            c.record_ratio([wt, li], W.total_arrow_bytes + L.total_arrow_bytes)
        c.decode("decode", wt, W.schema(), W.total_arrow_bytes, W.parts())
        c.decode("decode", li, L.schema(), L.total_arrow_bytes, landing.parts)
        c.reference()
        for j in range(self.LOOKUPS_PER_ROUND):
            k = self.w_keys[(self.LOOKUPS_PER_ROUND * r + j) % len(self.w_keys)]
            c.lookup(wt, W.schema(), W.key, k, rows_with_key(self.w_rows, W.key, k))
        c.reference()

    def _append_compact(self, c: Client, k: int) -> None:
        """Append lineitem slice ``k`` onto the lineitem table, compact,
        and check the decoded hash is the source plus the slices so far."""
        li, landing = self.li_table
        rel = self.S.files[k % len(self.S.files)][0]
        src = landing.arrive(self.S, rel)
        c.encode_file("append", src, rel, li, self.S)
        c.compact(li)
        c.decode("verify", li, src.schema(), 0, landing.parts)

    def warmup(self, c: Client) -> None:
        # one whole round: after a round on part of the snapshot the
        # first timed decode still ran ~15 % slow
        self._round(c, 0, "warm")
        self._append_compact(c, 0)

    def step(self, c: Client, i: int) -> None:
        self._round(c, i, "bulk")

    def tail(self, c: Client) -> None:
        # the tail's small ops would otherwise pay, at random, for the
        # collection of the bulk rounds' garbage
        c.spark._jvm.System.gc()
        for k in range(self.TAIL_ROUNDS):
            self._append_compact(c, k)
            if (k + 1) % self.TAIL_REF_EVERY == 0:
                c.reference()


class AppendCompact(Workload):
    """Cycles of a fixed schedule: encode one slice into a fresh table,
    then append the cycle's next slices one per step, each followed by
    a lookup, compacting (and checking the decoded hash) after every
    ``COMPACT_EVERY``-th committed slice. Append cost grows with the
    table's chunk count, so every cycle starts from the same state and
    a faster program runs more cycles, not later (costlier) steps."""

    name = "append_compact"
    WARMUP_CYCLES = 2

    def __init__(self, inputs, seed):
        super().__init__(inputs, seed)
        self.S = inputs.slices
        self.rels = [r for r, _ in self.S.files]
        self.per_cycle = 2 * config.COMPACT_EVERY
        self.tables: dict[str, pa.Table] = {}
        self.prev: list[str] = []

    def replay_sources(self):
        return [self.S]

    def _cycle(self, c: Client, tag: str, first: int, n: int) -> None:
        for d in self.prev:  # the previous cycle's table stays until now
            shutil.rmtree(d, ignore_errors=True)
        out = c.table_dir(tag)
        landing = Landing(os.path.join(c.workdir, f"{tag}_landing"), self.S.key)
        self.prev = [out, landing.src.path]
        committed: list[str] = []
        for rel in self.rels[first:first + n]:
            src = landing.arrive(self.S, rel)
            committed.append(rel)
            c.encode_file("append" if len(committed) > 1 else "encode", src, rel, out,
                          self.S)
            if len(committed) > 1:
                self._lookup(c, out, committed)
            if len(committed) % config.COMPACT_EVERY == 0:
                c.compact(out)
                c.decode("decode", out, src.schema(), src.total_arrow_bytes,
                         landing.parts)
                c.reference()
                if len(committed) == config.COMPACT_EVERY and c.phase != "warmup" \
                        and not c.stored_ratio:
                    # space at a fixed point of the schedule, so it repeats
                    c.record_ratio([out], src.total_arrow_bytes)

    def _lookup(self, c: Client, out: str, committed: list[str]) -> None:
        for rel in committed:
            if rel not in self.tables:
                self.tables[rel] = self.S.read(rel)
        keys = self.tables[committed[int(self.rng.integers(0, len(committed)))]].column(self.S.key)
        k = keys[int(self.rng.integers(0, len(keys)))].as_py()
        # an order's lines may straddle two slices: filter every committed one
        rows = pa.concat_tables(self.tables[r] for r in committed)
        c.lookup(out, self.S.schema(), self.S.key, k, rows_with_key(rows, self.S.key, k))

    def warmup(self, c: Client) -> None:
        # op costs still fell over the first timed cycle after one
        for i in range(self.WARMUP_CYCLES):
            self._cycle(c, f"warm{i}_append", 0, self.per_cycle)

    def step(self, c: Client, i: int) -> None:
        first = (i * self.per_cycle) % (len(self.rels) - self.per_cycle + 1)
        self._cycle(c, f"append{i}", first, self.per_cycle)

    def tail(self, c: Client) -> None:
        pass


WORKLOADS = {w.name: w for w in (BulkRoundtrip, AppendCompact)}
