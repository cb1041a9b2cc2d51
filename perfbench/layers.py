"""Per-layer numbers of the traced run.

Two sources: the spans recorded around each library call during the
run, and replays of each layer's public functions on the workload's
own inputs after the run (single-threaded, in the driver process).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .trace import Span, self_times

NAMED_CODECS = ("fsst", "delta", "dict", "for")
FAT_COLUMNS = ["html", "text"]

UNITS = {
    "engine.decode_plan_s": "s",
    "engine.decode_exec_s": "s",
    "engine.lookup_plan_s": "s",
    "engine.lookup_exec_s": "s",
    "engine.encode_self_s": "s",
    "engine.block_files": "count",
    "engine.rows_decoded_per_lookup": "count",
    "engine.lookup_hit_ratio": "ratio",
    "engine.compact_files_in": "count",
    "engine.compact_files_out": "count",
    "engine.compact_bytes_rewritten": "B",
    "engine.vacuum_bytes_freed": "B",
    "manifest.read_s": "s",
    "manifest.index_read_s": "s",
    "manifest.bytes": "B",
    "manifest.lines": "count",
    "table_io.list_s": "s",
    "skew.footer_stats_s": "s",
    "selector.select_s": "s",
    "selector.bytes_in": "B",
    **{f"codecs.{c}.{m}": u for c in NAMED_CODECS
       for m, u in (("encode_s", "s"), ("decode_s", "s"),
                    ("raw_bytes", "B"), ("enc_bytes", "B"))},
    "blocks.encode_group_s": "s",
    "blocks.decode_group_s": "s",
    "bloom.probe_s": "s",
    "bloom.blocks_passed": "count",
    "bloom.pass_rate": "ratio",
    "spark.empty_job_s": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else float("nan")


def _timed(fn, reps: int = 5) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return _median(ts)


def span_metrics(spans: list[Span], ops) -> dict[str, float]:
    """Medians of the library-call spans, split by the op they served."""
    kind = {i: o.kind for i, o in enumerate(ops) if o.phase != "warmup"}
    selfs = self_times(spans)
    by: dict[tuple[str, str], list[float]] = {}
    for s in spans:
        k = kind.get(s.op)
        if k is not None:
            by.setdefault((k, s.name), []).append(s.end - s.start)
    enc_self = [selfs[s.sid] for s in spans
                if s.name in ("engine.encode_snapshot", "engine.encode_files")
                and kind.get(s.op) is not None]
    return {
        "engine.decode_plan_s": _median(by.get(("decode", "engine.decode_blocks"), [])),
        "engine.decode_exec_s": _median(by.get(("decode", "spark.decode_action"), [])),
        "engine.lookup_plan_s": _median(by.get(("lookup", "engine.decode_blocks"), [])),
        "engine.lookup_exec_s": _median(by.get(("lookup", "spark.lookup_action"), [])),
        "engine.encode_self_s": _median(enc_self),
    }


def client_metrics(c) -> dict[str, float]:
    """Counts the client gathered next to its ops in the traced run."""
    lf = c.lookup_facts
    comp = [x for x in c.compactions if x["phase"] != "warmup"]
    mf = c.manifest_facts[-1] if c.manifest_facts else {}
    decoded = sum(x["rows_decoded"] for x in lf)
    return {
        "engine.block_files": _median(x["block_files"] for x in lf),
        "engine.rows_decoded_per_lookup": _median(x["rows_decoded"] for x in lf),
        "engine.lookup_hit_ratio": (sum(x["rows_matched"] for x in lf) / decoded
                                    if decoded else float("nan")),
        "engine.compact_files_in": _median(x["files_in"] for x in comp),
        "engine.compact_files_out": _median(x["files_out"] for x in comp),
        "engine.compact_bytes_rewritten": _median(x["bytes_rewritten"] for x in comp),
        "engine.vacuum_bytes_freed": _median(x["vacuum_bytes_freed"] for x in comp),
        "manifest.read_s": mf.get("read_s", float("nan")),
        "manifest.index_read_s": mf.get("index_read_s", float("nan")),
        "manifest.bytes": mf.get("bytes", float("nan")),
        "manifest.lines": mf.get("lines", float("nan")),
    }


def replay_io(src, rel: str) -> dict[str, float]:
    """``list_parquet_files`` and ``footer_byte_stats`` on one append."""
    from libgiddy_spark.skew import footer_byte_stats
    from libgiddy_spark.table_io import list_parquet_files

    return {
        "table_io.list_s": _timed(lambda: list_parquet_files(src.path)),
        "skew.footer_stats_s": _timed(
            lambda: footer_byte_stats(src.path, [(0, rel)], FAT_COLUMNS)),
    }


def replay_selector(sources) -> dict[str, float]:
    """``select_codec`` on every column of every part."""
    from libgiddy_spark.selector import select_codec

    secs, nbytes = 0.0, 0
    for src in sources:
        for rel, _ in src.files:
            t = pq.read_table(os.path.join(src.path, rel))
            for name in t.column_names:
                arr = t.column(name).combine_chunks()
                t0 = time.perf_counter()
                select_codec(arr, name)
                secs += time.perf_counter() - t0
                nbytes += arr.nbytes
    return {"selector.select_s": secs, "selector.bytes_in": float(nbytes)}


def _compatible(codec: str, typ: pa.DataType) -> bool:
    is_str = pa.types.is_string(typ) or pa.types.is_binary(typ)
    if codec == "fsst":
        return is_str
    if codec in ("delta", "for"):
        return pa.types.is_integer(typ) or pa.types.is_timestamp(typ)
    return True


def replay_kernels(sources, block_rows: int = 65536) -> tuple[dict[str, float], dict]:
    """One part per source through ``encode_group`` / ``decode_group``,
    and the same sorted rows, block by block, through ``encode_array`` /
    ``decode_array`` with the codec the group encoder chose. A named
    codec no column chose is timed on the first compatible column
    (reported as forced)."""
    from libgiddy_spark.blocks import decode_group, encode_group
    from libgiddy_spark.codecs import decode_array, encode_array
    from libgiddy_spark.codecs import fsst as fsst_mod
    from libgiddy_spark.codecs import strcol_of
    from libgiddy_spark.selector import select_codec

    acc = {c: [0.0, 0.0, 0, 0] for c in NAMED_CODECS}
    out = {"blocks.encode_group_s": 0.0, "blocks.decode_group_s": 0.0}
    chosen_by: dict[str, list[str]] = {}
    mismatches = 0
    for src in sources:
        rel = src.files[0][0]
        table = pq.read_table(os.path.join(src.path, rel))
        schema = table.schema
        t0 = time.perf_counter()
        blk = encode_group(table, 0, 0, sort_key=src.key, zone_key=src.key,
                           block_rows=block_rows)
        out["blocks.encode_group_s"] += time.perf_counter() - t0
        t0 = time.perf_counter()
        back = decode_group(blk, schema)
        out["blocks.decode_group_s"] += time.perf_counter() - t0
        srt = table.sort_by(src.key)
        for name in schema.names:
            if not back.column(name).cast(schema.field(name).type).equals(srt.column(name)):
                mismatches += 1
        chosen = dict(zip(blk.column("column").to_pylist(), blk.column("codec").to_pylist()))
        plan = [(name, codec, False) for name, codec in chosen.items()]
        for codec in NAMED_CODECS:
            if codec not in chosen.values() and codec not in chosen_by:
                name = next((f.name for f in schema if _compatible(codec, f.type)), None)
                if name is not None:
                    plan.append((name, codec, True))
        for name, codec, forced in plan:
            if codec not in acc:
                continue
            arr = srt.column(name).combine_chunks()
            ftab = None
            if codec == "fsst":
                _c, _s, art = select_codec(arr, name)
                ftab = art.get("fsst_table") or fsst_mod.train(
                    strcol_of(arr.drop_null()).data[: 1 << 20])
            chosen_by.setdefault(codec, []).append(f"{name}{' (forced)' if forced else ''}")
            for lo in range(0, len(arr), block_rows):
                sl = arr.slice(lo, block_rows)
                t0 = time.perf_counter()
                payload, meta = encode_array(sl, codec, fsst_table=ftab)
                t1 = time.perf_counter()
                dec = decode_array(payload)
                t2 = time.perf_counter()
                a = acc[codec]
                a[0] += t1 - t0
                a[1] += t2 - t1
                a[2] += meta["raw_bytes"]
                a[3] += meta["enc_bytes"]
                if not dec.cast(sl.type).equals(sl):
                    mismatches += 1
    for codec, (es, ds, raw, enc) in acc.items():
        out[f"codecs.{codec}.encode_s"] = es
        out[f"codecs.{codec}.decode_s"] = ds
        out[f"codecs.{codec}.raw_bytes"] = float(raw)
        out[f"codecs.{codec}.enc_bytes"] = float(enc)
    return out, {"codec_columns": chosen_by, "replay_mismatches": mismatches}


def replay_bloom(table: str, key_col: str, keys: list, seed: int,
                 extra: int = 2000) -> tuple[dict[str, float], dict]:
    """``hash_value`` + ``bloom_might_contain`` for the run's lookup keys
    against every key-column block's ``key_bloom``; the block's decoded
    keys give the truth for the false-positive rate. ``extra`` seeded
    keys of the table join the probes, so the rate rests on enough
    negatives (each key is absent from all blocks but its own)."""
    import pyarrow.compute as pc

    from libgiddy_spark.bloom import bloom_might_contain, domain_of, hash_value
    from libgiddy_spark.codecs import decode_array
    from libgiddy_spark.meta import file_rows

    blooms: list[tuple[bytes, set]] = []
    for d in sorted({r[1] for r in file_rows(table)}):
        full = os.path.join(table, "blocks", d)
        for f in sorted(os.listdir(full)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(full, f), columns=["key_bloom", "payload"],
                              filters=pc.field("column") == key_col)
            for kb, payload in zip(t.column("key_bloom").to_pylist(),
                                   t.column("payload").to_pylist()):
                if kb is not None:
                    blooms.append((kb, set(decode_array(payload).to_pylist())))
    table_keys = sorted(set().union(*(truth for _kb, truth in blooms)))
    rng = np.random.default_rng([seed, 11])
    keys = list(keys) + [table_keys[i] for i in rng.integers(0, len(table_keys), extra)]
    probe_s, passed, fp, neg = 0.0, [], 0, 0
    for k in keys:
        n_pass = 0
        for kb, truth in blooms:
            t0 = time.perf_counter()
            hit = bloom_might_contain(kb, hash_value(k), domain_of(k))
            probe_s += time.perf_counter() - t0
            n_pass += hit
            if k not in truth:
                neg += 1
                fp += hit
        passed.append(n_pass)
    metrics = {
        "bloom.probe_s": probe_s,
        "bloom.blocks_passed": _median(passed),
        "bloom.pass_rate": sum(passed) / (len(keys) * len(blooms)),
    }
    # rests on few events where blocks hold far fewer distinct keys than
    # rows (lineitem: ~4 rows per order), so it can read 0: detail only
    return metrics, {"bloom_false_pos_rate": fp / neg if neg else None,
                     "bloom_negative_probes": neg}


def replay_empty_job(spark) -> dict[str, float]:
    sc = spark.sparkContext
    return {"spark.empty_job_s": _timed(lambda: sc.parallelize([0], 1).count())}
