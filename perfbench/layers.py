"""Trace-run measurements of single layers and of their floors.

Every function here calls one layer of the engine (or the library under it)
directly, on the workload's own bytes, and reports the layer's number next
to the floor that bounds it: pyarrow zstd-1 for the codec kernel, a no-op
mapInArrow for the Arrow crossing, an empty job for task dispatch.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa

CHUNK_ROWS = 32_768  # the engine's default chunk size

# the column types of the two floor tables (webpages, corpus documents)
_SPARK_DDL = {
    pa.string(): "string", pa.binary(): "binary", pa.int64(): "bigint",
    pa.timestamp("us"): "timestamp_ntz",
    pa.timestamp("us", "UTC"): "timestamp",
}


def _chunks(tbl: pa.Table):
    for off in range(0, tbl.num_rows, CHUNK_ROWS):
        part = tbl.slice(off, CHUNK_ROWS)
        for name in part.column_names:
            yield part.column(name).combine_chunks()


def _value_bytes(arr: pa.Array) -> bytes:
    """The bytes a general-purpose compressor would see for this column."""
    if pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        bufs = arr.buffers()
        off = np.frombuffer(bufs[1], dtype=np.int32)[
            arr.offset:arr.offset + len(arr) + 1]
        return bufs[2].to_pybytes()[off[0]:off[-1]] if bufs[2] else b""
    if pa.types.is_timestamp(arr.type):
        arr = arr.cast(pa.int64())
    return arr.to_numpy(zero_copy_only=False).tobytes()


def codec_floors(tbl: pa.Table) -> dict:
    """Single-core codec layer numbers on the workload's bytes: the engine's
    chunk encode and decode (with and without the crc check), the codec
    selectors, and pyarrow zstd-1 as the floor under both directions."""
    from cuda_float_compress_spark.codecs import select
    from cuda_float_compress_spark.operators import chunks as Ch

    arrays = list(_chunks(tbl))
    ptypes = [Ch.ptype_of(a.type) for a in arrays]
    raw = sum(Ch.raw_size_of(a, p) for a, p in zip(arrays, ptypes))

    t0 = time.perf_counter()
    encoded = [Ch.encode_column_chunk(a, p) for a, p in zip(arrays, ptypes)]
    t_enc = time.perf_counter() - t0

    def decode_all(verify: bool) -> float:
        t0 = time.perf_counter()
        for (codec, payload, params, n, n_nulls), p in zip(encoded, ptypes):
            Ch.decode_column_chunk(payload, codec, params, n, n_nulls, p,
                                   verify=verify)
        return time.perf_counter() - t0

    decode_all(True)  # allocator warm-up
    # interleaved, so a change in host speed hits both sides alike
    on, off = [], []
    for _ in range(5):
        on.append(decode_all(True))
        off.append(decode_all(False))
    t_dec, t_dec_noverify = statistics.median(on), statistics.median(off)

    # the selectors encode_column_chunk calls: per-chunk bytes selection on
    # the length/data split, integer selection on the int64 view
    t0 = time.perf_counter()
    for a, p in zip(arrays, ptypes):
        if p in ("string", "binary"):
            Ch._select_bytes_ld(*Ch._bytes_ld(a))
        elif p in ("timestamp_us", "timestamp_ntz", "int64", "int32"):
            select.select_int_codec(
                a.cast(pa.int64()).to_numpy(zero_copy_only=False))
    t_sel = time.perf_counter() - t0

    zstd = pa.Codec("zstd", compression_level=1)
    blobs = [_value_bytes(a) for a in arrays]
    plain = sum(len(b) for b in blobs)
    t0 = time.perf_counter()
    comp = [zstd.compress(b, asbytes=True) for b in blobs]
    t_zc = time.perf_counter() - t0
    t0 = time.perf_counter()
    for c, b in zip(comp, blobs):
        zstd.decompress(c, decompressed_size=len(b), asbytes=True)
    t_zd = time.perf_counter() - t0

    return {
        "chunks.encode_1core_gbps": raw / t_enc / 1e9,
        "chunks.decode_1core_gbps": raw / t_dec / 1e9,
        "chunks.decode_verify_share": 1.0 - t_dec_noverify / t_dec,
        "select.choose_s": t_sel,
        "core.zstd1_compress_floor_gbps": plain / t_zc / 1e9,
        "core.zstd1_decompress_floor_gbps": plain / t_zd / 1e9,
    }


def arrow_crossing(ctx, tbl: pa.Table, n_tasks: int) -> dict:
    """Floor of the Python->JVM Arrow crossing: a mapInArrow job of
    ``n_tasks`` tasks that only yield pre-built, memory-mapped batches of
    the workload's table (chunk-sized, like the decoder yields) into the
    noop sink."""
    from cuda_float_compress_spark.operators import chunks as Ch

    d = os.path.join(ctx.run_dir, "crossing")
    os.makedirs(d, exist_ok=True)
    fields = []
    for f in tbl.schema:
        t = f.type
        if pa.types.is_timestamp(t):
            t = pa.timestamp("us", t.tz)
        fields.append(pa.field(f.name, t))
    tbl = tbl.cast(pa.schema(fields))
    ddl = ", ".join(f"`{f.name}` {_SPARK_DDL[f.type]}" for f in fields)
    raw = sum(Ch.raw_size_of(c.combine_chunks(), Ch.ptype_of(c.type))
              for c in tbl.columns)
    n_tasks = max(1, min(n_tasks, tbl.num_rows))
    per = -(-tbl.num_rows // n_tasks)
    files = []
    for i in range(n_tasks):
        path = os.path.join(d, f"part{i}.arrow")
        with pa.OSFile(path, "wb") as sink:
            with pa.ipc.new_file(sink, tbl.schema) as w:
                for b in tbl.slice(i * per, per).to_batches(CHUNK_ROWS):
                    w.write_batch(b)
        files.append((path,))

    def emit(batches):
        import pyarrow as pa

        for b in batches:
            for f in b.column(0).to_pylist():
                with pa.memory_map(f) as src:
                    r = pa.ipc.open_file(src)
                    for j in range(r.num_record_batches):
                        yield r.get_batch(j)

    spark = ctx.spark
    ctx.group("floor: arrow crossing")

    def run() -> float:
        df = spark.createDataFrame(
            spark.sparkContext.parallelize(files, len(files)), "file string"
        ).mapInArrow(emit, schema=ddl)
        t0 = time.perf_counter()
        with ctx.tracer.span("floor.arrow_crossing"):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run()  # the first job pays this function's worker set-up
    return {"direct.arrow_crossing_gbps":
            raw / statistics.median(run() for _ in range(2)) / 1e9}


def dispatch_floor(ctx, n_tasks: int) -> dict:
    """Per-task cost of an empty Python job with the workload's task count."""
    sc = ctx.spark.sparkContext
    n = max(1, min(int(n_tasks), 32))
    ctx.group("floor: empty job")

    def run() -> float:
        t0 = time.perf_counter()
        with ctx.tracer.span("floor.empty_job"):
            sc.parallelize(range(n), n).map(lambda x: x).count()
        return time.perf_counter() - t0

    run()
    return {"session.dispatch_ms_per_task":
            statistics.median(run() for _ in range(2)) / n * 1e3}


def codec_parts(ctx, table: str | None, codec_names) -> dict:
    """(part, column) pairs per codec, from the manifest query an operator
    runs before a re-encode."""
    from cuda_float_compress_spark.operators.maintain import codec_histogram

    out = {f"select.parts_using.{c}": 0 for c in codec_names}
    if table is None:
        return out
    ctx.group("layer: codec_histogram")
    with ctx.tracer.span("operators.maintain.codec_histogram"):
        rows = codec_histogram(ctx.spark, table).collect()
    for r in rows:
        key = f"select.parts_using.{r['codec']}"
        if key in out:
            out[key] += int(r["count"])
    return out


def decode_planning(ctx, table: str, keys: list[str], row_of: dict) -> dict:
    """The snapshot and pruning layer one url lookup runs, call by call:
    committed blocks, part-level rollups, chunk-level zone maps + Bloom."""
    from pyspark.sql import functions as F

    from cuda_float_compress_spark.operators.decode import (
        committed_blocks,
        qualifying_chunks,
        qualifying_parts,
    )

    spark, tr = ctx.spark, ctx.tracer
    ctx.group("layer: decode planning")
    t_cb, t_qp, t_qc, kept, match, fp = [], [], [], [], [], []
    for key in keys:
        preds = [("url", "==", key)]
        t0 = time.perf_counter()
        with tr.span("operators.decode.committed_blocks"):
            blocks = committed_blocks(spark, table)
        t1 = time.perf_counter()
        with tr.span("operators.decode.qualifying_parts"):
            parts = qualifying_parts(spark, table, preds)
        t2 = time.perf_counter()
        with tr.span("operators.decode.qualifying_chunks"):
            pruned = (blocks if parts is None
                      else blocks.filter(F.col("part_id").isin(parts)))
            n_kept = len(qualifying_chunks(pruned, preds).collect())
        t3 = time.perf_counter()
        t_cb.append(t1 - t0)
        t_qp.append(t2 - t1)
        t_qc.append(t3 - t2)
        kept.append(n_kept)
        match.append(1 if key in row_of else 0)  # urls are unique
        if key not in row_of:
            fp.append(n_kept)
    total = blocks.select("part_id", "chunk_id").distinct().count()
    return {
        "decode.committed_blocks_s": statistics.median(t_cb),
        "decode.qualifying_parts_s": statistics.median(t_qp),
        "decode.qualifying_chunks_s": statistics.median(t_qc),
        "decode.chunks_total": total,
        "decode.chunks_kept": float(np.mean(kept)),
        "decode.chunks_with_match": float(np.mean(match)),
        "decode.prune_precision": sum(match) / max(sum(kept), 1),
        "bloom.false_positive_chunks": float(np.mean(fp)) if fp else 0.0,
    }
