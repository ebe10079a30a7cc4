"""Spark-free LOCAL reader for the engine's encoded tables.

``read_table_local`` reconstructs an encoded table (or a projection /
filtered slice of it) into a ``pyarrow.Table`` with NO SparkSession —
pure pyarrow + the codec kernels. This is the table-level analog of the
reference's local decompress call (``cuszplus_decompress`` is an
in-process function, src/cuda_float_compress.cpp:88-91): a tool, test,
or downstream service can pull a small extract without paying a JVM.
Trust, visibility and pruning are planned by the same driver-side
planner as ``decode_table_direct`` (``operators.decode.plan_snapshot``):

* only lineage-committed ``(part_id, run_id)`` pairs are read (crashed
  runs are inert), with the same ``as_of`` snapshot semantics and the
  same refusal of a part committed by two runs; the schema is the union
  of the committed runs' columns;
* committed merge-on-read tombstones are applied (``_SUCCESS``-marked
  ``deletes/run-*`` dirs only);
* chunk pruning applies the Spark readers' keep rules (``_keep_rule``):
  manifest part rollups, then per-chunk zone maps of every ptype that
  has them (ints, timestamps, dates, floats, string prefixes) and Bloom
  filters for ``==``/``in``. Every rule is conservative, and every
  predicate is ALSO applied as an exact filter after decode, so pruning
  never drops a matching row; only the block files holding a kept chunk
  are opened.

Intended for metadata-scale and extract-scale reads (the driver-side
use case); the 100 TB path is ``decode_table_direct``.
"""

from __future__ import annotations

import datetime as _dt
import glob
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from cuda_float_compress_spark.operators import chunks as Ch
from cuda_float_compress_spark.operators.decode import (
    _META_FALLBACK,
    _STD_ARROW,
    _predicate_value,
    plan_snapshot,
)

__all__ = ["read_table_local"]

def _tombstone_set(out_dir: str, as_of: float | None = None) -> set[tuple]:
    runs = [
        d for d in glob.glob(os.path.join(out_dir, "deletes", "run-*"))
        if os.path.exists(os.path.join(d, "_SUCCESS"))
    ]
    tombs: set[tuple] = set()
    for d in runs:
        t = pq.read_table(d)
        if as_of is not None and "committed_at" in t.column_names:
            # Iceberg position-delete time scoping: a snapshot dated
            # before the delete committed still sees the rows. Legacy
            # runs without the stamp apply unconditionally.
            t = t.filter(pc.fill_null(pc.less_equal(
                t.column("committed_at"), float(as_of)), True))
        tombs.update(zip(t.column("_part_id").to_pylist(),
                         t.column("_chunk_id").to_pylist(),
                         t.column("_pos").to_pylist()))
    return tombs


def _literal(lit, ptype: str):
    """A predicate literal coerced the way the Spark readers' exact filter
    (decode._exact_condition) and Spark's comparison coercion take it:
    a string against an int column casts to the int, an int against a
    date column is days since the epoch, a datetime against a date column
    is its date."""
    if ptype in ("int64", "int32") and isinstance(lit, str):
        return int(lit)
    if ptype == "date32":
        if isinstance(lit, _dt.datetime):
            return lit.date()
        if isinstance(lit, (int, np.integer)):
            return _dt.date(1970, 1, 1) + _dt.timedelta(days=int(lit))
    return lit


_COMPARE = {"==": pc.equal, "=": pc.equal, "<": pc.less,
            "<=": pc.less_equal, ">": pc.greater, ">=": pc.greater_equal}


def _exact_mask(tbl: pa.Table, predicates: list[tuple],
                ptypes: dict) -> pa.Array | None:
    mask = None
    for col, op, lit in predicates:
        arr, ptype, conv = tbl.column(col), ptypes.get(col), _literal
        if ptype in ("timestamp_us", "timestamp_ntz"):
            # compare UTC microseconds, as _exact_condition does
            arr, conv = arr.cast(pa.int64()), _predicate_value
        if op == "in":
            m = pa.array(np.zeros(len(arr), dtype=bool))
            for member in lit:
                m = pc.or_kleene(m, pc.equal(arr, conv(member, ptype)))
        elif op in _COMPARE:
            m = _COMPARE[op](arr, conv(lit, ptype))
        else:
            raise ValueError(f"unsupported predicate op: {op!r}")
        m = pc.fill_null(m, False)
        mask = m if mask is None else pc.and_(mask, m)
    return mask


def read_table_local(
    out_dir: str,
    columns: list[str] | None = None,
    predicates: list[tuple] | None = None,
    as_of: float | None = None,
    apply_deletes: bool = True,
    verify: bool = True,
) -> pa.Table:
    """Decode an encoded table into one in-memory ``pyarrow.Table``
    without Spark. ``predicates`` uses the decode-pushdown language
    ([(col, op, literal)], AND semantics; ops ==, <, <=, >, >=, in)."""
    plan = plan_snapshot(out_dir, predicates=predicates, as_of=as_of,
                         cap=None)
    if plan is _META_FALLBACK:
        raise ValueError(
            f"{out_dir}: the table's metadata is not readable locally "
            "(remote path or unreadable files); use decode_table_direct"
        )
    cols, committed, keep, files = plan
    if columns is not None:
        want_set = set(columns) | {c for c, _, _ in (predicates or [])}
        cols = [(c, p) for c, p in cols if c in want_set]
    ptypes = dict(cols)
    tombs_by_chunk: dict[tuple, list[int]] = {}
    if apply_deletes:
        for p_, c_, pos in _tombstone_set(out_dir, as_of=as_of):
            tombs_by_chunk.setdefault((p_, c_), []).append(pos)

    pieces: list[pa.Table] = []
    meta_cols = ["part_id", "chunk_id", "col", "codec", "n", "n_nulls",
                 "params", "run_id", "payload"]
    for f in files:
        tbl = pq.ParquetFile(f, memory_map=True, buffer_size=0).read(
            columns=meta_cols, use_threads=False,
        )
        part = tbl.column("part_id").to_pylist()
        chunk = tbl.column("chunk_id").to_pylist()
        names = tbl.column("col").to_pylist()
        codecs = tbl.column("codec").to_pylist()
        ns = tbl.column("n").to_pylist()
        nnulls = tbl.column("n_nulls").to_pylist()
        params = tbl.column("params").to_pylist()
        run_ids = tbl.column("run_id").to_pylist()
        payloads = tbl.column("payload")
        by_chunk: dict[tuple, dict] = {}
        chunk_n: dict[tuple, int] = {}
        for i in range(tbl.num_rows):
            key = (part[i], chunk[i])
            if committed is not None and (part[i], run_ids[i]) not in committed:
                continue
            if keep is not None and (part[i] << 32 | chunk[i]) not in keep:
                continue
            chunk_n[key] = ns[i]
            if names[i] in ptypes:
                by_chunk.setdefault(key, {})[names[i]] = i
        for key in sorted(chunk_n):
            colmap = by_chunk.get(key, {})
            n_rows = chunk_n[key]
            out = {}
            for c, ptype in cols:
                i = colmap.get(c)
                if i is None:  # schema evolution: column postdates chunk
                    out[c] = pa.nulls(n_rows, _STD_ARROW[ptype])
                    continue
                arr = Ch.decode_column_chunk(
                    payloads[i].as_py(), codecs[i], params[i],
                    ns[i], nnulls[i], ptype, verify=verify,
                )
                if not arr.type.equals(_STD_ARROW[ptype]):
                    arr = arr.cast(_STD_ARROW[ptype])
                out[c] = arr
            piece = pa.table(out, schema=pa.schema(
                [pa.field(c, _STD_ARROW[p]) for c, p in cols]))
            gone = tombs_by_chunk.get(key)
            if gone:
                m = np.ones(n_rows, dtype=bool)
                m[[g for g in gone if g < n_rows]] = False
                piece = piece.filter(pa.array(m))
            pieces.append(piece)

    schema = pa.schema([pa.field(c, _STD_ARROW[p]) for c, p in cols])
    full = (pa.concat_tables(pieces) if pieces
            else pa.table({c: pa.nulls(0, _STD_ARROW[p])
                           for c, p in cols}, schema=schema))
    if predicates:
        mask = _exact_mask(full, predicates, ptypes)
        if mask is not None:
            full = full.filter(mask)
    if columns is not None:
        full = full.select(columns)
    return full
