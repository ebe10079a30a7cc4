"""Output checks and statistics for the benchmark. Pure Python and pyarrow:
nothing here starts Spark, so the checks are unit-testable on their own."""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import statistics

import pyarrow as pa
import pyarrow.compute as pc


class CheckFailed(AssertionError):
    """An operation returned a wrong result."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# --- oracle hash: the driver contract's order-insensitive comparison -------

def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.6g}"
    return str(v)


def table_hash(rows, colnames) -> str:
    """Rows sorted, columns sorted by name, floats rounded to 6 significant
    digits — the same comparison the queries' DuckDB oracles are held to."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x01".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def check_query(name: str, rows, cols, expected: tuple) -> None:
    """``expected`` = (row count, sorted column names, table_hash)."""
    n, ecols, ehash = expected
    expect(sorted(cols) == ecols, f"{name}: columns {sorted(cols)} != {ecols}")
    expect(len(rows) == n, f"{name}: {len(rows)} rows, oracle has {n}")
    expect(table_hash(rows, cols) == ehash, f"{name}: result hash differs "
           "from the oracle's")


# --- row and column equality across readers --------------------------------

def norm_value(v):
    """One comparable form per value, whichever reader produced it: Spark
    Rows give naive datetimes and bytearrays, pyarrow gives bytes and
    tz-aware datetimes."""
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    return v


def norm_row(d: dict) -> dict:
    return {k: norm_value(v) for k, v in d.items()}


def norm_array(arr) -> pa.Array:
    """Cast to a reader-independent physical form: timestamps to int64
    microseconds, strings and binaries to large_binary."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    t = arr.type
    if pa.types.is_timestamp(t):
        if t.unit != "us":
            arr = arr.cast(pa.timestamp("us", t.tz))
        return arr.view(pa.int64())
    if (pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
        return arr.cast(pa.large_binary())
    return arr


def same_column(a, b) -> bool:
    return norm_array(a).equals(norm_array(b))


# --- statistics -------------------------------------------------------------

def median_with_failures(times: list[float], n_failed: int) -> float:
    """Median where every failed operation counts as infinitely slow, so a
    failing operation can never make the metric look better."""
    vals = sorted(times) + [math.inf] * n_failed
    m = statistics.median(vals) if vals else math.inf
    return m if math.isfinite(m) else 1e308


def arrow_raw_bytes(tbl: pa.Table) -> int:
    """Uncompressed value bytes as the engine counts them: string/binary
    value lengths plus 8 bytes per non-null timestamp or int64."""
    total = 0
    for col in tbl.columns:
        t = col.type
        if (pa.types.is_string(t) or pa.types.is_large_string(t)
                or pa.types.is_binary(t) or pa.types.is_large_binary(t)):
            lens = pc.binary_length(col)
            total += int(pc.sum(lens).as_py() or 0)
        else:
            total += (t.bit_width // 8) * (len(col) - col.null_count)
    return total
