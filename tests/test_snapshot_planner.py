"""The driver-side snapshot planner (``decode.plan_snapshot``) against the
Spark planner it replaces, as a property over a fixed, seeded budget of
cases: every ptype (int32, int64, float64, string, date32, timestamp),
every op (==, in, <, <=, >, >= and any_of), every literal type a caller
passes (int, float, str, numpy scalar, date, datetime).

For each case the planner's plan — committed pairs, union schema, kept
chunk keys — equals the Spark path's (committed_blocks, table_columns,
qualifying_parts then qualifying_chunks), and both readers return exactly
the source rows a plain Python filter keeps: pruning never drops a row.

The table has two committed runs (the second lacks ``f64`` and ``s``, so
its chunks lack those predicate columns), Bloom filters on ``i32``,
``i64`` and ``s``, and the blocks of an uncommitted partial run. A legacy
copy has blocks without the ``bloom`` column and a manifest without the
``vmin``/``vmax`` rollups.
"""
from __future__ import annotations

import datetime as dt
import glob
import os
import random
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from cuda_float_compress_spark.localio import read_table_local
from cuda_float_compress_spark.operators.decode import plan_snapshot
from cuda_float_compress_spark.operators.direct import (
    _plan_with_spark,
    decode_table_direct,
)
from cuda_float_compress_spark.operators.encode import encode_table

COLS = ("i32", "i64", "f64", "s", "d", "ts")
DDL_OF = {"i32": "int", "i64": "bigint", "f64": "double", "s": "string",
          "d": "date", "ts": "timestamp"}
UTC = dt.timezone.utc
EPOCH = dt.date(1970, 1, 1)
D0 = dt.date(2020, 1, 1)
T0 = dt.datetime(2021, 1, 1, tzinfo=UTC)
WORDS = ("alpha", "beta", "gamma-shared-long-prefix")

# (column, literal kind): every ptype with every literal type it accepts
COMBOS = [
    ("i32", "int"), ("i32", "str"), ("i32", "numpy"),
    ("i64", "int"), ("i64", "float"), ("i64", "str"), ("i64", "numpy"),
    ("f64", "float"), ("f64", "int"), ("f64", "numpy"),
    ("s", "str"),
    ("d", "date"), ("d", "datetime"), ("d", "int"),
    ("ts", "datetime"), ("ts", "naive"), ("ts", "date"),
]
OPS = ["==", "in", "<", "<=", ">", ">=", "any_of"]


def _rows(rng: random.Random, n: int, start: int, evolved: bool) -> list:
    out = []
    for i in range(start, start + n):
        out.append({
            "i32": None if rng.random() < 0.1 else rng.randrange(-50, 50),
            "i64": i * 3,
            "f64": None if evolved else rng.randrange(-40, 40) / 4,
            "s": None if evolved or rng.random() < 0.05 else
            f"{rng.choice(WORDS)}/{rng.randrange(300):03d}",
            "d": D0 + dt.timedelta(days=rng.randrange(60)),
            "ts": T0 + dt.timedelta(minutes=rng.randrange(5000)),
        })
    return out


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """(source rows, {"bloom": dir, "legacy": dir})."""
    rng = random.Random(20261017)
    base = tmp_path_factory.mktemp("planner")
    out = str(base / "bloom")
    run1 = _rows(rng, 160, 0, evolved=False)
    run2 = _rows(rng, 60, 160, evolved=True)
    def encode(rows, cols, part_of, bloom_cols):
        df = spark.createDataFrame(
            [tuple(r[c] for c in cols) + (part_of(r),) for r in rows],
            ", ".join(f"{c} {DDL_OF[c]}" for c in cols) + ", part_id int")
        encode_table(spark, df, out, n_parts=2, resume=False,
                     pre_partitioned=True, sort_keys=["i64"], chunk_rows=20,
                     bloom_cols=bloom_cols)

    encode(run1, COLS, lambda r: r["i64"] % 2, ["i32", "i64", "s"])
    encode(run2, [c for c in COLS if c not in ("f64", "s")],
           lambda r: 10, ["i64"])
    # an uncommitted partial run: blocks appended, lineage never written.
    # Its stats and filters are null, so any reader that trusted it would
    # keep (and decode) its chunks.
    src = sorted(glob.glob(os.path.join(out, "blocks", "*.parquet")))[0]
    ghost = pq.read_table(src)
    n = ghost.num_rows
    for c, arr in (("run_id", pa.array(["crashed-run"] * n)),
                   ("chunk_id", pc.add(ghost.column("chunk_id"), 1000)),
                   ("vmin", pa.nulls(n, pa.int64())),
                   ("vmax", pa.nulls(n, pa.int64())),
                   ("bloom", pa.nulls(n, pa.binary()))):
        ghost = ghost.set_column(ghost.column_names.index(c), c, arr)
    pq.write_table(ghost, os.path.join(out, "blocks", "part-ghost.parquet"))

    legacy = str(base / "legacy")
    shutil.copytree(out, legacy)
    # strip the layout under NEW file names (Spark caches footers by path)
    # and the footer's Spark row metadata, which Spark trusts over the
    # physical columns
    for sub, drop in (("blocks", ["bloom"]), ("manifest", ["vmin", "vmax"])):
        for f in glob.glob(os.path.join(legacy, sub, "*.parquet")):
            tbl = pq.read_table(f).drop_columns(drop)
            pq.write_table(tbl.replace_schema_metadata(None),
                           f[:-8] + "-legacy.parquet")
            os.remove(f)
        for crc in glob.glob(os.path.join(legacy, sub, ".*.crc")):
            os.remove(crc)
    return run1 + run2, {"bloom": out, "legacy": legacy}


def _literal(rng: random.Random, rows: list, col: str, kind: str):
    present = [r[col] for r in rows if r[col] is not None]
    v = rng.choice(present) if rng.random() < 0.7 else None
    if col in ("i32", "i64"):
        v = v if v is not None else rng.randrange(-100, 800)
        return {"int": v, "float": v + rng.choice([0.0, 0.5]),
                "str": rng.choice(["{}", "0{}", " {}"]).format(v)
                if v >= 0 else str(v),
                "numpy": np.int64(v)}[kind]
    if col == "f64":
        v = v if v is not None else rng.randrange(-60, 60) / 4
        return {"float": v, "int": int(v), "numpy": np.float64(v)}[kind]
    if col == "s":
        return v if v is not None else f"{rng.choice(WORDS)}/{rng.randrange(400):03d}"
    if col == "d":
        v = v if v is not None else D0 + dt.timedelta(days=rng.randrange(-5, 70))
        return {"date": v,
                "datetime": dt.datetime(v.year, v.month, v.day, 13),
                "int": (v - EPOCH).days}[kind]
    v = v if v is not None else T0 + dt.timedelta(minutes=rng.randrange(6000))
    return {"datetime": v, "naive": v.replace(tzinfo=None),
            "date": v.date()}[kind]


def _as_value(col: str, v):
    """A literal as the value the Spark readers compare it with."""
    if col in ("i32", "i64"):
        return int(v) if isinstance(v, str) else v
    if col == "d":
        if isinstance(v, dt.datetime):
            return v.date()
        return EPOCH + dt.timedelta(days=v) if isinstance(v, int) else v
    if col == "ts":
        if not isinstance(v, dt.datetime):
            return dt.datetime(v.year, v.month, v.day, tzinfo=UTC)
        return v if v.tzinfo else v.replace(tzinfo=UTC)
    return v


def _holds(row: dict, col: str, op: str, v) -> bool:
    x = row[col]
    if x is None:
        return False
    if op == "in":
        return any(x == _as_value(col, m) for m in v)
    v = _as_value(col, v)
    return {"==": x == v, "<": x < v, "<=": x <= v, ">": x > v,
            ">=": x >= v}[op]


def _case(i: int, rows: list):
    """Case i: predicates, any_of. Cycles every (column, literal kind)
    and every op; every third case ANDs an int64 range on."""
    rng = random.Random(i)
    col, kind = COMBOS[i % len(COMBOS)]
    op = OPS[i % len(OPS)]

    def pred(o):
        if o == "in":
            return (col, "in", [_literal(rng, rows, col, kind)
                                for _ in range(rng.randrange(1, 4))])
        return (col, o, _literal(rng, rows, col, kind))

    if op == "any_of":
        other = COMBOS[(i * 7 + 3) % len(COMBOS)]
        return None, [[pred("==")],
                      [(other[0], ">=", _literal(rng, rows, *other)),
                       pred(rng.choice(["<", "in"]))]]
    preds = [pred(op)]
    if i % 3 == 0:
        preds.append(("i64", rng.choice(["<=", ">"]), rng.randrange(0, 660)))
    return preds, None


def _expected(rows, predicates, any_of) -> Counter:
    keep = [
        r for r in rows
        if all(_holds(r, *p) for p in predicates or [])
        and (any_of is None
             or any(all(_holds(r, *p) for p in conj) for conj in any_of))
    ]
    return Counter(tuple(r[c] for c in COLS) for r in keep)


def _got(tbl) -> Counter:
    return Counter(zip(*(tbl.column(c).to_pylist() for c in COLS)))


# 17 cases on the Bloom table cover every (column, literal kind) once;
# 8 on the legacy copy cover each op on it. ~2 s each.
CASES = [("bloom", i) for i in range(len(COMBOS))] + [
    ("legacy", i) for i in range(3, 3 + 8)]


@pytest.mark.parametrize("layout,i", CASES)
def test_planner_matches_spark_and_never_drops_a_row(spark, tables, layout, i):
    rows, dirs = tables
    out = dirs[layout]
    predicates, any_of = _case(i, rows)
    plan = plan_snapshot(out, predicates=predicates, any_of=any_of)
    ref = _plan_with_spark(spark, out, predicates, any_of, None, None, None)
    assert plan.keep_keys == ref.keep_keys, (predicates, any_of)
    assert plan.columns == ref.columns
    assert plan.committed == ref.committed
    assert all(k & 0xFFFFFFFF < 1000 for k in plan.keep_keys)  # no ghosts
    want = _expected(rows, predicates, any_of)
    direct = decode_table_direct(spark, out, predicates=predicates,
                                 any_of=any_of).select(*COLS).toArrow()
    assert _got(direct) == want, (predicates, any_of)
    if any_of is None:  # the local reader takes AND predicates only
        local = read_table_local(out, predicates=predicates)
        assert _got(local.select(list(COLS))) == want, predicates


def test_cases_cover_every_op_and_ptype():
    rows = [{"i32": 1, "i64": 3, "f64": 0.5, "s": "alpha/001", "d": D0,
             "ts": T0}]
    ops, kinds = set(), set()
    for _, i in CASES:
        predicates, any_of = _case(i, rows)
        ops |= {op for conj in [predicates or []] + (any_of or [])
                for _, op, _ in conj}
        ops |= {"any_of"} if any_of else set()
        kinds.add(COMBOS[i % len(COMBOS)])
    assert ops >= set(OPS)
    assert kinds == set(COMBOS)
