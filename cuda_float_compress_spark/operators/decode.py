"""The decode job: blocks parquet -> the original DataFrame, bit-identical.

Column-pruned by construction: requesting a subset of columns filters block
rows BEFORE the shuffle and decodes only those payloads — the engine-level
analog of parquet column pruning (a scan that decodes all columns for a
2-column projection would be wrong at 100 TB).

Reconstruction groups block rows by (part_id, chunk_id) with
``applyInArrow`` — one group == one chunk == a few MB, so groups are
uniformly sized regardless of host skew (the encode-side salting already
flattened data skew into uniform chunks).
"""

from __future__ import annotations

import glob as _glob
import os
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cuda_float_compress_spark.operators import chunks as C

_SPARK_TYPE = {
    "string": "string",
    "binary": "binary",
    "timestamp_us": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
    "int64": "long",
    "int32": "int",
    "float32": "float",
    "float64": "double",
    "date32": "date",
    "list_float32": "array<float>",
}

_STD_ARROW = {
    "string": pa.string(),
    "binary": pa.binary(),
    "timestamp_us": pa.timestamp("us", tz="UTC"),
    "timestamp_ntz": pa.timestamp("us"),
    "int64": pa.int64(),
    "int32": pa.int32(),
    "float32": pa.float32(),
    "float64": pa.float64(),
    "date32": pa.date32(),
    "list_float32": pa.list_(pa.float32()),
}


def _repair_if_needed(out_dir: str) -> None:
    if not os.path.exists(f"{out_dir}/blocks") and os.path.exists(
        f"{out_dir}/blocks_vacuum_old"
    ):
        # a crash inside vacuum's (non-atomic) two-rename swap left the
        # table without a blocks dir — repair before reading
        from cuda_float_compress_spark.operators.maintain import repair_vacuum

        repair_vacuum(out_dir)


def blocks_of(spark: SparkSession, out_dir: str) -> DataFrame:
    _repair_if_needed(out_dir)
    # mergeSchema: appends across engine versions mix block layouts in one
    # dir (bloom + vsum columns added r6); the default single-footer schema
    # sample could silently drop — or fail on — the newer columns
    return spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/blocks"
    )


# --- driver-side metadata fast path ------------------------------------------
#
# Reading table METADATA (lineage commit pairs, the union column schema,
# zone maps and Bloom filters) through Spark costs several driver-blocking
# jobs (~0.2-0.4 s each: schema inference + collect) before any payload
# work starts: 2.3 s of pure planning per point lookup on a 4-chunk table
# (4-core host, perfbench encode_scan_lookup). The rows involved are
# metadata-scale (one lineage row per part per run; one row per column per
# chunk in the blocks files), so up to _META_FILE_CAP files they are read
# driver-side with pyarrow — the same local-vs-Spark split the encode path
# uses for its manifest build (direct.py: <=256 block files => driver-side
# pyarrow). plan_snapshot is that reader for decode_table_direct and
# read_table_local: the committed runs, the union schema, and the chunks
# the manifest rollups, zone maps and Bloom filters keep, by the SAME
# op→rule table (_keep_rule) that qualifying_parts and qualifying_chunks
# apply as Spark expressions. Beyond the cap, for remote tables, or on a
# read error, decode_table_direct plans with those Spark jobs instead —
# same plan, only the transport changes.

_META_FILE_CAP = 1024
_META_FALLBACK = object()  # sentinel: metadata too large/remote for driver


def _local_files(path: str, cap: int | None = _META_FILE_CAP) -> list[str] | None:
    files = sorted(_glob.glob(os.path.join(path, "*.parquet")))
    if not files or (cap is not None and len(files) > cap):
        return None
    return files


def _lineage_rows_local(out_dir: str, cap: int | None = _META_FILE_CAP):
    """[(part_id, run_id, status, finished_at)] via driver-side pyarrow;
    None when the table has no lineage dir (externally assembled blocks —
    trusted as-is, matching committed_blocks); _META_FALLBACK when the
    lineage is too large for a driver read or unreadable."""
    if "://" in str(out_dir) or str(out_dir).startswith("file:"):
        # hdfs://, s3a://, file:/...: os.path/glob cannot see the dir — a
        # bare isdir()==False here must mean FALLBACK (Spark read), never
        # "table has no lineage, trust every block"
        return _META_FALLBACK
    lin_dir = os.path.join(out_dir, "lineage")
    if not os.path.isdir(lin_dir):
        return None
    files = _local_files(lin_dir, cap)
    if files is None:
        return _META_FALLBACK
    rows = []
    try:
        for f in files:
            t = pq.ParquetFile(f, memory_map=True, buffer_size=0).read(
                columns=["part_id", "run_id", "status", "finished_at"],
                use_threads=False,
            )
            rows.extend(zip(
                t.column("part_id").to_pylist(),
                t.column("run_id").to_pylist(),
                t.column("status").to_pylist(),
                t.column("finished_at").to_pylist(),
            ))
    except Exception:
        return _META_FALLBACK
    return rows


def _committed_pairs(lineage_rows, as_of=None, since=None) -> set:
    """Committed (part_id, run_id) pairs with the optional time window —
    the Python twin of committed_blocks' lineage filter + ambiguity check
    (same refusal: two committed runs on one part would double rows)."""
    pairs = set()
    for p, r, s, ft in lineage_rows:
        if s != "done":
            continue
        if as_of is not None and not (ft is not None and ft <= float(as_of)):
            continue
        if since is not None and not (ft is not None and ft > float(since)):
            continue
        pairs.add((p, r))
    per_part: dict = {}
    for p, r in pairs:
        prev = per_part.setdefault(p, r)
        if prev != r:
            raise ValueError(
                f"part {p} was committed by 2 different runs — the table "
                "is ambiguous (two encodes appended to one dir?); "
                "vacuum/rebuild it"
            )
    return pairs


def _apply_union_schema(ordered: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """The union-schema merge over DISTINCT (col, ptype) rows in first-seen
    column order — shared by the Spark and pyarrow metadata paths (see
    table_columns for the evolution/conflict rules)."""
    out: list[tuple[str, str]] = []
    seen: dict[str, str] = {}
    for col, ptype in ordered:
        prev = seen.get(col)
        if prev is None:
            seen[col] = ptype
            out.append((col, ptype))
        elif prev != ptype:
            if {prev, ptype} == {"timestamp_us", "timestamp_ntz"}:
                # benign mix: both store int64 UTC micros (see table_columns)
                seen[col] = "timestamp_us"
                out[[c for c, _ in out].index(col)] = (col, "timestamp_us")
                continue
            raise ValueError(
                f"column {col!r} was appended with conflicting types "
                f"{prev!r} and {ptype!r}; re-encode the offending run"
            )
    return out


def snapshots(spark: SparkSession, out_dir: str) -> DataFrame:
    """Commit history of an encoded dir (Iceberg-style snapshot listing):
    one row per committed run with its finish time, parts, and sizes."""
    lin = spark.read.parquet(f"{out_dir}/lineage").filter(F.col("status") == "done")
    return (
        lin.groupBy("run_id")
        .agg(
            F.max("finished_at").alias("committed_at"),
            F.count("*").alias("n_parts"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("enc_bytes").alias("enc_bytes"),
        )
        .orderBy("committed_at")
    )


def committed_blocks(
    spark: SparkSession, out_dir: str, as_of: float | None = None,
    since: float | None = None,
) -> DataFrame:
    """Blocks whose (part_id, run_id) is committed ('done') in lineage.
    Stale partials from a crashed run — blocks appended, lineage never
    written — are filtered out here (metadata-scale broadcast semi-join).
    Dirs without lineage (externally assembled blocks) are trusted as-is.

    ``as_of`` (epoch seconds): TIME TRAVEL for the append-only table — trust
    only runs committed at or before that instant, reproducing the table
    exactly as a reader at that time saw it (Iceberg-snapshot semantics on
    the lineage metadata).

    ``since`` (epoch seconds, exclusive): the INCREMENTAL complement —
    only runs committed strictly after that instant. A consumer that
    remembers the last lineage timestamp it processed reads exactly the
    appended-since-then slice (CDC-style over the append-only table);
    ``since=t1, as_of=t2`` brackets a window."""
    blocks = blocks_of(spark, out_dir)
    # fast path: lineage is metadata-scale — read it driver-side with
    # pyarrow (no Spark jobs) and ship the committed pairs as a literal
    # broadcast frame; semantics identical to the Spark read below
    lrows = _lineage_rows_local(out_dir)
    if lrows is None:
        return blocks
    # the literal-frame shortcut is for metadata-SCALE commit sets; a
    # million-part table (one big lineage file still passes the file-count
    # gate) would pay a slow driver->JVM pickle here — use the Spark read
    if lrows is not _META_FALLBACK and len(lrows) <= 100_000:
        pairs = _committed_pairs(lrows, as_of=as_of, since=since)
        lin = spark.createDataFrame(
            sorted(pairs), "part_id int, run_id string"
        )
        return blocks.join(
            F.broadcast(lin), ["part_id", "run_id"], "left_semi"
        )
    try:
        lin = spark.read.parquet(f"{out_dir}/lineage").filter(
            F.col("status") == "done"
        )
        if as_of is not None:
            lin = lin.filter(F.col("finished_at") <= float(as_of))
        if since is not None:
            lin = lin.filter(F.col("finished_at") > float(since))
        lin = lin.select("part_id", "run_id").distinct()
        # a part committed by MORE THAN ONE run means two encodes were
        # appended to the same dir (both resume=False) — decoding would
        # silently double rows; refuse (metadata-scale check)
        dup = (
            lin.groupBy("part_id")
            .agg(F.countDistinct("run_id").alias("n"))
            .filter(F.col("n") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                f"part {dup[0]['part_id']} in {out_dir} was committed by "
                f"{dup[0]['n']} different runs — the table is ambiguous "
                "(two encodes appended to one dir?); vacuum/rebuild it"
            )
    except ValueError:
        raise
    except Exception:
        return blocks
    return blocks.join(F.broadcast(lin), ["part_id", "run_id"], "left_semi")


def table_columns(blocks: DataFrame) -> list[tuple[str, str]]:
    """[(col, ptype)] in original column order — metadata-only collect.
    Under schema evolution (append runs with differing column sets) the
    result is the UNION schema, ordered by first-seen column index; the
    same column re-appended with a DIFFERENT ptype is refused — silently
    picking one would decode the other run's chunks as garbage."""
    rows = (
        blocks.select("col", "col_idx", "ptype").distinct()
        .orderBy("col_idx", "col").collect()
    )
    # note on the timestamp_us/timestamp_ntz coalesce inside
    # _apply_union_schema: Spark writes TimestampType as parquet INT96,
    # which pyarrow reads tz-NAIVE, so the direct-read path classifies the
    # same column ntz while the DataFrame path (tz-aware Arrow batches)
    # classifies it us — e.g. a merge_rows append onto a directly-encoded
    # table. INT96 is UTC-adjusted by spec, so the instants are identical
    # either way; the union coalesces to the tz-aware type.
    return _apply_union_schema([(r["col"], r["ptype"]) for r in rows])


_TS_PTYPES = ("timestamp_us", "timestamp_ntz")


def _predicate_value(v, ptype: str) -> int:
    """Normalize a predicate literal to the engine's int64 domain for the
    column's ptype: DAYS for date32 (zone-map vmin/vmax of date columns are
    stored in days), MICROSECONDS for timestamps, order-preserving 7-byte
    prefixes for string/binary (see chunks.string_prefix64)."""
    import datetime as _dt

    if ptype in ("string", "binary"):
        from cuda_float_compress_spark.operators.chunks import string_prefix64

        return string_prefix64(v)
    if ptype in ("float32", "float64"):
        import math

        from cuda_float_compress_spark.operators.chunks import float_key64

        if math.isnan(float(v)):
            raise ValueError(
                "NaN predicate literals are not supported (Spark's NaN "
                "equality semantics differ from SQL; filter explicitly)"
            )
        return float_key64(v)
    if ptype == "date32":
        if isinstance(v, _dt.datetime):
            v = v.date()
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        return int(v)  # already days-since-epoch
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return int((v - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    if isinstance(v, _dt.date):
        return int(
            (_dt.datetime(v.year, v.month, v.day) - _dt.datetime(1970, 1, 1))
            .total_seconds() * 1_000_000
        )
    return int(v)


def _bloom_literal(v, ptype: str):
    """An equality literal in the form the chunk's Bloom filter was built
    from. Filters exist for string, binary and int columns only
    (encode.py); int filters hash the DECIMAL TEXT of the values
    (``str(int)``), so an int-column literal probes as the decimal text of
    the int the zone map compares (``_predicate_value``): ``5``, ``5.0``,
    ``"05"`` and ``" 5"`` all probe ``b"5"``, as Spark's own ``k == "05"``
    matches 5. None (no probe: the chunk is kept) when the literal has no
    int form."""
    if ptype in ("int64", "int32"):
        try:
            return str(_predicate_value(v, ptype))
        except (TypeError, ValueError, OverflowError):
            return None
    return v


# --- pruning rules: one op→rule table for both planners ---------------------


class _Kleene:
    """A pyarrow array with the Column operators ``_keep_rule`` uses, in
    SQL three-valued logic (a comparison with null is null, & and | are
    Kleene; a filter keeps only true) — so the rule evaluates on metadata
    read with pyarrow exactly as it does on a Spark DataFrame."""

    __slots__ = ("a",)

    def __init__(self, a):
        self.a = a

    def isNull(self):  # noqa: N802 — the Column method name
        return _Kleene(pc.is_null(self.a))

    def __le__(self, v):
        return _Kleene(pc.less_equal(self.a, v))

    def __ge__(self, v):
        return _Kleene(pc.greater_equal(self.a, v))

    def __and__(self, other):
        return _Kleene(pc.and_kleene(self.a, other.a))

    def __or__(self, other):
        return _Kleene(pc.or_kleene(self.a, other.a))


def _keep_rule(op: str, value, ptype: str, vmin, vmax, maybe=None):
    """Whether a chunk (or part) with zone map [vmin, vmax] MIGHT hold a
    row satisfying ``col op value``: the keep rule of qualifying_parts and
    qualifying_chunks (``vmin``/``vmax`` are Spark Columns) and of
    plan_snapshot (``_Kleene`` arrays). Null stats keep (can't prune what
    wasn't measured). ``maybe(literal)`` is the Bloom "might contain" of
    the equality-shaped ops; None at part level (filters don't roll up)
    and for blocks without the bloom column."""

    def bloom(member):
        lit = None if maybe is None else _bloom_literal(member, ptype)
        return None if lit is None else maybe(lit)

    if op in (">=", ">"):
        return vmax.isNull() | (vmax >= _predicate_value(value, ptype))
    if op in ("<=", "<"):
        return vmin.isNull() | (vmin <= _predicate_value(value, ptype))
    if op in ("==", "="):
        v = _predicate_value(value, ptype)
        keep = vmin.isNull() | ((vmin <= v) & (vmax >= v))
        hit = bloom(value)
        return keep if hit is None else keep & hit
    if op == "in":
        # keep the chunk if ANY member could fall in [vmin, vmax] (each
        # member converts like an equality) AND might be in its filter
        keep = vmin.isNull()
        for member in value:
            mv = _predicate_value(member, ptype)
            hit, b = (vmin <= mv) & (vmax >= mv), bloom(member)
            keep = keep | (hit if b is None else hit & b)
        return keep
    raise ValueError(f"unsupported predicate op: {op}")


def qualifying_chunks(blocks: DataFrame, predicates: list[tuple]) -> DataFrame:
    """(part_id, chunk_id) keys whose zone-map stats and Bloom filters
    MIGHT satisfy all predicates — a metadata-only query (payload column
    never read). See _keep_rule; plan_snapshot is the driver-side twin."""
    from cuda_float_compress_spark.operators.bloom import bloom_probe_expr

    # tables encoded before the bloom column existed prune on zone maps only
    has_bloom = "bloom" in blocks.columns
    stat_cols = ["part_id", "chunk_id", "vmin", "vmax", "ptype"] + (
        ["bloom"] if has_bloom else []
    )
    maybe = (
        (lambda lit: bloom_probe_expr(F.col("bloom"), lit))
        if has_bloom else None
    )
    keys = blocks.select("part_id", "chunk_id").distinct()
    for col, op, value in predicates:
        stats = blocks.filter(F.col("col") == col).select(*stat_cols)
        first = stats.select("ptype").first()
        if first is None:
            # no chunk carries the column, so no row can satisfy it
            return keys.limit(0)
        keep = _keep_rule(op, value, first["ptype"], F.col("vmin"),
                          F.col("vmax"), maybe)
        keys = keys.join(
            stats.filter(keep).select("part_id", "chunk_id"),
            ["part_id", "chunk_id"],
            "left_semi",
        )
    return keys


def qualifying_parts(
    spark: SparkSession, out_dir: str, predicates: list[tuple]
) -> list[int] | None:
    """Part ids whose MANIFEST rollup stats (per-part min vmin / max vmax,
    written by build_manifest) might satisfy all predicates — level 1 of
    two-level pruning: whole parts drop before any CHUNK metadata is
    scanned (at 100 TB the chunk metadata is itself a job). Returns None
    when the manifest predates the rollup columns (no part pruning;
    chunk-level pruning still applies). Conservative by construction:
    null stats keep the part, stale extra manifest rows only WIDEN ranges,
    and Bloom filters don't roll up (equality probes prune at chunk
    level only)."""
    try:
        man = spark.read.option("mergeSchema", "true").parquet(
            f"{out_dir}/manifest"
        )
    except Exception:
        return None
    if "vmin" not in man.columns:
        return None
    keys = man.select("part_id").distinct()
    for col, op, value in predicates:
        stats = man.filter(F.col("col") == col).select(
            "part_id", "vmin", "vmax", "ptype"
        )
        first = stats.limit(1).collect()
        if not first:
            continue  # column unknown at part level (evolution) — keep all
        keep = _keep_rule(op, value, first[0]["ptype"], F.col("vmin"),
                          F.col("vmax"))
        keys = keys.join(
            stats.filter(keep).select("part_id").distinct(),
            "part_id", "left_semi",
        )
    return [r["part_id"] for r in keys.collect()]


# --- the driver-side snapshot planner ---------------------------------------


class SnapshotPlan(NamedTuple):
    """What a reader needs before it touches a payload."""

    columns: list        # [(col, ptype)]: union schema of all committed runs
    committed: set | None  # trusted (part_id, run_id), as_of/since-scoped;
                           # None: no lineage, every block is trusted
    keep_keys: set | None  # (part_id << 32 | chunk_id) keys kept by pruning
                           # and chunk_keys; None: nothing to prune by
    files: list          # the block files holding a live, kept chunk


def _read_meta(path: str, want: list[str]) -> tuple[pa.Table, set]:
    """The ``want`` columns of one metadata parquet file (mmap, one
    thread), and the names the file has; a column the file predates reads
    as nulls, like Spark's mergeSchema."""
    pf = pq.ParquetFile(path, memory_map=True, buffer_size=0)
    have = set(pf.schema_arrow.names)
    t = pf.read(columns=[c for c in want if c in have], use_threads=False)
    for c in want:
        if c not in have:
            t = t.append_column(c, pa.nulls(
                t.num_rows, pa.binary() if c == "bloom" else pa.int64()))
    return t, have


def _keep_mask(rows: pa.Table, op: str, value) -> pa.Array:
    """_keep_rule over one column's metadata rows (null → not kept). Rows
    are evaluated under their own ptype; a column's ptypes agree except
    timestamp_us/ntz, which normalize literals alike."""
    from cuda_float_compress_spark.operators.bloom import bloom_contains

    filters = (rows.column("bloom").to_pylist()
               if "bloom" in rows.column_names else None)

    def maybe(lit):
        return _Kleene(pa.array(
            [f is None or bloom_contains(f, lit) for f in filters],
            pa.bool_()))

    vmin, vmax = _Kleene(rows.column("vmin")), _Kleene(rows.column("vmax"))
    ptypes = rows.column("ptype")
    mask = None
    for ptype in pc.unique(ptypes).to_pylist():
        keep = _keep_rule(op, value, ptype, vmin, vmax,
                          None if filters is None else maybe).a
        m = pc.and_(pc.equal(ptypes, ptype), pc.fill_null(keep, False))
        mask = m if mask is None else pc.or_(mask, m)
    return mask


def _qualifying_parts_local(out_dir: str, predicates: list[tuple], cap):
    """qualifying_parts over the manifest read with pyarrow: the set of
    part ids, None when there is no rollup to prune by, _META_FALLBACK
    past the file cap."""
    files = sorted(_glob.glob(os.path.join(out_dir, "manifest", "*.parquet")))
    if not files:
        return None
    if cap is not None and len(files) > cap:
        return _META_FALLBACK
    parts: set = set()
    passed: list = [None] * len(predicates)  # None: column never seen
    has_rollups = False
    for f in files:
        t, have = _read_meta(f, ["part_id", "col", "ptype", "vmin", "vmax"])
        has_rollups |= "vmin" in have
        parts.update(pc.unique(t.column("part_id")).to_pylist())
        for i, (col, op, value) in enumerate(predicates):
            rows = t.filter(pc.equal(t.column("col"), col))
            if rows.num_rows:
                keep = rows.column("part_id").filter(_keep_mask(rows, op, value))
                passed[i] = (passed[i] or set()) | set(keep.to_pylist())
    if not has_rollups:
        return None  # the manifest predates the rollup columns
    for keep in passed:
        if keep is not None:  # a column unknown at part level keeps all
            parts &= keep
    return parts


def _trusted(t: pa.Table, pairs: set | None) -> pa.Array:
    """Mask of the block rows whose (part_id, run_id) is in ``pairs``."""
    if pairs is None:
        return pa.array(np.ones(t.num_rows, dtype=bool))
    by_run: dict = {}
    for p, r in pairs:
        by_run.setdefault(r, []).append(p)
    mask = pa.array(np.zeros(t.num_rows, dtype=bool))
    runs = t.column("run_id")
    for r in pc.unique(runs).to_pylist():
        if r in by_run:
            mask = pc.or_(mask, pc.and_(
                pc.equal(runs, r),
                pc.is_in(t.column("part_id"),
                         value_set=pa.array(by_run[r], pa.int32()))))
    return pc.fill_null(mask, False)


def _chunk_keys(t: pa.Table) -> np.ndarray:
    part = t.column("part_id").to_numpy(zero_copy_only=False).astype(np.int64)
    chunk = t.column("chunk_id").to_numpy(zero_copy_only=False)
    return (part << np.int64(32)) | chunk.astype(np.int64)


def _scan_blocks(files: list[str], pairs: set | None, scoped: set | None,
                 conjs: list[tuple]):
    """One metadata pass over the block files (payloads never read).
    Returns the union schema of the rows ``pairs`` trusts; per conjunction
    (predicates, part-id filter or None), the chunk keys that may satisfy
    it; and per file the keys of its ``scoped``-trusted chunks."""
    want = ["part_id", "chunk_id", "col", "col_idx", "ptype", "run_id"]
    if conjs:
        want += ["vmin", "vmax"]
        if any(op in ("==", "=", "in") for preds, _ in conjs
               for _, op, _ in preds):
            want.append("bloom")
    trips: set = set()
    cands = [set() for _ in conjs]   # keys of trusted (part-kept) chunks
    passes = [[set() for _ in preds] for preds, _ in conjs]
    file_keys = []
    for f in files:
        t, _ = _read_meta(f, want)
        t = t.filter(_trusted(t, pairs))
        trips.update(
            (r["col_idx"], r["col"], r["ptype"]) for r in
            t.group_by(["col_idx", "col", "ptype"]).aggregate([]).to_pylist())
        live = t if scoped is pairs else t.filter(_trusted(t, scoped))
        file_keys.append((f, np.unique(_chunk_keys(live))))
        for ci, (preds, parts) in enumerate(conjs):
            rows = t
            if parts is not None:
                rows = t.filter(pc.is_in(
                    t.column("part_id"),
                    value_set=pa.array(sorted(parts), pa.int32())))
            cands[ci].update(np.unique(_chunk_keys(rows)).tolist())
            for pi, (col, op, value) in enumerate(preds):
                sub = rows.filter(pc.equal(rows.column("col"), col))
                if sub.num_rows:
                    sub = sub.filter(_keep_mask(sub, op, value))
                    passes[ci][pi].update(_chunk_keys(sub).tolist())
    kept = []
    for cand, per_pred in zip(cands, passes):
        for s in per_pred:
            cand &= s
        kept.append(cand)
    cols = _apply_union_schema([(c, p) for _, c, p in sorted(trips)])
    return cols, kept, file_keys


def table_columns_local(files: list[str], committed: set | None):
    """table_columns computed driver-side from the block files' metadata
    columns (payloads never touched — parquet column projection). Rows
    from uncommitted runs are excluded when ``committed`` is given, exactly
    like the Spark path over committed_blocks. Returns _META_FALLBACK on
    any read error."""
    try:
        return _scan_blocks(files, committed, committed, [])[0]
    except (OSError, KeyError, pa.ArrowException):
        return _META_FALLBACK


def plan_snapshot(
    out_dir: str,
    predicates: list[tuple] | None = None,
    any_of: list[list[tuple]] | None = None,
    as_of: float | None = None,
    since: float | None = None,
    chunk_keys: set | None = None,
    cap: int | None = _META_FILE_CAP,
):
    """The driver-side snapshot planner of decode_table_direct and
    read_table_local: lineage, manifest rollups and the metadata columns
    of the block files, read with pyarrow, in one pass and no Spark job.

    Returns a SnapshotPlan: the committed pairs (the trust set is
    ``as_of``/``since``-scoped, the schema is the union of ALL committed
    runs — as decode_table_direct always had it), the chunk keys kept by
    ``predicates`` (AND: qualifying_parts, then qualifying_chunks), by
    ``any_of`` (OR of ANDs: the union of each conjunction's
    qualifying_chunks) and by ``chunk_keys``, and the block files that
    hold them. The keep rules are _keep_rule, the ones the Spark path
    evaluates. _META_FALLBACK when the metadata is remote, past ``cap``
    files, or unreadable (callers fall back to the Spark path)."""
    files = _local_files(f"{out_dir}/blocks", cap)
    lrows = _META_FALLBACK if files is None else _lineage_rows_local(out_dir, cap)
    if lrows is _META_FALLBACK:
        return _META_FALLBACK
    pairs = None if lrows is None else _committed_pairs(lrows)
    scoped = pairs
    if lrows is not None and (as_of is not None or since is not None):
        scoped = _committed_pairs(lrows, as_of=as_of, since=since)
    try:
        conjs = []
        if predicates:
            parts = _qualifying_parts_local(out_dir, predicates, cap)
            if parts is _META_FALLBACK:
                return _META_FALLBACK
            conjs.append((predicates, parts))
        conjs += [(conj, None) for conj in any_of or []]
        cols, kept, file_keys = _scan_blocks(files, pairs, scoped, conjs)
    except (OSError, KeyError, OverflowError, pa.ArrowException):
        return _META_FALLBACK
    keep = kept[0] if predicates else None
    if any_of:
        union = set().union(*kept[1 if predicates else 0:])
        keep = union if keep is None else keep & union
    if chunk_keys is not None:
        keep = set(chunk_keys) if keep is None else keep & set(chunk_keys)
    files = [
        f for f, ks in file_keys
        if len(ks) and (keep is None or not keep.isdisjoint(ks.tolist()))
    ]
    return SnapshotPlan(cols, scoped, keep, files)


_EXACT_STAT_PTYPES = (
    "int64", "int32", "timestamp_us", "timestamp_ntz", "date32",
    "float32", "float64",
)


def covered_chunks(blocks: DataFrame, predicates: list[tuple]) -> DataFrame:
    """(part_id, chunk_id) keys where EVERY row provably satisfies ALL
    predicates, from metadata alone — the complement of pruning: these
    chunks can contribute their pre-computed statistics (n, vsum, ...)
    to an aggregate without any payload read; only the boundary chunks
    (qualifying minus covered) need decoding.

    Sound only where chunk stats are EXACT per value: int family,
    timestamps/dates (micros/days), and floats (float_key64 is an order
    isomorphism, so key comparisons mirror value comparisons). String
    prefixes are NOT exact — string predicates yield no covered chunks.
    A chunk with nulls in a predicate column is never covered (nulls
    fail every predicate)."""
    keys = blocks.select("part_id", "chunk_id").distinct()
    for col, op, value in predicates:
        stats = blocks.filter(F.col("col") == col).select(
            "part_id", "chunk_id", "vmin", "vmax", "n_nulls", "ptype"
        )
        first = stats.select("ptype").first()
        ptype = first["ptype"] if first else None
        if ptype not in _EXACT_STAT_PTYPES:
            return keys.limit(0)
        v = None if op == "in" else _predicate_value(value, ptype)
        base = (
            F.col("vmin").isNotNull() & F.col("vmax").isNotNull()
            & (F.col("n_nulls") == 0)
        )
        if op == ">=":
            cond = F.col("vmin") >= v
        elif op == ">":
            cond = F.col("vmin") > v
        elif op == "<=":
            cond = F.col("vmax") <= v
        elif op == "<":
            cond = F.col("vmax") < v
        elif op in ("==", "="):
            cond = (F.col("vmin") == v) & (F.col("vmax") == v)
        elif op == "in":
            anyeq = F.lit(False)
            for member in value:
                mv = _predicate_value(member, ptype)
                anyeq = anyeq | (
                    (F.col("vmin") == mv) & (F.col("vmax") == mv)
                )
            cond = anyeq
        else:
            raise ValueError(f"unsupported predicate op: {op}")
        keys = keys.join(
            stats.filter(base & cond).select("part_id", "chunk_id"),
            ["part_id", "chunk_id"],
            "left_semi",
        )
    return keys


def _exact_condition(predicates: list[tuple], ptypes: dict):
    """AND-of-predicates as one boolean Column (the row-exact twin of the
    zone-map prune)."""
    import datetime as _dt

    def conv(col, value):
        """Normalize one literal + the column expression for comparison."""
        if ptypes.get(col) in _TS_PTYPES:
            return (F.unix_micros(F.col(col).cast("timestamp")),
                    _predicate_value(value, ptypes[col]))
        if ptypes.get(col) == "date32":
            if isinstance(value, _dt.datetime):
                value = value.date()
            elif isinstance(value, int):  # days-since-epoch literal
                value = _dt.date(1970, 1, 1) + _dt.timedelta(days=value)
            return F.col(col), value
        return F.col(col), value

    cond = F.lit(True)
    for col, op, value in predicates:
        if op == "in":
            pairs = [conv(col, member) for member in value]
            c = pairs[0][0] if pairs else F.col(col)
            cond = cond & c.isin([v for _, v in pairs])
            continue
        c, value = conv(col, value)
        cond = cond & (
            {"<": c < value, "<=": c <= value, ">": c > value,
             ">=": c >= value, "==": c == value, "=": c == value}[op]
        )
    return cond


def _exact_filter(df: DataFrame, predicates: list[tuple], ptypes: dict) -> DataFrame:
    return df.filter(_exact_condition(predicates, ptypes))


def decode_table(
    spark: SparkSession,
    out_dir: str,
    columns: list[str] | None = None,
    keep_part_id: bool = False,
    predicates: list[tuple] | None = None,
    as_of: float | None = None,
    parts: list[int] | None = None,
    apply_deletes: bool = True,
    any_of: list[list[tuple]] | None = None,
    since: float | None = None,
) -> DataFrame:
    """Decode the encoded table. ``predicates`` — [(col, op, literal)] with op
    in <, <=, ==, >=, > — prune whole chunks via zone-map stats BEFORE any
    payload is read (the encoded format's analog of parquet predicate
    pushdown), then apply the exact filter to the decoded rows. ``as_of``
    (epoch seconds) time-travels the append-only table to a past snapshot
    (see committed_blocks). ``parts`` restricts the decode to a part-id
    subset (incremental consumers: the part_id is the unit of progress).
    ``apply_deletes``: anti-join committed tombstones (operators/deletes) —
    on by default; both decode paths agree on merge-on-read semantics.
    ``any_of``: OR-of-conjunctions — chunk pruning via the UNION of each
    conjunction's qualifying set, exact OR filter after decode (parity
    with decode_table_direct).
    ``since`` (exclusive): decode only runs committed after that instant —
    the incremental-consumer read (see committed_blocks)."""
    from cuda_float_compress_spark.operators.deletes import (
        anti_join_tombstones,
        tombstones_df,
    )

    tombs = tombstones_df(spark, out_dir, as_of=as_of) if apply_deletes else None
    blocks = committed_blocks(spark, out_dir, as_of=as_of, since=since)
    if parts is not None:
        blocks = blocks.filter(F.col("part_id").isin([int(p) for p in parts]))
    # schema via the driver-side pyarrow fast path when it can mirror the
    # Spark collect exactly: full-table reads (no parts subset) with the
    # committed set scoped by the same as_of/since window
    cols = None
    if parts is None:
        blk_files = _local_files(f"{out_dir}/blocks")
        if blk_files is not None:
            lrows = _lineage_rows_local(out_dir)
            if lrows is not _META_FALLBACK:
                scoped = (
                    _committed_pairs(lrows, as_of=as_of, since=since)
                    if lrows is not None else None
                )
                got = table_columns_local(blk_files, scoped)
                if got is not _META_FALLBACK:
                    cols = got
    if cols is None:
        cols = table_columns(blocks)
    if predicates:
        # level 1: whole-part pruning from the manifest rollups
        keep_parts = qualifying_parts(spark, out_dir, predicates)
        if keep_parts is not None:
            blocks = blocks.filter(F.col("part_id").isin(keep_parts))
        # level 2: chunk pruning from block metadata
        keys = qualifying_chunks(blocks, predicates)
        blocks = blocks.join(keys, ["part_id", "chunk_id"], "left_semi")
    if any_of:
        union = None
        for conj in any_of:
            k = qualifying_chunks(blocks, conj)
            union = k if union is None else union.unionByName(k).distinct()
        blocks = blocks.join(union, ["part_id", "chunk_id"], "left_semi")
    if columns is not None:
        want = set(columns) | {c for c, _, _ in (predicates or [])} | {
            c for conj in (any_of or []) for c, _, _ in conj
        }
        cols = [(c, p) for c, p in cols if c in want]
        # prune PAYLOADS, not metadata rows: a chunk written before a
        # wanted column existed (schema evolution) must still reach its
        # decode group so its rows come back (wanted column = nulls) —
        # the null payload keeps the shuffle metadata-sized for unwanted
        # columns while the `n` field carries the chunk's row count
        blocks = blocks.withColumn(
            "payload",
            F.when(F.col("col").isin(list(want)), F.col("payload")),
        )

    out_fields = [f"`{c}` {_SPARK_TYPE[p]}" for c, p in cols]
    if keep_part_id:
        out_fields = ["part_id int"] + out_fields
    arrow_fields = [pa.field(c, _STD_ARROW[p]) for c, p in cols]
    if keep_part_id:
        arrow_fields = [pa.field("part_id", pa.int32())] + arrow_fields
    if tombs is not None:
        out_fields += ["_part_id int", "_chunk_id bigint", "_pos bigint"]
        arrow_fields += [pa.field("_part_id", pa.int32()),
                         pa.field("_chunk_id", pa.int64()),
                         pa.field("_pos", pa.int64())]
    out_schema = ", ".join(out_fields)
    arrow_schema = pa.schema(arrow_fields)
    col_ptypes = dict(cols)
    with_address = tombs is not None

    def decode_chunk(key: tuple, tbl: pa.Table) -> pa.Table:
        # applyInArrow passes grouping keys as pyarrow scalars
        part_id = key[0].as_py() if hasattr(key[0], "as_py") else int(key[0])
        by_col = {}
        n_rows = None
        payloads = tbl.column("payload").to_pylist()
        names = tbl.column("col").to_pylist()
        codecs = tbl.column("codec").to_pylist()
        params = tbl.column("params").to_pylist()
        ns = tbl.column("n").to_pylist()
        n_nulls = tbl.column("n_nulls").to_pylist()
        for i, name in enumerate(names):
            if payloads[i] is None:
                # projection-pruned metadata row: contributes the chunk's
                # row count only (see the payload-nulling in decode_table)
                n_rows = int(ns[i])
                continue
            ptype = col_ptypes[name]
            if name in by_col:
                # duplicate (part_id, chunk_id, col) would silently overwrite
                # a column with rows from a different run/epoch — corruption,
                # fail loudly (committed_blocks should have prevented this)
                raise ValueError(
                    f"duplicate block for part={key[0]} chunk={key[1]} "
                    f"col={name}: conflicting runs in {out_dir}/blocks"
                )
            arr = C.decode_column_chunk(
                payloads[i], codecs[i], params[i], int(ns[i]), int(n_nulls[i]), ptype
            )
            if not arr.type.equals(_STD_ARROW[ptype]):
                arr = arr.cast(_STD_ARROW[ptype])
            by_col[name] = arr
            n_rows = int(ns[i])
        out = {}
        if keep_part_id:
            out["part_id"] = pa.array([int(part_id)] * n_rows, type=pa.int32())
        for c, ptype_ in cols:
            if c not in by_col:  # column added after this chunk was written
                by_col[c] = pa.nulls(n_rows, _STD_ARROW[ptype_])
            out[c] = by_col[c]
        if with_address:
            chunk_id = key[1].as_py() if hasattr(key[1], "as_py") else int(key[1])
            out["_part_id"] = pa.array([int(part_id)] * n_rows,
                                       type=pa.int32())
            out["_chunk_id"] = pa.array([int(chunk_id)] * n_rows,
                                        type=pa.int64())
            out["_pos"] = pa.array(range(n_rows), type=pa.int64())
        return pa.table(out, schema=arrow_schema)

    decoded = (
        blocks.groupBy("part_id", "chunk_id").applyInArrow(decode_chunk, out_schema)
    )
    if tombs is not None:
        decoded = anti_join_tombstones(decoded, tombs)
        keep = (["part_id"] if keep_part_id else []) + [c for c, _ in cols]
        decoded = decoded.select(*keep)
    if predicates:
        decoded = _exact_filter(decoded, predicates, dict(cols))
    if any_of:
        disj = F.lit(False)
        for conj in any_of:
            disj = disj | _exact_condition(conj, dict(cols))
        decoded = decoded.filter(disj)
    if (predicates or any_of) and columns is not None:
        decoded = decoded.select(*[c for c, _ in cols if c in set(columns)])
    return decoded
