"""The two benchmark workloads.

Each workload drives the engine only through its public functions and
exposes the same four steps to the harness in run.py:

* ``prepare()`` — one repetition of the workload's set-up (timed three
  times per run; the median goes into ``setup_s``).
* ``verify()`` — untimed checks that run once before the timed loop and
  warm it up; each check is an attempted operation.
* ``op(i)`` — one timed operation. It returns its timings and raises on a
  wrong result, after the timed part.
* ``layer_metrics()`` — trace-run numbers only this workload can produce.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import pickle
import random
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import checks
from perfbench.checks import expect

WEB_ROWS = 24_000           # ~26 MB raw, ~4.5 MB encoded (a twentieth of bench.py)
WEB_FILES = 4               # source parquet files = direct-encode splits
                            # = parts of the Bloom-indexed lookup table
SPLIT_ROWS = 16_384         # bench.py's direct-path split size
CHUNK_SAMPLE = 4            # chunks per encode op checked bit-exact
CORPUS_QUERIES = [
    "html_extract_text", "pii_redaction", "clean_corpus", "exact_dedup_docs",
    "minhash_dedup_pairs", "simhash_pairs", "dup_span_counts",
    "top_ngram_stats", "embedding_topk", "ann_lsh_topk",
]
CORPUS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus")
# the oracle child: argv = corpus dir, DuckDB temp dir; pickled results out
ORACLE_CHILD = """
import pickle, sys
out, sys.stdout = sys.stdout.buffer, sys.stderr
from perfbench.workloads import CORPUS_QUERIES, oracle_results
res = oracle_results(sys.argv[1], CORPUS_QUERIES, sys.argv[2])
out.write(pickle.dumps(res))
"""


def ensure_webpages(ctx) -> tuple[str, float]:
    """Seeded webpages parquet, cached by (seed, rows) across runs in the
    work dir. Returns (dir, generation seconds when it was made)."""
    path = os.path.join(ctx.work, "inputs",
                        f"webpages_s{ctx.seed}_r{WEB_ROWS}")
    meta = os.path.join(path, "_perfbench.json")
    if not os.path.exists(meta):
        from cuda_float_compress_spark.table import generate_webpages_df

        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        ctx.group("fixture: generate webpages")
        t0 = time.perf_counter()
        with ctx.tracer.span("table.generate_webpages_df"):
            generate_webpages_df(ctx.spark, WEB_ROWS, seed=ctx.seed,
                                 partitions=WEB_FILES).write.parquet(tmp)
        gen_s = time.perf_counter() - t0
        with open(os.path.join(tmp, "_perfbench.json"), "w") as fh:
            json.dump({"generate_s": gen_s}, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(meta) as fh:
        return path, json.load(fh)["generate_s"]


def read_source(path: str) -> pa.Table:
    """The source table in file order (the order plan_splits assigns parts
    in), timestamps at microsecond precision like the engine stores them."""
    tbl = pa.concat_tables(
        pq.read_table(f) for f in sorted(glob.glob(f"{path}/*.parquet")))
    cols = [c.cast(pa.timestamp("us", c.type.tz))
            if pa.types.is_timestamp(c.type) else c for c in tbl.columns]
    return pa.table(cols, names=tbl.column_names)


def spark_digest(df):
    """(rows, sum of per-row xxhash64) — order-insensitive; timestamps are
    compared as UTC microseconds whichever timestamp type a reader uses."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, T.TimestampNTZType):
            c = c.cast("timestamp")
        if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType)):
            c = F.unix_micros(c)
        cols.append(c.alias(f.name))
    row = df.select(*cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["h"]


class EncodeScanLookup:
    """The webpages table written and read. Each operation direct-encodes
    the seeded parquet, scans every column of the result into the noop
    sink, then looks up one url through both readers on a Bloom-indexed
    table encoded at set-up. The keys alternate between present urls and
    synthesized absent ones, so consecutive operations pair them."""

    name = "encode_scan_lookup"
    N_KEYS = 64

    def __init__(self, ctx):
        self.ctx = ctx
        self.src, self.generate_s = ensure_webpages(ctx)
        self.source = read_source(self.src)
        self.row_of = {u: i for i, u in
                       enumerate(self.source.column("url").to_pylist())}
        self.encode_stats: list[dict] = []  # of the direct encodes
        self.table: str | None = None  # newest direct encode output
        self.lookup_table: str | None = None  # the Bloom-indexed table
        # the reference every encode is checked against
        self.expect_rows = self.source.num_rows
        self.expect_raw = checks.arrow_raw_bytes(self.source)
        rng = random.Random(ctx.seed)
        urls = self.source.column("url").to_pylist()
        present = rng.sample(urls, self.N_KEYS // 2)
        # ids >= WEB_ROWS are never generated, so these urls are absent
        # while still falling inside the url column's zone-map range
        absent = [f"https://host{rng.randrange(100)}.example.com/"
                  f"p{WEB_ROWS + rng.randrange(10 * WEB_ROWS)}"
                  for _ in range(self.N_KEYS // 2)]
        self.keys = [k for pair in zip(present, absent) for k in pair]

    def floor_table(self) -> pa.Table:
        return self.source

    def fresh_dir(self, stem: str) -> str:
        return os.path.join(self.ctx.run_dir, f"{stem}_{time.monotonic_ns()}")

    def prepare(self) -> None:
        """Encode the lookup table with Bloom filters on url."""
        from cuda_float_compress_spark.operators.encode import encode_table

        out = self.fresh_dir("lookup_table")
        self.ctx.group("setup: encode_table bloom_cols=[url]")
        with self.ctx.tracer.span("operators.encode.encode_table"):
            encode_table(self.ctx.spark, self.ctx.spark.read.parquet(self.src),
                         out, n_parts=WEB_FILES, resume=False,
                         bloom_cols=["url"])
        if self.lookup_table:
            shutil.rmtree(self.lookup_table, ignore_errors=True)
        self.lookup_table = out

    def verify(self) -> list:
        # the checked warm-up of both paths: a full encode and decode, and
        # one present key through both readers
        return [self._check_digest,
                lambda: self._check_lookup(*self._lookup(self.keys[-2]))]

    def _encode(self) -> tuple[str, dict]:
        from cuda_float_compress_spark.operators.direct import (
            encode_table_direct,
        )

        out = self.fresh_dir("encode")
        with self.ctx.tracer.span("operators.direct.encode_table_direct"):
            st = encode_table_direct(self.ctx.spark, self.src, out,
                                     resume=False,
                                     target_rows_per_split=SPLIT_ROWS)
        return out, st

    def _keep(self, out: str) -> None:
        """The newest encode output stays for the trace-run metrics."""
        if self.table:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = out

    def _check_digest(self) -> None:
        """Decoding a fresh encode must give the source's rows: same count,
        same order-insensitive content digest."""
        from cuda_float_compress_spark.operators.direct import (
            decode_table_direct,
        )

        spark = self.ctx.spark
        self.ctx.group("verify: encode, then content digest")
        out, _ = self._encode()
        self._keep(out)
        want = spark_digest(spark.read.parquet(self.src))
        got = spark_digest(decode_table_direct(spark, out))
        expect(got == want, f"decoded digest {got} != source digest {want}")

    def _scan(self, out: str) -> None:
        from cuda_float_compress_spark.operators.direct import (
            decode_table_direct,
        )

        tr = self.ctx.tracer
        with tr.span("operators.direct.decode_table_direct[scan]"):
            df = decode_table_direct(self.ctx.spark, out)
        with tr.span("spark.job[scan]"):
            df.write.format("noop").mode("overwrite").save()

    def _lookup(self, key: str) -> tuple:
        from cuda_float_compress_spark.localio import read_table_local
        from cuda_float_compress_spark.operators.direct import (
            decode_table_direct,
        )

        tr = self.ctx.tracer
        preds = [("url", "==", key)]
        t0 = time.perf_counter()
        with tr.span("operators.direct.decode_table_direct[lookup]"):
            df = decode_table_direct(self.ctx.spark, self.lookup_table,
                                     predicates=preds)
        with tr.span("spark.job[lookup]"):
            spark_rows = df.collect()
        t1 = time.perf_counter()
        with tr.span("localio.read_table_local"):
            local = read_table_local(self.lookup_table, predicates=preds)
        t2 = time.perf_counter()
        return key, spark_rows, local, t1 - t0, t2 - t1

    def expected_rows(self, key: str) -> list[dict]:
        i = self.row_of.get(key)
        if i is None:
            return []
        return [checks.norm_row(self.source.slice(i, 1).to_pylist()[0])]

    def _check_lookup(self, key, spark_rows, local, *_) -> None:
        want = self.expected_rows(key)
        expect([checks.norm_row(r.asDict()) for r in spark_rows] == want,
               f"spark reader: wrong rows for {key}")
        expect([checks.norm_row(r) for r in local.to_pylist()] == want,
               f"local reader: wrong rows for {key}")

    def op(self, i: int) -> dict:
        key = self.keys[i % len(self.keys)]
        with self.ctx.timed_op(i) as t:
            t0 = time.perf_counter()
            out, st = self._encode()
            t1 = time.perf_counter()
            self._scan(out)
            t2 = time.perf_counter()
            found = self._lookup(key)
        try:
            expect(st["rows"] == self.expect_rows,
                   f"encoded {st['rows']} rows, source has {self.expect_rows}")
            expect(st["raw_bytes"] == self.expect_raw,
                   f"raw bytes {st['raw_bytes']} != source {self.expect_raw}")
            self._check_chunks(out, random.Random(self.ctx.seed * 7919 + i))
            self.encode_stats.append(st)
        finally:
            self._keep(out)
        self._check_lookup(*found)
        return {"op": t.elapsed, "encode": t1 - t0, "scan": t2 - t1,
                "spark": found[3], "local": found[4]}

    def _check_chunks(self, out: str, rng: random.Random) -> None:
        """A seeded sample of chunks must decode bit-exact to the source
        rows they were cut from."""
        from cuda_float_compress_spark.operators import chunks as Ch

        blk = pq.read_table(f"{out}/blocks", columns=[
            "part_id", "chunk_id", "col", "ptype", "codec", "n", "n_nulls",
            "params", "payload"]).to_pylist()
        by_chunk: dict[tuple, list] = {}
        for r in blk:
            by_chunk.setdefault((r["part_id"], r["chunk_id"]), []).append(r)
        keys = sorted(by_chunk)
        for key in rng.sample(keys, min(CHUNK_SAMPLE, len(keys))):
            cols = {r["col"]: Ch.decode_column_chunk(
                r["payload"], r["codec"], r["params"], r["n"], r["n_nulls"],
                r["ptype"]) for r in by_chunk[key]}
            expect(set(cols) == set(self.source.column_names),
                   f"chunk {key} has columns {sorted(cols)}")
            n = len(cols["url"])
            start = self.row_of.get(cols["url"][0].as_py())
            expect(start is not None, f"chunk {key}: unknown first url")
            want = self.source.slice(start, n)
            for c, arr in cols.items():
                expect(checks.same_column(arr, want.column(c)),
                       f"chunk {key} column {c} differs from the source")

    def layer_metrics(self) -> dict:
        from perfbench import layers

        return layers.decode_planning(self.ctx, self.lookup_table,
                                      self.keys[:4], self.row_of)


def oracle_results(corpus_dir: str, names: list[str], tmp: str) -> dict:
    """(rows, sorted columns, table_hash) of each query's DuckDB oracle."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    out = {}
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp}'")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{corpus_dir}/{t}.parquet')")
        for q in names:
            res = con.execute(sql[q])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[q] = (len(rows), sorted(cols), checks.table_hash(rows, cols))
    finally:
        con.close()
    return out


class CorpusQueries:
    """One fixed pass of ten text, dedup and similarity queries over the
    pinned corpus. The corpus is read-only and pinned, so the seed has no
    effect on this workload's inputs."""

    name = "corpus_queries"

    def __init__(self, ctx):
        import __spark_entry__ as entry

        self.ctx = ctx
        self.queries = {q: entry.queries()[q] for q in CORPUS_QUERIES}
        self.dir: str | None = None
        self.table = None  # no encoded table in this workload
        self.expected: dict[str, tuple] = {}
        self.encode_stats: list[dict] = []
        self.generate_s = 0.0

    def prepare(self) -> None:
        """Stage the pinned corpus into the run dir, checking its digests."""
        out = os.path.join(self.ctx.run_dir, f"corpus_{time.monotonic_ns()}")
        os.makedirs(out)
        with open(os.path.join(CORPUS_DIR, "SHA256SUMS")) as fh:
            sums = dict(reversed(ln.split()) for ln in fh if ln.strip())
        for name, digest in sums.items():
            dst = os.path.join(out, name)
            shutil.copyfile(os.path.join(CORPUS_DIR, name), dst)
            with open(dst, "rb") as fh:
                got = hashlib.sha256(fh.read()).hexdigest()
            expect(got == digest, f"pinned corpus file {name} changed")
        if self.dir:
            shutil.rmtree(self.dir, ignore_errors=True)
        self.dir = out

    def _oracles(self) -> None:
        """Expected results from the DuckDB oracles, computed once per run
        in a child process so DuckDB's memory stays out of the driver's
        peak RSS. The child is waited for before this returns."""
        child = subprocess.run(
            [sys.executable, "-c", ORACLE_CHILD, self.dir,
             os.path.join(self.ctx.work, "tmp", "duckdb")],
            stdout=subprocess.PIPE, check=True, timeout=120)
        self.expected = pickle.loads(child.stdout)

    def verify(self) -> list:
        return [self._oracles]

    def floor_table(self) -> pa.Table:
        return pq.read_table(os.path.join(self.dir, "documents.parquet"))

    def _pass(self, label: str) -> tuple[dict, dict]:
        """Run the ten queries once, collecting every result."""
        tr = self.ctx.tracer
        times, results = {}, {}
        for q, fn in self.queries.items():
            self.ctx.group(f"{label}: {q}", sub=q)
            t0 = time.perf_counter()
            with tr.span(f"query.{q}"):
                with tr.span("plan"):
                    df = fn(self.ctx.spark, self.dir)
                with tr.span("spark.job"):
                    results[q] = (df.collect(), df.columns)
            times[f"query.{q}"] = time.perf_counter() - t0
        return times, results

    def _check(self, results: dict) -> None:
        for q, (rows, cols) in results.items():
            checks.check_query(q, [tuple(r) for r in rows], cols,
                               self.expected[q])

    def op(self, i: int) -> dict:
        """One pass of the ten queries. The run's first pass is the
        session's first, so it pays the first-run costs (code generation,
        worker start-up) a batch job pays. Every result is held to its
        DuckDB oracle after the timed part."""
        with self.ctx.timed_op(i) as t:
            times, results = self._pass(f"op {i}")
        self._check(results)
        return {"op": t.elapsed, **times}

    def layer_metrics(self) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (EncodeScanLookup, CorpusQueries)}
