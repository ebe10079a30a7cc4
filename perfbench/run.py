"""Benchmark of the compression engine: one command, two workloads.

    python3 perfbench/run.py --workload encode_scan_lookup --seed 1 \
        --seconds 5 --trace 0

Runs from the root of a checkout. It builds nothing: it imports the engine
from the checkout, starts one local Spark session with one slot per core of
this process's CPU set, sets up the workload's inputs from ``--seed``, and
drives the engine from one closed-loop client (the next operation starts
when the previous one has returned) for ``--seconds``. Every operation's
output is checked; a failed check or an exception is a failed operation and
counts as infinitely slow in the medians.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` records a span
around every call the benchmark makes into a layer, measures each layer's
floor, and prints the per-layer metrics, with the traced operations' median
and the spans' measured share of it. The spans are written to
``.perfbench_work/traces/`` when the run ends.

All files the run makes are under ``.perfbench_work/`` in the checkout:
generated inputs (cached by seed and row count), encode outputs, Spark's
scratch space and temporary files. Encode outputs go through the page cache
with no fsync and are deleted once checked.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
PREPARE_REPS = 3

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("op_p50_ms", "ms", "lower"),
    ("driver_peak_rss_mb", "MB", "lower"),
]

_CODECS = ["bytes_zstd", "bytes_fsst", "bytes_lz4", "bytes_dict", "bytes_rle",
           "bytes_raw", "int_for", "int_zz", "int_delta", "int_dod",
           "int_rle", "int_dict", "int_patched", "int_raw"]
_QUERIES = [
    "html_extract_text", "pii_redaction", "clean_corpus", "exact_dedup_docs",
    "minhash_dedup_pairs", "simhash_pairs", "dup_span_counts",
    "top_ngram_stats", "embedding_topk", "ann_lsh_topk",
]

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("session.dispatch_ms_per_task", "ms", "lower"),
    ("table.generate_s", "s", "lower"),
    ("direct.encode.plan_s", "s", "lower"),
    ("direct.encode.write_s", "s", "lower"),
    ("direct.encode.manifest_s", "s", "lower"),
    ("direct.encode.n_tasks", "count", "lower"),
    ("direct.encode_gbps", "GB/s", "higher"),
    ("direct.scan_gbps", "GB/s", "higher"),
    ("direct.decode.plan_s", "s", "lower"),
    ("direct.decode.job_s", "s", "lower"),
    ("direct.arrow_crossing_gbps", "GB/s", "higher"),
    ("chunks.encode_1core_gbps", "GB/s", "higher"),
    ("chunks.decode_1core_gbps", "GB/s", "higher"),
    ("chunks.decode_verify_share", "fraction", "lower"),
    ("select.choose_s", "s", "lower"),
    *[(f"select.parts_using.{c}", "count",
       "lower" if c.endswith("_raw") else "higher") for c in _CODECS],
    ("core.zstd1_compress_floor_gbps", "GB/s", "higher"),
    ("core.zstd1_decompress_floor_gbps", "GB/s", "higher"),
    ("decode.committed_blocks_s", "s", "lower"),
    ("decode.qualifying_parts_s", "s", "lower"),
    ("decode.qualifying_chunks_s", "s", "lower"),
    ("decode.chunks_total", "count", "lower"),
    ("decode.chunks_kept", "count", "lower"),
    ("decode.chunks_with_match", "count", "higher"),
    ("decode.prune_precision", "fraction", "higher"),
    ("bloom.false_positive_chunks", "count", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    *[(f"query.{q}_s", "s", "lower") for q in _QUERIES],
    *[(f"query.{q}.spark_jobs", "count", "lower") for q in _QUERIES],
    ("lookup.spark_p50_ms", "ms", "lower"),
    ("lookup.local_p50_ms", "ms", "lower"),
    ("encode.compression_ratio", "ratio", "higher"),
    ("op.unattributed_ms", "ms", "lower"),
    ("trace.op_p50_ms", "ms", "lower"),
    ("trace.overhead_share", "fraction", "lower"),
]

# fewest timed operations per run, whatever --seconds says
MIN_OPS = {"encode_scan_lookup": 3, "corpus_queries": 1}
# most timed operations per run: the corpus operation is the session's first
# pass, and a later pass would be a warm one, a different measurement
MAX_OPS = {"corpus_queries": 1}


def _host_cores() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal"))
    mb = max(1024, min(8192, kb // 1024 // 4))
    return f"{mb}m"


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process, so that
    processes whose parent ends first (Spark's Python workers outlive the
    JVM that forked them) can still be waited for."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            pids.append(int(d))
    return pids


def _reap_children(grace_s: float = 10.0) -> None:
    """Terminate every remaining child and wait until each has ended; kill
    what is still there after ``grace_s``. Repeats until none is left, since
    a child that ends may hand its own children to this process."""
    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        pids = _children()
        if not pids:
            return
        late = time.monotonic() > deadline
        for pid in pids:
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


class _Timer:
    elapsed = None


class Ctx:
    """What a workload needs from the harness: the session, the seed, its
    directories, the tracer, and job labelling."""

    def __init__(self, workload: str, seed: int, tracer):
        self.workload = workload
        self.seed = seed
        self.work = WORK
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.tracer = tracer
        self.spark = None
        self.op_index: int | None = None
        self.op_groups: dict[int, list[str]] = {}

    def group(self, desc: str, sub: str = "main") -> None:
        """Label the jobs that follow. Inside an operation the group id is
        per operation (and per ``sub`` step), so its jobs can be counted."""
        if self.op_index is None:
            gid = f"perfbench:{self.workload}:{desc}"
        else:
            gid = f"perfbench:{self.workload}:op{self.op_index}:{sub}"
            groups = self.op_groups.setdefault(self.op_index, [])
            if gid not in groups:
                groups.append(gid)
        self.spark.sparkContext.setJobGroup(
            gid, f"perfbench {self.workload}: {desc}")

    @contextmanager
    def timed_op(self, i: int):
        self.op_index = i
        t = _Timer()
        try:
            self.group(f"op {i}")
            with self.tracer.op(i, f"op.{self.workload}"):
                t0 = time.perf_counter()
                yield t
                t.elapsed = time.perf_counter() - t0
        finally:
            self.op_index = None

    def op_jobs(self, i: int) -> tuple[int, int]:
        """(jobs, tasks) the operation ran, from its job groups."""
        st = self.spark.sparkContext.statusTracker()
        jobs = tasks = 0
        for gid in self.op_groups.get(i, []):
            for j in st.getJobIdsForGroup(gid):
                jobs += 1
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = st.getStageInfo(s)
                    tasks += si.numTasks if si else 0
        return jobs, tasks


def _setup_environment() -> None:
    """Keep every file the run and its child processes write inside the
    checkout, and make the package importable in Spark's Python workers."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    sys.dont_write_bytecode = True
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    os.environ["TZ"] = "UTC"  # Spark hands timestamps to Python in local time
    time.tzset()
    # the script's own directory must not shadow top-level modules
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") not in
                            (ROOT, os.path.dirname(os.path.abspath(__file__)))]


def _start_spark(app: str):
    from cuda_float_compress_spark.session import get_spark

    return get_spark(app=app, cores=_host_cores(),
                     driver_memory=_driver_memory(), extra={
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


class Run:
    """One benchmark run: set-up, checks, the timed loop, the result."""

    def __init__(self, args, ctx, workload_cls):
        self.args = args
        self.ctx = ctx
        self.cls = workload_cls
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.jobs: list[int] = []
        self.tasks: list[int] = []
        self.failed_timed = 0

    def attempt(self, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def execute(self) -> dict:
        ctx, tr = self.ctx, self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span("session.get_spark"):
            ctx.spark = _start_spark(f"perfbench-{ctx.workload}")
        self.session_start_s = time.perf_counter() - t0
        try:
            return self._execute()
        finally:
            _stop_spark(ctx.spark)

    def _execute(self) -> dict:
        ctx, tr, args = self.ctx, self.ctx.tracer, self.args
        wl = self.wl = self.cls(ctx)
        preps = []
        for rep in range(PREPARE_REPS):
            ctx.group(f"setup {rep}")
            t0 = time.perf_counter()
            with tr.span(f"setup.{wl.name}"):
                wl.prepare()
            preps.append(time.perf_counter() - t0)
        self.setup_s = self.session_start_s + statistics.median(preps)

        for check in wl.verify():
            self.attempt(check)

        deadline = time.perf_counter() + args.seconds
        for i in range(1, MAX_OPS.get(wl.name, sys.maxsize) + 1):
            if (time.perf_counter() >= deadline
                    and i > MIN_OPS[wl.name]):
                break
            res = self.attempt(lambda: wl.op(i))
            if res is None:
                self.failed_timed += 1
            else:
                for k, v in res.items():
                    self.samples.setdefault(k, []).extend(
                        v if isinstance(v, list) else [v])
                jobs, tasks = ctx.op_jobs(i)
                self.jobs.append(jobs)
                self.tasks.append(tasks)

        metrics = (self._layer_metrics() if args.trace
                   else self._end_to_end())
        return metrics

    def _median(self, key: str) -> float:
        from perfbench.checks import median_with_failures

        return median_with_failures(self.samples.get(key, []),
                                    self.failed_timed)

    def _end_to_end(self) -> dict:
        rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {
            "setup_s": self.setup_s,
            "op_p50_ms": self._median("op") * 1e3,
            "driver_peak_rss_mb": rss_kb / 1024,
        }

    def _layer_metrics(self) -> dict:
        from perfbench import layers
        from perfbench.spans import span_cost_s

        ctx, tr, wl = self.ctx, self.ctx.tracer, self.wl
        tr.enabled = True
        m = {name: 0.0 for name, _, _ in PER_LAYER}
        m["session.start_s"] = self.session_start_s
        m["table.generate_s"] = wl.generate_s
        tasks = statistics.median(self.tasks) if self.tasks else 1
        m["spark.jobs_per_op"] = (statistics.median(self.jobs)
                                  if self.jobs else 0)
        m["spark.tasks_per_op"] = tasks

        stats = wl.encode_stats
        if stats:
            m["encode.compression_ratio"] = statistics.median(
                s["raw_bytes"] / s["enc_bytes"] for s in stats)
        if wl.name == "encode_scan_lookup":
            for key, src in (("plan_s", "plan"), ("write_s", "encode_write"),
                             ("manifest_s", "manifest")):
                m[f"direct.encode.{key}"] = statistics.median(
                    s["timings_sec"].get(src, 0.0) for s in stats)
            m["direct.encode.n_tasks"] = statistics.median(
                s["n_tasks"] for s in stats)
            raw = wl.expect_raw
            m["direct.encode_gbps"] = raw / self._median("encode") / 1e9
            m["direct.scan_gbps"] = raw / self._median("scan") / 1e9
            m["direct.decode.plan_s"] = statistics.median(
                tr.durations("operators.direct.decode_table_direct[lookup]"))
            m["direct.decode.job_s"] = statistics.median(
                tr.durations("spark.job[scan]"))
            m["lookup.spark_p50_ms"] = self._median("spark") * 1e3
            m["lookup.local_p50_ms"] = self._median("local") * 1e3
        if wl.name == "corpus_queries":
            for q in _QUERIES:
                m[f"query.{q}_s"] = self._median(f"query.{q}")
                st = ctx.spark.sparkContext.statusTracker()
                counts = [len(st.getJobIdsForGroup(g))
                          for groups in ctx.op_groups.values()
                          for g in groups if g.endswith(f":{q}")]
                m[f"query.{q}.spark_jobs"] = statistics.median(counts)

        m["op.unattributed_ms"] = statistics.median(
            tr.self_durations(f"op.{wl.name}")) * 1e3
        # the traced run's own operation median, to hold against the
        # untraced run's op_p50_ms, and the spans' measured cost per op
        m["trace.op_p50_ms"] = self._median("op") * 1e3
        spans_per_op = (sum(1 for s in tr.spans if s["op"] is not None)
                        / max(len(self.samples.get("op", [])), 1))
        m["trace.overhead_share"] = (spans_per_op * span_cost_s()
                                     / self._median("op"))

        floor_tbl = wl.floor_table()
        m.update(layers.codec_floors(floor_tbl))
        # one task per core: the crossing rate at full parallelism
        m.update(layers.arrow_crossing(ctx, floor_tbl, _host_cores()))
        m.update(layers.dispatch_floor(ctx, tasks))
        m.update(layers.codec_parts(ctx, wl.table, _CODECS))
        m.update(wl.layer_metrics())
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(MIN_OPS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    _setup_environment()
    try:  # the engine comes from the checkout; without it there is no run
        import __spark_entry__  # noqa: F401
        import cuda_float_compress_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    from perfbench.spans import Tracer
    from perfbench.workloads import WORKLOADS

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(args.workload, args.seed, tracer)
    os.makedirs(ctx.run_dir, exist_ok=True)
    run = Run(args, ctx, WORKLOADS[args.workload])
    _become_subreaper()
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        metrics = run.execute()
    finally:
        _reap_children()
        if args.trace:
            tdir = os.path.join(WORK, "traces")
            os.makedirs(tdir, exist_ok=True)
            tracer.write(os.path.join(
                tdir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    # sample counts go to stderr; the result line has a fixed shape
    print(f"perfbench: {args.workload}: {len(run.samples.get('op', []))} "
          f"timed ops ({run.failed_timed} failed), {PREPARE_REPS} set-ups, "
          f"{run.attempted} ops attempted, {run.failed} failed",
          file=sys.stderr)
    units = {n: u for n, u, _ in (PER_LAYER if args.trace else END_TO_END)}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(v), "unit": units[n]}
                    for n, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
