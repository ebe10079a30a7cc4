"""Tests of the benchmark's own checks and bookkeeping (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import subprocess
import sys

import pyarrow as pa
import pytest

from perfbench import checks, run
from perfbench.spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle(rows, cols):
    return (len(rows), sorted(cols), checks.table_hash(rows, cols))


def test_query_check_accepts_the_same_rows_in_any_order():
    rows = [(1, "a", 0.5), (2, "b", None)]
    cols = ["id", "s", "x"]
    expected = _oracle(rows, cols)
    checks.check_query("q", list(reversed(rows)), cols, expected)
    # columns in another order hash the same as well
    checks.check_query("q", [(r[2], r[0], r[1]) for r in rows],
                       ["x", "id", "s"], expected)


def test_query_check_fails_on_a_wrong_expected_hash():
    rows = [(1, "a"), (2, "b")]
    cols = ["id", "s"]
    n, c, _ = _oracle(rows, cols)
    with pytest.raises(checks.CheckFailed, match="hash"):
        checks.check_query("q", rows, cols, (n, c, "0" * 16))


def test_query_check_fails_on_wrong_rows_or_columns():
    rows = [(1, "a"), (2, "b")]
    expected = _oracle(rows, ["id", "s"])
    with pytest.raises(checks.CheckFailed, match="rows"):
        checks.check_query("q", rows[:1], ["id", "s"], expected)
    with pytest.raises(checks.CheckFailed, match="columns"):
        checks.check_query("q", rows, ["id", "t"], expected)
    with pytest.raises(checks.CheckFailed, match="hash"):
        checks.check_query("q", [(1, "a"), (2, "c")], ["id", "s"], expected)


def test_rows_from_both_readers_compare_equal():
    naive = dt.datetime(2024, 8, 7, 1, 2, 3, 4)
    aware = naive.replace(tzinfo=dt.timezone.utc)
    spark_row = {"url": "u", "html": bytearray(b"\x00<p>"), "warc_ts": naive}
    local_row = {"url": "u", "html": b"\x00<p>", "warc_ts": aware}
    assert checks.norm_row(spark_row) == checks.norm_row(local_row)
    assert checks.norm_row(spark_row) != checks.norm_row(
        {**local_row, "html": b"\x01<p>"})


def test_columns_compare_by_value_across_physical_types():
    ts_ns = pa.array([1_000, 2_000], pa.timestamp("ns"))
    ts_us = pa.array([1, 2], pa.timestamp("us", "UTC"))
    assert checks.same_column(ts_ns, ts_us)
    assert checks.same_column(pa.array(["a", "b"]),
                              pa.array(["a", "b"], pa.large_string()))
    assert not checks.same_column(pa.array(["a", "b"]), pa.array(["a", "c"]))


def test_failed_operations_count_as_infinitely_slow():
    assert checks.median_with_failures([1.0, 2.0, 3.0], 0) == 2.0
    # a failure can only move the median up, never drop out of it
    assert checks.median_with_failures([1.0, 2.0, 3.0], 2) == 3.0
    assert checks.median_with_failures([1.0], 3) == 1e308
    assert math.isfinite(checks.median_with_failures([], 1))


def test_raw_bytes_count_values_like_the_engine():
    tbl = pa.table({"s": pa.array(["ab", None, "cde"]),
                    "t": pa.array([1, None, 3], pa.timestamp("us"))})
    assert checks.arrow_raw_bytes(tbl) == 5 + 2 * 8


def test_self_time_subtracts_child_spans():
    tr = Tracer(enabled=True)
    with tr.op(1, "op.x"):
        with tr.span("layer.a"):
            pass
        with tr.span("layer.b"):
            with tr.span("layer.c"):
                pass
    spans = {s["name"]: s for s in tr.spans}
    st = tr.self_times()
    op = spans["op.x"]
    children = sum(spans[n]["end"] - spans[n]["start"]
                   for n in ("layer.a", "layer.b"))
    assert st[op["id"]] == pytest.approx(op["end"] - op["start"] - children)
    assert spans["layer.c"]["parent"] == spans["layer.b"]["id"]
    assert all(s["op"] == 1 for s in tr.spans)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.op(1, "op.x"):
        with tr.span("layer.a"):
            pass
    assert tr.spans == []


def test_benchmark_json_matches_the_metrics_the_run_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]
            ] == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]
            ] == run.PER_LAYER
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.MIN_OPS)


def test_orphaned_grandchildren_are_terminated_and_waited_for():
    # the shell exits at once, leaving its background sleep orphaned; the
    # sleep must be re-parented to the run and ended by _reap_children
    code = (
        "import subprocess, time\n"
        "from perfbench import run\n"
        "run._become_subreaper()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 &'], check=True,"
        " stdout=subprocess.DEVNULL)\n"
        "time.sleep(0.2)\n"
        "before = run._children()\n"
        "run._reap_children(grace_s=5)\n"
        "print(len(before), len(run._children()))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, check=True,
                         capture_output=True, text=True, timeout=60,
                         env={**os.environ, "PYTHONPATH": ROOT}).stdout
    assert out.split() == ["1", "0"]
