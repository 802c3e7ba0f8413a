"""Tests of the benchmark's own measurement code.

    python3 -m pytest perfbench/tests -q

The checksum tests start a local Spark session; the rest are pure.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import compare, measure  # noqa: E402

# ── percentile rule ──────────────────────────────────────────────────


@pytest.mark.parametrize("n", [1, 2, 9, 19, 20, 21])
def test_tail_is_median_without_enough_samples(n):
    xs = [float(i) for i in range(n)]
    value, pct, count = measure.tail(xs)
    assert (value, pct, count) == (measure.median(xs), 50.0, n)


@pytest.mark.parametrize("n,rank", [(24, 14), (40, 30), (100, 90)])
def test_tail_leaves_exactly_ten_samples_above(n, rank):
    xs = [float(i) for i in range(1, n + 1)]
    value, pct, count = measure.tail(list(reversed(xs)))
    assert value == float(rank)
    assert sum(x > value for x in xs) == measure.TAIL_BEYOND
    assert pct == pytest.approx(100.0 * rank / n)
    assert count == n


def test_typical_pass_takes_each_ops_median():
    passes = [{"a": 1.0, "b": 9.0}, {"a": 8.0, "b": 2.0}, {"a": 2.0, "b": 3.0}]
    # each pass has one slow op; the typical pass has none
    assert measure.typical_pass(passes) == 2.0 + 3.0
    assert measure.typical_pass(passes[:1]) == 10.0
    assert measure.typical_pass([]) == 0.0


def test_proc_tree_cpu_counts_reaped_children():
    before = measure.proc_tree_cpu_s(os.getpid())
    burn = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert measure.proc_tree_cpu_s(os.getpid()) - before >= 0.25


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        measure.tail([])


# ── spans and self time ──────────────────────────────────────────────


def _span(sid, layer, start, end, parent=None):
    return measure.Span(name=layer, layer=layer, start=start, end=end, parent=parent, sid=sid)


def test_self_time_subtracts_children():
    spans = [
        _span(0, "bench", 0.0, 10.0),
        _span(1, "dedup", 1.0, 4.0, parent=0),
        _span(2, "cacheutil", 5.0, 6.0, parent=0),
        _span(3, "dedup", 2.0, 3.0, parent=1),
    ]
    st = measure.self_times(spans)
    assert st["bench"] == pytest.approx(10.0 - 3.0 - 1.0)
    assert st["dedup"] == pytest.approx((3.0 - 1.0) + 1.0)
    assert st["cacheutil"] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "a", 0.0, 10.0),
        _span(1, "b", 1.0, 5.0, parent=0),
        _span(2, "b", 3.0, 7.0, parent=0),
        _span(3, "b", 9.0, 12.0, parent=0),  # clipped to the parent
    ]
    assert measure.self_times(spans)["a"] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_records_nesting_and_disabled_records_nothing():
    off = measure.Tracer(enabled=False)
    with off.span("x", "y"):
        pass
    assert off.spans == []

    on = measure.Tracer(enabled=True, run_id="r1")
    with on.span("outer", "o"):
        with on.span("inner", "i"):
            pass
    recs = on.as_records()
    assert [r["name"] for r in recs] == ["outer.o", "inner.i"]
    assert recs[0]["parent"] is None and recs[1]["parent"] == recs[0]["id"]
    assert all(r["run_id"] == "r1" and r["end"] >= r["start"] for r in recs)


# ── stamps ───────────────────────────────────────────────────────────


def _stamp(**kw):
    s = measure.stamp(Path(__file__).resolve().parents[2], "w", 7, 5, 4, {"docs": 10})
    s.update(kw)
    return s


def test_stamps_differing_only_in_commit_compare():
    a, b = _stamp(git_commit="a", source_digest="x"), _stamp(git_commit="b", source_digest="y")
    assert measure.stamp_mismatch(a, b) == []
    res = {"metrics": {"wall_s": {"value": 2.0, "unit": "s"}}}
    lines = compare.compare({"stamp": a, **res}, {"stamp": b, "metrics": {"wall_s": {"value": 1.0, "unit": "s"}}})
    assert lines == ["wall_s\t2\t1\t0.500\ts"]


@pytest.mark.parametrize(
    "key,value", [("nproc", 32), ("spark_threads", 32), ("inputs", {"docs": 11}), ("seed", 8), ("spark", "3.5.0")]
)
def test_stamps_differing_on_host_or_inputs_are_refused(key, value):
    a, b = _stamp(), _stamp(**{key: value})
    assert measure.stamp_mismatch(a, b) == [key]
    with pytest.raises(ValueError, match=key):
        compare.compare({"stamp": a, "metrics": {}}, {"stamp": b, "metrics": {}})


# ── checksum ─────────────────────────────────────────────────────────


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_checksum_ignores_order_and_partitioning(spark):
    rows = [(i, f"t{i}", [i, i + 1], float(i) / 3) for i in range(50)]
    schema = "k long, t string, xs array<int>, f double"
    a = spark.createDataFrame(rows, schema)
    b = spark.createDataFrame(list(reversed(rows)), schema).repartition(7)
    assert measure.checksum(a) == measure.checksum(b)
    assert measure.checksum(a)[0] == 50


@pytest.mark.parametrize("col", ["t", "xs", "f"])
def test_checksum_sees_every_column(spark, col):
    rows = [(i, f"t{i}", [i, i + 1], float(i) / 3) for i in range(20)]
    changed = list(rows)
    k, t, xs, f = changed[5]
    changed[5] = {"t": (k, t + "!", xs, f), "xs": (k, t, xs + [0], f), "f": (k, t, xs, f + 1.0)}[col]
    schema = "k long, t string, xs array<int>, f double"
    assert measure.checksum(spark.createDataFrame(rows, schema)) != measure.checksum(
        spark.createDataFrame(changed, schema)
    )


def test_checksum_sum_does_not_overflow(spark):
    from pyspark.sql import functions as F

    # 4000 rows whose hashes are far from zero: a long sum of them
    # would overflow or wrap; the decimal sum equals the exact sum
    df = spark.range(4000).select(F.col("id").cast("string").alias("s"))
    n, total = measure.checksum(df)
    hashes = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert n == 4000 and total == sum(hashes)


def test_checksum_keeps_python_kernels_that_count_prunes(spark):
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    df = spark.range(10).withColumn("y", plus_one("id"))
    count_plan = df.groupBy().count()._jdf.queryExecution().executedPlan().toString()
    cks_plan = measure.checksum_frame(df)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in count_plan
    assert "ArrowEvalPython" in cks_plan
