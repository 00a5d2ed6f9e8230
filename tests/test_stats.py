"""column_stats law tests: every field against a plain-Python reference on
adversarial frames, plus the plan shape (no Expand, no build-time job)."""

from __future__ import annotations

import datetime
import math
import re
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bun_csv_spark.functions.coercion import NUMBER_RE
from bun_csv_spark.operators.stats import column_stats

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_NUM = re.compile(NUMBER_RE)


def _key(v):
    """countDistinct's notion of equality: NaN equals NaN, -0.0 equals
    0.0 (Python already folds the zeros), lists compare by value."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return tuple(_key(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _spark_order(x: float):
    """Spark's double ordering: NaN above every other value."""
    return (math.isnan(x), x)


def reference_stats(df) -> list[dict]:
    """The stats contract computed in Python from the collected values and
    Spark's own string cast of each column (min_str/max_str are defined on
    that cast)."""
    cols = df.columns
    rows = df.select(
        *cols, *[F.col(c).cast("string").alias(f"__s{i}") for i, c in enumerate(cols)]
    ).collect()
    out = []
    for i, c in enumerate(cols):
        numeric_type = isinstance(df.schema[c].dataType, _NUMERIC)
        vals = [(r[i], r[len(cols) + i]) for r in rows]
        present = [(v, s) for v, s in vals if v is not None]
        nums = [
            float(v) if numeric_type else float(s)
            for v, s in present
            if numeric_type or _NUM.match(s)
        ]
        strs = [s for _, s in present]
        count, nulls = len(vals), len(vals) - len(present)
        uniq = len({_key(v) for v, _ in present})
        if present and all(_NUM.match(s) for s in strs):
            inferred = "number"
        elif uniq <= 10 and count > 100:
            inferred = "categorical"
        else:
            inferred = "string"
        out.append({
            "column": c, "count": count, "null_count": nulls, "unique_count": uniq,
            "min_num": min(nums, key=_spark_order) if nums else None,
            "max_num": max(nums, key=_spark_order) if nums else None,
            "mean_num": sum(nums) / len(nums) if nums else None,
            "min_str": min(strs) if strs else None,
            "max_str": max(strs) if strs else None,
            "inferred_type": inferred,
        })
    return out


def _same(got, want, field) -> bool:
    if isinstance(want, float) and isinstance(got, float):
        if math.isnan(want) or math.isnan(got):
            return math.isnan(want) and math.isnan(got)
        if field == "mean_num" and math.isfinite(want):
            return abs(got - want) <= 1e-9 * max(1.0, abs(want))
        # -0.0 == 0.0: which zero a min/max keeps depends on input order
        # in Spark as in Python, so the sign of a zero is not compared
        return got == want
    return got == want


def assert_matches_reference(df):
    got = [r.asDict() for r in column_stats(df).collect()]
    want = reference_stats(df)
    assert [g["column"] for g in got] == df.columns
    for g, w in zip(got, want):
        for field in w:
            assert _same(g[field], w[field], field), (g["column"], field, g[field], w[field])


_ADV_SCHEMA = (
    "l long, d double, z double, s string, ns string, none string, "
    "dec decimal(10,2), b boolean, dt date, ts timestamp, bin binary, "
    "arr array<string>, st struct<a:string,n:int>"
)
_INF = float("inf")
_TS = datetime.datetime(2020, 1, 1, 0, 0, 0, 1)


@pytest.fixture(scope="module")
def adversarial(spark):
    rows = [
        (1, 1.5, -0.0, "a", "007", None, Decimal("1.20"), True,
         datetime.date(2020, 1, 1), _TS, b"\xff", ["a, b"], ("x", 1)),
        (2, float("nan"), 0.0, "b", "1e5", None, Decimal("-3.00"), False,
         None, _TS.replace(microsecond=2), b"\xfe", ["a", "b"], ("x", None)),
        (None, _INF, -_INF, None, "-.5", None, None, None,
         datetime.date(2021, 1, 1), None, None, None, None),
        (2, float("nan"), 0.0, "a", "x", None, Decimal("1.20"), True,
         datetime.date(2020, 1, 1), _TS, b"", ["a", "b"], ("x", 1)),
        (3, -_INF, -0.0, "", "1.", None, Decimal("0.00"), True,
         datetime.date(2020, 1, 1), _TS, b"\xff", [], ("x, 1", None)),
    ]
    return spark.createDataFrame(rows, _ADV_SCHEMA)


def test_adversarial_values_match_reference(adversarial):
    assert_matches_reference(adversarial)


def test_adversarial_pins(adversarial):
    # spot values the reference agrees on, pinned so a shared mistake shows
    got = {r.column: r for r in column_stats(adversarial).collect()}
    assert got["z"].unique_count == 2  # -0.0 folds into 0.0; -inf
    assert got["z"].min_str == "-0.0" and got["z"].max_str == "0.0"
    assert got["d"].unique_count == 4  # 1.5, NaN (once), inf, -inf
    assert got["d"].inferred_type == "string"  # "NaN" is not a number
    assert got["ns"].min_num == -0.5 and got["ns"].max_num == 1e5
    assert got["arr"].unique_count == 3  # ["a, b"] and ["a", "b"] differ
    assert got["st"].unique_count == 3
    assert got["ts"].unique_count == 2  # microseconds apart
    assert got["bin"].unique_count == 3  # invalid UTF-8 bytes stay apart
    assert got["none"].null_count == 5 and got["none"].unique_count == 0
    assert got["dec"].inferred_type == "number"


def test_empty_frame_reports_every_column(spark, adversarial):
    empty = adversarial.limit(0)
    assert_matches_reference(empty)
    rows = column_stats(empty).collect()
    assert [r.column for r in rows] == adversarial.columns
    # Row.count is tuple.count, so the field is read by key
    assert all(r["count"] == 0 and r.null_count == 0 and r.unique_count == 0 for r in rows)


def test_columns_subset_keeps_requested_order(adversarial):
    got = [r.column for r in column_stats(adversarial, ["s", "l"]).collect()]
    assert got == ["s", "l"]


@pytest.mark.parametrize(
    "n_rows,n_uniques,expected",
    [(101, 10, "categorical"), (101, 11, "string"), (100, 10, "string")],
)
def test_categorical_edge(spark, n_rows, n_uniques, expected):
    df = spark.createDataFrame(
        [(f"v{i % n_uniques}",) for i in range(n_rows)], "c string"
    )
    assert_matches_reference(df)
    assert column_stats(df).first().inferred_type == expected


def test_plan_has_no_expand_and_no_build_time_job(spark, adversarial):
    sc = spark.sparkContext
    group = f"column_stats_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "column_stats build")
    try:
        st = column_stats(adversarial)
        build_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        plan = st._jdf.queryExecution().executedPlan().toString()
        st.collect()
        run_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert build_jobs == []
    assert run_jobs  # the counter does see the jobs once the caller acts
    assert "Expand" not in plan
    assert "HashAggregate(keys=[i" in plan
