"""as_of_join semantics: inclusive match, latest-prior selection, inner vs
left behavior."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def sides(spark):
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "p1"),
         (1, "2024-01-01 12:00:00", "p2"),
         (2, "2024-01-01 09:00:00", "p3")],
        "user_id int, ts string, tag string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 09:30:00", 100),
         (1, "2024-01-01 10:00:00", 200),   # equal ts → inclusive match
         (1, "2024-01-01 11:00:00", 300),
         (3, "2024-01-01 08:00:00", 400)],
        "user_id int, ts string, v int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    return left, right


def test_asof_inner(spark, sides):
    from albedo_spark.operators.asof import as_of_join

    left, right = sides
    out = {r.tag: r.asof_v for r in as_of_join(
        left, right, key="user_id", value_cols=["v"]).collect()}
    assert out == {"p1": 200, "p2": 300}  # p3: user 2 has no rhs → dropped


def test_asof_left(spark, sides):
    from albedo_spark.operators.asof import as_of_join

    left, right = sides
    out = {r.tag: r.asof_v for r in as_of_join(
        left, right, key="user_id", value_cols=["v"], how="left").collect()}
    assert out["p3"] is None and len(out) == 3


def test_forward_direction(spark, sides):
    """forward = earliest right row with right.ts >= left.ts, inclusive."""
    from albedo_spark.operators.asof import as_of_join

    left, right = sides
    got = {
        r.tag: r.asof_v
        for r in as_of_join(
            left, right, key="user_id", direction="forward", how="left"
        ).collect()
    }
    assert got["p1"] == 200   # equal ts matches forward too (inclusive)
    assert got["p2"] is None  # nothing after 12:00 for user 1
    assert got["p3"] is None  # user 2 has no right rows


def test_tolerance_bounds_match_distance(spark, sides):
    """A carried row farther than tolerance_seconds counts as NO match —
    nulled under how='left', dropped under how='inner'; µs-exact bound."""
    from albedo_spark.operators.asof import as_of_join

    left, right = sides
    # backward: p2 (12:00) matches 11:00 (3600s away). tol 3599s → no match
    strict = {
        r.tag: r.asof_v
        for r in as_of_join(
            left, right, key="user_id", how="left", tolerance_seconds=3599
        ).collect()
    }
    assert strict["p2"] is None and strict["p1"] == 200
    exact = {
        r.tag: r.asof_v
        for r in as_of_join(
            left, right, key="user_id", how="left", tolerance_seconds=3600
        ).collect()
    }
    assert exact["p2"] == 300  # exactly at the bound: included
    inner = as_of_join(
        left, right, key="user_id", how="inner", tolerance_seconds=3599
    )
    assert {r.tag for r in inner.collect()} == {"p1"}


def test_direction_validation(spark, sides):
    from albedo_spark.operators.asof import as_of_join

    with pytest.raises(ValueError, match="backward|forward"):
        as_of_join(*sides, key="user_id", direction="nearest")


def test_chained_join_rejects_reserved_columns(spark, sides):
    """A second as_of_join on the first one's output fails up front on
    the carried asof_* names; after renaming them the chain works."""
    from albedo_spark.operators.asof import as_of_join

    left, right = sides
    first = as_of_join(left, right, key="user_id", value_cols=["v"], how="left")
    with pytest.raises(ValueError, match=r"reserved column.*asof_v.*asof_ts"):
        as_of_join(first, right, key="user_id", value_cols=["v"])
    with pytest.raises(ValueError, match=r"reserved column.*'_ts'"):
        as_of_join(left.withColumn("_ts", F.col("ts")), right, key="user_id")
    renamed = first.withColumnRenamed("asof_v", "v_back").withColumnRenamed(
        "asof_ts", "ts_back"
    )
    got = {
        r.tag: (r.v_back, r.asof_v)
        for r in as_of_join(
            renamed, right, key="user_id", value_cols=["v"],
            direction="forward", how="left",
        ).collect()
    }
    assert got == {"p1": (200, 200), "p2": (300, None), "p3": (None, None)}
