"""io.widen: the partition count comes off the physical plan, launching no
job, and the decision is the one the exact ``df.rdd.getNumPartitions()``
check makes; plans the walk cannot read still take that exact check."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from albedo_spark.io import _plan_partitions, widen
from tests.job_count import jobs_in_group


def _shapes(spark, tmp_path):
    one = str(tmp_path / "one")
    spark.range(200).selectExpr("id", "id % 7 AS w").coalesce(1).write.parquet(one)
    spark.sql("DROP TABLE IF EXISTS t_widen_bk")
    spark.range(200).selectExpr("id", "id % 7 AS w").write.bucketBy(
        16, "w"
    ).saveAsTable("t_widen_bk")
    stats = spark.createDataFrame([(5, 7)], "n bigint, a bigint")
    lc = spark.range(0, 100, 1, 8).selectExpr("id AS w").localCheckpoint(
        eager=False
    )
    return {
        "single_file": spark.read.parquet(one),
        "bucketed": spark.table("t_widen_bk").withColumn(
            "df", F.count("*").over(Window.partitionBy("w"))
        ),
        "checkpoint_cross": lc.crossJoin(F.broadcast(stats)),
        "local_relation": spark.sql("SELECT * FROM VALUES (1), (2) AS t(x)"),
    }


def test_widen_reads_plan_without_jobs(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    try:
        shapes = _shapes(spark, tmp_path)
        decisions = set()
        for name, df in shapes.items():
            widened, jobs = jobs_in_group(
                spark, f"widen_{name}", lambda: widen(df)
            )
            assert jobs == 0, f"{name}: widen launched {jobs} job(s)"
            exact = df.rdd.getNumPartitions()
            assert _plan_partitions(df) == exact, name
            assert (widened is df) == (exact >= target), name
            decisions.add(widened is df)
        assert decisions == {True, False}  # both outcomes exercised
    finally:
        spark.sql("DROP TABLE IF EXISTS t_widen_bk")


def test_widen_shuffle_fed_frame_takes_exact_check(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(500).selectExpr("id % 13 AS k").groupBy("k").count()
    assert _plan_partitions(df) is None
    for frame in (df, df.repartition(target + 3), df.coalesce(1)):
        assert _plan_partitions(frame) is None
        exact = frame.rdd.getNumPartitions()
        assert (widen(frame) is frame) == (exact >= target)
