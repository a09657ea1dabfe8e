"""Count the Spark jobs a block launches, via a job group."""

import time


def jobs_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; return ``(fn(), jobs)`` with
    ``jobs`` the number of Spark jobs it launched. A sentinel job runs
    last in the same group: the listener bus reports job starts in
    order, so once the sentinel is visible every earlier job is too."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not sc.statusTracker().getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "sentinel job never reported"
        time.sleep(0.05)
    return out, len(sc.statusTracker().getJobIdsForGroup(group)) - 1
