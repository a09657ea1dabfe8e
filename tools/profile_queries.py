"""Warm-session repeat timing with per-run job counts.

Usage::

    python tools/profile_queries.py [sf_dir] qNNN [qNNN ...]

One untimed warm-up per query, then 5 timed noop-sink runs; prints the
runs, median, and the number of Spark jobs the last run submitted (the
stage-chain overhead signal for tiny-input operators).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    from albedo_spark.queries import QUERIES
    from albedo_spark.session import get_spark

    spark = get_spark("profile-queries")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    sc = spark.sparkContext
    # This session's own UI and application: another process may hold
    # port 4040, and then the UI binds the next free port.
    jobs_url = (
        f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}/jobs"
    )

    def njobs() -> int:
        try:
            return len(json.load(urllib.request.urlopen(jobs_url)))
        except Exception:
            return -1

    for name in args:
        fn = QUERIES[name]
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        j0 = njobs()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(
            f"{name}: {runs} median {statistics.median(runs)} "
            f"jobs/run {njobs() - j0}",
            flush=True,
        )


if __name__ == "__main__":
    main()
