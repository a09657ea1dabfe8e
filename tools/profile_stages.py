"""Per-stage breakdown for one query run.

Usage::

    python tools/profile_stages.py [sf_dir] qNNN [repeats]

One untimed warm-up, then one timed noop-sink run; prints every Spark
stage the timed run submitted (duration, task count, input/shuffle
bytes) via the live UI REST API — the empirical side of guide §1.1
without a browser.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _get(spark, path: str):
    """GET ``path`` under this session's application in its own UI (the
    port is whichever one the session bound, not always 4040)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}"
    return json.load(urllib.request.urlopen(f"{base}/{path}"))


def main() -> None:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    name = args[0]
    repeats = int(args[1]) if len(args) > 1 else 1
    from albedo_spark.queries import QUERIES
    from albedo_spark.session import get_spark

    spark = get_spark("profile-stages")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    fn = QUERIES[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm

    j0 = {j["jobId"] for j in _get(spark, "jobs")}
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        print(f"{name}: wall {wall:.3f}s", flush=True)

    jobs = [j for j in _get(spark, "jobs") if j["jobId"] not in j0]
    print(f"jobs: {len(jobs)}")
    stages = {s["stageId"]: s for s in _get(spark, "stages")}
    tot = 0.0
    rows = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in sorted(j["stageIds"]):
            s = stages.get(sid)
            if not s or s.get("status") == "SKIPPED":
                continue
            sub = s.get("submissionTime", "")
            dur = 0.0
            if s.get("completionTime") and sub:
                from datetime import datetime

                f = "%Y-%m-%dT%H:%M:%S.%f%Z"
                dur = (
                    datetime.strptime(s["completionTime"].replace("GMT", ""), f[:-2])
                    - datetime.strptime(sub.replace("GMT", ""), f[:-2])
                ).total_seconds()
            tot += dur
            rows.append(
                (
                    dur,
                    f"job {j['jobId']:>4} stage {sid:>5} {dur:7.3f}s "
                    f"tasks={s['numCompleteTasks']:>3} "
                    f"in={s['inputBytes']:>11} sr={s['shuffleReadBytes']:>10} "
                    f"sw={s['shuffleWriteBytes']:>10}  {s['name'][:70]}",
                )
            )
    for _, line in rows:
        print(line)
    print(f"sum of stage durations: {tot:.3f}s (stages overlap, so sum >= wall is fine)")
    top = sorted(rows, key=lambda r: -r[0])[:12]
    print("--- slowest stages ---")
    for _, line in top:
        print(line)


if __name__ == "__main__":
    main()
