"""Per-operator metrics for one query run, via the UI's SQL REST API.

Usage::

    python tools/profile_sql.py [sf_dir] qNNN

One untimed warm-up, then one timed noop-sink run; prints every SQL
execution the timed run created, with per-node metrics (time in
exchanges, scans, joins, aggregates) — the SQL-tab view of guide §7.1
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
    from albedo_spark.queries import QUERIES
    from albedo_spark.session import get_spark

    spark = get_spark("profile-sql")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()

    fn = QUERIES[name]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm

    e0 = {e["id"] for e in _get(spark, "sql?length=1000")}
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    print(f"{name}: wall {time.perf_counter() - t0:.3f}s", flush=True)

    for e in _get(spark, "sql?details=true&planDescription=false&length=1000"):
        if e["id"] in e0:
            continue
        print(f"\n=== SQL exec {e['id']} dur={e['duration']}ms {e['description'][:80]}")
        for n in e.get("nodes", []):
            mets = {m["name"]: m["value"] for m in n.get("metrics", [])}
            interesting = {
                k: v
                for k, v in mets.items()
                if any(
                    s in k
                    for s in (
                        "time",
                        "rows",
                        "data size",
                        "shuffle bytes",
                        "files read",
                        "size of files",
                    )
                )
            }
            if interesting:
                print(f"  node {n['nodeId']:>3} {n['nodeName'][:45]:45} {interesting}")


if __name__ == "__main__":
    main()
