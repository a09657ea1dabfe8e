"""Dump ``.explain("formatted")`` for named queries to files.

Usage::

    python tools/dump_plans.py OUTDIR SUFFIX q121_pagerank [q...]
    python tools/dump_plans.py --no-checkpoints OUTDIR SUFFIX q121_pagerank [q...]

Writes ``OUTDIR/<query>_<SUFFIX>.txt`` per query — the optimization-round
evidence files (plans/r{N}/<query>_before.txt / _after.txt). Plans are
captured WITHOUT executing the query (AdaptiveSparkPlan prints
isFinalPlan=false), which is exactly what the plan-shape claims in
OPTIMIZATION_r{N}.md are about: Exchange count, join strategy,
PushedFilters/ReadSchema, WholeStageCodegen spans, Python eval nodes.

Iterative operators (pagerank, HITS, stores) EXECUTE jobs while
building their result frame (localCheckpoint rounds), and a final
checkpoint makes the default dump an 8-line ``Scan ExistingRDD`` that
proves nothing (VERDICT r15 #4). ``--no-checkpoints`` patches
``DataFrame.localCheckpoint`` to identity for the dump, so the FULL
stacked loop-body plan prints (every round's Exchange/join shape
visible). Use it only for operators whose checkpoints are
plan-growth/driver-barrier devices, not semantics: the dump never
executes the frame, but operators whose checkpoints prevent
optimizer-side plan explosion (the unigram DP) can blow up the
optimizer at EXPLAIN time under this flag.

Dumps are normalized so two checkouts' dumps diff cleanly: expression
ids (``#123``), exchange plan ids (``plan_id=``) and RDD numbers
(``RDD[45]``) are renumbered in order of first appearance, the warehouse
directory prints as ``<warehouse>``, and RDD call sites (``at
NativeMethodAccessorImpl.java:0`` / ``at <unknown>:0``, which depend on
how the frame was reached) print as ``at <callsite>``.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(plan: str, warehouse: str) -> str:
    """``plan`` with run-specific ids, paths and call sites made stable
    (see the module docstring)."""
    for prefix in ("file:", ""):
        plan = plan.replace(prefix + warehouse, "<warehouse>")
    plan = re.sub(r"(RDD\[\d+\] at \w+) at \S+?:\d+", r"\1 at <callsite>", plan)
    for pattern in (r"(#)(\d+)", r"(plan_id=)(\d+)", r"(RDD\[)(\d+)"):
        ids: dict[str, int] = {}
        plan = re.sub(
            pattern,
            lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids) + 1)),
            plan,
        )
    return plan


def main() -> None:
    args = sys.argv[1:]
    no_checkpoints = "--no-checkpoints" in args
    if no_checkpoints:
        args = [a for a in args if a != "--no-checkpoints"]
    if len(args) < 3:
        raise SystemExit(
            "usage: dump_plans.py [--no-checkpoints] OUTDIR SUFFIX QUERY [QUERY ...]"
        )
    outdir, suffix, names = args[0], args[1], args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from albedo_spark.queries import QUERIES
    from albedo_spark.session import get_spark

    if no_checkpoints:
        # Identity-patch checkpointing so checkpoint-terminated operators
        # dump their full stacked plan instead of `Scan ExistingRDD`.
        # Spark 4 dispatches to the CONCRETE classic DataFrame, which
        # overrides the pyspark.sql.DataFrame base — patch the class the
        # instances actually resolve against.
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        _CDF.localCheckpoint = lambda self, eager=True: self  # type: ignore[method-assign]

    unknown = [q for q in names if q not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {', '.join(unknown)}")

    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ),
            warehouse,
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()
