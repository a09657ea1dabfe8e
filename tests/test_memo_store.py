"""_memo_store cross-process adoption (r16, VERDICT r15 #3): a store
PUBLISHED by a previous process must be re-registered from its warehouse
directories (metadata-only) instead of rebuilt, with the bucket spec —
which the zero-Exchange probe plans depend on — re-attached."""

import shutil

import pytest
from pyspark.sql import functions as F


def _wh(spark) -> str:
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return wh.removeprefix("file:")


def test_adopt_published_store_skips_build(spark, tmp_path):
    from albedo_spark.operators.retrieval import (
        bm25_store_search,
        build_bm25_store,
    )
    from albedo_spark.queries import _MEMO_SERVED, _memo_store

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} token{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    src = tmp_path / "documents.parquet"
    docs.write.mode("overwrite").parquet(str(src))

    tag = "t_adopt_probe"
    specs = {"": ("w", 4), "_stats": None, "_fwd": ("doc_id", 4)}

    def _build(t: str) -> None:
        build_bm25_store(docs, t, num_buckets=4, forward=True)

    table = _memo_store(
        spark, str(tmp_path), "documents", tag, _build,
        companions=("_stats", "_fwd"), adopt_buckets=specs,
    )
    qdf = spark.createDataFrame(
        [("q1", "alpha token3")], "query_id string, text string"
    )
    try:
        before = {tuple(r) for r in bm25_store_search(qdf, table, top_k=5).collect()}

        # Simulate a fresh process: forget the catalog entries but keep
        # the published warehouse directories (DROP TABLE purges managed
        # dirs, so stash copies and restore them).
        wh = _wh(spark)
        members = [table, table + "_stats", table + "_fwd"]
        for m in members:
            shutil.copytree(f"{wh}/{m.lower()}", str(tmp_path / m))
        _MEMO_SERVED.pop(table, None)
        for m in members:
            spark.sql(f"DROP TABLE IF EXISTS `{m}`")
        for m in members:
            shutil.copytree(str(tmp_path / m), f"{wh}/{m.lower()}")

        def _must_not_build(t: str) -> None:
            raise AssertionError("adoption path rebuilt the store")

        adopted = _memo_store(
            spark, str(tmp_path), "documents", tag, _must_not_build,
            companions=("_stats", "_fwd"), adopt_buckets=specs,
        )
        assert adopted == table
        got = bm25_store_search(qdf, adopted, top_k=5)
        assert {tuple(r) for r in got.collect()} == before
        # bucket metadata is load-bearing: the adopted scan must still
        # read bucketed (the exchange-free scoring-aggregate property)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
    finally:
        _MEMO_SERVED.pop(table, None)
        for m in (table, table + "_stats", table + "_fwd"):
            spark.sql(f"DROP TABLE IF EXISTS `{m}`")


def test_adopt_refuses_incomplete_directory_set(spark, tmp_path):
    """A store whose member dirs are missing (or lack _SUCCESS) must NOT
    adopt — the build path runs instead."""
    from albedo_spark.queries import _adopt_published

    assert (
        _adopt_published(
            spark, "t_adopt_missing_zz", ("_stats",), {"": ("w", 4)}
        )
        is False
    )


def test_adopt_tolerates_member_registered_concurrently(spark, tmp_path, monkeypatch):
    """A member another session registers between adoption's
    ``tableExists`` check and its CREATE must not fail the adoption: the
    CREATE is ``IF NOT EXISTS`` (same directory, same bytes)."""
    from albedo_spark.operators.retrieval import build_bm25_store
    from albedo_spark.queries import _MEMO_SERVED, _adopt_published, _memo_store

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc{i}") for i in range(20)],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    specs = {"": ("w", 4), "_stats": None}
    table = _memo_store(
        spark, str(tmp_path), "documents", "t_adopt_race",
        lambda t: build_bm25_store(docs, t, num_buckets=4),
        companions=("_stats",), adopt_buckets=specs,
    )
    try:
        # every member is registered, but the check reports it absent
        monkeypatch.setattr(spark.catalog, "tableExists", lambda *a, **k: False)
        assert _adopt_published(spark, table, ("_stats",), specs) is True
        monkeypatch.undo()
        assert spark.table(table).count() > 0
    finally:
        _MEMO_SERVED.pop(table, None)
        for m in (table, table + "_stats"):
            spark.sql(f"DROP TABLE IF EXISTS `{m}`")
