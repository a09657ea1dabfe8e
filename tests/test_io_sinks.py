"""Partitioned sink semantics: dynamic partition overwrite must touch only
the partitions being reprocessed (io.write_partitioned_overwrite)."""

import pytest
from pyspark.sql import functions as F

from albedo_spark.io import write_partitioned_overwrite


def _day_df(spark, rows):
    return spark.createDataFrame(rows, "day string, k long, v double")


def test_partition_overwrite_is_surgical(spark, tmp_path):
    path = str(tmp_path / "t")
    base = _day_df(
        spark,
        [("2024-01-01", 1, 1.0), ("2024-01-02", 2, 2.0), ("2024-01-03", 3, 3.0)],
    )
    write_partitioned_overwrite(base, path, ["day"])

    # reprocess ONE day with different contents
    fix = _day_df(spark, [("2024-01-02", 99, 9.9)])
    write_partitioned_overwrite(fix, path, ["day"])

    got = {
        (str(r.day), r.k, r.v) for r in spark.read.parquet(path).collect()
    }
    assert got == {
        ("2024-01-01", 1, 1.0),
        ("2024-01-02", 99, 9.9),   # replaced
        ("2024-01-03", 3, 3.0),    # untouched
    }
    # conf restored for the session
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        == "static"
    )


def test_partition_overwrite_idempotent(spark, tmp_path):
    path = str(tmp_path / "t2")
    df = _day_df(spark, [("2024-02-01", 1, 1.0), ("2024-02-02", 2, 2.0)])
    write_partitioned_overwrite(df, path, ["day"])
    write_partitioned_overwrite(df, path, ["day"])  # rerun converges
    out = spark.read.parquet(path)
    assert out.count() == 2
    assert out.select(F.countDistinct("day")).collect()[0][0] == 2


def test_jsonl_ingest_with_corrupt_accounting(spark, tmp_path):
    from albedo_spark.io import read_jsonl_documents

    p = tmp_path / "corpus.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello world", "lang": "en", "source": "web"}\n'
        'this line is not json at all\n'
        '{"doc_id": 2, "text": "zwei", "lang": "de", "source": "web"}\n'
        '{"doc_id": 3, "text": "three"}\n'          # missing fields -> nulls, OK
        '{"doc_id": "not_a_number", "text": "bad type"}\n'
    )
    good, bad = read_jsonl_documents(spark, str(p))
    g = {r.doc_id: (r.text, r.lang) for r in good.collect()}
    assert g == {1: ("hello world", "en"), 2: ("zwei", "de"), 3: ("three", None)}
    raws = [r.raw_line for r in bad.collect()]
    assert len(raws) == 2
    assert any("not json" in r for r in raws)
    assert any("not_a_number" in r for r in raws)


def test_jsonl_round_trip(spark, tmp_path):
    """write_jsonl -> read_jsonl_documents round-trips values exactly,
    honors the num_files cap, gzips by default, and refuses to export a
    _corrupt_record column."""
    import pytest as _pt

    from albedo_spark.io import read_jsonl_documents, write_jsonl

    rows = [
        (1, "hello world", "en", "web"),
        (2, "zwei drei", "de", "books"),
        (3, None, "fr", "web"),          # NULL text survives the trip
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "drop")
    write_jsonl(df, out, num_files=1)
    import glob

    files = glob.glob(out + "/*.json.gz")
    assert len(files) == 1  # coalesced + gzip extension
    good, bad = read_jsonl_documents(spark, out)
    assert bad.count() == 0
    got = {r.doc_id: (r.text, r.lang, r.source) for r in good.collect()}
    assert got == {i: tuple(t) for i, *t in rows}

    poisoned = df.withColumn("_corrupt_record", F.lit("x"))
    with _pt.raises(ValueError):
        write_jsonl(poisoned, str(tmp_path / "nope"))


def test_compact_table_store_lifecycle(spark):
    """build -> append x3 -> compact: files collapse back to ~one per
    bucket, data survives exactly, and the bucketed-join layout property
    still holds post-compaction."""
    from albedo_spark.io import compact_table
    from albedo_spark.operators.dedup_store import (
        append_digests,
        build_digest_store,
        exact_dedup_incremental,
    )
    from pyspark.sql import functions as F

    tbl = "t_compact_store"
    try:
        base = spark.createDataFrame(
            [(i, f"text number {i}") for i in range(20)],
            "doc_id long, text string",
        )
        build_digest_store(base, tbl, num_buckets=4)
        for k in range(3):
            batch = spark.createDataFrame(
                [(100 + 20 * k + i, f"novel {k} {i}") for i in range(10)],
                "doc_id long, text string",
            )
            res = exact_dedup_incremental(batch, tbl)
            append_digests(res, tbl)
        before_rows = {
            (r.digest, r.keeper_id) for r in spark.table(tbl).collect()
        }
        stats = compact_table(spark, tbl)
        assert stats["files_before"] > 4  # appends fragmented the store
        assert stats["files_after"] <= 4
        assert stats["rows"] == len(before_rows) == 50
        after_rows = {
            (r.digest, r.keeper_id) for r in spark.table(tbl).collect()
        }
        assert after_rows == before_rows
        # layout property survives: with broadcast off (a tiny probe
        # would otherwise broadcast and skip bucketing trivially), the
        # join still reads the bucket layout
        saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            probe = spark.createDataFrame(
                [("x",)], "digest string"
            ).join(spark.table(tbl), "digest")
            plan = probe._jdf.queryExecution().executedPlan().toString()
            assert "Bucketed: true" in plan, plan
        finally:
            if saved is None:
                spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            else:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _store_docs(spark, ids):
    return spark.createDataFrame(
        [
            (i, f"doc {i} " + " ".join(f"w{(i * j) % 11}" for j in range(6)),
             f"http://h{i % 4}.com/p{i}")
            for i in ids
        ],
        "doc_id long, text string, url string",
    )


def _store_vectors(spark, ids):
    return spark.createDataFrame(
        [(i, [float((i * 31 + d * 7) % 13 - 6) for d in range(8)]) for i in ids],
        "vec_id long, embedding array<double>",
    )


def _grow_signatures(spark, t):
    from albedo_spark.operators.dedup_store import (
        append_signatures,
        build_signature_store,
    )

    build_signature_store(_store_docs(spark, range(12)), t, num_buckets=3)
    append_signatures(_store_docs(spark, range(12, 20)), t)
    return [(t, "bkey")]


def _grow_digests(spark, t):
    from albedo_spark.operators.dedup_store import (
        append_digests,
        build_digest_store,
        exact_dedup_incremental,
    )

    build_digest_store(_store_docs(spark, range(12)), t, num_buckets=3)
    batch = _store_docs(spark, range(12, 20))
    append_digests(exact_dedup_incremental(batch, t), t)
    return [(t, "digest")]


def _grow_urls(spark, t):
    from albedo_spark.operators.dedup_store import (
        append_urls,
        build_url_store,
        url_dedup_incremental,
    )

    build_url_store(_store_docs(spark, range(12)), t, num_buckets=3)
    append_urls(url_dedup_incremental(_store_docs(spark, range(12, 20)), t), t)
    return [(t, "canonical_url")]


def _grow_simhash(spark, t):
    from albedo_spark.operators.dedup_store import (
        append_simhash,
        build_simhash_store,
    )

    build_simhash_store(_store_docs(spark, range(12)), t, num_buckets=3)
    append_simhash(_store_docs(spark, range(12, 20)), t)
    return [(t, "bkey")]


def _grow_vectors(spark, t):
    from albedo_spark.operators.vector_store import (
        append_vectors,
        build_vector_store,
    )

    build_vector_store(_store_vectors(spark, range(30)), t, dim=8,
                       num_buckets=3)
    append_vectors(_store_vectors(spark, range(30, 40)), t, dim=8)
    return [(t, "bucket")]


def _grow_pq_vectors(spark, t):
    from albedo_spark.operators.vector_store import (
        append_pq_vectors,
        build_pq_store,
    )

    build_pq_store(_store_vectors(spark, range(30)), t, kc=2, m=2, subdim=4,
                   stride=7, num_buckets=3)
    append_pq_vectors(_store_vectors(spark, range(30, 40)), t, m=2, subdim=4)
    return [(t, "cluster_id")]


def _grow_bm25_postings(spark, t):
    from albedo_spark.operators.retrieval import (
        append_bm25_postings,
        build_bm25_store,
    )

    build_bm25_store(_store_docs(spark, range(12)), t, num_buckets=3,
                     forward=True)
    append_bm25_postings(_store_docs(spark, range(12, 20)), t)
    return [(t, "w"), (t + "_fwd", "doc_id")]


@pytest.mark.parametrize(
    "grow",
    [_grow_signatures, _grow_digests, _grow_urls, _grow_simhash,
     _grow_vectors, _grow_pq_vectors, _grow_bm25_postings],
    ids=lambda f: f.__name__.removeprefix("_grow_"),
)
def test_appenders_inherit_catalog_layout(spark, grow):
    """Every store appender writes in the layout its builder chose: a
    store built with 3 buckets and appended to with no count keeps 3
    buckets, every file's bucket id is ``pmod(hash(key), 3)`` of every
    row in it, and a ``groupBy`` on the key needs no Exchange."""
    from albedo_spark.io import table_num_buckets

    t = f"t_layout_{grow.__name__.removeprefix('_grow_')}"
    try:
        for tbl, key in grow(spark, t):
            assert table_num_buckets(spark, tbl) == 3
            name = F.col("_metadata.file_name")
            rows = spark.table(tbl).select(
                F.regexp_extract(name, r"-([0-9a-f-]{36})_", 1).alias("job"),
                F.regexp_extract(name, r"_(\d{5})\.c\d+", 1).alias("file_b"),
                F.format_string("%05d", F.pmod(F.hash(key), F.lit(3)))
                .alias("key_b"),
            )
            assert rows.where("file_b != key_b").count() == 0
            assert rows.select("file_b").distinct().count() > 1
            # files of both writes are present: the build's and the append's
            assert rows.select("job").distinct().count() == 2
            plan = (
                spark.table(tbl).groupBy(key).count()
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange" not in plan, plan
    finally:
        for suf in ("", "_fwd", "_stats", "_cents", "_cb", "_bloom"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suf}")


def test_drop_orphan_location_mtime_guard(spark):
    """The live-concurrent-publisher guard: a warehouse directory written
    at/after the watermark is refused (it may be another session's
    just-published table), an older one is a genuine orphan and goes;
    an absent location reports cleared either way."""
    import os
    import time

    from albedo_spark.io import drop_orphan_table_location

    wh = spark.conf.get("spark.sql.warehouse.dir")
    wh = wh.removeprefix("file:")
    d = os.path.join(wh, "t_orphan_guard")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write("x")
    now_ms = int(time.time() * 1000)
    try:
        # dir mtime is "now": younger than a watermark 60 s in the past
        assert drop_orphan_table_location(
            spark, "t_orphan_guard", older_than_ms=now_ms - 60_000
        ) is False
        assert os.path.isdir(d)
        # age the directory past the watermark -> genuine orphan, deleted
        old = time.time() - 3600
        os.utime(d, (old, old))
        assert drop_orphan_table_location(
            spark, "t_orphan_guard", older_than_ms=now_ms
        ) is True
        assert not os.path.exists(d)
        # absent location: cleared, nothing to do
        assert drop_orphan_table_location(
            spark, "t_orphan_guard", older_than_ms=now_ms
        ) is True
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)


def test_compact_table_adopts_orphan_after_crashed_swap(spark):
    """A crash between compact_table's DROP and RENAME strands the
    compacted data in the pid-suffixed private table with the published
    name gone. The next compact_table call must ADOPT it back into place
    (no data loss), and a stale private copy alongside a LIVE published
    table must be dropped as debris."""
    from albedo_spark.io import compact_table, write_bucketed
    from albedo_spark.operators.dedup_store import build_digest_store

    tbl = "t_crash_store"
    try:
        base = spark.createDataFrame(
            [(i, f"text number {i}") for i in range(20)],
            "doc_id long, text string",
        )
        build_digest_store(base, tbl, num_buckets=4)
        rows = {(r.digest, r.keeper_id) for r in spark.table(tbl).collect()}

        # Simulate the crash window: the private compacted copy exists,
        # the published name was DROPped, the RENAME never ran.
        write_bucketed(spark.table(tbl), f"{tbl}__c999", "digest", 4)
        spark.sql(f"DROP TABLE `{tbl}`")
        assert not spark.catalog.tableExists(tbl)

        stats = compact_table(spark, tbl)
        assert stats["adopted"] == f"{tbl}__c999"
        after = {(r.digest, r.keeper_id) for r in spark.table(tbl).collect()}
        assert after == rows
        assert not spark.catalog.tableExists(f"{tbl}__c999")

        # Stale private copy while the published table is alive: debris.
        write_bucketed(spark.table(tbl), f"{tbl}__c123", "digest", 4)
        stats2 = compact_table(spark, tbl)
        assert stats2["adopted"] is None
        assert not spark.catalog.tableExists(f"{tbl}__c123")
        assert {
            (r.digest, r.keeper_id) for r in spark.table(tbl).collect()
        } == rows
    finally:
        for t in (tbl, f"{tbl}__c999", f"{tbl}__c123"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# Z-order layout (io.with_zorder_key / io.write_zordered)
# ---------------------------------------------------------------------------


def test_zorder_key_exact_interleave(spark):
    from albedo_spark.io import with_zorder_key

    # min 0 / max 255 present -> quantization is the identity, so zkey is
    # the textbook Morton interleave (col0 -> even bits, col1 -> odd).
    df = spark.createDataFrame(
        [(0, 0), (255, 255), (3, 5), (255, 0), (0, 255)], "x int, y int"
    )
    got = {
        (r.x, r.y): r.zkey
        for r in with_zorder_key(df, ["x", "y"], bits=8).collect()
    }
    assert got[(0, 0)] == 0
    assert got[(255, 255)] == 65535
    # x=3 (bits 0,1) -> z bits 0,2 = 5; y=5 (bits 0,2) -> z bits 1,5 = 34
    assert got[(3, 5)] == 5 + 34
    assert got[(255, 0)] == sum(1 << (2 * b) for b in range(8))
    assert got[(0, 255)] == sum(1 << (2 * b + 1) for b in range(8))


def test_zorder_key_constant_column(spark):
    from albedo_spark.io import with_zorder_key

    df = spark.createDataFrame([(7, i) for i in range(4)], "x int, y int")
    rows = with_zorder_key(df, ["x", "y"], bits=8).collect()
    # constant column quantizes to 0, not a divide-by-zero: zkey uses odd
    # bits (y) only
    for r in rows:
        assert r.zkey % 2 == 0


def _files_reading(path, col, lo, hi):
    """Files whose parquet footer [min,max] for ``col`` overlaps [lo,hi] —
    i.e. files a stats-pruning scan must actually read."""
    import glob

    import pyarrow.parquet as pq

    n_total, n_read = 0, 0
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.read_metadata(f)
        mns, mxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    mns.append(c.statistics.min)
                    mxs.append(c.statistics.max)
        n_total += 1
        if mns and not (max(mxs) < lo or min(mns) > hi):
            n_read += 1
    return n_read, n_total


def test_zorder_layout_skips_files_on_every_column(spark, tmp_path):
    """The probe behind write_zordered's claim: a linear sort skips files
    perfectly on its leading column and not at all on the other; Z-order
    skips on BOTH."""
    from albedo_spark.io import write_zordered

    rows = [((i * 37) % 1000, (i * 91) % 1000) for i in range(4000)]
    df = spark.createDataFrame(rows, "x int, y int")

    linear = str(tmp_path / "linear")
    (
        df.repartitionByRange(8, "x")
        .sortWithinPartitions("x")
        .write.mode("overwrite")
        .parquet(linear)
    )
    zpath = str(tmp_path / "zorder")
    write_zordered(df, zpath, ["x", "y"], num_files=8, bits=8)

    # layout changes bytes, never rows
    assert spark.read.parquet(zpath).count() == 4000
    got = {(r.x, r.y) for r in spark.read.parquet(zpath).collect()}
    assert got == set(rows)

    # leading-column predicate: both layouts skip
    lin_x, lin_n = _files_reading(linear, "x", 0, 124)
    z_x, z_n = _files_reading(zpath, "x", 0, 124)
    assert lin_n == 8 and z_n == 8
    assert lin_x <= 2
    assert z_x <= 5  # half the octants carry x-high bit 1 (+ boundary files)

    # NON-leading column predicate: linear reads everything, z-order skips
    lin_y, _ = _files_reading(linear, "y", 0, 124)
    z_y, _ = _files_reading(zpath, "y", 0, 124)
    assert lin_y == 8  # every x-sorted file spans the full y range
    assert z_y <= 5

    # rectangle (both columns): intersect the per-column overlap sets
    import glob

    def reading_set(path, col, lo, hi):
        import pyarrow.parquet as pq

        out = set()
        for f in sorted(glob.glob(f"{path}/part-*.parquet")):
            md = pq.read_metadata(f)
            mns, mxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        mns.append(c.statistics.min)
                        mxs.append(c.statistics.max)
            if mns and not (max(mxs) < lo or min(mns) > hi):
                out.add(f)
        return out

    z_rect = reading_set(zpath, "x", 0, 124) & reading_set(zpath, "y", 0, 124)
    assert len(z_rect) <= 3


def test_csv_roundtrip_and_corrupt_accounting(spark, tmp_path):
    from albedo_spark.io import read_csv_documents, write_csv

    df = spark.createDataFrame(
        [(1, "alpha beta", "en", "s0"), (2, "gamma, delta", "de", "s1")],
        "doc_id long, text string, lang string, source string",
    )
    p = str(tmp_path / "csv")
    write_csv(df, p, num_files=1)
    good, bad = read_csv_documents(spark, p)
    assert bad.count() == 0
    got = {r.doc_id: (r.text, r.lang) for r in good.collect()}
    # RFC 4180 quoting survives the embedded separator
    assert got == {1: ("alpha beta", "en"), 2: ("gamma, delta", "de")}

    # a malformed line (unparseable doc_id, wrong arity) lands in bad,
    # not in good — dropped as a NEW file (appending would invalidate
    # the Hadoop .crc sidecar), with its own header line since the
    # header option skips line 1 of EVERY file
    import gzip
    with gzip.open(p + "/part-zz-bad.csv.gz", "wt") as fh:
        fh.write("doc_id,text,lang,source\nnot-a-long,only-two\n")
    # the first read's shared-parse cache is plan-keyed on the same path;
    # drop it so the re-read sees the new file
    spark.catalog.clearCache()
    good2, bad2 = read_csv_documents(spark, p)
    assert bad2.count() == 1
    assert good2.count() == 2


def test_orc_roundtrip_pushdown(spark, tmp_path):
    from albedo_spark.io import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, f"t{i}", i % 3) for i in range(100)], "id long, t string, k int"
    )
    p = str(tmp_path / "orc")
    write_orc(df, p)
    back = read_orc(spark, p).where("id < 10").select("id")
    assert back.count() == 10
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "id" in plan  # filter reaches the scan
    assert "ReadSchema: struct<id:bigint>" in plan  # column pruning


def test_write_es_bulk_format(spark, tmp_path):
    """S10: the bulk export emits alternating action/source lines in the
    search bulk wire format — _id from the id column (excluded from the
    source doc), valid JSON on every line, num_files respected."""
    import glob
    import gzip
    import json

    from albedo_spark.io import write_es_bulk

    df = spark.createDataFrame(
        [(1, "alpha", 10), (2, "beta", 20), (3, "gamma", 30)],
        "repo_id long, name string, stars int",
    )
    p = str(tmp_path / "bulk")
    write_es_bulk(df, p, index="repo", id_col="repo_id", num_files=1)
    files = glob.glob(p + "/part-*.txt.gz")
    assert len(files) == 1
    with gzip.open(files[0], "rt") as fh:
        lines = [l for l in fh.read().splitlines() if l]
    assert len(lines) == 6  # 3 docs x (action + source)
    seen = {}
    for a, s in zip(lines[0::2], lines[1::2]):
        act, src = json.loads(a), json.loads(s)
        assert act["index"]["_index"] == "repo"
        assert "repo_id" not in src  # id rides in _id only
        seen[act["index"]["_id"]] = src
    assert seen == {
        "1": {"name": "alpha", "stars": 10},
        "2": {"name": "beta", "stars": 20},
        "3": {"name": "gamma", "stars": 30},
    }

    import pytest

    with pytest.raises(ValueError):
        write_es_bulk(df, p, index="repo", id_col="nope")


def test_write_es_bulk_adversarial_ids(spark, tmp_path):
    """ADVICE r10 #1: string ids containing quotes, backslashes, and other
    JSON-hostile characters must still yield a VALID action line (to_json
    escapes them), and the action/source pairing must survive — every odd
    line parses as an action, every even line as the matching source."""
    import glob
    import gzip
    import json

    from albedo_spark.io import write_es_bulk

    df = spark.createDataFrame(
        [
            ('has"quote', "a"),
            ("back\\slash", "b"),
            ("tab\there", "c"),
            ("plain", "d"),
        ],
        "doc_id string, text string",
    )
    p = str(tmp_path / "bulk_adv")
    write_es_bulk(df, p, index='idx"weird', id_col="doc_id", num_files=1)
    files = glob.glob(p + "/part-*.txt.gz")
    with gzip.open(files[0], "rt") as fh:
        lines = [l for l in fh.read().splitlines() if l]
    assert len(lines) == 8
    seen = {}
    for a, s in zip(lines[0::2], lines[1::2]):
        act, src = json.loads(a), json.loads(s)  # every line parses
        assert act["index"]["_index"] == 'idx"weird'
        seen[act["index"]["_id"]] = src["text"]
    assert seen == {
        'has"quote': "a",
        "back\\slash": "b",
        "tab\there": "c",
        "plain": "d",
    }


def test_write_es_bulk_null_id_raises(spark, tmp_path):
    """A NULL id would silently desync the bulk action/source pairing —
    the sink must refuse loudly. ADVICE r11 #3: the guard is LAZY (a
    raise_error branch in the _id projection of the write job itself),
    so it costs no extra pass and cannot be dodged by a
    non-deterministic upstream that validates clean then writes dirty —
    the same single evaluation is both the check and the write."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    from albedo_spark.io import write_es_bulk

    errs = (SparkRuntimeException, Py4JJavaError, Exception)
    df = spark.createDataFrame(
        [(1, "ok"), (None, "poison")], "doc_id long, text string"
    )
    with pytest.raises(errs, match="NULL id"):
        write_es_bulk(df, str(tmp_path / "bulk_null"), index="x", id_col="doc_id")

    # non-deterministic upstream: ids NULL ~half the time per evaluation.
    # The eager two-pass guard could pass validation on one draw and
    # write a NULL on the re-draw; the lazy guard sees the written draw.
    from pyspark.sql import functions as F

    nd = (
        spark.range(64)
        .withColumn(
            "doc_id",
            F.when(F.rand(seed=7) < 0.5, F.col("id")).otherwise(F.lit(None)),
        )
        .withColumn("text", F.lit("t"))
        .drop("id")
    )
    with pytest.raises(errs, match="NULL id"):
        write_es_bulk(nd, str(tmp_path / "bulk_nd"), index="x", id_col="doc_id")


def test_sweep_dead_private_copies(spark, monkeypatch):
    """Warehouse hygiene: a pid-suffixed private copy is swept only when
    its pid is dead AND the directory predates the process AND it is
    older than the absolute staleness threshold (all three — pids
    recycle, and ADVICE r13 #2's containerized co-tenant shares the
    warehouse but not /proc, so its LIVE pid looks dead and its dir can
    predate our start; only wall-clock age separates it). Live-pid and
    published (unsuffixed) directories are never touched, and the
    compact_bm25_store companion forms (__c<pid>_stats) and the bloom
    merges' private copies ({sidecar}__c<pid>) are covered."""
    import os
    import subprocess

    from albedo_spark import io as aio
    from albedo_spark.io import sweep_dead_private_copies

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    reaped = subprocess.Popen(["true"])
    reaped.wait()  # a pid guaranteed dead
    dead = f"t_sweepme__b{reaped.pid}"
    dead_stats = f"t_sweepme__c{reaped.pid}_stats"  # companion form
    dead_bloom = f"t_sweepme_bloom__c{reaped.pid}"  # bloom-merge copy
    live = f"t_keepme__b{os.getpid()}"
    pub = "t_published_store"
    dirs = (dead, dead_stats, dead_bloom, live, pub)
    for d in dirs:
        os.makedirs(os.path.join(wh, d), exist_ok=True)
        open(os.path.join(wh, d, "part-0.parquet"), "w").write("x")
    try:
        # all dirs are fresh: nothing sweeps without the age proof
        res = sweep_dead_private_copies(spark, min_age_hours=0)
        assert dead not in res["swept"] and res["kept_fresh"] >= 1
        assert os.path.isdir(os.path.join(wh, dead))
        # age them past the process watermark but keep them RECENT in
        # absolute terms: the co-tenant scenario — still kept
        monkeypatch.setattr(
            aio, "_PROCESS_START_MS", aio._PROCESS_START_MS + 10**10
        )
        res = sweep_dead_private_copies(spark)  # default 24h threshold
        assert res["swept"] == [] and res["kept_recent"] >= 2
        assert os.path.isdir(os.path.join(wh, dead))
        # past BOTH watermarks: only the dead-pid copies go
        res = sweep_dead_private_copies(spark, min_age_hours=0)
        assert dead in res["swept"] and dead_stats in res["swept"]
        assert dead_bloom in res["swept"]
        assert not os.path.isdir(os.path.join(wh, dead))
        assert not os.path.isdir(os.path.join(wh, dead_stats))
        assert not os.path.isdir(os.path.join(wh, dead_bloom))
        assert os.path.isdir(os.path.join(wh, live))  # live pid kept
        assert res["kept_live"] >= 1
        assert os.path.isdir(os.path.join(wh, pub))  # published untouched
    finally:
        import shutil

        for d in dirs:
            shutil.rmtree(os.path.join(wh, d), ignore_errors=True)
