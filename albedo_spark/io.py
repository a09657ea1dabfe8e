"""Sources, sinks and memoization (SURVEY.md §2.1).

The reference pattern: full-table JDBC read → day-stamped parquet memoize
(``S/utils/DatasetUtils.scala:36-50``, day pathing ``S/settings/package.scala:12-19``),
then every downstream job loads the parquet. We keep exactly that pattern —
it is semantic (cross-job snapshot reuse), not just perf — and add the
model-memoizer twin (``S/utils/ModelUtils.scala:7-21``).

At 100 TB the memoized tables should additionally be *bucketed* by their
dominant join key so repeated joins skip the shuffle; ``write_bucketed``
provides that (saveAsTable is required for bucket metadata to survive).
"""

from __future__ import annotations

import datetime as _dt
import os
from collections.abc import Callable
from itertools import takewhile

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, SparkSession

#: Process-start epoch-ms — the freshness guard of
#: ``sweep_dead_private_copies``: a pid-suffixed directory younger than
#: this may belong to a session whose pid our namespace cannot see
#: (containerized co-tenants share a warehouse but not /proc), so the
#: dead-pid test alone is not sufficient evidence there.
import time as _time  # noqa: E402

_PROCESS_START_MS = int(_time.time() * 1000)


def today_path(data_dir: str, name: str, day: str | None = None) -> str:
    """``{dataDir}/{yyyyMMdd}/{name}.parquet`` (S/settings/package.scala:12-19)."""
    day = day or _dt.date.today().strftime("%Y%m%d")
    return os.path.join(data_dir, day, f"{name}.parquet")


def load_or_create_df(
    spark: SparkSession, path: str, create: Callable[[], DataFrame]
) -> DataFrame:
    """Try parquet, else compute + write + re-read
    (S/utils/DatasetUtils.scala:36-50 catches 'Path does not exist')."""
    try:
        return spark.read.parquet(path)
    except AnalysisException:
        df = create()
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)


def load_or_create_model(model_cls, path: str, create: Callable[[], object]):
    """Model memoizer (S/utils/ModelUtils.scala:7-21)."""
    try:
        return model_cls.load(path)
    except Exception:
        model = create()
        model.write().overwrite().save(path)
        return model_cls.load(path)


# Columns that must come out of load_table as TIMESTAMP regardless of how
# the parquet on disk encodes them.  The driver's TESTDATA has shipped the
# same logical column under three physical representations so far
# (int64 epoch-nanos in rounds 1-2, timestamp[us] without a UTC flag —
# i.e. TIMESTAMP_NTZ to Spark >= 3.4 — in round 3); this contract is what
# the rest of the engine programs against.
_TIMESTAMP_CONTRACT: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _conf_get_or_none(spark: SparkSession, key: str) -> str | None:
    """Current session-conf value, or None when unset AND defaultless."""
    try:
        return spark.conf.get(key, None)
    except Exception:  # noqa: BLE001 — unknown conf on this Spark build
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver TESTDATA table (TESTDATA.md).

    Representation-proof timestamp handling: whatever the parquet stores
    (int64 epoch-nanos via ``nanosAsLong``, TIMESTAMP_NTZ from
    micros-without-UTC, or a plain UTC timestamp), contract columns come
    out as session-zone TIMESTAMP so downstream ``unix_micros``/``window``
    calls always analyze.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    path = os.path.join(sf_dir, f"{name}.parquet")
    # Read micros-without-UTC-flag parquet as plain TIMESTAMP (instant
    # micros) instead of TIMESTAMP_NTZ: timezone-INDEPENDENT, unlike the
    # NTZ->TIMESTAMP cast below (which interprets wall-clock in the session
    # zone and is kept only as a fallback; both agree when the session zone
    # is UTC, which every entry point here sets).
    #
    # Conf hygiene (ADVICE r4): both confs are flipped only for the
    # duration of THIS read's schema resolution and restored in `finally`,
    # so concurrent/later parquet reads on the shared session keep their
    # own timestamp semantics. Safe because the resolved schema is baked
    # into the returned DataFrame's plan (verified: collect() after
    # restore still honors it).
    _saved = {
        k: _conf_get_or_none(spark, k)
        for k in (
            "spark.sql.parquet.inferTimestampNTZ.enabled",
            "spark.sql.legacy.parquet.nanosAsLong",
        )
    }
    try:
        try:
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        except Exception:  # noqa: BLE001 — conf may not exist on future Spark
            pass
        try:
            df = spark.read.parquet(path)
            df.schema  # force schema resolution now
        except AnalysisException as exc:
            if "PARQUET_TYPE_ILLEGAL" not in str(exc):
                raise
            # Driver-provided sessions may lack the nanos conf; it is a
            # runtime SQL conf, so set it and retry.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(path)
            df.schema
    finally:
        for k, v in _saved.items():
            try:
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            except Exception:  # noqa: BLE001
                pass

    # TIMESTAMP_NTZ -> TIMESTAMP for every NTZ column (not just contract
    # ones): the driver generates with naive pandas datetimes, the session
    # zone is UTC, so the wall-clock micros ARE the instant micros and the
    # cast is value-preserving.
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    if ntz_cols:
        df = df.select(
            *[
                F.col(c).cast(TimestampType()).alias(c) if c in ntz_cols else F.col(c)
                for c in df.columns
            ]
        )

    for col in _TIMESTAMP_CONTRACT.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            # ns -> us must be INTEGER division: epoch-ns (~1.7e18) exceeds
            # double's 53-bit mantissa, so `/ 1000` in double drifts by up
            # to ~1 us — enough to split a us-exact cross-engine comparison.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
        if col in df.columns and not isinstance(
            df.schema[col].dataType, TimestampType
        ):
            raise TypeError(
                f"schema contract violated: {name}.{col} resolved to "
                f"{df.schema[col].dataType} (expected TIMESTAMP); the "
                "TESTDATA representation changed again — extend load_table."
            )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_jdbc(
    spark: SparkSession, url: str, table: str, properties: dict[str, str],
    partition_column: str | None = None, num_partitions: int = 32,
    lower_bound: int | None = None, upper_bound: int | None = None,
) -> DataFrame:
    """JDBC scan (S/utils/DatasetUtils.scala:57,82,116,130).

    The reference reads whole MySQL tables on one connection; at scale,
    always supply ``partition_column`` + bounds so the read parallelizes.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in properties.items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1 << 31))
        )
    return reader.load()


# Raw-DB column -> canonical name bridges (S/utils/DatasetUtils.scala:58-106:
# the reference's 24 withColumnRenamed calls after each MySQL read; one dict
# per table here, applied as a single projection instead of 24 chained
# renames so the scan stays one Project node).
USER_INFO_RENAMES = {
    "id": "user_id",
    "login": "user_login",
    "account_type": "user_account_type",
    "name": "user_name",
    "company": "user_company",
    "blog": "user_blog",
    "location": "user_location",
    "email": "user_email",
    "bio": "user_bio",
    "public_repos": "user_public_repos_count",
    "public_gists": "user_public_gists_count",
    "followers": "user_followers_count",
    "following": "user_following_count",
    "created_at": "user_created_at",
    "updated_at": "user_updated_at",
}

REPO_INFO_RENAMES = {
    "id": "repo_id",
    "owner_id": "repo_owner_id",
    "owner_username": "repo_owner_username",
    "owner_type": "repo_owner_type",
    "name": "repo_name",
    "full_name": "repo_full_name",
    "description": "repo_description",
    "language": "repo_language",
    "created_at": "repo_created_at",
    "updated_at": "repo_updated_at",
    "pushed_at": "repo_pushed_at",
    "homepage": "repo_homepage",
    "size": "repo_size",
    "stargazers_count": "repo_stargazers_count",
    "forks_count": "repo_forks_count",
    "subscribers_count": "repo_subscribers_count",
    "fork": "repo_is_fork",
    "has_issues": "repo_has_issues",
    "has_projects": "repo_has_projects",
    "has_downloads": "repo_has_downloads",
    "has_wiki": "repo_has_wiki",
    "has_pages": "repo_has_pages",
    "open_issues_count": "repo_open_issues_count",
    "topics": "repo_topics",
}


def canonicalize_columns(df: DataFrame, renames: dict[str, str]) -> DataFrame:
    """Apply a raw→canonical rename map as ONE projection (columns not in
    the map pass through untouched)."""
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).alias(renames.get(c, c)) for c in df.columns]
    )


def read_jdbc_canonical(
    spark: SparkSession, url: str, table: str, properties: dict[str, str],
    renames: dict[str, str], **partition_kwargs,
) -> DataFrame:
    """JDBC read + canonical renames — the reference's per-table load shape
    (S/utils/DatasetUtils.scala:52-106) as one call. Pass
    ``partition_column``/bounds so the scan parallelizes (always, at scale)."""
    return canonicalize_columns(
        read_jdbc(spark, url, table, properties, **partition_kwargs), renames
    )


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Overwrite-mode parquet sink (S/utils/DatasetUtils.scala:43)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def read_jsonl_documents(
    spark: SparkSession,
    path: str,
    schema: str = "doc_id long, text string, lang string, source string",
) -> tuple[DataFrame, DataFrame]:
    """Ingest a JSON-lines corpus (the lingua franca of training-data
    drops) with explicit schema and corrupt-record accounting.

    Returns ``(good, bad)``: ``good`` carries the schema's columns for
    rows that parsed; ``bad`` carries the raw offending line. PERMISSIVE
    mode with a pinned schema (never ``inferSchema`` — at 100 TB a schema
    inference pass reads the corpus twice and a drifting field silently
    retypes the world); a malformed line lands in ``_corrupt_record``
    instead of killing the job, and the caller decides whether bad-rate
    is acceptable (the hygiene-job pattern: count, log, threshold).

    Spark requires caching/materializing before filtering on the corrupt
    column (it is populated only while parsing the same scan); the
    returned frames share one cached parse.
    """
    full = (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    ).cache()
    from pyspark.sql import functions as F

    good = full.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = full.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = "gzip",
    num_files: int | None = None,
) -> None:
    """Emit a JSON-lines corpus drop — the mirror of
    ``read_jsonl_documents`` for handing a cleaned corpus to tools that
    speak JSONL rather than parquet. Gzip by default (the interchange
    convention; splittability doesn't matter for an export format — the
    CONSUMER parallelizes by file, which is why ``num_files`` exists:
    an UPPER cap sized to the consumer's parallelism, via coalesce so
    capping never adds a shuffle — fewer upstream partitions simply mean
    fewer files). Writers must not emit a literal
    ``_corrupt_record`` column — it would round-trip as a parse artifact."""
    if "_corrupt_record" in df.columns:
        raise ValueError("refusing to export a _corrupt_record column")
    out = df.coalesce(num_files) if num_files else df
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def write_es_bulk(
    df: DataFrame,
    path: str,
    index: str,
    id_col: str,
    compression: str | None = "gzip",
    num_files: int | None = None,
) -> None:
    """Search-engine bulk-index export (S10): the reference syncs rows
    into Elasticsearch with a driver-side batch loop — 500 rows per bulk
    call, ``meta.id`` = row id (``A/management/commands/
    sync_data_to_es.py:18-50``, mapping ``A/mappings.py:26-64``). The
    Spark-first re-expression is a DISTRIBUTED export in the bulk API's
    wire format — per document an action line
    ``{"index": {"_index": ..., "_id": ...}}`` followed by the source
    JSON — so any indexer (``curl --data-binary @file /_bulk``, or a
    fleet of them, one per file) loads it with no driver bottleneck:
    the reference's loop streams the whole corpus through ONE Python
    process; this writes every partition in parallel and the consumer
    parallelizes by file (``num_files`` caps via coalesce, same contract
    as ``write_jsonl``).

    Everything stays JVM-side: ``to_json(struct(...))`` for the source
    doc AND for the action line, one ``text`` write. The id column is
    excluded from the source doc (it rides in ``_id``, the reference's
    ``meta.id`` convention).

    Robustness contract (ADVICE r10 #1): the action line is built with
    ``to_json`` so ids/index names containing quotes, backslashes, or
    newlines are JSON-escaped by the engine — hand-concatenation produced
    invalid action JSON for adversarial ids. NULL ids are REJECTED
    loudly — and LAZILY, inside the write's own projection (ADVICE r11
    #3): the previous eager precheck ran an extra job AND evaluated the
    input twice, so a non-deterministic upstream (sample/rand/uuid ids)
    could pass validation yet emit a NULL in the written pass. A
    ``raise_error`` branch in the ``_id`` expression (the ``_dim_checked``
    pattern) fails the single write job itself — one evaluation, no
    window for divergence. A NULL would otherwise drop the action line
    and desync the strict action/source line pairing of the bulk wire
    format for every subsequent document in the file."""
    from pyspark.sql import functions as F

    if id_col not in df.columns:
        raise ValueError(f"id_col {id_col!r} not in {df.columns}")
    doc_cols = [c for c in df.columns if c != id_col]
    guarded_id = F.when(
        F.col(id_col).isNull(),
        F.raise_error(
            F.lit(
                f"write_es_bulk: NULL id in column {id_col!r} — a NULL id "
                "would desync the bulk action/source line pairing; filter "
                "or impute ids upstream"
            )
        ).cast("string"),
    ).otherwise(F.col(id_col).cast("string"))
    action = F.to_json(
        F.struct(
            F.struct(
                F.lit(index).alias("_index"),
                guarded_id.alias("_id"),
            ).alias("index")
        )
    )
    lines = df.select(
        F.concat_ws(
            "\n", action, F.to_json(F.struct(*doc_cols))
        ).alias("value")
    )
    out = lines.coalesce(num_files) if num_files else lines
    w = out.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.text(path)


def read_csv_documents(
    spark: SparkSession,
    path: str,
    schema: str = "doc_id long, text string, lang string, source string",
    sep: str = ",",
    header: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Ingest a CSV/TSV corpus drop with the same contract as
    ``read_jsonl_documents``: explicit pinned schema (never
    ``inferSchema`` — a second full scan AND silent retyping at 100 TB),
    PERMISSIVE parse, ``(good, bad)`` split with the raw offending line
    preserved. ``multiLine`` stays OFF by design: multi-line CSV records
    make the format unsplittable (one file = one task at any size) —
    corpora with embedded newlines belong in JSONL/parquet, and quoted
    embedded newlines in a drop are treated as corruption to surface,
    not silently absorb."""
    full = (
        spark.read.schema(schema + ", _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("sep", sep)
        .option("header", str(header).lower())
        .csv(path)
    ).cache()
    from pyspark.sql import functions as F

    good = full.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    bad = full.where(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, bad


def write_csv(
    df: DataFrame,
    path: str,
    sep: str = ",",
    header: bool = True,
    compression: str | None = "gzip",
    num_files: int | None = None,
) -> None:
    """CSV export mirror of ``write_jsonl`` (same coalesce-capped,
    never-reshuffling file-count contract). Spark quotes embedded
    separators/quotes per RFC 4180; rows with embedded NEWLINES would
    produce a file ``read_csv_documents`` deliberately refuses to
    reassemble (see its multiLine note) — strip them first
    (``functions.text.strip_controls`` or a newline→space projection)."""
    out = df.coalesce(num_files) if num_files else df
    w = out.write.mode("overwrite").option("sep", sep).option(
        "header", str(header).lower()
    )
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


def write_orc(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """ORC sink — the columnar interchange for Hive/Trino-side consumers
    (predicate pushdown + column pruning survive the format change;
    Spark's ORC writer embeds min/max stripe stats the same way parquet
    footers do). Same overwrite semantics as ``write_parquet``."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan; filters and projections push down exactly as with
    parquet (pinned in tests/test_io_sinks.py)."""
    return spark.read.orc(path)


def write_partitioned_overwrite(
    df: DataFrame, path: str, partition_by: list[str]
) -> None:
    """Idempotent partition-level reprocessing sink: overwrite ONLY the
    partitions present in ``df``, leave sibling partitions untouched
    (dynamic partition overwrite). This is how a day/hour of a derived
    table is recomputed at 100 TB — rewriting one partition, not the
    dataset, and re-running the same job twice converges to the same
    bytes. Static mode (the Spark default) would instead DELETE every
    other partition under ``path``; the conf is scoped to this write and
    restored after.
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)
    finally:
        spark.conf.set(key, old)


def drop_orphan_table_location(
    spark: SparkSession, table: str, older_than_ms: int | None = None
) -> bool:
    """Remove a managed table's warehouse directory when the catalog has
    forgotten it (in-memory catalog + dead process): the dir would block
    any future ``saveAsTable``/``RENAME TO`` with LOCATION_ALREADY_EXISTS.
    Hadoop FS API, never os.path — works on any hadoop-compatible FS.

    ``older_than_ms`` is the live-concurrent-publisher guard: with
    per-process in-memory catalogs sharing one warehouse, ``tableExists``
    cannot see a table another session just published, so an unconditional
    delete could yank files a live reader is scanning. When set, the
    directory is only removed if its modification time predates the given
    epoch-ms (i.e. it's a leftover from BEFORE this process started —
    a genuine orphan); a directory written during our lifetime is left
    alone and the caller's publish RENAME fails over to adoption instead.
    Returns True if the location is gone (deleted or never existed)."""
    jvm = spark.sparkContext._jvm
    wh = spark.conf.get("spark.sql.warehouse.dir")
    p = jvm.org.apache.hadoop.fs.Path(f"{wh}/{table.lower()}")
    fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return True
    if older_than_ms is not None:
        if fs.getFileStatus(p).getModificationTime() >= older_than_ms:
            return False
    fs.delete(p, True)
    return True


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, num_buckets: int = 256,
    partition_cols: tuple[str, ...] = (),
) -> None:
    """Bucketed managed-table sink: co-locates future joins/aggs on
    ``bucket_col`` without a shuffle. The scale-path upgrade of the
    reference's ad-hoc ``repartition($"user_id")`` calls
    (S/utils/DatasetUtils.scala:121,134).

    Overwrite is made robust across SESSIONS: with the default in-memory
    catalog, a table written by a previous process is gone from the
    catalog but its warehouse directory persists, and a fresh
    ``saveAsTable`` then dies with LOCATION_ALREADY_EXISTS — so any
    orphaned managed location is removed first (via the Hadoop FS API,
    never os.path, so it works on any hadoop-compatible FS). A real
    metastore deployment hits the DROP TABLE path instead.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    drop_orphan_table_location(spark, table)
    w = df.write.mode("overwrite")
    if partition_cols:
        # Directory partitioning UNDER the bucketing: a slice predicate
        # on these columns prunes whole directories at plan time
        # (PartitionFilters in the scan) while the bucket join inside
        # each slice keeps its no-shuffle property.
        w = w.partitionBy(*partition_cols)
    (
        w.bucketBy(num_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )


def table_num_buckets(spark: SparkSession, table: str) -> int:
    """The bucket count a table was WRITTEN with, from the catalog."""
    for r in spark.sql(f"DESCRIBE FORMATTED `{table}`").collect():
        if r[0] and r[0].strip() == "Num Buckets":
            return int(r[1])
    raise ValueError(f"{table} is not a bucketed table")


def table_partition_cols(spark: SparkSession, table: str) -> list[str]:
    """The partition columns of a table, from the ``# Partition
    Information`` block of ``DESCRIBE TABLE``: a catalog read that
    launches no Spark job, where ``catalog.listColumns`` launches
    several."""
    names = [r[0] for r in spark.sql(f"DESCRIBE TABLE `{table}`").collect()]
    if "# Partition Information" not in names:
        return []
    # the block opens with a "# col_name" header row
    block = names[names.index("# Partition Information") + 2:]
    return list(takewhile(lambda n: n and not n.startswith("#"), block))


def append_rows(df: DataFrame, table: str) -> None:
    """Append ``df`` into an existing table in the table's own layout.

    The layout of a store is decided once, by its builder
    (``write_bucketed``): ``insertInto`` writes with the catalog's bucket
    count, bucket and sort columns and partition columns, so no append
    restates (or can contradict) them. ``insertInto`` matches columns by
    position, so the frame is first projected onto the table's columns
    by name (the schema order ``insertInto`` expects: data columns, then
    partition columns); a missing or extra column raises. The names come
    off the table's resolved schema, not ``catalog.listColumns``, which
    launches Spark jobs to list them."""
    cols = df.sparkSession.table(table).columns
    extra = sorted(set(df.columns) - set(cols))
    if extra:
        raise ValueError(f"columns {extra} are not in table `{table}`")
    df.select(*cols).write.insertInto(table)


def private_copy_swap(
    spark: SparkSession, table: str, suffixes: tuple[str, ...] = ("",)
) -> tuple[list[str], Callable[[list[tuple[str, DataFrame]]], None]]:
    """The one private-copy rewrite of a store: its members are
    ``table + suffix`` for each suffix. Returns ``(adopted, publish)``.

    Entry runs crash recovery. The publish is DROP + RENAME per member,
    two catalog ops and not one transaction, so a crash in between
    loses the NAME but not the DATA: a ``{table}__c<pid>{suffix}`` copy
    of the newest pid whose published member is GONE is ADOPTED back
    into place (it is completed rewrite output, and nothing could have
    appended since — appends need the published name); every other
    private copy is a stale pre-DROP leftover and is dropped.
    ``adopted`` lists the adopted private names.

    ``publish(members)`` takes ``(suffix, frame)`` pairs. Each private
    member is created ``LIKE`` its published member — bucket spec, sort
    columns and partition columns are copied from the catalog — and
    filled through ``append_rows``. Every member is complete before any
    publish, and members publish in the given order. The fill runs with
    the auto-bucketed-scan pass off: with the bucketed scan forced, a
    source read from the store itself is one partition per bucket, the
    write's clustering is already satisfied, and each task folds its
    bucket's small files into ONE — no Exchange anywhere (otherwise the
    planner falls back to plain splits, because nothing downstream
    "needs" the distribution, and the output re-fragments).
    Concurrent rewrites of the SAME store within one process are not
    supported (recovery would treat the other run's copy as debris);
    at 100 TB on Iceberg/Delta this is their transactional rewrite."""
    pref = f"{table.lower()}__c"
    groups: dict[int, dict[str, str]] = {}
    for name in (r.tableName for r in spark.sql("SHOW TABLES").collect()):
        pid, _, suf = name[len(pref):].partition("_")
        suf = "_" + suf if suf else ""
        if name.startswith(pref) and pid.isdigit() and suf in suffixes:
            groups.setdefault(int(pid), {})[suf] = name
    newest = max(groups, default=None)
    adopted: list[str] = []
    for pid, privs in groups.items():
        for suf, priv in sorted(privs.items()):
            if pid == newest and not spark.catalog.tableExists(table + suf):
                spark.sql(f"ALTER TABLE `{priv}` RENAME TO `{table}{suf}`")
                spark.catalog.refreshTable(table + suf)
                adopted.append(priv)
            else:
                spark.sql(f"DROP TABLE IF EXISTS `{priv}`")

    def publish(members: list[tuple[str, DataFrame]]) -> None:
        priv = f"{table}__c{os.getpid()}"
        key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        saved = spark.conf.get(key, None)
        spark.conf.set(key, "false")
        try:
            for suf, frame in members:
                spark.sql(f"DROP TABLE IF EXISTS `{priv}{suf}`")
                drop_orphan_table_location(spark, priv + suf)
                spark.sql(f"CREATE TABLE `{priv}{suf}` LIKE `{table}{suf}`")
                append_rows(frame, priv + suf)
        finally:
            if saved is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, saved)
        for suf, _ in members:
            spark.sql(f"DROP TABLE IF EXISTS `{table}{suf}`")
            spark.sql(f"ALTER TABLE `{priv}{suf}` RENAME TO `{table}{suf}`")
            spark.catalog.refreshTable(table + suf)

    return adopted, publish


#: Single-child physical operators whose RDD keeps exactly its child's
#: partition count (per-partition work, no exchange of their own).
#: Aggregates are absent on purpose: a global aggregate over zero
#: partitions emits one.
_NARROW_NODES = frozenset({
    "ProjectExec", "FilterExec", "ColumnarToRowExec", "InputAdapter",
    "WholeStageCodegenExec", "GenerateExec", "SortExec", "WindowExec",
})


def _plan_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df`` read off its prepared physical plan,
    launching no job; ``None`` when the plan cannot tell it.

    The count is fixed by the leaf at the end of the streamed path:
    narrow nodes pass it through and a broadcast join streams its
    non-build side. Under AQE the walk starts at the prepared plan
    (``executedPlan()`` of an unexecuted ``AdaptiveSparkPlanExec`` —
    exchanges inserted, no stage run); ``inputPlan()`` would be wrong,
    it predates the exchanges aggregates and windows require. A shuffle,
    a cached relation or any node not listed here returns ``None``."""
    node = df._jdf.queryExecution().executedPlan()
    while True:
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            node = node.executedPlan()
        elif kind == "ResultQueryStageExec":  # root of an executed AQE plan
            node = node.plan()
        elif kind in _NARROW_NODES:
            node = node.child()
        elif kind == "BroadcastHashJoinExec" or (
            kind == "BroadcastNestedLoopJoinExec"
            and node.joinType().toString() in ("Inner", "Cross")
        ):
            build_right = node.buildSide().toString() == "BuildRight"
            node = node.left() if build_right else node.right()
        elif kind == "FileSourceScanExec":
            return node.inputRDD().getNumPartitions()
        elif kind == "RDDScanExec":
            return node.rdd().getNumPartitions()
        elif kind == "LocalTableScanExec":
            return node.execute().getNumPartitions()
        else:
            return None


def widen(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition IFF the plan currently has fewer partitions
    than the session's parallelism.

    Single small parquet files scan as ONE input split, serializing every
    downstream map stage (shingling, hashing, feature extraction) onto one
    core; a bounded repartition fixes that for pennies. On wide production
    scans (many splits) this is a no-op — no shuffle is added.

    Guard cost (VERDICT r15 #6): building the split list forces file
    enumeration on the driver once per call site — repeated metadata
    work at 100 TB purely to decide a no-op. A static proof runs first:
    when the frame is a plain scan/project/filter chain (no
    Join/Union/Aggregate/Generate, whose size estimates can be wildly
    inflated) and the optimizer's ``sizeInBytes`` estimate alone
    guarantees at least ``target`` input splits, the no-op is decided
    without touching the RDD. Parquet scan estimates never exceed
    on-disk bytes (column pruning only shrinks them) while split counts
    are computed on full file bytes, so
    ``estimate >= target * maxPartitionBytes`` implies the real split
    count is at least ``target`` — the shortcut can only fire where the
    exact check would also no-op.

    Otherwise the count is read off the physical plan
    (``_plan_partitions``), which launches no job. Only a plan whose
    streamed path holds a shuffle, a cached relation or an unrecognised
    node takes the exact check, ``df.rdd.getNumPartitions()`` — under
    AQE that runs every stage below (broadcasts, shuffle maps), and the
    caller then runs them again inside its own plan."""
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        opt = df._jdf.queryExecution().optimizedPlan()
        plan_str = opt.toString()
        if not any(
            n in plan_str for n in ("Join", "Union", "Aggregate", "Generate")
        ):
            max_split = int(
                df.sparkSession._jsparkSession.sessionState()
                .conf()
                .filesMaxPartitionBytes()
            )
            if int(opt.stats().sizeInBytes()) >= target * max_split:
                return df
    except Exception:  # noqa: BLE001 — static proof is best-effort only
        pass
    try:
        n = _plan_partitions(df)
    except (Py4JError, PySparkException):  # unreadable plan: exact check
        n = None
    if n is None:
        n = df.rdd.getNumPartitions()
    if n >= target:
        return df
    return df.repartition(target)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    target_mb: int = 128,
    partitions: list[dict] | None = None,
) -> dict:
    """Small-file compaction: rewrite (selected or all) partitions of a
    partitioned parquet dataset so each holds ~``target_mb`` files —
    the streaming/micro-batch sinks above produce one file per trigger
    per partition, and at 100 TB the accumulated small files dominate
    scan planning time (footer reads, task scheduling) long before data
    volume does.

    Sizing is PER TOUCHED PARTITION, not global: each Hive partition's
    bytes on disk → ``ceil(bytes / target)`` output files FOR THAT
    PARTITION, so one 10 GB day among a hundred 10 MB days gets ~80
    target-sized files while every tiny day collapses to exactly one —
    a global coalesce would give neither. Rows are routed by
    ``repartition(partition_cols…, bucket)`` where ``bucket`` is a
    per-row draw in ``[0, that partition's file count)``; a partition
    with one target file is a single shuffle key, so it lands in exactly
    one task → exactly one file. (Hash collisions between DIFFERENT
    partitions' buckets are harmless — dynamic overwrite writes one file
    per (task, partition) pair — and same-partition collisions, made
    rare by a 2× slot headroom, only merge two buckets into one larger
    file, never fragment.) Untouched partitions' bytes are never read or
    written — the same surgical contract as ``upsert_partitioned``.
    Returns {files_before, files_after, bytes, target_files}, with both
    file counts measured over the SAME pruned scan.
    """
    import functools as _ft
    import operator as _op

    from pyspark.sql import functions as F

    pred = None
    if partitions:
        pred = _ft.reduce(
            _op.or_,
            [
                _ft.reduce(
                    _op.and_,
                    [F.col(k) == F.lit(v) for k, v in p.items()],
                )
                for p in partitions
            ],
        )

    df = spark.read.parquet(path)
    if pred is not None:
        df = df.where(pred)

    # Per-partition file inventory via the hidden `_metadata` file columns
    # of the pruned scan: grouped IN-ENGINE by the partition values, so
    # the driver-visible side is one small frame (a row per touched
    # partition — broadcast back, never collected per-file), and it works
    # on any hadoop-compatible FS (no os.path, no directory walk).
    target_bytes = target_mb * 1024 * 1024
    inv = (
        df.select(
            *partition_cols,
            F.col("_metadata.file_path").alias("_f"),
            F.col("_metadata.file_size").alias("_s"),
        )
        .distinct()  # one row per file (each file lives in one partition)
        .groupBy(*partition_cols)
        .agg(F.count("*").alias("_n_files"), F.sum("_s").alias("_bytes"))
        .withColumn(
            "_n_out",
            F.greatest(F.lit(1), F.ceil(F.col("_bytes") / target_bytes)),
        )
    )
    tot = inv.agg(
        F.sum("_n_files").alias("n"),
        F.sum("_bytes").alias("b"),
        F.sum("_n_out").alias("t"),
    ).collect()[0]
    files_before = tot["n"] or 0
    total_bytes = tot["b"] or 0
    total_out = int(tot["t"] or 1)
    # Dynamic partition overwrite stages new files before replacing, so
    # rewriting the same path the frame reads from is safe (the same
    # contract upsert_partitioned relies on); with no partition filter
    # every partition present in the frame — i.e. all of them — rewrites.
    # Null-safe equality per partition column: a plain equi-join would
    # drop rows whose partition value is NULL (__HIVE_DEFAULT_PARTITION__
    # — NULL != NULL), silently leaving the NULL partition fragmented
    # forever while files_after still counts its fragments.
    inv_routed = F.broadcast(
        inv.select(
            *[F.col(c).alias(f"_inv_{c}") for c in partition_cols], "_n_out"
        )
    )
    on = _ft.reduce(
        _op.and_,
        [df[c].eqNullSafe(F.col(f"_inv_{c}")) for c in partition_cols],
    )
    routed = (
        df.join(inv_routed, on)
        .withColumn(
            "_bucket", F.floor(F.rand(seed=42) * F.col("_n_out")).cast("int")
        )
        .repartition(max(2 * total_out, 1), *partition_cols, "_bucket")
        .drop(*[f"_inv_{c}" for c in partition_cols], "_n_out", "_bucket")
    )
    write_partitioned_overwrite(routed, path, partition_cols)
    after_df = spark.read.parquet(path)
    if pred is not None:
        after_df = after_df.where(pred)
    after = (
        after_df.select(F.col("_metadata.file_path")).distinct().count()
    )
    return {
        "files_before": files_before,
        "files_after": after,
        "bytes": total_bytes,
        "target_files": total_out,
    }


def align_to_schema(
    df: DataFrame,
    target,
    on_extra: str = "drop",
    on_missing: str = "null",
    on_type: str = "cast",
) -> tuple[DataFrame, dict]:
    """Schema-drift guard for evolving upstream feeds: align ``df`` to a
    target schema (``StructType``) and report what drifted — the
    ingestion step between "the crawler changed its output again" and a
    stable warehouse table.

    Policies (each ``"error"`` to fail fast instead):
    - extra columns: ``drop`` (projection — pruned at the scan, free)
    - missing columns: ``null`` (typed NULL literal)
    - type mismatches: ``cast`` (Spark cast semantics; ANSI mode makes a
      corrupting cast raise at execution rather than silently null)

    Pure projection — no shuffle, no data pass beyond what the consumer
    already does. Returns ``(aligned_df, report)`` with the report
    listing extra/missing/retyped columns, so callers can alert on drift
    instead of discovering it in a downstream join. Column match is
    case-insensitive (Spark's resolution default); output uses the
    TARGET's names and order.
    """
    from pyspark.sql import functions as F

    have = {f.name.lower(): f for f in df.schema.fields}
    want = list(target.fields)
    extra = [f.name for f in df.schema.fields
             if f.name.lower() not in {w.name.lower() for w in want}]
    missing = [w.name for w in want if w.name.lower() not in have]
    retyped = [
        w.name
        for w in want
        if w.name.lower() in have and have[w.name.lower()].dataType != w.dataType
    ]
    if extra and on_extra == "error":
        raise ValueError(f"unexpected columns: {extra}")
    if missing and on_missing == "error":
        raise ValueError(f"missing columns: {missing}")
    if retyped and on_type == "error":
        raise ValueError(f"type drift: {retyped}")
    cols = []
    for w in want:
        if w.name.lower() in have:
            src = F.col(have[w.name.lower()].name)
            if have[w.name.lower()].dataType != w.dataType:
                src = src.cast(w.dataType)
            cols.append(src.alias(w.name))
        else:
            cols.append(F.lit(None).cast(w.dataType).alias(w.name))
    report = {"extra": extra, "missing": missing, "retyped": retyped}
    return df.select(*cols), report


def compact_table(spark: SparkSession, table: str) -> dict:
    """Compact a bucketed managed table in place — the maintenance step
    for the persisted stores (``dedup_store``/``vector_store``): every
    ``append_*`` adds up to one file per bucket, so a store ingesting N
    batches accumulates N×buckets small files and scan planning degrades
    exactly like the streaming sinks ``compact_partitions`` serves.

    A full rewrite through ``private_copy_swap``: the store's layout
    (buckets, sort and partition columns) comes from the catalog, and
    crash recovery runs on entry. Returns {files_before, files_after,
    rows, adopted}."""
    from pyspark.sql import functions as F

    def n_files() -> int:
        return (
            spark.table(table)
            .select(F.col("_metadata.file_path"))
            .distinct()
            .count()
        )

    adopted, publish = private_copy_swap(spark, table)
    before = n_files()
    rows = spark.table(table).count()
    publish([("", spark.table(table))])
    return {
        "files_before": before,
        "files_after": n_files(),
        "rows": rows,
        "adopted": adopted[0] if adopted else None,
    }


def with_zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8
) -> DataFrame:
    """Add a BIGINT ``zkey`` column: the Morton (Z-order) interleave of
    the given integral columns, each first quantized to ``2^bits`` levels
    over its observed min/max. Sorting by ``zkey`` clusters rows so that
    EVERY interleaved column's values are locally contiguous — parquet
    footer min/max stats then skip files/row-groups for predicates on ANY
    of the columns, not just the leading sort key (a linear sort gives
    perfect skipping on its first column and none on the others; Z-order
    trades a little of the first for usable skipping on all — the
    OPTIMIZE ZORDER BY capability of the table formats, on plain parquet).

    The whole computation is exact BIGINT arithmetic expressed in-plan:
    min/max come from one tiny aggregate broadcast back onto the scan (no
    driver round-trip, no collected literals), quantization is
    ``((v - mn) * (levels-1)) div (mx - mn)``, and the interleave is an
    unrolled sum of ``((q div 2^b) % 2) * 2^(b*n + i)`` terms — every
    step replayable by any engine (the q105/q119 integer discipline).
    Column i of n occupies bit positions ``b*n + i``, so columns listed
    FIRST get the lower interleave bits (columns are peers; order only
    breaks ties). Constant columns quantize to 0 rather than divide by
    zero. Input columns must be integral (quantize upstream otherwise).
    """
    from pyspark.sql import functions as F

    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs >= 2 columns (use a plain sort for 1)")
    levels = (1 << bits) - 1
    mm = df.agg(
        *[F.min(c).cast("long").alias(f"_mn_{i}") for i, c in enumerate(cols)],
        *[F.max(c).cast("long").alias(f"_mx_{i}") for i, c in enumerate(cols)],
    )
    out = df.crossJoin(F.broadcast(mm))
    for i, c in enumerate(cols):
        out = out.withColumn(
            f"_q_{i}",
            F.expr(
                f"CASE WHEN _mx_{i} = _mn_{i} THEN CAST(0 AS BIGINT) "
                f"ELSE ((CAST({c} AS BIGINT) - _mn_{i}) * {levels}) "
                f"div (_mx_{i} - _mn_{i}) END"
            ),
        )
    zexpr = " + ".join(
        f"((_q_{i} div {1 << b}) % 2) * {1 << (b * n + i)}"
        for i in range(n)
        for b in range(bits)
    )
    drop = [f"_mn_{i}" for i in range(n)] + [f"_mx_{i}" for i in range(n)] + [
        f"_q_{i}" for i in range(n)
    ]
    return out.withColumn("zkey", F.expr(zexpr).cast("long")).drop(*drop)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int = 8,
    bits: int = 8,
) -> None:
    """Write ``df`` as parquet laid out in Z-order over ``cols``: compute
    ``zkey`` (``with_zorder_key``), range-partition into ``num_files``
    contiguous zkey slices, sort within each, drop the key, write. Each
    output file then covers a compact hyper-rectangle of the column
    space, so parquet min/max footer stats prune files for predicates on
    ANY of the interleaved columns — measured (not asserted) by the
    file-skipping probe in tests/test_io_sinks.py. One range shuffle,
    same cost shape as any sorted write; at 100 TB size ``num_files`` to
    the target file size exactly as ``compact_partitions`` does."""
    keyed = with_zorder_key(df, cols, bits)
    (
        keyed.repartitionByRange(num_files, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def sweep_dead_private_copies(
    spark: SparkSession, min_age_hours: float = 24.0
) -> dict:
    """Warehouse hygiene for the private-copy protocol: `_memo_store`
    builders and `private_copy_swap` (compaction, bloom merges) write
    into pid-suffixed tables
    (``{name}__b<pid>`` / ``{name}__c<pid>``) and publish by rename —
    but a session that loses the publish race to a FOREIGN process (the
    in-memory-catalog case: the winner's table is invisible to our
    catalog) keeps serving its private copy and exits without dropping
    it, so long-lived shared warehouses accumulate dead sessions'
    private directories (345 observed on this box after one build
    round). This sweep removes exactly the provably-dead ones: a
    directory whose name carries a pid suffix where (a) that pid is no
    longer alive, (b) the directory itself predates this process, and
    (c) the directory is at least ``min_age_hours`` old in ABSOLUTE
    terms (all three — pids recycle, so a live recycled pid keeps the
    dir; a fresh dir is a live session's work even if its pid check
    races; and ADVICE r13 #2's containerized co-tenant shares the
    warehouse but not /proc, so ITS live pid looks dead to os.kill and
    its dir may predate our start — only wall-clock age separates that
    session's in-use private copy from a genuinely dead one, so the
    default keeps anything younger than a day). Published (unsuffixed)
    tables are NEVER touched — they may be another live session's
    store; `drop_orphan_table_location`'s watermark handles those at
    next same-name build. Also covers the store-companion private
    forms (``__c<pid>_stats`` / ``__c<pid>_fwd``) that
    ``compact_bm25_store`` writes.

    Hadoop FS API throughout (any hadoop-compatible FS); on a real
    metastore the race doesn't exist and this is a no-op. Returns
    ``{swept: [names], kept_live: n, kept_fresh: n, kept_recent: n}``."""
    import os as _os
    import re as _re

    jvm = spark.sparkContext._jvm
    wh = spark.conf.get("spark.sql.warehouse.dir")
    root = jvm.org.apache.hadoop.fs.Path(wh)
    fs = root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    if not fs.exists(root):
        return {"swept": [], "kept_live": 0, "kept_fresh": 0, "kept_recent": 0}

    def _alive(pid: int) -> bool:
        try:
            _os.kill(pid, 0)
        except ProcessLookupError:
            return False
        except PermissionError:
            return True
        return True

    pat = _re.compile(r"__[bc](\d+)(_[a-z0-9_]+)?$")
    age_cutoff_ms = int(_time.time() * 1000) - int(min_age_hours * 3_600_000)
    swept: list[str] = []
    kept_live = kept_fresh = kept_recent = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        m = pat.search(name)
        if not m:
            continue
        if _alive(int(m.group(1))):
            kept_live += 1
            continue
        if st.getModificationTime() >= _PROCESS_START_MS:
            kept_fresh += 1
            continue
        if st.getModificationTime() >= age_cutoff_ms:
            # dead-looking pid + predates us, but too YOUNG to trust the
            # pid verdict: an invisible-pid co-tenant (shared warehouse,
            # unshared pid namespace) lands exactly here while alive
            kept_recent += 1
            continue
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        fs.delete(st.getPath(), True)
        swept.append(name)
    return {
        "swept": sorted(swept),
        "kept_live": kept_live,
        "kept_fresh": kept_fresh,
        "kept_recent": kept_recent,
    }
