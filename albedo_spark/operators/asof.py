"""As-of (point-in-time) join — an operator Spark lacks natively (the
reference lacks it too; this is a §7.5-class extension, and the classic
time-series primitive every training-data pipeline eventually needs).

Implementation is the merge-sorted carry-forward, not a range join:
union both sides tagged, one shuffle on (key), one sort on (ts, side), then
``last(value, ignorenulls=True)`` over rows-unbounded-preceding carries the
most recent right-side row onto each left row. Cost: one shuffle + one sort
— same as a window agg; a naive ``left.ts >= right.ts`` range join would be
O(|L|·|R|) per key. Right side must be unique per (key, ts) for
deterministic output (pre-aggregate duplicates away).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    value_cols: list[str] | None = None,
    how: str = "inner",
    direction: str = "backward",
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """For each left row, attach the nearest right row on the same key:
    ``direction='backward'`` (default) takes the latest right row with
    ``right.ts <= left.ts`` (inclusive, like DuckDB ``ASOF JOIN ... ON
    l.ts >= r.ts``); ``direction='forward'`` the earliest right row with
    ``right.ts >= left.ts`` — the pandas ``merge_asof`` surface, minus
    'nearest' (compose the two directions if needed).

    ``tolerance_seconds`` bounds the match distance (µs-exact): a carried
    row farther than the tolerance counts as NO match (nulled, and dropped
    under ``how='inner'``). Same plan either way: one shuffle + one sort,
    the tolerance is a post-projection filter, so the operator stays
    O(n log n) per key, never a range join.

    ``value_cols``: right-side columns to carry (prefixed ``asof_``).
    ``how``: 'inner' drops left rows with no match; 'left' keeps them with
    nulls. With duplicate right (key, ts) rows the carried values follow
    sort order — pre-aggregate duplicates for determinism. ``left`` may
    not carry ``_side``, ``_ts`` or any ``asof_*`` column (ValueError).
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    # The carry tags rows with _side/_ts and treats EVERY asof_* column as
    # a carried value, so a left frame already holding one (say, the
    # output of an earlier as_of_join) would fail on ambiguity or have
    # its own asof_* values overwritten.
    reserved = [
        c for c in left.columns if c in ("_side", "_ts") or c.startswith("asof_")
    ]
    if reserved:
        raise ValueError(
            f"as_of_join: left has reserved column(s) {reserved}; _side and "
            "_ts are internal and asof_* names hold carried values — rename "
            "them before joining (e.g. when chaining as_of_join calls)"
        )
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, right_ts)
    ]
    # Single select per side, not a withColumn per carried column (r16):
    # each withColumn forces a full analyzer pass; with wide value_cols
    # that is O(cols) sequential passes of pure driver time.
    left_types = dict(left.dtypes)
    right_types = dict(right.dtypes)
    l_tagged = left.select(
        "*",
        F.lit(1).alias("_side"),
        F.col(left_ts).alias("_ts"),
        *[
            F.lit(None).cast(right_types[v]).alias(f"asof_{v}")
            for v in value_cols
        ],
        F.lit(None).cast(right_types[right_ts]).alias("asof_ts"),
    )
    r_tagged = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        *[F.col(c).alias(f"asof_{c}") for c in value_cols],
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("asof_ts"),
        *[
            F.lit(None).cast(left_types[c]).alias(c)
            for c in left.columns
            if c != key
        ],
    )

    combined = l_tagged.select(r_tagged.columns).unionByName(r_tagged)
    # right rows sort before left rows at equal ts → inclusive semantics in
    # both directions; forward = the same carry over a descending traversal
    ts_order = F.col("_ts").asc() if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy(key)
        .orderBy(ts_order, F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = combined.select(
        *[c for c in combined.columns if not c.startswith("asof_")],
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(c)
            for c in combined.columns
            if c.startswith("asof_")
        ],
    )
    out = carried.where(F.col("_side") == 1).drop("_side", "_ts")
    if tolerance_seconds is not None:
        tol_us = round(tolerance_seconds * 1_000_000)
        delta = (
            F.unix_micros(F.col(left_ts)) - F.unix_micros(F.col("asof_ts"))
            if direction == "backward"
            else F.unix_micros(F.col("asof_ts")) - F.unix_micros(F.col(left_ts))
        )
        in_tol = F.col("asof_ts").isNotNull() & (delta <= F.lit(tol_us))
        out = out.select(
            *[c for c in out.columns if not c.startswith("asof_")],
            *[
                F.when(in_tol, F.col(c)).otherwise(F.lit(None)).alias(c)
                for c in out.columns
                if c.startswith("asof_")
            ],
        )
    if how == "inner":
        out = out.where(F.col("asof_ts").isNotNull())
    return out
