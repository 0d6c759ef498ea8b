"""Resample to a fixed time grid with gap fill (SURVEY W1/W2).

The reference resamples each security's midquote series per day:
``perm_df['price'].resample(freq).ffill()`` (cloud_TAQ/taq_chunks.py:86-91,
TAQpipeline/correlation_matrix_exporter.py:111-116) — pandas semantics:
left-closed, left-labeled buckets; the bucket value is the *last*
observation in the bucket; empty buckets inherit the previous bucket's
value (forward-fill), and buckets before the first observation stay
NULL.

Spark-first formulation (no per-key driver loop, no UDF, no grid
relation):

1. bucket-last: ``groupBy(key, floor(ts/freq))`` + ``max_by(value, ts)``
   — one row per (key, sampled bucket).
2. fill: one window over the sampled rows, partitioned by the grid
   keys and ordered by bucket, computes ``lead(bucket)`` and the fill
   value — ``last(value, ignorenulls)`` for ffill,
   ``first(value, ignorenulls)`` over the following rows for bfill.
3. gap: ``explode(sequence(bucket, next - 1µs, freq))``, split per
   civil day so every point lands on a day-anchored slot, emits every
   grid bucket up to the successor, carrying the fill value.  The
   empty buckets are generated next to the value they inherit, so no
   dense grid is ever joined back to the samples.

Both steps group by the grid keys (plus bucket), so an input already
hash-partitioned by the grid keys needs no further Exchange
(``plans/taq.py`` partitions by (permno, date) once).

Scale note: with a ``day_col`` every partition of the window is ≤ one
symbol-day (≈ 23.4k one-second buckets), bounded regardless of total
data size, so no single task ever degenerates (SURVEY §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def bucketize(ts, freq_seconds: int):
    """Left-closed, left-labeled bucket start for a timestamp column.

    Anchored at the start of each DAY (pandas ``resample`` default
    ``origin='start_day'``) — epoch anchoring agrees only when the
    frequency divides 86400 (found by the Hypothesis sweep at 7s)."""
    day = F.date_trunc("day", ts)
    sec_of_day = F.unix_timestamp(ts) - F.unix_timestamp(day)
    slot = sec_of_day - (sec_of_day % F.lit(freq_seconds))
    return F.timestamp_seconds(F.unix_timestamp(day) + slot)


def resample(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    freq_seconds: int,
    agg: str = "last",
) -> DataFrame:
    """Step 1: collapse observations to one row per (key, bucket).

    ``agg='last'`` reproduces pandas ``resample(...).last()`` (what
    ffill-resampling uses); 'mean'/'first'/'min'/'max' also supported.
    'last' = max_by(value, (ts, monotonic tiebreak)) — deterministic
    because the reference pre-collapses duplicate timestamps with A1
    groupby-mean first (taq_chunks.py:84), which callers should too.
    """
    if agg == "twap":
        return _twap(df, key_cols, ts_col, value_col, freq_seconds)
    bucket = bucketize(F.col(ts_col), freq_seconds).alias("bucket")
    g = df.groupBy(*key_cols, bucket)
    if agg == "last":
        out = g.agg(F.max_by(value_col, ts_col).alias(value_col))
    elif agg == "first":
        out = g.agg(F.min_by(value_col, ts_col).alias(value_col))
    elif agg == "mean":
        out = g.agg(F.avg(value_col).alias(value_col))
    elif agg == "min":
        out = g.agg(F.min(value_col).alias(value_col))
    elif agg == "max":
        out = g.agg(F.max(value_col).alias(value_col))
    else:
        raise ValueError(f"unsupported agg: {agg}")
    return out


def _twap(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    freq_seconds: int,
) -> DataFrame:
    """Time-weighted average per bucket: each observation holds until
    the next one (the last until bucket end), weights = holding time
    in µs.  TWAP is the honest resample for irregular quote arrivals
    — a plain mean over-weights bursts.

    Within-bucket carry-in from the previous bucket is deliberately
    excluded (each bucket averages its own observations, starting at
    its first tick) — composing with the ffill grid is how a value
    spans empty buckets.  Ties on ``ts_col`` break by value so the
    weighting is deterministic; as with 'last', A1-collapse duplicate
    timestamps first for semantic (not just deterministic) cleanness.
    One window + one aggregation, both on the same (keys, bucket)
    partitioning — a single shuffle.
    """
    from pyspark.sql.window import Window as W

    b = df.withColumn("bucket", bucketize(F.col(ts_col), freq_seconds))
    w = W.partitionBy(*key_cols, "bucket").orderBy(ts_col, value_col)
    nxt = F.lead(ts_col).over(w)
    bucket_end = F.col("bucket") + F.expr(f"INTERVAL {freq_seconds} SECONDS")
    dur = F.unix_micros(F.coalesce(nxt, bucket_end)) - F.unix_micros(F.col(ts_col))
    return (
        b.withColumn("_dur", dur)
        .groupBy(*key_cols, "bucket")
        .agg(
            (F.sum(F.col(value_col) * F.col("_dur")) / F.sum("_dur")).alias(value_col)
        )
    )


def _gap_buckets(spans: DataFrame, freq_seconds: int) -> DataFrame:
    """One row per grid bucket in ``[bucket, _next)`` as ``_g``; the
    last sampled bucket of a partition (``_next`` NULL) yields itself.

    The exclusive bound ``_next - 1µs`` needs no ``_next - step``
    arithmetic, which would be off the grid across a midnight.  A gap
    is enumerated per civil day, each day from its midnight (or
    ``bucket`` on its first day) to its last :func:`bucketize` slot:
    one continuous ``sequence(lo, hi, freq)`` drifts off the day anchor
    whenever the frequency does not divide 86400 (86400 % 7 = 3), which
    the midnight-crossing Hypothesis sweep found."""
    step = F.expr(f"INTERVAL {freq_seconds} SECONDS")
    lo = F.col("bucket")
    hi = F.coalesce(F.col("_next") - F.expr("INTERVAL 1 MICROSECOND"), lo)
    days = spans.withColumn("_hi", hi).withColumn(
        "_day", F.explode(F.sequence(F.to_date(lo), F.to_date("_hi")))
    )
    midnight = F.col("_day").cast("timestamp")
    last_slot = 86399 - (86399 % freq_seconds)
    day_end = F.timestamp_seconds(F.unix_timestamp(midnight) + F.lit(last_slot))
    start = F.when(F.col("_day") == F.to_date(lo), lo).otherwise(midnight)
    end = F.when(F.col("_day") == F.to_date("_hi"), F.col("_hi")).otherwise(day_end)
    return days.withColumn("_g", F.explode(F.sequence(start, end, step))).drop(
        "_hi", "_day"
    )


def resample_ffill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    freq_seconds: int,
    agg: str = "last",
    day_col: str | None = None,
    direction: str = "ffill",
) -> DataFrame:
    """W1 (ffill) / W2 (bfill): dense per-key grid with gap fill.

    Returns (key_cols..., [day_col,] bucket, value) where value is the
    filled series over every grid bucket from each key's first to its
    last sampled bucket.  ``day_col`` (if given) bounds grid and fill
    to one day per key — matching the reference's per-day processing
    (taq_chunks.py:111-147) AND keeping window partitions small at
    scale.

    One window over the sampled rows computes each bucket's successor
    and its fill value; each sampled bucket then explodes into the gap
    up to its successor, carrying that value."""
    grid_keys = [*key_cols, day_col] if day_col else key_cols
    sampled = resample(df, grid_keys, ts_col, value_col, freq_seconds, agg)
    w = W.partitionBy(*grid_keys).orderBy("bucket")
    own = F.col(value_col)
    if direction == "ffill":
        fill = F.last(own, ignorenulls=True).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        )
    elif direction == "bfill":
        # the gap after a bucket takes the next non-null value; the
        # bucket itself keeps its own unless that is NULL
        fill = F.first(own, ignorenulls=True).over(
            w.rowsBetween(1, W.unboundedFollowing)
        )
    else:
        raise ValueError(f"unsupported direction: {direction}")

    spans = sampled.filter(F.col("bucket").isNotNull()).select(
        *grid_keys,
        "bucket",
        own,
        F.lead("bucket").over(w).alias("_next"),
        fill.alias("_fill"),
    )
    filled = F.col("_fill")
    if direction == "bfill":
        filled = F.when(
            F.col("_g") == F.col("bucket"), F.coalesce(own, filled)
        ).otherwise(filled)
    return _gap_buckets(spans, freq_seconds).select(
        *grid_keys, F.col("_g").alias("bucket"), filled.alias(value_col)
    )
