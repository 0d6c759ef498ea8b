"""TAQ resampler: per-day NBBO quotes → fixed-grid price panel.

Re-expresses ``cloud_TAQ/taq_chunks.py:21-148`` as one declarative
plan over a date-partitioned quotes table (the reference scans one
physical table per day, ``taqmsec.complete_nbbo_YYYYMMDD``, in a
driver loop with 100-symbol chunks — SURVEY S2/O4 make both the loop
and the chunking obsolete):

1. universe lookup for the date range: point-in-time members
   (P15/P16), ticker→(sym_root, sym_suffix) split (F2), dedup by
   permno with explicit ordering (A2),
2. midquote (F1), timestamp assembly (F6), market-hours clip (P11),
3. symbol→permno mapping: one broadcast join with **null-safe**
   suffix equality (J3 — replaces the fillna('') hack at
   taq_chunks.py:79-81).  It is inner, so it also restricts the quote
   scan to universe symbols, replacing the hand-rolled OR-of-ANDs
   WHERE clause (taq_chunks.py:47-55, SURVEY P9/J4) without a second
   pass over the lookup,
4. one shuffle on (permno, date), which the dedup-average per
   (timestamp, permno) (A1), the bucket-last and the fill window all
   reuse,
5. resample + forward-fill per (permno, day) (W1),
6. re-clip to market hours (P12 — the reference re-applies
   between_time after resampling, taq_chunks.py:106).

Output stays long (bucket, permno, price); ``to_wide`` pivots at the
sink boundary only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from wrds_data_pipeline_spark.functions.scalars import (
    in_market_hours,
    midquote,
    symbol_root,
    symbol_suffix,
)
from wrds_data_pipeline_spark.operators.resample import resample_ffill


def day_universe_symbols(universe: DataFrame) -> DataFrame:
    """(date, sym_root, sym_suffix, permno) valid per day: the per-day
    symbol lookup of taq_chunks.py:31-45, all days at once.

    dedup by (date, permno) keeps the first ticker alphabetically —
    an explicit ordering where the reference relies on frame order
    (drop_duplicates, taq_chunks.py:36; SURVEY A2 determinism)."""
    w = W.partitionBy("date", "permno").orderBy("ticker")
    return (
        universe.select(
            "date", "permno", "ticker",
            symbol_root("ticker").alias("sym_root"),
            symbol_suffix("ticker").alias("sym_suffix"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "ticker")
    )


def resampled_prices(
    nbbo: DataFrame,
    universe_symbols: DataFrame,
    freq_seconds: int = 1,
    open_time: str = "09:30:00",
    close_time: str = "16:00:00",
) -> DataFrame:
    """Long price panel (date, permno, bucket, price) for every
    (day, symbol) in the universe — the whole taq_chunks.py day loop
    as one plan."""
    # F1 midquote; P14 drop null-mid rows (NaN best_ask, notebook cell 12)
    quotes = (
        nbbo.withColumn("price", midquote("best_bid", "best_ask"))
        .dropna(subset=["price"])
        # P11: market-hours clip pushed before the aggregation
        .filter(in_market_hours("time_m", open_time, close_time))
    )

    # J3/J4: symbol→permno broadcast join, null-safe suffix key; the
    # dropna makes it inner, which drops quotes of non-universe symbols
    q, l = quotes.alias("q"), F.broadcast(universe_symbols).alias("l")
    mapped = q.join(
        l,
        (F.col("q.date") == F.col("l.date"))
        & (F.col("q.sym_root") == F.col("l.sym_root"))
        & F.col("q.sym_suffix").eqNullSafe(F.col("l.sym_suffix")),
        "left",
    ).select(
        F.col("q.date").alias("date"),
        F.col("q.time_m").alias("time_m"),
        F.col("l.permno").alias("permno"),
        F.col("q.price").alias("price"),
    ).dropna(subset=["permno"])

    # A1: collapse simultaneous updates per (timestamp, permno).  The
    # (permno, date) partitioning satisfies this aggregate, the
    # bucket-last aggregate and the fill window alike: one Exchange.
    deduped = (
        mapped.repartition("permno", "date")
        .groupBy("date", "permno", "time_m")
        .agg(F.avg("price").alias("price"))
    )

    # W1: per-(permno, day) fixed grid + ffill
    filled = resample_ffill(
        deduped,
        key_cols=["permno"],
        ts_col="time_m",
        value_col="price",
        freq_seconds=freq_seconds,
        agg="last",
        day_col="date",
    )

    # P12: re-clip (the grid spans first..last quote; the reference
    # clips the resampled index to market hours again)
    return filled.filter(in_market_hours("bucket", open_time, close_time)).select(
        "date", "permno", "bucket", "price"
    )
