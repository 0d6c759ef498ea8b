"""resample_ffill (operators/resample.py) vs pandas
``resample(freq).ffill()`` — the reference's exact call
(cloud_TAQ/taq_chunks.py:86-91) — on the nbbo fixture."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from wrds_data_pipeline_spark.functions.scalars import midquote
from wrds_data_pipeline_spark.operators.resample import resample_ffill


@pytest.fixture(scope="module")
def prices(spark, wrds):
    """Midquote per (timestamp, symbol) after A1 dedup-average —
    the reference's pre-resample state (taq_chunks.py:74-84)."""
    nbbo = wrds["nbbo"]
    return (
        nbbo.withColumn("price", midquote("best_bid", "best_ask"))
        .dropna(subset=["price"])
        .groupBy("date", "sym_root", "time_m")
        .agg(F.avg("price").alias("price"))
    )


@pytest.mark.parametrize("freq", [1, 60])
def test_ffill_matches_pandas(spark, prices, freq):
    got = (
        resample_ffill(
            prices,
            key_cols=["sym_root"],
            ts_col="time_m",
            value_col="price",
            freq_seconds=freq,
            agg="last",
            day_col="date",
        )
        .toPandas()
        .sort_values(["sym_root", "date", "bucket"])
        .reset_index(drop=True)
    )

    pdf = prices.toPandas()
    frames = []
    for (sym, day), g in pdf.groupby(["sym_root", "date"]):
        s = (
            g.set_index("time_m")["price"]
            .sort_index()
            .resample(f"{freq}s")
            .last()
            .ffill()
        )
        frames.append(
            pd.DataFrame({
                "sym_root": sym, "date": day,
                "bucket": s.index, "price": s.values,
            })
        )
    want = (
        pd.concat(frames)
        .sort_values(["sym_root", "date", "bucket"])
        .reset_index(drop=True)
    )

    assert len(got) == len(want)
    assert (got["bucket"].values == want["bucket"].values).all()
    pd.testing.assert_series_equal(got["price"], want["price"], check_names=False)


def test_bfill_matches_pandas(spark, prices):
    got = (
        resample_ffill(
            prices, ["sym_root"], "time_m", "price", 60,
            agg="last", day_col="date", direction="bfill",
        )
        .toPandas()
        .sort_values(["sym_root", "date", "bucket"])
        .reset_index(drop=True)
    )
    pdf = prices.toPandas()
    frames = []
    for (sym, day), g in pdf.groupby(["sym_root", "date"]):
        s = g.set_index("time_m")["price"].sort_index().resample("60s").last().bfill()
        frames.append(pd.DataFrame({
            "sym_root": sym, "date": day, "bucket": s.index, "price": s.values,
        }))
    want = pd.concat(frames).sort_values(["sym_root", "date", "bucket"]).reset_index(drop=True)
    assert len(got) == len(want)
    pd.testing.assert_series_equal(got["price"], want["price"], check_names=False)


def test_ffill_day_bound_no_overnight_leak(spark):
    """day_col bounds the fill: day 2's pre-quote buckets stay NULL
    instead of inheriting day 1's close (the reference processes days
    independently — taq_chunks.py:111-147)."""
    import datetime

    from wrds_data_pipeline_spark.operators.resample import resample_ffill

    d1 = datetime.datetime(2024, 1, 2, 23, 58)
    d2 = datetime.datetime(2024, 1, 3, 0, 3)
    rows = [
        ("A", d1, 10.0),
        ("A", d2, 20.0),
    ]
    df = spark.createDataFrame(rows, "sym string, ts timestamp, price double")
    df = df.withColumn("day", F.to_date("ts"))
    out = resample_ffill(
        df, ["sym"], "ts", "price", freq_seconds=60, day_col="day"
    ).toPandas().sort_values("bucket").reset_index(drop=True)

    day2 = out[out["bucket"].dt.date == datetime.date(2024, 1, 3)]
    pre = day2[day2["bucket"].dt.time < datetime.time(0, 3)]
    # grid starts at day 2's first observed bucket or midnight; any
    # pre-quote buckets must NOT carry 10.0 across midnight
    assert not (pre["price"] == 10.0).any()
    at_quote = day2[day2["bucket"].dt.time == datetime.time(0, 3)]
    assert (at_quote["price"] == 20.0).all() and len(at_quote) == 1


def test_twap_matches_replay(spark):
    """resample(agg='twap') vs a hand replay: holding-time weights,
    last observation held to bucket end, single-obs bucket = value."""
    import datetime

    from wrds_data_pipeline_spark.operators.resample import resample

    T0 = datetime.datetime(2024, 1, 2, 10, 0, 0)

    def ts(sec):
        return T0 + datetime.timedelta(seconds=sec)

    rows = [
        # bucket 10:00 (60s): v=1 holds 10s, v=3 holds 50s → (10+150)/60
        ("A", ts(0), 1.0), ("A", ts(10), 3.0),
        # bucket 10:01: single late obs at :30 holds 30s → 5.0
        ("A", ts(90), 5.0),
        # second key, one obs → its own value
        ("B", ts(5), 7.0),
    ]
    df = spark.createDataFrame(rows, "sym string, ts timestamp, price double")
    got = {
        (r.sym, r.bucket.time().strftime("%H:%M")): r.price
        for r in resample(df, ["sym"], "ts", "price", 60, agg="twap").collect()
    }
    assert abs(got[("A", "10:00")] - (1.0 * 10 + 3.0 * 50) / 60) < 1e-12
    assert abs(got[("A", "10:01")] - 5.0) < 1e-12
    assert abs(got[("B", "10:00")] - 7.0) < 1e-12


@pytest.mark.parametrize("direction", ["ffill", "bfill"])
def test_fill_over_null_buckets_matches_pandas(spark, direction):
    """Buckets whose sampled value is NULL (a mean over NULLs only) are
    filled like empty ones — pandas' NaN buckets — including leading,
    trailing and all-NULL series."""
    import datetime

    T0 = datetime.datetime(2024, 1, 2, 10, 0, 0)
    events = {
        # bucket 0 valued, 1 all-NULL, 2 empty, 3 all-NULL, 5 one value
        # among NULLs, 7 trailing all-NULL
        "A": [(0, 1.0), (65, None), (70, None), (200, None), (250, None),
              (300, 4.0), (310, None), (420, None)],
        # leading and trailing all-NULL buckets around one value
        "B": [(0, None), (120, 2.0), (240, None)],
        # no value at all
        "C": [(0, None), (100, None)],
    }
    rows = [
        (k, T0 + datetime.timedelta(seconds=s), v)
        for k, evs in events.items() for s, v in evs
    ]
    df = spark.createDataFrame(rows, "sym string, ts timestamp, price double")
    got = (
        resample_ffill(df, ["sym"], "ts", "price", 60, agg="mean",
                       direction=direction)
        .toPandas().sort_values(["sym", "bucket"]).reset_index(drop=True)
    )
    frames = []
    for k, evs in events.items():
        s = pd.Series(
            [v for _, v in evs], dtype="float64",
            index=[T0 + datetime.timedelta(seconds=t) for t, _ in evs],
        ).resample("60s").last()
        s = s.ffill() if direction == "ffill" else s.bfill()
        frames.append(pd.DataFrame({"sym": k, "bucket": s.index, "price": s.values}))
    want = pd.concat(frames).reset_index(drop=True)

    assert got["sym"].tolist() == want["sym"].tolist()
    assert (got["bucket"].values == want["bucket"].values).all()
    pd.testing.assert_series_equal(got["price"], want["price"], check_names=False)
