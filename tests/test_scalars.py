"""functions.scalars.in_market_hours: microsecond-exact boundaries,
and wall-clock semantics under a non-UTC session time zone."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wrds_data_pipeline_spark.functions.scalars import in_market_hours

DAY = "2016-03-14 "


def _kept(spark, tods, ts_type, **kw):
    df = spark.createDataFrame([(DAY + t,) for t in tods], "s string")
    df = df.select("s", F.col("s").cast(ts_type).alias("ts"))
    return {r.s[len(DAY):] for r in df.filter(in_market_hours("ts", **kw)).collect()}


@pytest.mark.parametrize("ts_type", ["timestamp", "timestamp_ntz"])
def test_market_hours_boundaries(spark, ts_type):
    tods = [
        "09:29:59.999999", "09:30:00", "12:00:00.5", "16:00:00",
        "16:00:00.000001", "16:00:01",
    ]
    assert _kept(spark, tods, ts_type) == {"09:30:00", "12:00:00.5", "16:00:00"}
    assert _kept(spark, tods, ts_type, closed_right=False) == {
        "09:30:00", "12:00:00.5",
    }
    assert _kept(
        spark, tods, ts_type, open_time="12:00:00.5", close_time="16:00:00.000001"
    ) == {"12:00:00.5", "16:00:00", "16:00:00.000001"}


@pytest.fixture
def new_york(spark):
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_market_hours_on_dst_day_matches_wall_clock_format(spark, new_york):
    """2016-03-13 in New York skips 02:00-03:00: instants every 7 min
    13.000123 s across it, plus the clip edges, agree with a
    'HH:mm:ss.SSSSSS' compare of the formatted wall clock."""
    day = spark.sql("SELECT unix_micros(timestamp'2016-03-13 00:00:00') AS t").first().t
    step = (7 * 60 + 13) * 1_000_000 + 123
    edges = [
        "2016-03-13 01:59:59.999999", "2016-03-13 03:00:00",
        "2016-03-13 09:29:59.999999", "2016-03-13 09:30:00",
        "2016-03-13 16:00:00", "2016-03-13 16:00:00.000001",
    ]
    grid = spark.range(0, 23 * 3600 * 1_000_000, step).select(
        F.timestamp_micros(F.col("id") + F.lit(day)).alias("ts")
    )
    df = grid.unionByName(
        spark.createDataFrame([(e,) for e in edges], "s string").select(
            F.col("s").cast("timestamp").alias("ts")
        )
    )
    tod = F.date_format("ts", "HH:mm:ss.SSSSSS")
    for lo, hi, closed in [
        ("09:30:00", "16:00:00", True),
        ("09:30:00", "16:00:00", False),
        ("01:30:00", "03:00:00", True),
    ]:
        hi_ok = tod <= F.lit(hi + ".000000") if closed else tod < F.lit(hi + ".000000")
        old = (tod >= F.lit(lo + ".000000")) & hi_ok
        rows = df.select(
            "ts",
            in_market_hours("ts", lo, hi, closed_right=closed).alias("new"),
            old.alias("old"),
        ).collect()
        assert sum(r.new for r in rows) > 0
        assert [r.ts for r in rows if r.new != r.old] == []
