"""Property-based check: resample_ffill == pandas resample().ffill()
for arbitrary sparse integer-second event series."""

from __future__ import annotations

import datetime

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

BASE = datetime.datetime(2024, 3, 4, 9, 30)

series_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3600),          # offset seconds
        st.floats(min_value=1.0, max_value=100.0,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(events=series_strategy, freq=st.sampled_from([7, 60, 300]))
def test_ffill_property(spark, events, freq):
    from wrds_data_pipeline_spark.operators.resample import resample_ffill

    # dedupe offsets: duplicate timestamps make 'last' ambiguous in
    # both engines (the pipeline dedup-averages first; see A1)
    dedup = {}
    for off, v in events:
        dedup[off] = v
    rows = [("K", BASE + datetime.timedelta(seconds=off), v)
            for off, v in sorted(dedup.items())]

    df = spark.createDataFrame(rows, ["key", "ts", "value"])
    got = (
        resample_ffill(df, ["key"], "ts", "value", freq, agg="last")
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )

    s = pd.Series(
        {ts: v for _, ts, v in rows}
    ).sort_index().resample(f"{freq}s").last().ffill()

    assert len(got) == len(s)
    assert (got["bucket"].values == s.index.values).all()
    assert (got["value"].values == s.values).all()


def test_ewma_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from wrds_data_pipeline_spark.operators.windows import ewma

    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "sym": ["A"] * 40 + ["B"] * 25,
        "seq": list(range(40)) + list(range(25)),
        "v": rng.normal(100, 5, 65),
    })
    got = (
        ewma(spark.createDataFrame(pdf), ["sym"], ["seq"], "v", alpha=0.3)
        .toPandas().sort_values(["sym", "seq"]).reset_index(drop=True)
    )
    want = pdf.sort_values(["sym", "seq"]).reset_index(drop=True)
    want["ewma"] = want.groupby("sym")["v"].transform(
        lambda s: s.ewm(alpha=0.3, adjust=True).mean()
    )
    assert np.allclose(got["ewma"], want["ewma"], atol=1e-12)


def test_rolling_zscore_matches_pandas(spark):
    import numpy as np
    import pandas as pd

    from wrds_data_pipeline_spark.operators.windows import rolling_zscore

    rng = np.random.default_rng(12)
    pdf = pd.DataFrame({
        "sym": ["A"] * 30,
        "seq": range(30),
        "v": rng.normal(0, 1, 30),
    })
    got = (
        rolling_zscore(spark.createDataFrame(pdf), ["sym"], ["seq"], "v", n=5)
        .toPandas().sort_values("seq").reset_index(drop=True)
    )
    roll = pdf["v"].rolling(5, min_periods=1)
    want = (pdf["v"] - roll.mean()) / pdf["v"].rolling(5, min_periods=2).std()
    for g, w in zip(got["zscore"], want):
        assert (pd.isna(g) and pd.isna(w)) or abs(g - w) < 1e-9


# --- midnight-crossing grids / frequencies not dividing 86400 ---------------

MIDNIGHT_BASE = datetime.datetime(2024, 3, 4, 23, 40)

midnight_series = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100_000),  # up to ~2 midnights out
        st.floats(min_value=1.0, max_value=100.0,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=25,
)


def _day_anchored_oracle(rows, freq, direction="ffill"):
    """Pure-python replay of the engine's day-anchored resample+fill:
    bucket = day-midnight-anchored slot; grid = per civil day, span
    start..end; fill forward (or backward) across days."""
    def bkt(ts):
        day = ts.replace(hour=0, minute=0, second=0, microsecond=0)
        off = int((ts - day).total_seconds())
        return day + datetime.timedelta(seconds=off - off % freq)

    sampled = {}
    for _, ts, v in rows:  # rows sorted by ts; later obs wins the bucket
        sampled[bkt(ts)] = v
    lo, hi = min(sampled), max(sampled)
    grid = []
    day = lo.replace(hour=0, minute=0, second=0, microsecond=0)
    last_slot = 86399 - (86399 % freq)
    while day <= hi:
        start = lo if day == lo.replace(hour=0, minute=0, second=0) else day
        end = hi if day == hi.replace(hour=0, minute=0, second=0) else (
            day + datetime.timedelta(seconds=last_slot)
        )
        t = start
        while t <= end:
            grid.append(t)
            t += datetime.timedelta(seconds=freq)
        day += datetime.timedelta(days=1)
    out, cur = [], None
    for t in grid if direction == "ffill" else reversed(grid):
        cur = sampled.get(t, cur)
        out.append((t, cur))
    return out if direction == "ffill" else out[::-1]


midnight_property = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
midnight_cases = given(
    events=midnight_series, freq=st.sampled_from([7, 60, 97, 450, 3600])
)


@midnight_property
@midnight_cases
def test_ffill_midnight_crossing_property(spark, events, freq):
    _check_midnight_crossing(spark, events, freq, "ffill")


@midnight_property
@midnight_cases
def test_bfill_midnight_crossing_property(spark, events, freq):
    _check_midnight_crossing(spark, events, freq, "bfill")


def _check_midnight_crossing(spark, events, freq, direction):
    """Grids that cross midnight stay aligned with the day-anchored
    bucketize for every frequency, filled either way; when the
    frequency divides 86400 the result also equals pandas'
    whole-series resample."""
    from wrds_data_pipeline_spark.operators.resample import resample_ffill

    dedup = {}
    for off, v in events:
        dedup[off] = v
    rows = [("K", MIDNIGHT_BASE + datetime.timedelta(seconds=off), v)
            for off, v in sorted(dedup.items())]

    df = spark.createDataFrame(rows, ["key", "ts", "value"])
    got = (
        resample_ffill(df, ["key"], "ts", "value", freq, agg="last",
                       direction=direction)
        .toPandas().sort_values("bucket").reset_index(drop=True)
    )

    want = _day_anchored_oracle(rows, freq, direction)
    assert len(got) == len(want), (len(got), len(want))
    for (gb, gv), (wb, wv) in zip(
        zip(got["bucket"].dt.to_pydatetime(), got["value"]), want
    ):
        assert gb == wb
        assert (gv is None and wv is None) or gv == wv

    if 86400 % freq == 0:  # pandas parity holds exactly for divisors
        s = pd.Series({ts: v for _, ts, v in rows}).sort_index()
        ps = s.resample(f"{freq}s").last()
        ps = ps.ffill() if direction == "ffill" else ps.bfill()
        assert len(ps) == len(got)
        assert (got["bucket"].values == ps.index.values).all()
        assert (got["value"].values == ps.values).all()
