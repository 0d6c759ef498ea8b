"""TAQ resampler plan (plans/taq.py) vs a pandas replay of the
reference dataflow (cloud_TAQ/taq_chunks.py:21-109): midquote →
market-hours clip → symbol map → dedup-average → per-symbol
resample+ffill → between_time re-clip."""

from __future__ import annotations

import datetime

import pandas as pd
from pyspark.sql import functions as F

from wrds_data_pipeline_spark.plans.taq import day_universe_symbols, resampled_prices

OPEN = datetime.time(9, 30)
CLOSE = datetime.time(16, 0)


def _universe_from_taqmclink(taqmclink):
    return day_universe_symbols(taqmclink.select("date", "permno", "ticker"))


def pandas_replay(nbbo: pd.DataFrame, link: pd.DataFrame, freq: str) -> pd.DataFrame:
    link = link.copy()
    parts = link["ticker"].str.split(".", n=1)
    link["sym_root"] = parts.str[0]
    link["sym_suffix"] = parts.str[1]
    out = []
    for day, day_quotes in nbbo.groupby("date"):
        day_link = link[link["date"] == day]
        day_link = day_link.sort_values("ticker").drop_duplicates("permno")
        q = day_quotes.copy()
        q["price"] = (q["best_bid"] + q["best_ask"]) / 2
        q = q.dropna(subset=["price"])
        tod = q["time_m"].dt.time
        q = q[(tod >= OPEN) & (tod <= CLOSE)]
        # null-tolerant composite-key map (reference fillna('') trick)
        q["_sfx"] = q["sym_suffix"].fillna("")
        day_link = day_link.assign(_sfx=day_link["sym_suffix"].fillna(""))
        m = q.merge(day_link[["sym_root", "_sfx", "permno"]], on=["sym_root", "_sfx"])
        m = m.groupby(["permno", "time_m"], as_index=False)["price"].mean()
        for permno, g in m.groupby("permno"):
            s = g.set_index("time_m")["price"].sort_index().resample(freq).last().ffill()
            s = s[(s.index.time >= OPEN) & (s.index.time <= CLOSE)]
            out.append(pd.DataFrame({
                "date": day, "permno": permno, "bucket": s.index, "price": s.values,
            }))
    return pd.concat(out).sort_values(["date", "permno", "bucket"]).reset_index(drop=True)


def test_taq_pipeline_matches_reference(spark, wrds, wrds_dir):
    universe = _universe_from_taqmclink(wrds["taqmclink"])
    got = (
        resampled_prices(wrds["nbbo"], universe, freq_seconds=60)
        .toPandas()
        .sort_values(["date", "permno", "bucket"])
        .reset_index(drop=True)
    )

    nbbo = pd.read_parquet(f"{wrds_dir}/nbbo.parquet")
    link = pd.read_parquet(f"{wrds_dir}/taqmclink.parquet")
    want = pandas_replay(nbbo, link, "60s")

    assert len(got) > 0
    assert len(got) == len(want)
    assert got["permno"].astype(int).tolist() == want["permno"].astype(int).tolist()
    assert (got["bucket"].values == want["bucket"].values).all()
    pd.testing.assert_series_equal(got["price"], want["price"], check_names=False)


def test_all_universe_days_present(spark, wrds):
    universe = _universe_from_taqmclink(wrds["taqmclink"])
    got = resampled_prices(wrds["nbbo"], universe, freq_seconds=60)
    days = [r[0] for r in got.select("date").distinct().collect()]
    assert len(days) == 3
    # symbol 10 has no quotes on the last day → absent there, present earlier
    per_day = got.groupBy("date").agg(F.countDistinct("permno").alias("n")).collect()
    ns = {str(r["date"]): r["n"] for r in per_day}
    assert min(ns.values()) < max(ns.values())


def _physical_nodes(plan, under_broadcast=False):
    """(node, under a BroadcastExchange) for every node of a physical
    plan, walking into AQE's current plan and into the plan behind a
    cached relation (another test may have cached the same panel)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        yield from _physical_nodes(plan.executedPlan(), under_broadcast)
        return
    if plan.nodeName().endswith("QueryStage"):
        yield from _physical_nodes(plan.plan(), under_broadcast)
        return
    if plan.nodeName() == "InMemoryTableScan":
        yield from _physical_nodes(plan.relation().cachedPlan(), under_broadcast)
        return
    yield plan, under_broadcast
    below = under_broadcast or plan.nodeName() == "BroadcastExchange"
    children = plan.children()
    for i in range(children.size()):
        yield from _physical_nodes(children.apply(i), below)


def test_resample_plan_has_one_quote_shuffle(spark, wrds):
    """The resampler shuffles the quotes once, on (permno, date): A1,
    bucket-last and the fill window share that partitioning, no grid is
    joined back (no SortMergeJoin) and the quote scan is not replayed."""
    universe = _universe_from_taqmclink(wrds["taqmclink"])
    plan = resampled_prices(wrds["nbbo"], universe, freq_seconds=60)._jdf
    nodes = list(_physical_nodes(plan.queryExecution().executedPlan()))
    shuffles = [
        n.toString() for n, in_bc in nodes
        if n.nodeName() == "Exchange" and not in_bc
    ]
    assert len(shuffles) == 1, shuffles
    assert "hashpartitioning(permno" in shuffles[0], shuffles
    assert not [n for n, _ in nodes if n.nodeName() == "SortMergeJoin"]
    quote_scans = [
        n for n, _ in nodes
        if n.nodeName().startswith("Scan") and "nbbo" in n.toString()
    ]
    assert len(quote_scans) == 1
