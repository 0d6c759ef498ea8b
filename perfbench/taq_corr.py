"""``taq_corr``: the reference's pipelines 1-3 on seeded WRDS-shaped inputs.

Staging writes ``fixtures.generate(dir, seed)`` and synthesizes NBBO
quotes for a fixed number of universe symbols on two trading days,
staged as date-partitioned parquet.  One pass (the
operation) runs four stages, each ending in a sink as the reference's
scripts do:

- ``taq.universe``: ``build_universe`` -> ``write_partitioned`` (sp500ccm)
- ``taq.resample``: ``resampled_prices`` (1 s grid) -> ``write_partitioned``
- ``taq.corr``: ``intraday_corr`` (1 h windows) -> ``write_corr_long``
- ``taq.export``: ``export_corr_csvs_distributed`` (one CSV per window)

Every pass checks the grid size (symbols x days x buckets), that the
correlations lie in [-1, 1] with a unit diagonal and are symmetric, and
that one CSV was written per window.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from digest import digest_of, observed
from pyspark.sql import functions as F

SCALES = {
    # symbols quoted per day, quotes in total
    "default": {"n_sym": 12, "quotes": 600_000},
    "toy": {"n_sym": 3, "quotes": 6_000},
}
# two trading days of the fixture calendar on which every seed's universe
# has 18 members, the most any day has
QUOTE_DAYS = slice(150, 152)
OPEN_S, CLOSE_S = 9.5 * 3600, 16 * 3600
GRID_BUCKETS = int(CLOSE_S - OPEN_S) + 1  # 1 s grid, both ends inclusive
WINDOW_S = 3600
WINDOWS_PER_DAY = 7  # 09:30, 10:30, ..., 15:30
TOL = 1e-9
FIXTURE_TABLES = ("dsp500list", "dsf", "msenames", "ccmxpf_linktable")


class TaqCorr:
    name = "taq_corr"
    min_warm_passes = 1

    def __init__(self, ctx):
        from wrds_data_pipeline_spark import fixtures

        self.ctx = ctx
        self.fixtures = fixtures
        self.days = fixtures.trading_days()[QUOTE_DAYS]
        self.as_of = fixtures.trading_days()[-1]
        self.out = os.path.join(ctx.work_dir, "out")

    # -- staging ------------------------------------------------------
    def stage(self, rep: int) -> str:
        """Fixtures plus quotes, in numpy/pyarrow (no Spark job), so the
        first pass pays the session's first-job costs as a CLI call would."""
        ctx, cfg = self.ctx, SCALES[self.ctx.scale]
        root = os.path.join(ctx.input_dir, f"rep{rep}")
        self.fx_dir = os.path.join(root, "fixtures")
        fx = self.fixtures.generate(self.fx_dir, ctx.seed)
        members = [self._members(fx, d) for d in self.days]
        self.permnos = sorted(set.intersection(*[set(m) for m in members]))[: cfg["n_sym"]]
        if len(self.permnos) < 2:
            raise RuntimeError(f"seed {ctx.seed}: fewer than 2 universe symbols quoted")

        rng = np.random.default_rng(ctx.seed)
        per_pair = cfg["quotes"] // (len(self.days) * len(self.permnos))
        self.nbbo_dir = os.path.join(root, "nbbo")
        for d, m in zip(self.days, members):
            times, roots, suffixes, bids, asks = [], [], [], [], []
            for permno in self.permnos:
                root_sym, _, suffix = m[permno].partition(".")
                base, beta = rng.uniform(20, 200), rng.uniform(-1, 1)
                phase, period = rng.uniform(0, 2 * np.pi), rng.uniform(600, 7200)
                sec = np.concatenate([
                    [OPEN_S, CLOSE_S], np.round(rng.uniform(9 * 3600, 16.5 * 3600, per_pair - 2), 3)])
                move = beta * np.sin(sec / 3000.0) + np.sin(sec * 2 * np.pi / period + phase)
                mid = base * (1 + 0.002 * move) + rng.normal(0, 0.002, len(sec))
                ask = np.round(mid + 0.01, 4)
                ask[2:][rng.random(len(sec) - 2) < 0.005] = np.nan  # missing asks
                times.append(np.datetime64(d, "us") + (sec * 1e6).astype("timedelta64[us]"))
                roots.append(root_sym)
                suffixes.append(suffix or None)
                bids.append(np.round(mid - 0.01, 4))
                asks.append(ask)
            ask = np.concatenate(asks)
            part = os.path.join(self.nbbo_dir, f"date={d.isoformat()}")
            os.makedirs(part)
            pq.write_table(pa.table({
                "time_m": pa.array(np.concatenate(times), pa.timestamp("us", tz="UTC")),
                "sym_root": pa.array(np.repeat(roots, per_pair), pa.string()),
                "sym_suffix": pa.array(np.repeat(np.array(suffixes, object), per_pair), pa.string()),
                "best_bid": np.concatenate(bids),
                "best_ask": pa.array(ask, pa.float64(), mask=np.isnan(ask)),
            }), os.path.join(part, "part-0.parquet"))
        self.grid_rows = len(self.days) * len(self.permnos) * GRID_BUCKETS
        return root

    def _members(self, fx: dict, d) -> dict[int, str]:
        """permno -> ticker of the universe on day ``d``, straight from the
        fixture frames: index member, named, primary live link, priced.
        A permno the plan's universe lacks shows up as a short grid."""
        ts = pd.Timestamp(d)
        sp = fx["dsp500list"]
        members = set(sp[(pd.to_datetime(sp["start"]) <= ts) & (pd.to_datetime(sp["ending"]) >= ts)].permno)
        dsf = fx["dsf"]
        members &= set(dsf[pd.to_datetime(dsf["date"]) == ts].permno)
        ln = fx["ccmxpf_linktable"]
        end = pd.to_datetime(ln["linkenddt"]).fillna(pd.Timestamp(self.as_of))
        members &= set(ln[
            ln["linktype"].str.startswith("L") & ln["linkprim"].isin(["C", "P"])
            & (pd.to_datetime(ln["linkdt"]) <= ts) & (end >= ts)].permno)
        nm = fx["msenames"]
        nm = nm[(pd.to_datetime(nm["namedt"]) <= ts) & (pd.to_datetime(nm["nameendt"]) >= ts)]
        return nm[nm.permno.isin(members)].groupby("permno")["ticker"].min().to_dict()

    def _fixture(self, name: str):
        return self.ctx.spark.read.parquet(os.path.join(self.fx_dir, f"{name}.parquet"))

    # -- one pass -----------------------------------------------------
    def run_pass(self, pass_no: int) -> list[dict]:
        from wrds_data_pipeline_spark.plans.corr_export import (
            export_corr_csvs_distributed,
            write_corr_long,
        )
        from wrds_data_pipeline_spark.plans.corrmatrix import intraday_corr
        from wrds_data_pipeline_spark.plans.taq import day_universe_symbols, resampled_prices
        from wrds_data_pipeline_spark.plans.universe import build_universe
        from wrds_data_pipeline_spark.sinks import write_partitioned

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        out = {k: os.path.join(self.out, k) for k in ("universe", "panel", "corr", "csv")}
        op = {"name": "pass", "error": None, "digest": None, "problems": []}
        obs = {}
        with tr.span("pass", "op") as ps:
            try:
                with tr.span("taq.universe", "stage"):
                    with tr.span("build_universe", "plans.build"):
                        uni = build_universe(
                            *[self._fixture(t) for t in FIXTURE_TABLES], as_of=self.as_of)
                    uni, obs["universe"] = observed(uni)
                    with tr.span("write_partitioned", "sinks.write"):
                        write_partitioned(uni, out["universe"], ["year"])

                with tr.span("taq.resample", "stage"):
                    with tr.span("resampled_prices", "plans.build"):
                        syms = day_universe_symbols(spark.read.parquet(out["universe"]))
                        panel = resampled_prices(
                            spark.read.parquet(self.nbbo_dir),
                            syms.filter(F.col("date").isin(self.days)),
                            freq_seconds=1,
                        )
                    if ctx.perturb and (pass_no > 0 or ctx.perturb_all):
                        panel = panel.union(panel.limit(1))
                    panel, obs["panel"] = observed(panel)
                    with tr.span("write_partitioned", "sinks.write"):
                        write_partitioned(panel, out["panel"], ["date"])

                with tr.span("taq.corr", "stage"):
                    with tr.span("intraday_corr", "plans.build"):
                        corr = intraday_corr(spark.read.parquet(out["panel"]), WINDOW_S)
                    corr, obs["corr"] = observed(corr)
                    with tr.span("write_corr_long", "sinks.write"):
                        write_corr_long(corr, out["corr"])

                with tr.span("taq.export", "stage"):
                    with tr.span("export_corr_csvs_distributed", "plans.build"):
                        manifest = export_corr_csvs_distributed(
                            spark.read.parquet(out["corr"]), out["csv"], "win_start",
                            window_seconds=WINDOW_S,
                        )
                    with tr.span("collect", "operators.exec"):
                        written = manifest.collect()
            except Exception as exc:  # noqa: BLE001 - counted as a failed op
                op["error"] = f"{type(exc).__name__}: {exc}"[:300]
        op["wall"] = ps["end"] - ps["start"]
        op["observations"], op["written"], op["out"] = obs, locals().get("written"), out
        return [op]

    def check(self, ops: list[dict]) -> None:
        """Digests and invariants of a finished pass (outside its span)."""
        op = ops[0]
        if op["error"] is not None:
            return
        digests = {k: digest_of(o) for k, o in op.pop("observations").items()}
        op["digest"] = digests
        op["rows"] = sum(d[0] for d in digests.values()) + len(op["written"])
        op["problems"] = self._check(digests, op.pop("written"), op.pop("out"))

    def _check(self, digests: dict, written: list, out: dict) -> list[str]:
        """The pass's output invariants; returns what is wrong."""
        from tools.check_oracle import value_hash

        k, n_days = len(self.permnos), len(self.days)
        problems = []
        if digests["panel"][0] != self.grid_rows:
            problems.append(f"grid rows {digests['panel'][0]} != {self.grid_rows}")
        pdf = self.ctx.spark.read.parquet(out["corr"]).toPandas()
        want = n_days * WINDOWS_PER_DAY * k * k
        if len(pdf) != want:
            problems.append(f"corr rows {len(pdf)} != {want}")
        if (pdf["corr_val"].abs() > 1 + TOL).any():
            problems.append("corr outside [-1, 1]")
        diag = pdf[pdf["k1"] == pdf["k2"]]["corr_val"]
        if ((diag - 1).abs() > TOL).any():
            problems.append("corr diagonal != 1")
        keyed = pdf.set_index(["win_start", "k1", "k2"])["corr_val"]
        mirrored = pdf.set_index(["win_start", "k2", "k1"])["corr_val"]
        mirrored.index.names = keyed.index.names
        gap = (keyed - mirrored.reindex(keyed.index)).abs()
        if keyed.index.has_duplicates or gap.isna().any() or (gap > TOL).any():
            problems.append("corr not symmetric")
        if len(written) != n_days * WINDOWS_PER_DAY or any(r.n_keys != k for r in written):
            problems.append(f"csv manifest {len(written)} windows")
        csvs = [n for n in os.listdir(out["csv"]) if n.endswith(".csv")]
        if len(csvs) != n_days * WINDOWS_PER_DAY:
            problems.append(f"{len(csvs)} csv files")
        digests["corr_value_hash"] = [len(pdf), value_hash(pdf)]
        return problems

    def verify(self, passes: list[list[dict]]) -> None:
        """Nothing beyond ``check``: the invariants hold for any seed."""

    def sink_roots(self) -> list[str]:
        return [self.out]
