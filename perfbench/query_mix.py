"""``query_mix``: bench.py headline registry queries over seeded tables.

One operation is one query: build its plan (the registered callable
until it returns a DataFrame), then execute it through the ``noop``
writer, which computes every output column without writing anything.
The first pass runs in ``HEADLINE`` order in the fresh session (cold);
warm passes run in a seed-permuted order.
"""

from __future__ import annotations

import os
import random

import tables
from digest import digest_of, observed

SCALES = {"default": 0.01, "toy": 0.001}
# Headline queries whose cost is driver-side plan building, eager
# plan-build jobs and the driver-scope caches: curation, dup groups,
# packing (a persist-under-scope cache win), the incremental band-index
# probe (the one store it writes) and the gated near-dup path.  All 31
# headline queries take ~97 s a run on a 4-vCPU VM, more than the run
# budget allows; see README.md.
FOCUS = (
    "q43_curation_report", "q52_dup_groups", "q53_pack_sequences",
    "q60_incremental_lsh", "q66_gated_near_dup",
)


def headline() -> list[str]:
    """``FOCUS`` in ``bench.HEADLINE`` order; fails if one left the headline."""
    from bench import HEADLINE

    missing = set(FOCUS) - set(HEADLINE)
    if missing:
        raise RuntimeError(f"not in bench.HEADLINE: {sorted(missing)}")
    return [q for q in HEADLINE if q in FOCUS]


class QueryMix:
    name = "query_mix"
    # op_p50_s is the median of the warm passes' query latencies: over the
    # five queries of a single pass it spread by 0.26 across ten seeds.
    min_warm_passes = 2

    def __init__(self, ctx):
        from wrds_data_pipeline_spark.driver_queries import QUERIES

        self.ctx = ctx
        self.queries = QUERIES
        self.names = headline()
        self.sf_dir = self.table_paths = None

    def stage(self, rep: int) -> str:
        self.sf_dir = os.path.join(self.ctx.input_dir, f"rep{rep}")
        self.table_paths = tables.generate(self.sf_dir, self.ctx.seed, SCALES[self.ctx.scale])
        return self.sf_dir

    def order(self, pass_no: int) -> list[str]:
        if pass_no == 0:
            return list(self.names)
        return random.Random(self.ctx.seed * 1009 + pass_no).sample(self.names, len(self.names))

    def run_pass(self, pass_no: int) -> list[dict]:
        ctx, tr = self.ctx, self.ctx.tracer
        ops = []
        for q in self.order(pass_no):
            op = {"name": q, "error": None, "digest": None}
            with tr.span(q, "op") as qs:
                try:
                    with tr.span(f"{q}.build", "plans.build"):
                        df = self.queries[q](ctx.spark, self.sf_dir)
                    if ctx.perturb == q and (pass_no > 0 or ctx.perturb_all):
                        df = df.union(df.limit(1))
                    df, obs = observed(df)
                    with tr.span(f"{q}.exec", "operators.exec"):
                        df.write.format("noop").mode("overwrite").save()
                    op["digest"] = digest_of(obs)
                except Exception as exc:  # noqa: BLE001 - counted as a failed op
                    op["error"] = f"{type(exc).__name__}: {exc}"[:300]
            op["wall"] = qs["end"] - qs["start"]
            op["rows"] = op["digest"][0] if op["digest"] else 0
            ops.append(op)
        return ops

    def check(self, ops: list[dict]) -> None:
        """Each op's digest is compared with the reference by the runner."""

    def verify(self, passes: list[list[dict]]) -> None:
        """For a seed with no recorded digests: run each query once more,
        after the timed passes, collect it and compare it with its DuckDB
        ``ORACLES`` SQL over the same tables (row count, columns,
        ``tools/check_oracle.value_hash``), and its digest with the cold
        pass's.  A mismatch marks every operation of that query failed."""
        import duckdb
        from tools.check_oracle import value_hash
        from wrds_data_pipeline_spark.driver_queries import ORACLES

        ctx = self.ctx
        cold = {op["name"]: op["digest"] for op in passes[0]}
        con = duckdb.connect()
        for t, path in self.table_paths.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q in self.names:
            try:
                df = self.queries[q](ctx.spark, self.sf_dir)
                if ctx.perturb == q and ctx.perturb_all:
                    df = df.union(df.limit(1))
                df, obs = observed(df)
                got = df.toPandas()
                want = con.execute(ORACLES[q]).df()
                if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                    why = f"oracle shape {len(want)}x{sorted(want.columns)}"
                elif value_hash(got) != value_hash(want):
                    why = "value_hash differs from the oracle"
                elif digest_of(obs) != cold[q]:
                    why = f"oracle-checked digest {digest_of(obs)} != cold {cold[q]}"
                else:
                    continue
            except Exception as exc:  # noqa: BLE001 - counted as failed ops
                why = f"oracle check: {type(exc).__name__}: {exc}"[:300]
            for ops in passes:
                for op in ops:
                    if op["name"] == q:
                        op["problems"] = [why]
        con.close()

    def sink_roots(self) -> list[str]:
        return []
