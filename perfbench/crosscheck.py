"""Cross-check the recorded query_mix digests against the DuckDB oracles.

    python3 perfbench/crosscheck.py [--scale default] [seed ...]

For each seed (default: every seed recorded in digests.json), generate
the seed's tables, and for each query_mix query check that

- the Spark result (collected) has the row count, columns and
  ``tools/check_oracle.value_hash`` of the query's DuckDB ``ORACLES`` SQL
  over the same tables, and
- the observed digest of the same Spark plan equals the one recorded in
  digests.json for that seed.

Exits non-zero on any mismatch.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    import duckdb

    import digest
    import query_mix
    import tables
    from tools.check_oracle import value_hash
    from wrds_data_pipeline_spark.driver_queries import ORACLES, QUERIES
    from wrds_data_pipeline_spark.session import get_spark

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--scale", choices=sorted(query_mix.SCALES), default="default")
    p.add_argument("seeds", nargs="*", type=int)
    args = p.parse_args(argv)
    recorded = digest.load().get("query_mix", {}).get(args.scale, {})
    seeds = args.seeds or sorted(int(s) for s in recorded)
    work = os.path.join(ROOT, ".perfbench_work", f"crosscheck-{os.getpid()}")
    spark = get_spark(app_name="perfbench-crosscheck", extra_conf={
        "spark.ui.showConsoleProgress": "false"})
    bad = 0
    try:
        for seed in seeds:
            sf_dir = os.path.join(work, f"seed{seed}")
            tables.generate(sf_dir, seed, query_mix.SCALES[args.scale])
            con = duckdb.connect()
            for t in tables.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
            for q in query_mix.headline():
                df = QUERIES[q](spark, sf_dir)
                got = df.toPandas()
                want = con.execute(ORACLES[q]).df()
                problems = []
                if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
                    problems.append(f"shape {len(got)}x{sorted(got.columns)} != "
                                    f"{len(want)}x{sorted(want.columns)}")
                elif value_hash(got) != value_hash(want):
                    problems.append("value_hash differs from the oracle")
                obs_df, obs = digest.observed(QUERIES[q](spark, sf_dir))
                obs_df.write.format("noop").mode("overwrite").save()
                rec = recorded.get(str(seed), {}).get(q)
                if rec is not None and rec != digest.digest_of(obs):
                    problems.append(f"digest {digest.digest_of(obs)} != recorded {rec}")
                bad += bool(problems)
                print(f"{'FAIL' if problems else 'ok  '} seed {seed} {q}: rows={len(got)} "
                      + "; ".join(problems))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
