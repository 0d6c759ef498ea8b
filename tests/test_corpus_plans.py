"""Physical-plan audits for the round-3 corpus operators: the scale
properties the docstrings claim must be visible in the executed plan."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from wrds_data_pipeline_spark.operators.contamination import (
    contamination_scores,
)
from wrds_data_pipeline_spark.operators.packing import pack_sequences


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_contamination_benchmark_side_is_broadcast(spark, driver_tables):
    docs = driver_tables["documents"]
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = _plan(contamination_scores(docs, bench))
    # the benchmark n-gram set must arrive via broadcast: the corpus
    # side of the probe join is never hash-shuffled
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_packing_has_no_global_window(spark, identity_waist):
    docs = spark.createDataFrame(
        [(i, 100 + i % 50) for i in range(500)], ["doc_id", "n_tok"]
    )
    packed = pack_sequences(docs, 2048, token_col="n_tok", chunk_bins=8)
    plan = _plan(packed)
    # every Window over data rows is partitioned by _pid; the only
    # allowed unpartitioned window is the per-partition-offsets one,
    # which runs over exactly one row per partition
    windows = re.findall(r"Window \[[^\]]*\](?:, \[[^\]]*\])*", plan)
    assert windows, plan[:800]
    unpartitioned = [
        w for w in re.findall(r"Window .*", plan) if "_pid" not in w
    ]
    # offsets window: operates on the groupBy(_pid) aggregate output —
    # identified by _ptot in its required child ordering/projection
    for w in unpartitioned:
        assert "_ptot" in w or "_off" in w, w


def test_packing_prefix_sum_range_partitions(spark, identity_waist):
    docs = spark.createDataFrame(
        [(i, 100) for i in range(500)], ["doc_id", "n_tok"]
    )
    packed = pack_sequences(docs, 2048, token_col="n_tok", chunk_bins=8)
    plan = _plan(packed)
    assert "rangepartitioning" in plan.lower()


def test_curate_never_hints_a_corpus_sized_broadcast(spark, driver_tables):
    """The curation pipeline must not FORCE any broadcast: a
    broadcast hint overrides Spark's size heuristics, and the one
    curate used to carry (the exact-dedup canonical relation — one
    row per distinct fingerprint, i.e. corpus-sized) is a guaranteed
    OOM at 100 TB.  Exact dedup is now a window min over the
    fingerprint partition; any broadcast that remains must be
    AQE/heuristic-chosen (fine: AQE won't pick a corpus-sized one at
    scale), so the optimized logical plan carries no broadcast hint
    at all."""
    from wrds_data_pipeline_spark.plans.corpus import curate

    docs = driver_tables["documents"]
    kept, audit = curate(docs)
    for df in (kept, audit):
        optimized = (
            df._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "strategy=broadcast" not in optimized, optimized[:2000]
    # and the exact-dedup stage is the window form: canonical_id comes
    # from a partitioned Window over fingerprint, not a join
    plan = _plan(audit)
    assert "fingerprint" in plan


def test_cross_entropy_joins_are_broadcast(spark, driver_tables):
    from wrds_data_pipeline_spark.operators.keywords import (
        build_vocab,
        doc_cross_entropy,
    )

    docs = driver_tables["documents"]
    out = doc_cross_entropy(docs, build_vocab(docs, size=1000))
    plan = _plan(out)
    # the vocab→logp join and both 1-row totals joins must broadcast:
    # the exploded corpus token stream is never shuffled for a join
    # (its only Exchange is the per-document hash aggregate)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert out.count() > 0
