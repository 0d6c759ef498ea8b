"""Persist-lifecycle audit: the dedup/curation operators must not
leak executor cache in a long-lived session (VERDICT r4 #3).

Two contracts:

- caller-owned PersistScope: intermediates are registered on the
  scope and ALL of them are gone from getPersistentRDDs after
  release().
- default (no scope): the operator returns with every intermediate
  cache already freed; the only pinned storage it may add is the
  localCheckpoint of its own (pairs-sized) result, which the
  ContextCleaner frees when the caller drops the DataFrame.

Plus the lineage-waist contract: ``caching.waist`` is the package's
only truncation call, and its local and reliable forms agree.
"""

from __future__ import annotations

import ast
import os

from pyspark.sql import functions as F

from wrds_data_pipeline_spark.caching import PersistScope, waist


def _persistent_ids(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def test_scope_releases_all_caches(spark, driver_tables):
    from wrds_data_pipeline_spark.operators.dedup import near_dup_pairs

    docs = driver_tables["documents"]
    before = _persistent_ids(spark)
    with PersistScope() as scope:
        pairs = near_dup_pairs(docs, threshold=0.2, scope=scope)
        n = pairs.count()
        assert n >= 0
        # the shingle + band caches are live while the scope is open
        assert scope.tracked >= 2
        assert _persistent_ids(spark) - before
    assert _persistent_ids(spark) - before == set()


def test_default_mode_frees_intermediates(spark, driver_tables):
    from wrds_data_pipeline_spark.operators.dedup import near_dup_pairs

    docs = driver_tables["documents"]
    with PersistScope() as scope:
        expected = sorted(
            map(tuple, near_dup_pairs(docs, threshold=0.2, scope=scope).collect())
        )
    before = _persistent_ids(spark)
    out = near_dup_pairs(docs, threshold=0.2)
    added = _persistent_ids(spark) - before
    # every intermediate cache (shingles, bands) is already gone; at
    # most the result's own localCheckpoint remains, freed by the
    # ContextCleaner with the DataFrame
    assert len(added) <= 1, added
    assert sorted(map(tuple, out.collect())) == expected


def test_lsh_candidates_scope_and_default_agree(spark, driver_tables):
    from wrds_data_pipeline_spark.operators.dedup import minhash_lsh_candidates

    docs = driver_tables["documents"]
    before = _persistent_ids(spark)
    with PersistScope() as scope:
        lazy = sorted(
            map(tuple, minhash_lsh_candidates(docs, scope=scope).collect())
        )
    assert _persistent_ids(spark) - before == set()
    eager = minhash_lsh_candidates(docs)
    assert sorted(map(tuple, eager.collect())) == lazy
    assert len(_persistent_ids(spark) - before) <= 1


def test_curate_scope_lifecycle(spark, driver_tables):
    from wrds_data_pipeline_spark.plans.corpus import curate, curation_report

    docs = driver_tables["documents"]
    before = _persistent_ids(spark)
    with PersistScope() as scope:
        _, audit = curate(docs, scope=scope)
        report = {
            r["fate"]: r["n_docs"] for r in curation_report(audit).collect()
        }
        assert sum(report.values()) == docs.count()
    assert _persistent_ids(spark) - before == set()
    # default mode: intermediates freed at return, audit still lazy
    _, audit2 = curate(docs)
    added = _persistent_ids(spark) - before
    assert len(added) <= 1, added
    report2 = {
        r["fate"]: r["n_docs"] for r in curation_report(audit2).collect()
    }
    assert report2 == report


def test_concurrent_scopes_are_independent(spark, driver_tables):
    """Two operators sharing one session, each on its own scope — the
    realistic service session (VERDICT r5 #7): releasing one scope
    while the other's plan is still UNREAD must not disturb the
    other's results, and releasing both returns the cache to
    baseline."""
    from wrds_data_pipeline_spark.operators.dedup import near_dup_pairs
    from wrds_data_pipeline_spark.plans.corpus import curate, curation_report

    docs = driver_tables["documents"]
    # expected values, each computed in an isolated scope
    with PersistScope() as s:
        expected_pairs = sorted(
            map(tuple, near_dup_pairs(docs, threshold=0.2, scope=s).collect())
        )
    with PersistScope() as s:
        _, audit = curate(docs, scope=s)
        expected_report = {
            r["fate"]: r["n_docs"] for r in curation_report(audit).collect()
        }

    before = _persistent_ids(spark)
    scope_a, scope_b = PersistScope(), PersistScope()
    pairs_a = near_dup_pairs(docs, threshold=0.2, scope=scope_a)
    _, audit_b = curate(docs, scope=scope_b)  # b's plan not yet read
    assert sorted(map(tuple, pairs_a.collect())) == expected_pairs
    scope_a.release()  # a released while b's plan is still unread
    report_b = {
        r["fate"]: r["n_docs"] for r in curation_report(audit_b).collect()
    }
    assert report_b == expected_report
    scope_b.release()
    assert _persistent_ids(spark) - before == set()


def test_release_sweeps_past_failures(spark):
    """A failing unpersist must not strand later tracked DataFrames in
    cache: release() attempts every one, then re-raises the first
    live-session failure (ADVICE r5)."""
    import pytest

    dfs = [spark.range(10 + i) for i in range(3)]
    scope = PersistScope()
    for df in dfs:
        scope.persist(df)
        df.count()
    boom = dfs[1]
    orig_unpersist = boom.unpersist

    def bad(blocking=True):
        raise RuntimeError("boom")

    boom.unpersist = bad
    try:
        with pytest.raises(RuntimeError, match="boom"):
            scope.release()
        # the DataFrames after the failing one were still unpersisted
        assert dfs[0].storageLevel.useMemory is False
        assert dfs[2].storageLevel.useMemory is False
        # idempotent: the failed release cleared its tracking list
        assert scope.tracked == 0
    finally:
        boom.unpersist = orig_unpersist
        orig_unpersist(blocking=True)


def test_persist_skips_cached_plans(spark):
    """A plan that is already cached is not tracked again, by the same
    scope or another one; its first owner's release frees it."""
    df = spark.range(37).select((F.col("id") * 3).alias("x"))
    with PersistScope() as owner:
        owner.persist(df)
        owner.persist(df)
        other = PersistScope()
        other.persist(spark.range(37).select((F.col("id") * 3).alias("x")))
        assert (owner.tracked, other.tracked) == (1, 0)
    assert df.storageLevel.useMemory is False


def test_driver_scope_does_not_regrow(spark, sf_dir, monkeypatch):
    """A repeated headline query finds its plans cached and leaves the
    never-released driver scope at the size its first call left."""
    from wrds_data_pipeline_spark import driver_queries as dq

    scope = PersistScope()
    monkeypatch.setattr(dq, "_DRIVER_SCOPE", scope)
    try:
        dq.q27_minhash_lsh(spark, sf_dir)
        tracked = scope.tracked
        assert tracked >= 1
        dq.q27_minhash_lsh(spark, sf_dir)
        assert scope.tracked == tracked
    finally:
        scope.release()


def test_jaccard_exact_path_default_frees(spark):
    from wrds_data_pipeline_spark.operators.dedup import jaccard_pairs

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
            (2, "completely unrelated text about spark plans"),
        ],
        ["doc_id", "text"],
    )
    before = _persistent_ids(spark)
    out = jaccard_pairs(docs, threshold=0.3)
    added = _persistent_ids(spark) - before
    assert len(added) <= 1, added
    rows = out.collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(0, 1)}


def _waist_input(spark):
    return (
        spark.range(300)
        .select((F.col("id") % 13).alias("k"), "id")
        .groupBy("k")
        .agg(
            F.sum("id").alias("s"),
            F.sort_array(F.collect_list("id")).alias("ids"),
        )
    )


def _rdd_dirs(root) -> list[str]:
    return [
        d for _, dirs, _ in os.walk(root) for d in dirs
        if d.startswith("rdd-")
    ]


def test_waist_local_and_reliable_rows_agree(spark, tmp_path, request):
    """Bit-equal rows with and without a checkpoint dir; reliable
    checkpoint files appear only when the session has a dir, and an
    unscoped reliable waist leaves no persist behind."""
    df = _waist_input(spark)
    want = sorted(map(tuple, df.collect()))
    local = [waist(df), waist(df, eager=True)]
    assert [sorted(map(tuple, w.collect())) for w in local] == [want] * 2
    assert _rdd_dirs(tmp_path) == []

    ckpt = request.getfixturevalue("reliable_checkpoint_dir")
    before = _persistent_ids(spark)
    reliable = [waist(df), waist(df, eager=True)]
    assert _persistent_ids(spark) - before == set()
    assert [sorted(map(tuple, w.collect())) for w in reliable] == [want] * 2
    assert len(_rdd_dirs(ckpt)) == 2
    with PersistScope() as scope:
        scoped = waist(df, scope)
        assert sorted(map(tuple, scoped.collect())) == want
    assert len(_rdd_dirs(ckpt)) == 3
    assert _persistent_ids(spark) - before == set()


def test_waist_scope_tracks_one_relation(spark):
    df = _waist_input(spark)
    before = _persistent_ids(spark)
    with PersistScope() as scope:
        out = waist(df, scope)
        assert scope.tracked == 1
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, df.collect())
        )
    # only the truncated result's own local blocks outlive the scope
    assert len(_persistent_ids(spark) - before) <= 1


def test_waist_is_the_only_truncation_call():
    """No ``localCheckpoint``/``checkpoint`` call and no zero-argument
    ``.persist()`` in the package outside caching.py: every lineage cut
    goes through ``caching.waist`` and every persist through a
    ``PersistScope``, so the policy lives in one place."""
    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "wrds_data_pipeline_spark",
    )
    found = []
    for root, _, files in os.walk(pkg):
        for name in files:
            path = os.path.join(root, name)
            if not name.endswith(".py") or name == "caching.py":
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                ):
                    continue
                attr = node.func.attr
                bare_persist = attr == "persist" and not (
                    node.args or node.keywords
                )
                if attr in ("localCheckpoint", "checkpoint") or bare_persist:
                    rel = os.path.relpath(path, pkg)
                    found.append(f"{rel}:{node.lineno} .{attr}()")
    assert found == [], found
