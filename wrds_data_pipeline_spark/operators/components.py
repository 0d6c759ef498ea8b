"""Distributed connected components for duplicate-group resolution.

MinHash/LSH/Jaccard dedup (operators/dedup.py) emits *pairs*; an
actually-deduplicated corpus needs the transitive closure of those
pairs — duplicate *groups* — so exactly one canonical document per
group survives.  (A pair-only filter keeps B when A~B and B~C but
A,C were never compared.)

Algorithm: alternating large-star / small-star (Kiveris, Lattanzi,
Mirrokni, Rastogi, Vassilvitskii — "Connected Components in MapReduce
and Beyond", SoCC 2014, public).  Each round is two hash-aggregations
and two joins on the edge relation; converges in O(log^2 n) rounds
(2–4 in practice for near-dup graphs, whose components are tiny and
dense), versus O(diameter) for naive min-label propagation — the
difference matters at 100 TB where one adversarial chain of
near-identical crawl pages can have diameter in the thousands.

Scale notes:
- The edge relation is snapshotted every round: without it the
  lineage doubles per iteration and Spark replays the whole prefix
  on every action.  The snapshot is a ``caching.waist``, so a session
  with a checkpoint dir gets reliable `checkpoint()` on a shared
  filesystem, which survives executor loss — the right setting on a
  real cluster.
- Convergence is detected by testing the fixed-point property
  DIRECTLY (paper Thm 3: fixed point = disjoint star set): one
  node-keyed aggregation per round, fused into the snapshot's
  materializing action.  Exact (no hash-collision risk), and it
  stops one round earlier than the r13 signature-equality check,
  which had to run an identity round to observe "nothing changed" —
  a whole edge-relation round (~6 shuffles + a checkpoint) saved
  per call.
- No driver-side state beyond a 2-value scalar per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from wrds_data_pipeline_spark import caching
from wrds_data_pipeline_spark.operators.store_lock import locked_store_verb


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected form: (u=hi, v=lo), self-loops dropped,
    distinct.  Keeps the edge relation minimal between rounds."""
    return (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(id, group_id) for every node appearing in ``pairs``, where
    group_id is the minimum id of the node's connected component.

    ``pairs`` is an undirected edge list (e.g. the output of
    minhash_lsh_candidates or jaccard_pairs).  Ids must be integral
    (cast to bigint internally).
    """

    def _snapshot_star(df: DataFrame) -> tuple[DataFrame, bool]:
        out = caching.waist(df)
        return out, _is_star(out)

    def _is_star(df: DataFrame) -> bool:
        # ONE action both materializes the round's (lazily
        # checkpointed) edge snapshot and tests the EXACT fixed-point
        # property (paper Thm 3: fixed point = disjoint star set).  In
        # canon form a star set means every u-side node appears exactly
        # once AND no node sits on both sides — checkable by one
        # groupBy(node) over the 2|E| skinny side rows.  This replaces
        # the r13 signature-equality detection, which could only see a
        # fixed point one ROUND LATE (run round R+1, observe nothing
        # changed): the star test stops at round R, saving an entire
        # edge-relation round (~6 shuffles + a checkpoint) per call for
        # the price of one node-keyed aggregation per round — and it is
        # exact, where the hash signature carried a 2^-64 collision
        # risk (guide §1.2 "remove unnecessary passes", §2.4).
        # ONE read of the snapshot (an in-partition explode, not a
        # self-union: two union branches would each materialize the
        # freshly checkpointed RDD inside the same action)
        sides = df.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("u").alias("_node"),
                        F.lit(1).alias("_m"),
                        F.lit(0).alias("_r"),
                    ),
                    F.struct(
                        F.col("v").alias("_node"),
                        F.lit(0).alias("_m"),
                        F.lit(1).alias("_r"),
                    ),
                )
            ).alias("_s")
        ).select("_s.*")
        row = (
            sides.groupBy("_node")
            .agg(F.sum("_m").alias("_nm"), F.sum("_r").alias("_nr"))
            .agg(
                F.max("_nm").alias("_max_m"),
                F.max(
                    ((F.col("_nm") > 0) & (F.col("_nr") > 0)).cast("int")
                ).alias("_both"),
            )
            .first()
        )
        # empty edge set: trivially a (zero-star) fixed point
        return row["_max_m"] is None or (
            row["_max_m"] <= 1 and row["_both"] == 0
        )

    e, converged = _snapshot_star(
        _canon(
            pairs.select(
                F.col(id_a).cast("bigint").alias("u"),
                F.col(id_b).cast("bigint").alias("v"),
            )
        )
    )
    # an input that is already a disjoint star set IS the fixed point
    # (canon keeps u > v, so each star's root is its component min):
    # zero rounds run — the r13 signature seeding needed one identity
    # round to observe this
    for _ in range(max_iters):
        if converged:
            break
        # large-star: every neighbor v > u links to m(u) = min(N(u) ∪ {u})
        bid = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = bid.groupBy("u").agg(F.min("v").alias("mv"))
        m = m.select("u", F.least("mv", F.col("u")).alias("m"))
        ls = (
            bid.filter(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ls = _canon(ls)
        # small-star: edges are (hi, lo) after _canon, so N_small(u) is
        # exactly u's out-neighborhood; link each small neighbor AND u
        # itself to min(N_small(u)).
        m2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
        )
        e, converged = _snapshot_star(_canon(ss))
    if not converged:
        # the star extraction below is only valid at the fixed point;
        # returning early would be silently wrong, not approximate
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "rounds (O(log^2 n) expected — raise max_iters)"
        )

    # Fixed point = disjoint stars (paper, Thm 3): every edge is
    # (member, root) with root = component min.  Roots appear only on
    # the v side; map them to themselves.
    members = e.select(F.col("u").alias("id"), F.col("v").alias("group_id"))
    roots = (
        e.select(F.col("v").alias("id"))
        .distinct()
        .join(members.select("id"), "id", "left_anti")
        .select("id", F.col("id").alias("group_id"))
    )
    return members.unionByName(roots)


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Deduplicated corpus: resolve ``pairs`` into groups and keep
    exactly the minimum-id document of each group (plus every document
    that appears in no pair).

    One anti-join against the non-canonical member set.  The member
    set is proportional to the number of *duplicates*, typically a few
    percent of the corpus — AQE will broadcast it when it fits, and
    the join degrades gracefully to a shuffled hash join when it
    doesn't."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    losers = cc.filter(F.col("id") != F.col("group_id")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Deduplicated corpus keeping the BEST-``score_col`` member of
    each duplicate group (ties and null scores break to the minimum
    id) — the production variant of ``dedup_keep_canonical``: when a
    quality signal exists (heuristic score, model probability), the
    canonical copy should be the best one, not the lowest-numbered.

    Shape: the component relation is duplicate-sized, not corpus-
    sized; fetching its members' scores is one inner join the AQE
    broadcast path handles, the per-group argmax is a min-struct
    aggregate (skew-safe: partial combine map-side), and the corpus
    is touched only by the final anti-join — the keep-canonical
    plan plus one duplicate-mass join."""
    cc = connected_components(pairs, id_a=id_a, id_b=id_b)
    members = cc.join(
        docs.select(
            F.col(id_col).alias("id"),
            F.coalesce(
                F.col(score_col).cast("double"), F.lit(float("-inf"))
            ).alias("_s"),
        ),
        "id",
    )
    winners = (
        members.groupBy("group_id")
        .agg(
            F.min(
                F.struct((-F.col("_s")).alias("a"), F.col("id").alias("b"))
            ).alias("_w")
        )
        .select("group_id", F.col("_w.b").alias("_keep"))
    )
    losers = (
        members.join(winners, "group_id")
        .filter(F.col("id") != F.col("_keep"))
        .select(F.col("id").alias(id_col))
    )
    return docs.join(losers, id_col, "left_anti")


def update_duplicate_groups(
    assignments: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> tuple[DataFrame, DataFrame]:
    """INCREMENTAL duplicate-group maintenance — the "resolve" step of
    the continuous-ingest loop (probe → verify → gate → RESOLVE →
    append) without recomputing components over the accumulated pair
    history.

    ``assignments``: the stored (id, group_id) table — exactly
    ``connected_components``' output shape over every pair ingested so
    far (group_id = component-minimum id; ids absent from any pair
    carry no row).  ``new_pairs``: the increment's verified pairs.

    Returns ``(updated, affected_groups)``:

    - ``updated``: (id, group_id) rows for every id whose assignment
      is NEW OR CHANGED — the increment's own ids plus every member of
      a stored group the increment touches (a new pair can MERGE two
      stored groups, which relabels all their members to the smaller
      minimum).  Union with the untouched stored rows —
      ``assignments.join(affected_groups, "group_id", "left_anti")``
      — to get the full post-increment table; the partitioned-store
      form of that union is what ``cli.index_main ingest
      --groups-store`` performs (only affected shard partitions are
      rewritten).
    - ``affected_groups``: the (group_id,) rows of stored groups the
      increment touched — the anti-join key above, and the shard-
      pruning handle for a partitioned store.

    Correctness: stored connectivity within a group is exactly its
    (member, group_id) star — group_id IS a member (the minimum) — so
    running components over ``new_pairs ∪ touched-group stars``
    reproduces what components-over-all-history would assign to every
    node reachable from the increment, including min-label propagation
    through merged groups; untouched groups cannot change (no new edge
    touches them).  Equivalence with the batch recompute is
    property-tested over randomized increment foldings.

    Scale: the subgraph is O(|new_pairs| + |members of touched
    groups|) — never the accumulated pair history, never the corpus.
    Idempotent under at-least-once replay: re-applying the same
    increment finds the already-merged groups and reproduces the same
    rows."""
    ids_a = new_pairs.select(F.col(id_a).cast("bigint").alias("id"))
    ids_b = new_pairs.select(F.col(id_b).cast("bigint").alias("id"))
    touched_ids = ids_a.unionByName(ids_b).distinct()
    affected_groups = (
        assignments.join(touched_ids, "id", "left_semi")
        .select("group_id")
        .distinct()
    )
    member_stars = assignments.join(
        affected_groups, "group_id", "left_semi"
    ).select(F.col("id").alias(id_a), F.col("group_id").alias(id_b))
    updated = _components_over_increment(
        new_pairs, member_stars, id_a, id_b, max_iters
    )
    return updated, affected_groups


def _components_over_increment(
    new_pairs: DataFrame,
    member_stars: DataFrame,
    id_a: str,
    id_b: str,
    max_iters: int,
) -> DataFrame:
    """THE incremental-fold core — components over ``new_pairs ∪
    touched-group stars`` — shared by ``update_duplicate_groups``
    (in-memory assignments) and ``update_groups_store`` (sidecar-
    pruned store reads), so the correctness-critical subgraph
    construction exists once (the union-find-oracle property test
    covers both callers through it).

    The union is lineage-truncated before the components loop: on
    Spark 4.1 a raw ``<non-local relation> UNION <empty/propagated
    member stars>`` plan makes a LATER iteration's snapshot die inside
    Catalyst (``localCheckpoint`` → assertOptimized →
    ``NoSuchElementException: key not found: u#N``, reproduced with a
    ``spark.range``-derived pair stream against an empty store — the
    first-ever increment of any programmatically generated corpus).
    A lazy ``caching.waist`` replaces the union with a clean
    LogicalRDD at the loop's entry, which every iteration then builds
    on safely; the relation is increment-sized and the loop was going
    to materialize it in round one anyway."""
    subgraph = (
        new_pairs.select(id_a, id_b)
        .unionByName(member_stars)
        .transform(caching.waist)
    )
    return connected_components(subgraph, id_a, id_b, max_iters=max_iters)


# the inverted sidecar of the groups store: group_id → the member
# id-shards holding its rows, partitioned by gshard = xxhash64(
# group_id) % n_shards.  Underscore-prefixed so spark.read.parquet
# over the store root never sees it as data (the Hadoop hidden-file
# convention the store helpers already rely on).
_GROUP_SHARDS_DIR = "_group_shards"

# churn bookkeeping for the sidecar's dead-label residue: a merge
# that kills a label whose gshard would empty leaves permanently
# unreachable sidecar rows (see update_groups_store), reclaimed only
# by a rebuild/compact.  The counter lives in its OWN underscore
# sidecar file — NOT in _ingest_meta.json, whose exact-equality pin
# must never gain a key (every pre-existing store would refuse).
_GROUPS_CHURN_FILE = "_churn.json"


def groups_store_churn(path: str) -> int:
    """Dead labels created since the sidecar was last rebuilt — the
    advisory signal the ingest CLIs print against (the groups-store
    analogue of the files-per-shard compact advisory)."""
    import json
    import os

    p = os.path.join(path, _GROUPS_CHURN_FILE)
    if not os.path.exists(p):
        return 0
    with open(p) as fh:
        return int(json.load(fh).get("dead_labels", 0))


def _set_groups_churn(path: str, dead_labels: int) -> None:
    import json
    import os

    with open(os.path.join(path, _GROUPS_CHURN_FILE), "w") as fh:
        json.dump({"dead_labels": int(dead_labels)}, fh)


@locked_store_verb('path')
def rebuild_group_shards(spark, path: str, n_shards: int) -> None:
    """(Re)derive the inverted sidecar from a FULL store scan — the
    migration path for pre-sidecar stores, and the repair verb for a
    sidecar whose dead-label residue (benign, see update_groups_store)
    is worth reclaiming.  O(store) by design, like the compactors.
    Resets the churn counter: the rebuilt sidecar is garbage-free."""
    from wrds_data_pipeline_spark.operators.dedup import _doc_store_shard

    (
        spark.read.parquet(path)
        .select("group_id", F.col("shard").cast("int").alias("shard"))
        .distinct()
        .withColumn(
            "gshard", _doc_store_shard(F.col("group_id"), n_shards)
        )
        .repartition(F.col("gshard"))
        .write.mode("overwrite")
        .partitionBy("gshard")
        .parquet(f"{path}/{_GROUP_SHARDS_DIR}")
    )
    _set_groups_churn(path, 0)


def _affected_member_shards(
    spark, path: str, n_shards: int, affected_groups: DataFrame
) -> list[int] | None:
    """The id-shards holding members of ``affected_groups``, looked up
    through the inverted sidecar: prune the sidecar to the affected
    groups' gshards (static partition filter off a bounded collect),
    semi-join, collect the member-shard set (≤ n_shards ints).

    Returns ``None`` when the sidecar cannot answer for EVERY affected
    group — an affected label with zero sidecar rows is the stale
    shape a crash between the sidecar and store writes leaves (see
    update_groups_store's ordering note) — and the caller falls back
    to the unpruned member scan; the write that follows repairs the
    sidecar, so staleness never compounds.  Fail-safe direction
    matters: a STALE-SUPERSET sidecar (rows for members not yet
    relabeled) only over-reads, and a missing group is detected here —
    the sidecar can cost extra reads but never lose a member star."""
    import os

    from wrds_data_pipeline_spark.operators.dedup import (
        _doc_store_shard,
        _store_has_rows,
    )

    # pre-sidecar store (created before the inverted sidecar existed):
    # no _group_shards dir to read — same fallback as a stale sidecar,
    # full member scan (update_groups_store migrates by rebuilding
    # first; read-only callers like the audits must not die on the
    # missing dir with a raw AnalysisException)
    sc_dir = os.path.join(path, _GROUP_SHARDS_DIR)
    if not os.path.isdir(sc_dir) or not _store_has_rows(sc_dir):
        return None

    gshards = [
        r["g"]
        for r in affected_groups.select(
            _doc_store_shard(F.col("group_id"), n_shards).alias("g")
        )
        .distinct()
        .collect()
    ]
    sc = (
        spark.read.parquet(f"{path}/{_GROUP_SHARDS_DIR}")
        .filter(F.col("gshard").isin(gshards))
        .join(affected_groups, "group_id", "left_semi")
        # tiny (affected groups × their shards); read by the stale
        # check and the shard collect
        .transform(caching.waist, eager=True)
    )
    stale = affected_groups.join(
        sc.select("group_id").distinct(), "group_id", "left_anti"
    ).first()
    if stale is not None:
        return None
    return [r["shard"] for r in sc.select("shard").distinct().collect()]


@locked_store_verb('path')
def update_groups_store(
    spark,
    path: str,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    n_shards: int = 64,
    max_iters: int = 25,
) -> DataFrame:
    """Persisted form of ``update_duplicate_groups``: maintain an
    on-disk (id, group_id) table across ingest increments, rewriting
    ONLY the partitions the increment touches.

    Layout: parquet partitioned by ``shard = xxhash64(id) %
    n_shards`` — the MEMBER id, deliberately, not the group id: an id
    never changes, so a row never migrates between partitions when
    its group merges (a group_id-sharded layout would have to delete
    rows from shards that dynamic partition overwrite cannot touch
    when they end up empty — a silent-stale-rows corruption class).
    ``_ingest_meta.json`` pins ``n_shards``; a mismatched call
    refuses loudly (the sibling stores' contract).

    Per increment: BOTH store lookups are partition-pruned.  Touched
    ids → their groups reads only the touched ids' id-shards (the ids
    come from the increment, so the shard set is known up front);
    affected groups → their members goes through the INVERTED SIDECAR
    ``path/_group_shards`` (group_id → member id-shard set,
    partitioned by gshard = xxhash64(group_id) % n_shards), so the
    member scan reads only the shards that actually hold affected
    members instead of predicate-scanning every shard — the lookup
    that otherwise grows with the corpus, not the increment.  Then
    components over the bounded subgraph, and dynamic-partition-
    overwrite writes of exactly the affected partitions in BOTH
    relations (preserved rows ∪ updated rows — every affected
    id-shard keeps ≥1 row, so no shard ever empties into staleness;
    a sidecar gshard CAN empty when a merge moves a dead label's rows
    nowhere — those linger as unreachable garbage, since labels are
    non-increasing a dead label never labels again; reclaim with
    ``rebuild_group_shards``).

    Sidecar crash ordering: the sidecar is written BEFORE the store.
    A crash between them leaves sidecar rows the store doesn't justify
    — for a label the store still knows, a SUPERSET of its true member
    shards (over-read, never wrong); for a label the crashed merge
    dropped, NO rows, which the next lookup detects (an affected group
    with zero sidecar rows) and falls back to the unpruned scan,
    self-healing on its own write.  The store-before-sidecar order
    would instead leave a label whose PARTIAL sidecar rows pass the
    detection while missing freshly-absorbed members' shards —
    silently incomplete member stars — which is why the ordering is
    load-bearing.  A pre-sidecar store (no ``_group_shards`` dir) is
    migrated by one full-scan rebuild on first update.
    LOCAL-FILESYSTEM/at-least-once like the sibling stores; re-running
    the same increment is idempotent.

    Ids must be integral (the components contract); a string-id pair
    relation refuses rather than silently casting.  Returns the
    updated (id, group_id) rows (new or relabeled)."""
    from wrds_data_pipeline_spark.operators.dedup import (
        _doc_store_shard,
        _pin_store_meta,
        _store_has_rows,
    )

    dt = dict(new_pairs.dtypes)
    for c in (id_a, id_b):
        if dt[c] not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"update_groups_store: id column {c!r} has type "
                f"{dt[c]!r} — duplicate-group resolution requires "
                "integral ids (map string ids to a surrogate first)"
            )
    if n_shards < 1:
        raise ValueError(
            f"update_groups_store: groups_shards must be >= 1, got "
            f"{n_shards}"
        )
    _pin_store_meta(
        path, {"groups_shards": n_shards}, "update_groups_store"
    )

    def _shard(col):
        return _doc_store_shard(col, n_shards)

    sc_dir = f"{path}/{_GROUP_SHARDS_DIR}"
    has = _store_has_rows(path)
    if not has:
        empty = spark.createDataFrame([], "id bigint, group_id bigint")
        updated, _ = update_duplicate_groups(
            empty, new_pairs, id_a, id_b, max_iters=max_iters
        )
        # small (increment-touched rows); read by the store write,
        # the sidecar write, and the caller
        updated = caching.waist(updated, eager=True)
        # store first on CREATE: a crash before the sidecar lands is
        # exactly the pre-sidecar shape the migration rebuild heals
        updated.withColumn("shard", _shard(F.col("id"))).repartition(
            F.col("shard")
        ).write.mode("append").partitionBy("shard").parquet(path)
        if updated.first() is not None:
            # the store IS `updated` on create — derive the sidecar
            # from it directly (an empty increment writes no data
            # rows, and a scan-rebuild over the rowless dir would die
            # on schema inference)
            updated.select(
                "group_id", _shard(F.col("id")).alias("shard")
            ).distinct().withColumn(
                "gshard", _shard(F.col("group_id"))
            ).repartition(F.col("gshard")).write.mode(
                "overwrite"
            ).partitionBy("gshard").parquet(sc_dir)
        return updated

    # touched ids → their groups: pruned to the touched ids' shards
    # (bounded collect — the ids come from the increment, no store
    # read needed to know them)
    ids_a2 = new_pairs.select(F.col(id_a).cast("bigint").alias("id"))
    ids_b2 = new_pairs.select(F.col(id_b).cast("bigint").alias("id"))
    touched_ids = ids_a2.unionByName(ids_b2).distinct()
    t_shards = [
        r["s"]
        for r in touched_ids.select(_shard(F.col("id")).alias("s"))
        .distinct()
        .collect()
    ]
    affected_groups = (
        spark.read.parquet(path)
        .filter(F.col("shard").isin(t_shards))
        .join(touched_ids, "id", "left_semi")
        .select("group_id")
        .distinct()
        # tiny (touched groups); read by the gshard collect, the
        # sidecar semi-join + stale check, the member semi-join, and
        # the sidecar preserved anti-join
        .transform(caching.waist, eager=True)
    )
    import os

    if not os.path.isdir(sc_dir) or not _store_has_rows(sc_dir):
        # pre-sidecar store: one full-scan migration, then pruned
        # lookups forever after
        rebuild_group_shards(spark, path, n_shards)
    m_shards = _affected_member_shards(spark, path, n_shards, affected_groups)
    members_src = spark.read.parquet(path)
    if m_shards is not None:
        members_src = members_src.filter(F.col("shard").isin(m_shards))
    member_stars = (
        members_src.select("id", "group_id")
        .join(affected_groups, "group_id", "left_semi")
        .select(F.col("id").alias(id_a), F.col("group_id").alias(id_b))
    )
    updated = _components_over_increment(
        new_pairs, member_stars, id_a, id_b, max_iters
    )
    # small (increment-touched rows); read by the shard collect, the
    # preserved anti-join, the content union, both sidecar writes,
    # and the caller
    updated = caching.waist(updated, eager=True)

    # SIDECAR FIRST (the crash ordering in the docstring): fresh rows
    # cover every updated group's full member-shard set (updated holds
    # every member of every touched group), preserved drops all
    # affected old labels in the touched gshards
    fresh_sc = updated.select(
        "group_id", _shard(F.col("id")).alias("shard")
    ).distinct()
    gshards = [
        r["g"]
        for r in affected_groups.select("group_id")
        .unionByName(fresh_sc.select("group_id"))
        .select(_shard(F.col("group_id")).alias("g"))
        .distinct()
        .collect()
    ]
    preserved_sc = (
        spark.read.parquet(sc_dir)
        .filter(F.col("gshard").isin(gshards))
        .select("group_id", "shard")
        .join(affected_groups, "group_id", "left_anti")
        # pinned BEFORE the overwrite of the same path: a lazy read
        # under its own overwrite only works by committer accident
        .transform(caching.waist, eager=True)
    )
    (
        preserved_sc.unionByName(fresh_sc)
        .withColumn("gshard", _shard(F.col("group_id")))
        .repartition(F.col("gshard"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("gshard")
        .parquet(sc_dir)
    )

    shards = [
        r["s"]
        for r in updated.select(_shard(F.col("id")).alias("s"))
        .distinct()
        .collect()
    ]
    preserved = (
        spark.read.parquet(path)
        .filter(F.col("shard").isin(shards))
        .select("id", "group_id")
        .join(updated.select("id"), "id", "left_anti")
        # pinned BEFORE the overwrite, same as preserved_sc above
        .transform(caching.waist, eager=True)
    )
    content = preserved.unionByName(updated).withColumn(
        "shard", _shard(F.col("id"))
    )
    (
        content.repartition(F.col("shard"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(path)
    )
    # churn accounting: an affected label absent from the updated
    # rows is DEAD (its members relabeled to a smaller minimum) — the
    # only producer of sidecar residue.  Both relations are tiny and
    # already checkpointed, so the count is driver-cheap; the CLIs
    # print a rebuild advisory once the total crosses their threshold.
    dead = (
        affected_groups.join(
            updated.select("group_id").distinct(), "group_id", "left_anti"
        ).count()
    )
    if dead:
        _set_groups_churn(path, groups_store_churn(path) + dead)
    return updated


@locked_store_verb('path')
def compact_groups_store(
    spark, path: str, reshard: int | None = None
) -> dict:
    """``dedup.compact_docs_store``'s twin for the groups store.  The
    main relation does NOT accumulate files (dynamic overwrite
    REPLACES partition contents), so the reclaim target here is the
    inverted sidecar's dead-label residue: a merge relabels a group to
    the smaller minimum and drops the old label's rows — except when
    the rewrite would leave its gshard empty, where dynamic overwrite
    cannot touch the partition and the rows linger as permanently
    unreachable garbage (labels are non-increasing, so a dead label
    never labels again — see update_groups_store).  Compaction
    rewrites the main store to one file per shard (full-row dedup —
    idempotent-replay residue only) via the shared write-then-swap,
    then rebuilds the sidecar from the compacted truth, which is
    exactly the garbage-free form.  Returns the compactors' stats
    shape plus the sidecar row delta.

    ``reshard=N``: re-hash rows to ``shard = xxhash64(id) % N``,
    rebuild the sidecar under gshard = xxhash64(group_id) % N, and
    re-pin ``groups_shards`` — all inside the ONE staged copy the
    swap installs atomically (the growth path; see
    compact_band_index's reshard note)."""
    import json
    import os

    from wrds_data_pipeline_spark.operators.dedup import (
        _DOCS_STORE_META,
        _count_parquet_files,
        _doc_store_shard,
        _require_store,
        _store_has_rows,
        _swap_compacted,
    )

    _require_store(path, "groups store")
    meta_path = os.path.join(path, _DOCS_STORE_META)
    with open(meta_path) as fh:
        n_shards = int(json.load(fh)["groups_shards"])
    sc_dir = f"{path}/{_GROUP_SHARDS_DIR}"
    stats = {
        "rows_before": spark.read.parquet(path).count(),
        "files_before": _count_parquet_files(path),
        "sidecar_rows_before": (
            spark.read.parquet(sc_dir).count()
            if os.path.isdir(sc_dir) and _store_has_rows(sc_dir)
            else 0
        ),
    }
    if reshard is not None and reshard < 1:
        raise ValueError(
            f"compact_groups_store: reshard must be >= 1, got {reshard}"
        )
    n_new = reshard if reshard is not None else n_shards
    tmp = path + ".compacting"
    content = spark.read.parquet(path).select("id", "group_id")
    (
        content.dropDuplicates()
        .withColumn("shard", _doc_store_shard(F.col("id"), n_new))
        .repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    # the compacted copy gets a FRESH sidecar before the swap, so the
    # swapped-in store is never sidecar-less (a crash after the swap
    # but before a separate rebuild would otherwise force the
    # migration full-scan on the next increment — harmless, but this
    # is one rename cheaper and never degraded)
    (
        spark.read.parquet(tmp)
        .select("group_id", F.col("shard").cast("int").alias("shard"))
        .distinct()
        .withColumn(
            "gshard", _doc_store_shard(F.col("group_id"), n_new)
        )
        .repartition(F.col("gshard"))
        .write.mode("overwrite")
        .partitionBy("gshard")
        .parquet(f"{tmp}/{_GROUP_SHARDS_DIR}")
    )
    if reshard is not None:
        # pin and layout swap together (keep_files would carry the
        # old count over the resharded layout)
        stats["n_shards_before"] = n_shards
        stats["n_shards_after"] = reshard
        with open(meta_path) as fh:
            meta = json.load(fh)
        meta["groups_shards"] = reshard
        with open(os.path.join(tmp, _DOCS_STORE_META), "w") as fh:
            json.dump(meta, fh)
        _swap_compacted(path, tmp, keep_files=[])
    else:
        _swap_compacted(path, tmp, keep_files=[_DOCS_STORE_META])
    stats["rows_after"] = spark.read.parquet(path).count()
    stats["files_after"] = _count_parquet_files(path)
    stats["sidecar_rows_after"] = spark.read.parquet(sc_dir).count()
    return stats


def audit_groups_store(
    spark,
    groups_store_path: str,
    docs_store_path: str,
    n_groups: int = 64,
    max_pairs_per_group: int = 8,
    k_shingle: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """COHESION audit of resolved duplicate groups: sample non-
    singleton groups, pair each sampled member with its group's
    canonical label (the star edges connected-components asserted),
    and measure each pair's EXACT n-gram Jaccard against the docs
    store — the "did my dedup over-merge?" report a production
    curation loop runs before harvesting.

    Reading: what the numbers mean.  Groups are TRANSITIVE closures,
    so a star pair may legitimately score below the ingest threshold
    (A~B~C admits a low jaccard(A, C) — chain cohesion, not pairwise
    precision); a NEAR-ZERO star pair is the false-merge signature
    (the degenerate hot-bucket class the evidence gate exists to
    block).  The CLI aggregates exactly that split.

    Scale: every read is sample-bounded and pruned.  The sampled
    groups' members resolve through the inverted sidecar
    (``_affected_member_shards`` — the update path's own lookup), the
    docs-store text read statically prunes to the sampled members'
    id-shards, pairs are capped at ``max_pairs_per_group`` (hash
    order — deterministic), and the exact-jaccard verification is the
    candidate-driven ``dedup.jaccard_pairs`` path (never an inverted-
    index self-join).  Group sampling is the smallest
    (xxhash64(group_id), group_id) — reproducible, decorrelated from
    id order.

    Returns (group_id, id_a, id_b, jaccard) — id_a is the canonical
    label.  Only text docs stores are auditable (vector-resolved
    groups have no text side; their analogue is the exact-cosine pair
    relation semantic ingest already materializes)."""
    import json
    import os

    from wrds_data_pipeline_spark.operators.dedup import (
        _DOCS_STORE_META,
        _doc_store_shard,
        _recover_compact_swap,
        jaccard_pairs,
    )

    _recover_compact_swap(groups_store_path)
    _recover_compact_swap(docs_store_path)
    with open(os.path.join(groups_store_path, _DOCS_STORE_META)) as fh:
        g_shards = int(json.load(fh)["groups_shards"])
    store = spark.read.parquet(groups_store_path)
    sampled = (
        store.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= 2)
        .select(
            F.xxhash64(F.col("group_id")).alias("_h"), "group_id"
        )
        .orderBy("_h", "group_id")
        .limit(n_groups)
        .drop("_h")
        .transform(caching.waist, eager=True)  # sidecar lookup + member join
    )
    m_shards = _affected_member_shards(spark, groups_store_path, g_shards, sampled)
    members_src = spark.read.parquet(groups_store_path)
    if m_shards is not None:
        members_src = members_src.filter(F.col("shard").isin(m_shards))
    w = Window.partitionBy("group_id").orderBy(
        F.xxhash64(F.col("id")), F.col("id")
    )
    pairs = (
        members_src.join(sampled, "group_id", "left_semi")
        .filter(F.col("id") != F.col("group_id"))  # star edges only
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_pairs_per_group)
        .select(
            "group_id",
            F.col("group_id").alias("id_a"),
            F.col("id").alias("id_b"),
        )
        # read by the shard collect and the verification join
        .transform(caching.waist, eager=True)
    )
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    with open(os.path.join(docs_store_path, _DOCS_STORE_META)) as fh:
        d_shards = int(json.load(fh)["docs_shards"])
    id_shards = [
        r["s"]
        for r in ids.select(
            _doc_store_shard(F.col(id_col), d_shards).alias("s")
        )
        .distinct()
        .collect()
    ]
    texts = (
        spark.read.parquet(docs_store_path)
        .filter(F.col("shard").isin(id_shards))
        .join(ids, id_col, "left_semi")
        .select(id_col, text_col)
        .dropDuplicates([id_col])  # at-least-once append residue
    )
    scored = jaccard_pairs(
        texts, id_col=id_col, text_col=text_col, k_shingle=k_shingle,
        threshold=0.0,
        candidates=pairs.select("id_a", "id_b"),
    )
    # a pair whose member text is ABSENT from the docs store is a
    # coverage violation, not a zero-similarity merge: leave its
    # jaccard NULL (the vectors twin's cos_sim convention) so the CLI
    # counts it as "missing" instead of a suspected false merge —
    # coalescing to 0.0 here would fabricate exactly the signature
    # the audit exists to surface (ADVICE r12)
    present = texts.select(id_col).withColumn("_present", F.lit(True))
    return (
        pairs.select("group_id", "id_a", "id_b")
        .join(scored, ["id_a", "id_b"], "left")
        .join(
            present.select(
                F.col(id_col).alias("id_a"), F.col("_present").alias("_pa")
            ),
            "id_a", "left",
        )
        .join(
            present.select(
                F.col(id_col).alias("id_b"), F.col("_present").alias("_pb")
            ),
            "id_b", "left",
        )
        .select(
            "group_id", "id_a", "id_b",
            F.when(
                F.col("_pa").isNull() | F.col("_pb").isNull(),
                F.lit(None).cast("double"),
            )
            .otherwise(F.coalesce("jaccard", F.lit(0.0)))
            .alias("jaccard"),
        )
    )


def audit_groups_vectors(
    spark,
    groups_store_path: str,
    index_path: str,
    n_groups: int = 64,
    max_pairs_per_group: int = 8,
) -> DataFrame:
    """``audit_groups_store``'s twin for the EMBEDDING loop: sampled
    members' exact COSINE against their group's canonical label, read
    from the persisted vector index (semantic-resolved groups have no
    text side).  Same sampling, capping, and false-merge reading as
    the text audit — a near-zero star cosine inside a group whose
    pairs came from semantic ingest means a merge the threshold never
    justified.

    Scale note: the vector index is CELL-partitioned (its probe
    handle), so an id-keyed lookup has no partition pruning — the
    vector read is ONE full scan semi-joined to the sample-bounded id
    set (an audit's acceptable cost; the groups-store side still
    prunes through the inverted sidecar).  Returns (group_id, id_a,
    id_b, cos_sim), id_a the canonical label."""
    import json
    import os

    from wrds_data_pipeline_spark.operators.dedup import (
        _DOCS_STORE_META,
        _recover_compact_swap,
    )
    from wrds_data_pipeline_spark.operators.similarity import cosine
    from wrds_data_pipeline_spark.operators.vector_index import (
        load_vector_index,
    )

    _recover_compact_swap(groups_store_path)
    with open(os.path.join(groups_store_path, _DOCS_STORE_META)) as fh:
        g_shards = int(json.load(fh)["groups_shards"])
    store = spark.read.parquet(groups_store_path)
    sampled = (
        store.groupBy("group_id")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= 2)
        .select(F.xxhash64(F.col("group_id")).alias("_h"), "group_id")
        .orderBy("_h", "group_id")
        .limit(n_groups)
        .drop("_h")
        .transform(caching.waist, eager=True)
    )
    m_shards = _affected_member_shards(
        spark, groups_store_path, g_shards, sampled
    )
    members_src = spark.read.parquet(groups_store_path)
    if m_shards is not None:
        members_src = members_src.filter(F.col("shard").isin(m_shards))
    w = Window.partitionBy("group_id").orderBy(
        F.xxhash64(F.col("id")), F.col("id")
    )
    pairs = (
        members_src.join(sampled, "group_id", "left_semi")
        .filter(F.col("id") != F.col("group_id"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= max_pairs_per_group)
        .select(
            "group_id",
            F.col("group_id").alias("id_a"),
            F.col("id").alias("id_b"),
        )
        .transform(caching.waist, eager=True)
    )
    idx = load_vector_index(spark, index_path)
    ids = (
        pairs.select(F.col("id_a").alias(idx.id_col))
        .unionByName(pairs.select(F.col("id_b").alias(idx.id_col)))
        .distinct()
    )
    vecs = (
        idx.df.select(idx.id_col, idx.vec_col)
        .join(ids, idx.id_col, "left_semi")
        .dropDuplicates([idx.id_col])  # replay residue
        .transform(caching.waist, eager=True)  # joined twice below
    )
    a = vecs.select(
        F.col(idx.id_col).alias("id_a"), F.col(idx.vec_col).alias("_va")
    )
    b = vecs.select(
        F.col(idx.id_col).alias("id_b"), F.col(idx.vec_col).alias("_vb")
    )
    return (
        pairs.join(a, "id_a", "left")
        .join(b, "id_b", "left")
        .select(
            "group_id",
            "id_a",
            "id_b",
            F.when(
                F.col("_va").isNotNull() & F.col("_vb").isNotNull(),
                F.round(cosine(F.col("_va"), F.col("_vb")), 6),
            ).alias("cos_sim"),
        )
    )


def harvest_canonical_store(
    spark, docs_store_path: str, groups_store_path: str,
    id_col: str = "doc_id",
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """The ingest loop's HARVEST verb: the deduplicated corpus from
    the two stores the loop maintains — every docs-store document
    except the non-canonical members of resolved duplicate groups.

    Default (no ``scores``): because a group's label IS its minimum
    member id (the connected-components contract), the loser set is
    simply the groups-store rows with ``id != group_id`` — no
    aggregation, no winner election; one anti-join against a relation
    sized by the corpus's DUPLICATE mass (typically a few percent),
    which AQE broadcasts when it fits.

    ``scores``: optionally an (``id_col``, ``score_col``) relation —
    the winner per group becomes the BEST-scoring member instead
    (ties and missing/null scores break to the minimum id — exactly
    ``dedup_keep_best``'s election, run over the groups STORE instead
    of a transient components result).  The score join and the
    min-struct argmax stay duplicate-mass-sized; the corpus is still
    touched only by the final anti-join.

    Full-row duplicates (the docs store's at-least-once append
    residue) collapse; same-id rows with DIFFERENT text are an
    id-uniqueness violation and stay visible (the sibling stores'
    read-guard convention) rather than being silently resolved here.

    Returns the lazy (id_col, text...) relation WITHOUT the shard
    column — the caller owns the write."""
    from wrds_data_pipeline_spark.operators.dedup import _require_store

    _require_store(docs_store_path, "docs store")
    losers = group_store_losers(
        spark, groups_store_path, id_col, scores=scores, score_col=score_col
    )
    return (
        spark.read.parquet(docs_store_path)
        .drop("shard")
        .dropDuplicates()
        .join(losers, id_col, "left_anti")
    )


def group_store_losers(
    spark,
    groups_store_path: str,
    id_col: str,
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """The non-canonical member ids of a groups store — the loser
    election ``harvest_canonical_store`` and its vector twin share.
    Default: rows with ``id != group_id`` (the label IS the minimum
    member).  With ``scores``: the best-scoring member wins per group
    (ties/missing → min id), the ``dedup_keep_best`` election over
    the persisted store.  The returned relation is duplicate-mass-
    sized either way."""
    from wrds_data_pipeline_spark.operators.dedup import _require_store

    _require_store(groups_store_path, "groups store")
    groups = spark.read.parquet(groups_store_path).select("id", "group_id")
    if scores is None:
        return groups.filter(F.col("id") != F.col("group_id")).select(
            F.col("id").alias(id_col)
        )
    members = groups.join(
        scores.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.coalesce(
                F.col(score_col).cast("double"), F.lit(float("-inf"))
            ).alias("_s"),
        ),
        "id",
        "left",
    ).select(
        "id", "group_id", F.coalesce("_s", F.lit(float("-inf"))).alias("_s")
    )
    winners = (
        members.groupBy("group_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("_s")).alias("a"), F.col("id").alias("b")
                )
            ).alias("_w")
        )
        .select("group_id", F.col("_w.b").alias("_keep"))
    )
    return (
        members.join(winners, "group_id")
        .filter(F.col("id") != F.col("_keep"))
        .select(F.col("id").alias(id_col))
    )
