"""Persisted vector index: the on-disk lifecycle for the ANN ladder.

``similarity.ivf_build`` / ``pq.pq_train`` produce three artifacts —
the cell-assigned vector table, the coarse quantizer (centroids), and
optionally the PQ codebooks — but only the first is a DataFrame; the
quantizer state lives in driver memory and dies with the process.
This module gives the trio one durable home so a search service, a
streaming dedup sink, or tomorrow's ingest job can open yesterday's
index:

    path/vectors/cell=N/…   cell-partitioned parquet (+ pq_code col)
    path/centroids/         (cell, centroid array<double>)
    path/pq_codebooks/      (subspace, code, vec) rows, if PQ enabled
    path/meta/              one row: column names, cell count, pq m/k

The probe side is partition pruning: ``vector_index_topk`` filters to
the n_probe nearest cells, so the scan lists and reads ONLY those
``cell=`` directories — at 100 TB the query cost is proportional to
the probed cells, not the corpus (evidence: the input_file_name /
PartitionFilters asserts in tests/test_similarity_scale and
tests/test_vector_index).

Append = assign new vectors with the STORED quantizer (and encode
with the stored codebooks) — the accumulated corpus is never
re-assigned, the exact analogue of ``dedup.append_band_index``.

Mirrors the band-index design (`dedup.build_band_index`): a one-row
meta makes parameter compatibility enforced rather than documented.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrds_data_pipeline_spark import caching
from .pq import PQCodebooks, pq_encode, pq_train
from wrds_data_pipeline_spark.operators.store_lock import locked_store_verb
from .similarity import (
    brute_force_topk,
    exact_assigner,
    hierarchical_assigner,
    ivf_build,
)


@dataclass(frozen=True)
class VectorIndex:
    """An opened index: the lazy cell-partitioned DataFrame plus the
    driver-resident quantizer state."""

    df: DataFrame
    centroids: tuple  # ((cell, (vec...)), ...)
    codebooks: PQCodebooks | None
    id_col: str
    vec_col: str

    def centroid_list(self) -> list[tuple[int, list[float]]]:
        return [(int(c), [float(x) for x in v]) for c, v in self.centroids]


def _assigner_for(centroids: list[tuple[int, list[float]]], vec_col: str):
    # the ivf_build auto rule: exhaustive while the quantizer is small,
    # two-level routing beyond (pure JVM either way)
    if len(centroids) > 128:
        return hierarchical_assigner(centroids, vec_col)
    return exact_assigner(centroids, vec_col)


@locked_store_verb("path")
def build_vector_index(
    embeddings: DataFrame,
    path: str,
    n_cells: int | None = None,
    target_cell_size: int = 1024,
    refine_iters: int = 0,
    pq_m: int | None = None,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "VectorIndex":
    """Build and persist: IVF-assign (auto-sized cells by default),
    optionally PQ-encode (``pq_m`` subspaces × ``pq_k`` codes), write
    cell-partitioned.  The cell repartition before the write keeps the
    layout at ~one file per cell instead of tasks × cells (the
    band-index lesson).  Returns the opened index."""
    spark = embeddings.sparkSession
    assigned, cents = ivf_build(
        embeddings,
        n_cells=n_cells,
        id_col=id_col,
        vec_col=vec_col,
        refine_iters=refine_iters,
        target_cell_size=target_cell_size,
    )
    cb = None
    if pq_m is not None:
        cb = pq_train(embeddings, m=pq_m, k=pq_k, id_col=id_col, vec_col=vec_col)
        assigned = pq_encode(assigned, cb, vec_col=vec_col)
    _write_index_artifacts(
        spark, assigned, cents, cb, id_col, vec_col, path
    )
    return load_vector_index(spark, path)


def _write_index_artifacts(
    spark: SparkSession,
    assigned: DataFrame,
    cents,
    cb: PQCodebooks | None,
    id_col: str,
    vec_col: str,
    root: str,
) -> None:
    """Write the four index artifacts (vectors/centroids/pq_codebooks/
    meta) under ``root`` — the ONE copy of the on-disk format, shared
    by ``build_vector_index`` (root = the live path) and
    ``recenter_vector_index`` (root = the swap staging dir)."""
    assigned.repartition(F.col("cell")).write.mode("overwrite").partitionBy(
        "cell"
    ).parquet(f"{root}/vectors")
    spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in cents],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/centroids")
    if cb is not None:
        spark.createDataFrame(
            [
                (j, i, list(cb.books[j][i]))
                for j in range(cb.m)
                for i in range(cb.k)
            ],
            "subspace int, code int, vec array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(f"{root}/pq_codebooks")
    spark.createDataFrame(
        [
            (
                id_col,
                vec_col,
                len(cents),
                cb.dim if cb else None,
                cb.m if cb else None,
                cb.k if cb else None,
                list(cb.sigma) if cb and cb.sigma is not None else None,
            )
        ],
        "id_col string, vec_col string, n_cells int, "
        "pq_dim int, pq_m int, pq_k int, pq_sigma array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/meta")


def load_vector_index(spark: SparkSession, path: str) -> VectorIndex:
    """Open a persisted index: lazy vectors scan + collected quantizer
    state (centroid table and codebooks are KBs by construction)."""
    from wrds_data_pipeline_spark.operators.dedup import (
        _recover_compact_swap,
    )

    # recenter_vector_index swaps the WHOLE index dir; an interrupted
    # swap leaves the index at path.old — recover that first (before
    # any path/… probe can misread "no index here")
    _recover_compact_swap(path)
    # a compact_vector_index swap interrupted between its two renames
    # leaves vectors/ at vectors.old — complete it (or refuse with the
    # recovery command) instead of dying in the parquet reader
    _recover_compact_swap(f"{path}/vectors")
    [meta] = spark.read.parquet(f"{path}/meta").collect()
    cents = tuple(
        sorted(
            (int(r["cell"]), tuple(float(x) for x in r["centroid"]))
            for r in spark.read.parquet(f"{path}/centroids").collect()
        )
    )
    cb = None
    if meta["pq_m"] is not None:
        rows = spark.read.parquet(f"{path}/pq_codebooks").collect()
        books: dict = {}
        for r in rows:
            books.setdefault(int(r["subspace"]), {})[int(r["code"])] = tuple(
                float(x) for x in r["vec"]
            )
        # pq_sigma absent on pre-round-7 indexes: getattr-style probe
        # so old artifacts still open (auto-rerank then refuses with
        # its retrain message instead of guessing)
        sigma = (
            tuple(float(x) for x in meta["pq_sigma"])
            if "pq_sigma" in meta.__fields__ and meta["pq_sigma"] is not None
            else None
        )
        cb = PQCodebooks(
            dim=int(meta["pq_dim"]),
            m=int(meta["pq_m"]),
            k=int(meta["pq_k"]),
            books=tuple(
                tuple(books[j][i] for i in range(int(meta["pq_k"])))
                for j in range(int(meta["pq_m"]))
            ),
            sigma=sigma,
        )
    return VectorIndex(
        df=spark.read.parquet(f"{path}/vectors"),
        centroids=cents,
        codebooks=cb,
        id_col=meta["id_col"],
        vec_col=meta["vec_col"],
    )


def _check_increment_vectors(
    new_embeddings: DataFrame, idx: "VectorIndex", dim: int
) -> None:
    """Refuse increments that would corrupt the store silently: a
    dimension mismatch mis-assigns (short slices zip to nulls, wrong
    cells/codes), and a vector COLUMN TYPE differing from the stored
    one (array<double> vs array<float>) appends parquet files whose
    element type diverges from the store's — every later read of the
    touched cells then fails with PARQUET_COLUMN_DATA_TYPE_MISMATCH.
    Cast the increment to the stored element type explicitly; the
    refusal names it."""
    stored_t = idx.df.schema[idx.vec_col].dataType.simpleString()
    new_t = new_embeddings.schema[idx.vec_col].dataType.simpleString()
    if new_t != stored_t:
        raise ValueError(
            f"increment {idx.vec_col!r} is {new_t}, the store holds "
            f"{stored_t} — appending would mix parquet element types "
            f"in the same column; cast the increment to {stored_t} "
            "first"
        )
    row = new_embeddings.select(idx.vec_col).first()
    if row is not None and len(row[0]) != dim:
        raise ValueError(
            f"increment vectors have dim {len(row[0])}, index has {dim}"
        )


@locked_store_verb('path')
def append_vector_index(new_embeddings: DataFrame, path: str) -> None:
    """Add new vectors: assign with the STORED quantizer (auto
    exact/hierarchical by its size), encode with the stored codebooks
    when present, append cell-partitioned.  Centroids are NOT moved —
    the accumulated corpus keeps its assignment (re-quantize by
    rebuilding when drift warrants it).  Ids must be globally unique
    across appends (the band-index contract)."""
    idx = load_vector_index(new_embeddings.sparkSession, path)
    dim = len(idx.centroids[0][1])
    _check_increment_vectors(new_embeddings, idx, dim)
    assigned = _assigner_for(idx.centroid_list(), idx.vec_col)(new_embeddings)
    if idx.codebooks is not None:
        assigned = pq_encode(assigned, idx.codebooks, vec_col=idx.vec_col)
    assigned.repartition(F.col("cell")).write.mode("append").partitionBy(
        "cell"
    ).parquet(f"{path}/vectors")


@locked_store_verb('path')
def compact_vector_index(spark: SparkSession, path: str) -> dict:
    """``dedup.compact_band_index``'s twin for the vector store:
    rewrite ``path/vectors`` dropping full-row duplicates and
    collapsing each cell to one file.  Unlike the band stores —
    where duplicated rows are TOLERATED at read — a re-appended
    vector batch (at-least-once replay of ``append_vector_index``)
    actively corrupts results: the duplicate row is a second
    identical neighbor, so top-k queries return the same id twice
    and crowd out a real neighbor.  Compaction is therefore the
    REPAIR verb here, not just reclamation.  Centroids / codebooks /
    meta live beside ``vectors`` and are untouched (the quantizer is
    pinned; only the assigned rows rewrite).  Same write-then-swap
    and stats shape as the other compactors."""
    from wrds_data_pipeline_spark.operators.dedup import (
        _count_parquet_files,
        _recover_compact_swap,
        _require_store,
        _swap_compacted,
    )

    vectors_dir = f"{path}/vectors"
    _recover_compact_swap(path)  # an interrupted recenter whole-index swap
    _require_store(vectors_dir, "vector index")
    stats = {
        "rows_before": spark.read.parquet(vectors_dir).count(),
        "files_before": _count_parquet_files(vectors_dir),
    }
    tmp = vectors_dir + ".compacting"
    (
        spark.read.parquet(vectors_dir)
        .dropDuplicates()
        .repartition(F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(tmp)
    )
    _swap_compacted(vectors_dir, tmp, keep_files=[])
    stats["rows_after"] = spark.read.parquet(vectors_dir).count()
    stats["files_after"] = _count_parquet_files(vectors_dir)
    return stats


def _mean_assigned_cosine(
    df: DataFrame, cents: list[tuple[int, list[float]]], vec_col: str
) -> float:
    """avg cosine(vector, its assigned cell's centroid) over a
    cell-assigned table — the spherical-k-means objective, the number
    ``recenter_vector_index`` reports before/after so the maintenance
    run carries its own evidence.  O(rows · dim), one pass: the
    normalized centroid is looked up BY CELL ID from a map literal
    (KBs — the quantizer is driver-resident by construction), never a
    per-centroid scan."""
    import math

    from .similarity import l2_norm

    ordered = sorted((int(c), v) for c, v in cents)
    cmap = F.map_from_arrays(
        F.array(*[F.lit(c) for c, _ in ordered]),
        F.array(*[
            F.array(*[
                F.lit(
                    float(x)
                    / (math.sqrt(sum(float(y) ** 2 for y in v)) or 1.0)
                )
                for x in v
            ])
            for _, v in ordered
        ]),
    )
    v = F.col(vec_col).cast("array<double>")
    cent = F.element_at(cmap, F.col("cell").cast("int"))
    num = F.aggregate(
        F.zip_with(v, cent, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    rn = l2_norm(v)
    sim = F.when(rn > 0, num / rn).otherwise(F.lit(0.0))
    [row] = df.select(F.avg(sim).alias("o")).collect()
    return round(float(row["o"]), 6) if row["o"] is not None else 0.0


@locked_store_verb('path')
def recenter_vector_index(
    spark: SparkSession,
    path: str,
    n_iter: int = 2,
    assign: str = "auto",
    retrain_pq: bool = False,
    pq_sample_cap: int = 2048,
    n_cells: int | None = None,
    target_cell_size: int = 1024,
) -> dict:
    """Maintenance verb: re-fit the coarse quantizer to the CURRENT
    store and rewrite the index around it.  The append/ingest path
    deliberately never moves centroids (assignment with the stored
    quantizer is what makes incremental folds equal the batch run),
    so a store that grows 10× past its build — or drifts topically —
    keeps a quantizer fitted to yesterday's distribution: cells go
    unbalanced, the within-cell quadratic of semantic dedup grows on
    the hot cells, and probes read a creeping fraction of the store.
    This verb is ``compact``'s bigger sibling: ``n_iter`` distributed
    spherical-k-means rounds (``similarity.ivf_refine`` — only the
    n_cells × dim centroid table ever reaches the driver) seeded from
    the STORED centroids, then one full reassignment + rewrite.

    Everything downstream keeps working unchanged: the cell count and
    ids are stable (ivf_refine's contract), queries probe the new
    centroids on their next ``load_vector_index``, and
    ``semantic_ingest_increment`` folds match the batch pairs under
    the NEW centroids from the next increment on (parity is per
    quantizer-epoch — pairs emitted before the recenter were correct
    under the old one).

    PQ: codes encode the raw normalized vector against the stored
    codebooks (NOT IVF residuals — see ``pq.pq_encode``), so cell
    reassignment alone never invalidates them and the default keeps
    the codebooks; ``retrain_pq=True`` re-fits them (same m/k) on the
    current store and re-encodes, the right move when the drift that
    motivated the recenter also moved the subspace distributions.

    Crash discipline: the new index (vectors/centroids/codebooks/
    meta) is FULLY WRITTEN into ``path + '.compacting'`` and swapped
    in as one directory under ``_swap_compacted``'s two-rename window
    — every loader choke point (load / ingest / compact / this verb)
    recovers the window via ``_recover_compact_swap(path)``.  A
    whole-index swap is what makes the multi-artifact update atomic:
    swapping vectors and centroids independently would expose a state
    where probes prune by NEW centroids over OLD cell directories
    (silently wrong results, not an error).

    Full-row duplicates (at-least-once replay residue) fold out in
    the rewrite, so recenter subsumes ``compact_vector_index``.

    ``n_cells``: by default the cell count is KEPT and the Lloyd
    rounds are seeded from the STORED centroids — cheap and stable,
    but seeds can only MOVE, so a tight 10x-mass cluster that crammed
    into one cell stays one (hot) cell: Lloyd never splits a cluster
    no seed landed in.  Pass ``n_cells`` (or 0 to auto-size from the
    current store via ``target_cell_size`` — the ``ivf_build`` rule)
    to RE-SEED the quantizer from the store itself (deterministic
    hash-bucket sample): a grown store's hot mass draws
    proportionally many seeds, so it splits — full re-quantization
    without rebuilding from sources.  Objective monotonicity holds
    within the Lloyd rounds either way; cell IDS are not comparable
    across a re-seed.

    Returns stats: rows/files before and after, and the mean
    assigned-cosine objective before/after (non-decreasing under
    exact assignment — Lloyd's monotonicity)."""
    import os
    import shutil

    from wrds_data_pipeline_spark.operators.dedup import (
        _count_parquet_files,
        _recover_compact_swap,
        _require_store,
        _swap_compacted,
    )

    from .similarity import ivf_refine

    if assign not in ("auto", "exact", "hierarchical"):
        raise ValueError(
            f"assign must be auto|exact|hierarchical, got {assign!r}"
        )
    _recover_compact_swap(path)
    _require_store(f"{path}/vectors", "vector index")
    idx = load_vector_index(spark, path)
    id_col, vec_col = idx.id_col, idx.vec_col
    cents = idx.centroid_list()
    if assign == "auto" and n_cells is None:
        # the ivf_build auto rule; resolved once so the Lloyd rounds
        # and the final reassignment use the same routing (the
        # re-seed path lets ivf_build resolve it against the NEW
        # cell count instead)
        assign = "hierarchical" if len(cents) > 128 else "exact"
    stats: dict = {
        "n_cells": len(cents),
        "n_iter": n_iter,
        "assign": assign,
        "rows_before": idx.df.count(),
        "files_before": _count_parquet_files(f"{path}/vectors"),
        "objective_before": _mean_assigned_cosine(idx.df, cents, vec_col),
    }
    # The fitting passes (seed sample + each Lloyd round) scan the
    # PARQUET store directly — no dedup shuffle per pass, no
    # store-sized cache/checkpoint (the store is already durable on
    # disk; materializing a full second copy is exactly what a 100 TB
    # verb must not do).  At-least-once replay duplicates are benign
    # to fitting: the hash-bucket seed sample's min_by is unchanged by
    # repeated rows, and a duplicated vector merely double-weights one
    # point in a cell mean — deterministic either way.  The dedup
    # shuffle is paid ONCE, on the final assignment that gets written,
    # which is where duplicate rows actually corrupt results (a
    # replayed append is a second identical top-k neighbor) — so
    # recenter still subsumes compact.
    raw = idx.df.select(id_col, vec_col)
    write_rows = raw.dropDuplicates()
    if n_cells is not None:
        # RE-SEED from the store (the ivf_build sampling + the same
        # Lloyd rounds): a moved-seed refine cannot split a cluster no
        # stored centroid landed in — this can.  n_cells=0 auto-sizes.
        _, new_cents = ivf_build(
            raw,
            n_cells=(n_cells if n_cells > 0 else None),
            id_col=id_col,
            vec_col=vec_col,
            refine_iters=n_iter,
            target_cell_size=target_cell_size,
            assign=assign,
        )
        if assign == "auto":
            assign = "hierarchical" if len(new_cents) > 128 else "exact"
    else:
        new_cents = ivf_refine(
            raw, cents, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
            assign=assign,
        )
    stats["n_cells_after"] = len(new_cents)
    stats["assign"] = assign  # the re-seed path resolves auto late
    assigned = (
        hierarchical_assigner
        if assign == "hierarchical"
        else exact_assigner
    )(new_cents, vec_col)(write_rows)
    cb = idx.codebooks
    if cb is not None and retrain_pq:
        cb = pq_train(
            raw, m=cb.m, k=cb.k, id_col=id_col, vec_col=vec_col,
            sample_cap=pq_sample_cap,
        )
    if cb is not None:
        assigned = pq_encode(assigned, cb, vec_col=vec_col)
    tmp = path + ".compacting"
    if os.path.isdir(tmp):
        # residue of an interrupted REWRITE (crash before the swap
        # began) — the live index was never touched, so discarding the
        # partial copy is always safe
        shutil.rmtree(tmp)
    _write_index_artifacts(spark, assigned, new_cents, cb, id_col, vec_col, tmp)
    stats["objective_after"] = _mean_assigned_cosine(
        spark.read.parquet(f"{tmp}/vectors"), new_cents, vec_col
    )
    _swap_compacted(path, tmp, keep_files=[])
    stats["rows_after"] = spark.read.parquet(f"{path}/vectors").count()
    stats["files_after"] = _count_parquet_files(f"{path}/vectors")
    stats["retrained_pq"] = bool(idx.codebooks is not None and retrain_pq)
    return stats


def vector_index_topk(
    index: VectorIndex,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    use_pq: bool | None = None,
    rerank_factor: int | None = None,
) -> DataFrame:
    """Top-k through the opened index.  Probes the ``n_probe`` nearest
    cells (partition pruning on the stored layout); within them either
    exact cosine (``use_pq=False``) or the ADC scan + exact rerank
    (``use_pq=True``; default: PQ when the index carries codebooks).
    ``rerank_factor=None`` (default) uses the error-band pool rule —
    every probed row ADC-indistinguishable from the k-th best joins
    the rerank, sized by the stored sigma calibration (see
    ``pq.pq_topk``); an int pins the classical fixed ``k·factor``
    pool.  Output schema/determinism matches ``brute_force_topk``."""
    import math

    if use_pq is None:
        use_pq = index.codebooks is not None
    if use_pq and index.codebooks is None:
        raise ValueError("index has no PQ codebooks; rebuild with pq_m set")

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    cents = index.centroid_list()
    probe = [c[0] for c in sorted(cents, key=lambda c: -cos(c[1], query_vec))[:n_probe]]
    probed = index.df.filter(F.col("cell").isin(probe))
    if not use_pq:
        return brute_force_topk(probed, query_vec, k, index.id_col, index.vec_col)
    # delegate both pool modes to pq_topk over the PRUNED relation —
    # it reuses the stored pq_code column, applies the fixed-factor or
    # calibrated error-band pool, and reranks exact (one copy of the
    # band-pool algorithm to keep correct, not two)
    from wrds_data_pipeline_spark.operators.pq import pq_topk

    return pq_topk(
        probed, index.codebooks, query_vec, k,
        rerank_factor=rerank_factor,
        id_col=index.id_col, vec_col=index.vec_col,
    )


def prune_vector_index(
    spark: SparkSession,
    path: str,
    keep_frac: float = 0.5,
    keep: str = "far",
) -> DataFrame:
    """Prototype-based pruning over a STORED index (the D4 /
    SSL-prototypes step as an index operation): rank each cell's
    members by cosine to their centroid and keep ``ceil(keep_frac ×
    |cell|)`` — ``keep="far"`` drops semantic redundancy, ``"near"``
    drops outliers.  Returns (id, cell, proto_sim) of the survivors.

    No reassignment: the stored ``cell`` column IS the assignment, so
    the centroid arrives by broadcast join on cell (dim-sized arrays
    in expressions are safe — SCALE.md's measured HOF-attribute
    threshold) and the only corpus-mass work is the per-cell ranking
    window ``cluster_prune`` already uses."""
    from pyspark.sql.window import Window as W

    from .similarity import cosine

    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1]: {keep_frac}")
    if keep not in ("far", "near"):
        raise ValueError(f"keep must be 'far' or 'near': {keep!r}")
    idx = load_vector_index(spark, path)
    cent = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in idx.centroids],
        "cell int, _cent array<double>",
    )
    scored = idx.df.join(F.broadcast(cent), "cell").select(
        F.col(idx.id_col).alias("id"),
        "cell",
        cosine(
            F.col(idx.vec_col).cast("array<double>"), F.col("_cent")
        ).alias("proto_sim"),
    )
    order = (
        [F.asc("proto_sim"), F.asc("id")]
        if keep == "far"
        else [F.desc("proto_sim"), F.asc("id")]
    )
    w = W.partitionBy("cell").orderBy(*order)
    wc = W.partitionBy("cell")
    return (
        scored.withColumn("_rank", F.row_number().over(w))
        .withColumn("_n", F.count(F.lit(1)).over(wc))
        .filter(F.col("_rank") <= F.ceil(F.col("_n") * F.lit(keep_frac)))
        .drop("_rank", "_n")
    )


def vector_index_topk_batch(
    index: VectorIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    use_pq: bool | None = None,
    rerank_factor: int | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    partial_parallelism: int = 32,
) -> DataFrame:
    """Batch top-k through the opened index: N queries served by ONE
    scan of the union of their probed cells, never a per-query driver
    loop of jobs.

    The per-query probe map is a DISTRIBUTED expression
    (``similarity.probe_cells``: the n_probe nearest cells per query
    row, exploded to a (query_id, cell) relation) — no driver loop
    over query rows, so the query side can itself be large (bulk kNN
    filtering, batch dedup probes).  The only collect is the DISTINCT
    probed-cell list (bounded by n_cells, like probe_band_index's
    shard collect), which partition-prunes the stored side to the
    UNION of probed cells; the probe-map join then restricts each
    scored pair to its own query's cells, so semantics match
    ``vector_index_topk`` per query exactly.  Within the probed rows:
    exact cosine, or the PQ ADC scan with a fixed ``k·rerank_factor``
    pool or (default) the calibrated per-query error-band pool (see
    ``pq.pq_topk``) and an exact rerank.

    The query relation (probe map, vectors, LUTs, thresholds) rides
    the broadcast side of every join — the batch-family contract
    (``brute_force_topk_batch``): queries × n_probe must fit a
    broadcast; beyond that, bucket both sides by cell instead.

    Returns (query_id, id, cos_sim, rank), rank 1..k per query (ties
    by id).  Zero-norm queries have no direction and are dropped."""
    from wrds_data_pipeline_spark.operators.pq import (
        _adc_from_lut,
        _batch_exact_topk,
        _batch_pool,
        _query_luts,
    )
    from wrds_data_pipeline_spark.operators.similarity import probe_cells

    if use_pq is None:
        use_pq = index.codebooks is not None
    if use_pq and index.codebooks is None:
        raise ValueError("index has no PQ codebooks; rebuild with pq_m set")

    cents = index.centroid_list()
    pm = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(probe_cells(cents, query_vec_col, n_probe)).alias("cell"),
    )
    union_cells = sorted(
        r["cell"] for r in pm.select("cell").distinct().collect()
    )
    if not union_cells:
        raise ValueError("vector_index_topk_batch: empty query relation")
    probed = index.df.filter(F.col("cell").isin(union_cells))
    # per-query restriction: fan probed rows out to the queries whose
    # probe set holds their cell (broadcast probe map — fan-out is
    # bounded by queries-per-cell, never |queries| × |probed|)
    expanded = probed.withColumn("cell", F.col("cell").cast("int")).join(
        F.broadcast(pm), "cell"
    )

    # pool + exact-rerank delegate to the pq batch family's SINGLE
    # copies of those algorithms (_batch_pool / _batch_exact_topk) —
    # this path only contributes the probe map and the per-query cell
    # restriction
    if not use_pq:
        return _batch_exact_topk(
            expanded.select("query_id", index.id_col),
            probed.select(F.col(index.id_col), F.col(index.vec_col)),
            queries, k, query_id_col, query_vec_col,
            index.id_col, index.vec_col, partial_parallelism,
        )

    ql = _query_luts(queries, index.codebooks, query_id_col, query_vec_col)
    scored = expanded.join(F.broadcast(ql), "query_id").select(
        "query_id",
        F.col(index.id_col),
        _adc_from_lut("pq_code").alias("adc_sim"),
    )
    pool = _batch_pool(
        scored, queries, index.codebooks, k, rerank_factor,
        query_id_col, query_vec_col, index.id_col, partial_parallelism,
    )
    return _batch_exact_topk(
        pool, probed.select(F.col(index.id_col), F.col(index.vec_col)),
        queries, k, query_id_col, query_vec_col,
        index.id_col, index.vec_col, partial_parallelism,
    )


@locked_store_verb('index_path', 'groups_store_path')
def semantic_ingest_increment(
    new_embeddings: DataFrame,
    index_path: str,
    threshold: float = 0.95,
    *,
    n_cells: int | None = None,
    target_cell_size: int = 1024,
    pq_m: int | None = None,
    pq_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    groups_store_path: str | None = None,
    groups_shards: int = 64,
    probe_cells: int = 1,
) -> DataFrame:
    """ONE-VERB verified SEMANTIC ingest — ``dedup.ingest_increment``'s
    twin for the embedding family: probe the persisted vector index
    for the increment's semantic near-duplicates (same-cell exact
    cosine, the SemDeDup recall contract of
    ``similarity.semantic_dup_pairs``), then append the increment's
    vectors to the index — so the text loop (band index) and the
    embedding loop (vector index) expose the same operational verb.

    First call CREATES the index from the increment (``n_cells`` /
    ``target_cell_size`` / ``pq_m`` apply then only) and emits the
    increment's within pairs; later calls REFUSE on id/vec column
    mismatch with the stored meta and on embedding-dimension mismatch
    (both would silently mis-pair), ignore the creation parameters,
    and emit every pair touching the increment: increment×stored and
    increment×increment, canonicalized (id_a < id_b), same
    (id_a, id_b, cell, cos_sim) schema and rounded-cosine threshold
    semantics as ``semantic_dup_pairs``.  Because the increment is
    assigned with the STORED quantizer, folding a corpus through this
    verb emits exactly the batch ``semantic_dup_pairs`` set under the
    same centroids (parity-tested).

    ``probe_cells``: the recall knob over SemDeDup's same-cell
    convention, whose known residual is the BOUNDARY pair — two
    near-duplicates quantized into adjacent cells are invisible to a
    same-cell comparison (batch SemDeDup has the identical blind
    spot, by design).  ``probe_cells=k`` probes each increment
    vector's k nearest cells on the STORED side (and against the
    increment's own members at their assigned cells); the append
    still lands in the argmax cell, so the INDEX is identical — only
    the probe widens.  k=1 (default) keeps exact batch-fold parity;
    k>1 emits a SUPERSET (extra true near-dups the batch convention
    misses — tested on an engineered boundary pair), at k× the probe
    read.

    Scale: cost per increment is O(|increment| + |probed cells'
    rows|) — the stored read partition-prunes to the increment's
    cells (a collected int list bounded by the cell count), the pair
    join is an equi-join on ``cell``, and assignment is computed ONCE
    (the appended rows reuse the probe's assignment; no second
    assigner pass).  Verification needs no second store: the vectors
    table itself carries the embeddings (unlike the text loop's
    separate docs store), so probe and verify read the same pruned
    partitions and append is a single store write — no lockstep
    ordering to preserve under a crash.

    Crash/replay: pairs are materialized (an eager waist)
    BEFORE the append, so every pair is attributed to exactly one
    increment.  Re-running an interrupted increment emits the same
    pair set (its stored copy only produces self-pairs, excluded by
    id inequality, and duplicates of the within pairs, removed by the
    canonical distinct) and appends duplicate rows —
    ``compact_vector_index`` is the documented repair, and the
    ``ingest-vectors`` CLI carries the same advisory/--compact-every
    economics as the text verb.

    Returns the materialized pair DataFrame."""
    import os

    from wrds_data_pipeline_spark.operators.dedup import _store_has_rows
    from wrds_data_pipeline_spark.operators.similarity import (
        dot,
        l2_norm,
        semantic_dup_pairs,
    )

    spark = new_embeddings.sparkSession
    if groups_store_path is not None:
        dt = dict(new_embeddings.dtypes)[id_col]
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"semantic_ingest_increment: groups_store_path "
                f"requires integral ids, got {id_col}:{dt!r} (map "
                "string ids to a surrogate first)"
            )
    from wrds_data_pipeline_spark.operators.dedup import (
        _recover_compact_swap,
    )

    # an interrupted recenter whole-index swap leaves the index at
    # index_path.old — recovering FIRST matters especially here, where
    # a missing meta would otherwise read as "no index" and this call
    # would mint a fresh index over the mid-swap one
    _recover_compact_swap(index_path)
    vectors_dir = f"{index_path}/vectors"
    index_exists = os.path.exists(f"{index_path}/meta")
    if not index_exists and os.path.isdir(vectors_dir) and _store_has_rows(
        vectors_dir
    ):
        # vectors without meta: index CREATION was interrupted between
        # the vectors write and the meta write — treating it as absent
        # would re-cluster and orphan the written cells
        raise ValueError(
            f"semantic_ingest_increment: {vectors_dir!r} has rows but "
            f"{index_path}/meta is missing — an interrupted index "
            "creation; remove the vectors directory and re-ingest "
            "that increment"
        )

    if not index_exists:
        if probe_cells > 1:
            # the first (index-creating) call's pairs come from
            # same-cell semantic_dup_pairs — there is no stored side
            # to multi-probe yet, so the knob is inert here; say so
            # instead of silently delivering k=1 recall
            warnings.warn(
                "semantic_ingest_increment: probe_cells applies only "
                "once an index exists; this index-creating call emits "
                "same-cell (k=1) pairs",
                stacklevel=2,
            )
        idx = build_vector_index(
            new_embeddings,
            index_path,
            n_cells=n_cells,
            target_cell_size=target_cell_size,
            pq_m=pq_m,
            pq_k=pq_k,
            id_col=id_col,
            vec_col=vec_col,
        )
        pairs = semantic_dup_pairs(
            new_embeddings, idx.centroid_list(), threshold,
            id_col=id_col, vec_col=vec_col,
        ).transform(caching.waist, eager=True)
        if groups_store_path is not None:
            from wrds_data_pipeline_spark.operators.components import (
                update_groups_store,
            )

            update_groups_store(
                spark, groups_store_path, pairs, n_shards=groups_shards
            )
        return pairs

    idx = load_vector_index(spark, index_path)
    if idx.id_col != id_col or idx.vec_col != vec_col:
        raise ValueError(
            f"semantic_ingest_increment: index at {index_path!r} was "
            f"built with id_col={idx.id_col!r}, vec_col="
            f"{idx.vec_col!r}; called with {id_col!r}/{vec_col!r} — "
            "pass the original columns"
        )
    _check_increment_vectors(new_embeddings, idx, len(idx.centroids[0][1]))

    # assigned ONCE with the stored quantizer: probe and append share it
    cents = idx.centroid_list()
    if probe_cells > 1:
        from wrds_data_pipeline_spark.operators.similarity import (
            topk_cells_expr,
        )

        k = min(probe_cells, len(cents))
        # element 1 of the top-k array IS the argmax cell (shared
        # scoring expression), so assignment still happens once;
        # multi-probe routes through exact scoring (O(n·c) dots) —
        # the recall knob trades the hierarchical shortcut away
        assigned = (
            new_embeddings.withColumn(
                "_pcells", topk_cells_expr(cents, vec_col, k)
            )
            .withColumn("cell", F.element_at("_pcells", 1))
            .transform(caching.waist, eager=True)
        )
        cells = sorted(
            r["c"]
            for r in assigned.select(F.explode("_pcells").alias("c"))
            .distinct()
            .collect()
        )
    else:
        assigned = _assigner_for(cents, vec_col)(
            new_embeddings
        ).transform(caching.waist, eager=True)
        cells = sorted(
            r["cell"]
            for r in assigned.select("cell").distinct().collect()
        )  # bounded by the cell count — ints on the driver, like the
        # band ingest's shard collects

    v = F.col(vec_col).cast("array<double>")
    if probe_cells > 1:
        probe_rel = assigned.select(
            F.explode("_pcells").alias("cell"),
            F.col(id_col).alias("id_a"),
            v.alias("_va"),
        )
    else:
        probe_rel = assigned.select(
            "cell", F.col(id_col).alias("id_a"), v.alias("_va")
        )
    inc_side = probe_rel.withColumn("_na", l2_norm(F.col("_va")))
    stored_side = (
        idx.df.filter(F.col("cell").isin(cells))
        .select("cell", F.col(id_col).alias("id_b"), v.alias("_vb"))
        .withColumn("_nb", l2_norm(F.col("_vb")))
    )
    # membership side: stored rows plus the increment AT ITS ARGMAX
    # cell (under multi-probe the exploded relation is the PROBE side
    # only — membership stays single-cell, like the index itself)
    both_side = stored_side.unionByName(
        assigned.select(
            "cell",
            F.col(id_col).alias("id_b"),
            v.alias("_vb"),
        ).withColumn("_nb", l2_norm(F.col("_vb")))
    )
    pairs = (
        inc_side.repartition(F.col("cell"))
        .join(both_side.repartition(F.col("cell")), "cell")
        .filter(F.col("id_a") != F.col("id_b"))
        .withColumn(
            "cos_sim",
            F.round(
                dot(F.col("_va"), F.col("_vb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ),
        )
        .filter(F.col("cos_sim") >= threshold)
        # canonicalize: a within-increment pair arrives in both
        # orientations (cos_sim is symmetric bit-exactly — same
        # zip_with/aggregate order), a cross pair in one
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cell",
            "cos_sim",
        )
        .distinct()
    )
    if probe_cells > 1:
        # a boundary pair can surface at BOTH members' probe cells —
        # one row per pair (min cell; cos_sim is identical by
        # symmetry), keeping the k=1 output contract
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.min("cell").alias("cell"),
            F.max("cos_sim").alias("cos_sim"),
        )
    pairs = caching.waist(pairs, eager=True)
    to_write = assigned.drop("_pcells")
    if idx.codebooks is not None:
        to_write = pq_encode(to_write, idx.codebooks, vec_col=vec_col)
    to_write.repartition(F.col("cell")).write.mode("append").partitionBy(
        "cell"
    ).parquet(vectors_dir)
    if groups_store_path is not None:
        from wrds_data_pipeline_spark.operators.components import (
            update_groups_store,
        )

        update_groups_store(
            spark, groups_store_path, pairs, n_shards=groups_shards
        )
    return pairs


def evaluate_vector_index(
    spark: SparkSession,
    path: str,
    n_queries: int = 64,
    k: int = 10,
    n_probe: int = 4,
    use_pq: bool | None = None,
    queries: DataFrame | None = None,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> dict:
    """Measured ANN HEALTH of the persisted index — the quantitative
    diagnosis behind the ingest advisory's byte-imbalance heuristic,
    and the before/after scorecard for ``recenter``:

    - ``recall_at_k``: mean |ANN top-k ∩ exact top-k| / k over a
      deterministic hash-sample of the store's own vectors (smallest
      (xxhash64(id), id) — ``pq_train``'s sampling shape: reproducible,
      TakeOrderedAndProject, decorrelated from insertion order).
      Ground truth is ``brute_force_topk_batch`` (ONE corpus scan
      serves every query); both sides break ties by id, so the
      comparison is deterministic.
    - ``probed_rows_frac``: mean fraction of store rows inside each
      query's ``n_probe`` nearest cells (``probe_cells`` expression
      joined to per-cell counts — distributed, never a per-query
      driver loop) — the read cost the same-cell/probe conventions
      actually pay.
    - ``mean_assigned_cosine``: the spherical-k-means objective over
      the whole store (quantizer fit).
    - ``max_mean_cell_ratio``: row-count imbalance, the exact form of
      the advisory's byte proxy.

    ``queries``: by default the sample is drawn from the STORE's own
    vectors (every query trivially self-matches — a constant 1/k on
    both sides of any comparison); pass a (query_id, query_vec)
    DataFrame to measure recall on the PRODUCTION query distribution
    instead (capped at ``n_queries`` by the same hash order).

    Cost: the brute-force truth is O(store × n_queries) dots — a
    DIAGNOSTIC bound by ``n_queries``, not a serving path.  Returns a
    plain dict."""
    from .similarity import brute_force_topk_batch, probe_cells

    idx = load_vector_index(spark, path)
    id_col, vec_col = idx.id_col, idx.vec_col
    store = idx.df
    src = (
        store.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("query_vec"),
        )
        if queries is None
        else queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vec_col).alias("query_vec"),
        )
    )
    queries = (
        src.select(
            F.xxhash64(F.col("query_id")).alias("_h"),
            "query_id",
            "query_vec",
        )
        .orderBy("_h", "query_id")
        .limit(n_queries)
        .drop("_h")
        # truth + ANN + probe map reuse it
        .transform(caching.waist, eager=True)
    )
    truth = (
        brute_force_topk_batch(
            queries, store.select(id_col, vec_col), k=k,
            id_col=id_col, vec_col=vec_col,
        )
        .groupBy("query_id")
        .agg(F.collect_set(id_col).alias("_truth"))
    )
    ann = (
        vector_index_topk_batch(
            idx, queries, k=k, n_probe=n_probe, use_pq=use_pq,
        )
        .groupBy("query_id")
        .agg(F.collect_set(id_col).alias("_got"))
    )
    [r] = (
        truth.join(ann, "query_id", "left")
        .select(
            F.avg(
                F.size(
                    F.array_intersect(
                        "_truth", F.coalesce("_got", F.array())
                    )
                )
                / F.least(F.size("_truth"), F.lit(k))
            ).alias("recall")
        )
        .collect()
    )
    recall = round(float(r["recall"]), 6)
    # PQ health (VERDICT r12 missing #6): ADC-vs-exact rank agreement
    # over the SAME probed cells — |ADC top-k ∩ exact top-k| / k per
    # query, averaged.  rerank_factor=1 makes the candidate pool
    # exactly the ADC ranking (the exact rerank can only reorder
    # those k ids, not change the set), so the comparison isolates
    # CODEBOOK fidelity: cell geometry, probe width, and store
    # contents are identical on both sides.  Codebooks encode raw
    # vectors frozen at train time, so a topically-drifted corpus
    # degrades exactly this number while the calibrated serving pool
    # hides it behind a widening rerank — this is the measured signal
    # for ``recenter --retrain-pq``.
    pq_agree = None
    if idx.codebooks is not None:
        exact_side = (
            vector_index_topk_batch(
                idx, queries, k=k, n_probe=n_probe, use_pq=False
            )
            .groupBy("query_id")
            .agg(F.collect_set(id_col).alias("_ex"))
        )
        adc_side = (
            vector_index_topk_batch(
                idx, queries, k=k, n_probe=n_probe, use_pq=True,
                rerank_factor=1,
            )
            .groupBy("query_id")
            .agg(F.collect_set(id_col).alias("_adc"))
        )
        [a] = (
            exact_side.join(adc_side, "query_id", "left")
            .select(
                F.avg(
                    F.size(
                        F.array_intersect(
                            "_ex", F.coalesce("_adc", F.array())
                        )
                    )
                    / F.least(F.size("_ex"), F.lit(k))
                ).alias("agree")
            )
            .collect()
        )
        pq_agree = round(float(a["agree"]), 6)
    pops = store.groupBy("cell").agg(F.count("*").alias("_n"))
    total = store.count()
    cents = idx.centroid_list()
    [p] = (
        queries.select(
            "query_id",
            F.explode(
                probe_cells(cents, "query_vec", n_probe)
            ).alias("cell"),
        )
        .join(pops, "cell", "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_n", F.lit(0))).alias("_probed"))
        .select(F.avg(F.col("_probed") / F.lit(total)).alias("f"))
        .collect()
    )
    cell_rows = [int(x["_n"]) for x in pops.collect()]
    return {
        "n_queries": queries.count(),
        "k": k,
        "n_probe": n_probe,
        "recall_at_k": recall,
        # None when the index has no PQ codebooks
        "pq_rank_agreement": pq_agree,
        "probed_rows_frac": round(float(p["f"]), 6),
        "mean_assigned_cosine": _mean_assigned_cosine(store, cents, vec_col),
        "n_cells": len(cents),
        "max_mean_cell_ratio": round(
            max(cell_rows) / (sum(cell_rows) / len(cell_rows)), 3
        )
        if cell_rows
        else 1.0,
        "rows": total,
    }


def harvest_canonical_vectors(
    spark: SparkSession,
    index_path: str,
    groups_store_path: str,
    scores: DataFrame | None = None,
    score_col: str = "score",
) -> DataFrame:
    """``components.harvest_canonical_store``'s twin for the
    embedding loop: the deduplicated VECTOR corpus from the vector
    index and the groups store the semantic ingest verb maintains —
    every indexed vector except the non-canonical members of resolved
    duplicate groups (same loser election, shared code: min-id label
    by default, best-score with ``scores``).

    Full-row duplicates (the replay residue ``compact_vector_index``
    reclaims) collapse here too; the index-internal ``cell`` and
    ``pq_code`` columns are dropped — the harvest is the corpus
    (id, embedding, ...), not the index layout.  One anti-join sized
    by the duplicate mass; returns the lazy relation, the caller owns
    the write."""
    from wrds_data_pipeline_spark.operators.components import (
        group_store_losers,
    )

    idx = load_vector_index(spark, index_path)
    losers = group_store_losers(
        spark, groups_store_path, idx.id_col,
        scores=scores, score_col=score_col,
    )
    return (
        idx.df.drop("cell", "pq_code")
        .dropDuplicates()
        .join(losers, idx.id_col, "left_anti")
    )
