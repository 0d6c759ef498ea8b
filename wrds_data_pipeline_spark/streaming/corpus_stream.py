"""Streaming corpus operators: dedup (exact / MinHash-LSH /
semantic), sessionization, and the foreachBatch escape hatch.

Beyond the reference's batch surface (SURVEY §2.10): a training-data
ingest pipeline is naturally a stream of documents/events.  The
native-plan twins:

- **exact dedup** (operators/dedup.exact_duplicates): in a stream,
  global dedup state is unbounded, so the production form is
  ``dropDuplicatesWithinWatermark`` keyed on the content fingerprint
  — the first arrival of each fingerprint passes through, repeats
  within the watermark horizon are dropped, and state is evicted once
  the watermark passes (bounded by the dedup horizon, not the corpus).
- **sessionization** (driver_queries.q33's lag + running-sum form):
  ``session_window(ts, gap)`` is the built-in incremental equivalent
  — state is one open session per key, windows emit when the
  watermark passes their close.

The persisted-index twins (``_run_indexed_stream``): MinHash-LSH
near-dedup (``streaming_near_dedup`` — per-batch band signatures
probe the accumulated band table) and SemDeDup
(``streaming_semantic_dedup`` — per-batch IVF assignment against the
pinned quantizer probes the accumulated per-cell vector index).
Both carry the exactly-once pair invariant: the union of per-batch
emissions equals the batch operator over the accumulated corpus,
each pair completed by whichever batch sees its later member.

Edge note on session gaps: the batch formulation starts a new session
when ``diff > gap``; ``session_window`` merges when ``diff < gap`` —
they disagree only when an inter-event gap equals the boundary
exactly (measure-zero for µs event time; pin the batch rule to ``>=``
if your data has quantized timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from wrds_data_pipeline_spark import caching
from wrds_data_pipeline_spark.operators.store_lock import store_write_locks

from wrds_data_pipeline_spark.functions.text import fingerprint

# _store_has_rows lives with the store machinery in the operators
# layer; the streaming module re-uses it (the dependency points this
# way, never operators→streaming)
from wrds_data_pipeline_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    _doc_store_shard,
    _pin_store_meta,
    _store_has_rows,
)


def streaming_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ingest_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-arrival-wins exact dedup over a document stream.

    Emits each first-seen fingerprint's full row immediately (append
    mode); duplicates arriving within ``watermark`` of the original
    are dropped.  State: one small row per fingerprint inside the
    horizon — eviction is what makes this run forever at 100 TB/day.
    """
    return (
        stream.withColumn("fingerprint", fingerprint(text_col))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def streaming_sessionize(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Incremental sessionization: one row per closed session with
    the same aggregate surface as the batch form (q33) — event count,
    duration, value sum."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), *key_cols)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                (F.unix_micros(F.max(ts_col)) - F.unix_micros(F.min(ts_col))) / 1e6, 6
            ).alias("duration_sec"),
            F.sum(value_col).alias("session_value"),
        )
        .select(
            *key_cols,
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "duration_sec",
            "session_value",
        )
    )


def _run_indexed_stream(
    spark,
    path: str,
    schema,
    index_dir: str,
    index_rows,
    pairs,
    empty_cols: list[str],
    max_files_per_trigger: int | None = None,
    index_select=None,
    checkpoint_dir: str | None = None,
    dedup_index: bool = False,
):
    """Shared persisted-index micro-batch harness for the incremental
    dedup twins: per batch, ``index_rows(bdf)`` derives the rows to
    index (band table / assigned vectors), ``pairs(rows, stored)``
    emits that batch's candidate pairs against the accumulated index,
    and the rows are appended to ``index_dir`` afterwards — so every
    pair is completed by exactly one batch.

    NOTE this harness manages ``index_dir`` with driver-local os
    calls, so it is LOCAL-FILESYSTEM-ONLY (an s3a://-style URI would
    silently probe an empty index).  At production scale the index is
    a transactional table (bucketed/partitioned by its probe key) —
    which also replaces the existence check with the catalog and
    prevents a failed batch double-appending rows (plain parquet
    append here is at-least-once; re-emitted pairs are idempotent
    under the downstream distinct / group-resolution, but the index
    would hold duplicate rows).  The index schema is whatever
    ``index_rows`` produces — in particular the id column keeps the
    stream's id type (long, string, ...), so non-long ids round-trip
    through the stored parquet unchanged.

    Returns the concatenated pandas of all emitted pairs."""
    import inspect
    import os

    import pandas as pd

    os.makedirs(index_dir, exist_ok=True)
    out: list = []
    _pairs_takes_batch = len(inspect.signature(pairs).parameters) >= 3

    def _sink(bdf: DataFrame, _epoch: int) -> None:
        if bdf.isEmpty():
            return
        with caching.PersistScope() as scope:
            rows = scope.persist(index_rows(bdf))
            # what gets APPENDED (and therefore what `stored` reads back):
            # by default the probe relation itself; twins whose probe
            # relation is richer than their membership index (paragraph
            # dedup: full paragraphs probed, distinct hashes stored) pass
            # index_select to shrink it
            to_index = index_select(rows) if index_select is not None else rows
            row_schema = to_index.schema
            # the shared probe (underscore/dot residue is not data): the
            # explicit read schema makes a false positive benign here,
            # but the check should not drift from its siblings'
            has_index = _store_has_rows(index_dir)
            stored = (
                bdf.sparkSession.read.schema(row_schema).parquet(index_dir)
                if has_index
                else bdf.sparkSession.createDataFrame([], row_schema)
            )
            # twins whose emitted rows need the raw batch (span dedup:
            # docs below the window width have no index rows but must
            # still be emitted) declare a 3-arg pairs(rows, stored, bdf)
            p = (
                pairs(rows, stored, bdf)
                if _pairs_takes_batch
                else pairs(rows, stored)
            ).toPandas()
            if len(p):
                out.append(p)
            if dedup_index:
                # membership indexes (paragraph/span hash sets): append
                # only hashes the store does not already hold — without
                # this a ubiquitous paragraph/gram re-appends once per
                # batch forever (the anti-join reads the same stored
                # relation the probe just scanned; at production scale
                # this is the transactional table's MERGE)
                to_index = to_index.join(
                    stored.select(*to_index.columns).distinct(),
                    on=list(to_index.columns),
                    how="left_anti",
                )
            to_index.write.mode("append").parquet(index_dir)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = reader.parquet(path).writeStream.foreachBatch(_sink)
    if checkpoint_dir is not None:
        # durable offset/seen-files log: a stopped run restarted with
        # the SAME checkpoint_dir resumes after the last committed
        # batch — already-processed input files are never re-read, so
        # their pairs are never re-emitted and their index rows never
        # re-appended (the restart-recovery contract,
        # tests/test_corpus_stream restart tests).  Without it each
        # call starts from scratch (the single-shot tests' mode).
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with store_write_locks([index_dir], 'streaming_indexed_dedup'):
        q = writer.start()
        q.processAllAvailable()
        q.stop()
    return (
        pd.concat(out, ignore_index=True)
        if out
        else pd.DataFrame(columns=empty_cols)
    )


def streaming_near_dedup(
    spark,
    path: str,
    schema,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    max_files_per_trigger: int | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    checkpoint_dir: str | None = None,
    mark_resolved: bool = False,
):
    """Streaming MinHash-LSH near-dedup: each micro-batch's documents
    are signature-banded ONCE, probed against the persisted corpus
    band table (``index_dir``) for cross-batch candidates plus the
    batch's own new-vs-new pairs, and then appended to the index —
    the streaming form of the batch incremental path
    (operators/dedup.incremental_lsh_candidates).

    Invariant (the parity test's contract): with globally-unique ids,
    the union of per-batch candidate pairs over any arrival order
    equals ``minhash_lsh_candidates`` over the accumulated corpus —
    every pair is emitted exactly once, by whichever batch completes
    it.  When a bucket's accumulated population crosses ``max_bucket``
    the contract weakens (by design) from pair-level to GROUP-level:
    hot buckets contribute star edges per batch (new members ↔ batch
    hub, batch hub ↔ stored hub), so connected components over the
    union equal the batch operator's components while per-bucket pair
    mass stays O(m) — see operators/dedup.DEFAULT_MAX_BUCKET.

    ``mark_resolved=True`` adds a boolean ``resolved`` column flagging
    hot-bucket star edges.  A consumer that Jaccard-verifies the
    emitted candidates MUST request it and thread it through
    ``jaccard_pairs(resolved_col=...)``: a star member carries ONE
    edge where the clique had m-1, so threshold-filtering unmarked
    star edges silently disconnects hot-bucket members (the same
    contract as the batch candidate operators and the probe-band
    CLI's ``--mark-resolved``).  NOTE that contract resolves star
    edges UNCONDITIONALLY — a popular-min-shingle degenerate bucket
    (dissimilar docs colliding on one viral shingle) wholesale-merges
    under it.  Continuous-ingest pipelines that verify should use
    ``streaming_near_dedup_verified``, which evidence-gates each hot
    bucket on the measured jaccard of its own star edges.

    Scale: per-batch cost is O(|batch|) signature work + a probe join
    sized by band-bucket collisions; the accumulated corpus is never
    re-hashed.  Index durability/filesystem caveats: see
    ``_run_indexed_stream``.

    Returns the concatenated pandas of all emitted (id_a, id_b) —
    plus the boolean ``resolved`` column when ``mark_resolved=True``.
    """
    from wrds_data_pipeline_spark.operators.dedup import (
        lsh_probe_bands,
        minhash_band_table,
    )

    return _run_indexed_stream(
        spark,
        path,
        schema,
        index_dir,
        index_rows=lambda bdf: minhash_band_table(
            bdf, id_col, text_col, k_shingle, n_hashes, bands
        ),
        pairs=lambda nb, bt: lsh_probe_bands(
            nb, bt, max_bucket=max_bucket,
            resolved_col="resolved" if mark_resolved else None,
        ),
        empty_cols=(
            ["id_a", "id_b", "resolved"]
            if mark_resolved
            else ["id_a", "id_b"]
        ),
        max_files_per_trigger=max_files_per_trigger,
        checkpoint_dir=checkpoint_dir,
    )


def streaming_near_dedup_verified(
    spark,
    path: str,
    schema,
    index_dir: str,
    docs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 12,
    bands: int = 4,
    max_files_per_trigger: int | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    star_accept_frac: float | None = 0.9,
    demoted_salvage_cap: int | None = 32,
    checkpoint_dir: str | None = None,
    docs_shards: int = 64,
    groups_dir: str | None = None,
    groups_shards: int = 64,
):
    """Streaming VERIFIED near-dedup — the continuous-ingest form of
    ``operators/dedup.near_dup_pairs``: each micro-batch is
    signature-banded ONCE, probed against the persisted band table,
    every candidate pair is verified with exact n-gram Jaccard
    against the persisted DOCS store, hot buckets are evidence-gated
    per bucket on the measured jaccard of their own star edges,
    demoted buckets get the salvage pass, and only then are the
    batch's bands and texts appended — so the popular-min-shingle
    degenerate bucket can no longer wholesale-merge dissimilar docs
    on the streaming path (``streaming_near_dedup``'s candidate
    contract resolves star edges unconditionally; see
    operators/dedup.gate_star_edges).

    Two persisted stores: ``index_dir`` (band table — the probe
    side) and ``docs_dir`` ((id, text) — the verification side).
    The docs store is parquet PARTITIONED by ``shard =
    xxhash64(id) % docs_shards`` (the build_band_index trick): per
    batch, the probe's candidate pairs are computed FIRST, the
    touched STORED ids' shard set is collected (bounded by
    ``docs_shards`` ints — driver-safe), and the verification read
    statically prunes to those partition directories — the
    accumulated corpus text is never fully scanned, let alone
    re-shingled (verification re-shingles only candidate-touched
    docs, semi-join-restricted on top of the pruned scan).  Both
    stores are driver-local parquet appends with the same
    LOCAL-FILESYSTEM-ONLY / at-least-once caveats as
    ``_run_indexed_stream`` — at production scale both are
    transactional tables.

    ``groups_dir``: optionally ALSO maintain the persisted
    duplicate-GROUP table per micro-batch (the loop's "resolve" step
    — ``operators/components.update_groups_store``): each batch's
    verified pairs update the (id, group_id) store incrementally,
    cross-batch merges relabeling transitively, idempotent under
    at-least-once replay.  Requires integral ids (checked before the
    stream starts).

    Returns the concatenated pandas of all emitted
    (id_a, id_b, jaccard) rows."""
    import os

    import pandas as pd

    from wrds_data_pipeline_spark.operators.dedup import (
        _verify_gate_candidates,
        lsh_probe_bands,
        minhash_band_table,
        minhash_signatures,
    )

    if groups_dir is not None:
        ftype = {f.name: f.dataType.simpleString() for f in schema.fields}[
            id_col
        ]
        if ftype not in ("tinyint", "smallint", "int", "bigint"):
            # refuse BEFORE the stream starts — a mid-stream refusal
            # would leave batches half-applied
            raise ValueError(
                f"streaming_near_dedup_verified: groups_dir requires "
                f"integral ids, got {id_col}:{ftype!r}"
            )
    if docs_shards < 1:
        raise ValueError(
            "streaming_near_dedup_verified: docs_shards must be >= 1, "
            f"got {docs_shards} (pmod(x, 0) is NULL — shard pruning "
            "would silently read nothing)"
        )
    os.makedirs(docs_dir, exist_ok=True)
    # Pin the hash/layout parameters to the stores, like the on-disk
    # band index's meta row (build_band_index): a restart with
    # different k/n/bands makes stored band hashes incomparable
    # (silently zero cross-batch candidates), and a different
    # docs_shards makes shard pruning read the WRONG partitions
    # (silently dropped pairs).  Driver-local json is fine under the
    # harness's LOCAL-FILESYSTEM-ONLY contract.
    _pin_store_meta(
        index_dir,
        {
            "k_shingle": k_shingle,
            "n_hashes": n_hashes,
            "bands": bands,
            "docs_shards": docs_shards,
        },
        "streaming_near_dedup_verified",
    )
    out: list = []

    _has_rows = _store_has_rows

    def _doc_shard(col):
        return _doc_store_shard(col, docs_shards)

    # the streaming index's retained-signature sidecar: a FLAT store
    # like index_dir itself, hidden inside it (underscore prefix — the
    # flat band read never lists it).  Presence-based activation with
    # the sig-before-bands append ordering, exactly the on-disk
    # index's contract (dedup._band_index_has_sigs): a store that
    # predates retention stays signature-less (never PARTIAL), and a
    # fresh store is signature-complete from batch one.  Restriction
    # at salvage time is the member semi-join (the flat twin has no
    # shard pruning on its band read either — it is the
    # lower-scale form by design).
    sigs_dir = f"{index_dir}/_signatures"

    def _sink(bdf: DataFrame, _epoch: int) -> None:
        if bdf.isEmpty():
            return
        ss = bdf.sparkSession
        with caching.PersistScope() as scope:
            sig = scope.persist(
                minhash_signatures(
                    bdf, id_col, text_col, k_shingle, n_hashes
                )
            )
            banded = scope.persist(
                minhash_band_table(
                    bdf, id_col, text_col, k_shingle, n_hashes, bands,
                    signatures=sig,
                )
            )
            sig_retained = (not _has_rows(index_dir)) or (
                os.path.isdir(sigs_dir) and _has_rows(sigs_dir)
            )
            stored_bands = (
                ss.read.schema(banded.schema).parquet(index_dir)
                if _has_rows(index_dir)
                else ss.createDataFrame([], banded.schema)
            )
            # probe FIRST (lineage-truncated once here; the shard
            # collect below and every verify/gate reference reuse the
            # computed relation)
            cands = lsh_probe_bands(
                banded, stored_bands, max_bucket=max_bucket, scope=scope,
                resolved_col="_resolved", carry_bucket=True,
            ).transform(caching.waist)
            docs_schema = bdf.select(id_col, text_col).schema
            if _has_rows(docs_dir):
                # stored ids touched by a candidate → their shard set
                # (new ids are anti-joined out — their shards would
                # de-prune the read for partitions that hold nothing
                # the verify needs)
                touched_old = (
                    cands.select(F.col("id_a").alias(id_col))
                    .unionByName(cands.select(F.col("id_b").alias(id_col)))
                    .join(bdf.select(id_col), id_col, "left_anti")
                )
                shards = [
                    r["s"]
                    for r in touched_old.select(
                        _doc_shard(F.col(id_col)).alias("s")
                    )
                    .distinct()
                    .collect()
                ]
                stored_docs = (
                    ss.read.parquet(docs_dir)
                    .filter(F.col("shard").isin(shards))
                    .select(id_col, text_col)
                )
            else:
                stored_docs = ss.createDataFrame([], docs_schema)
            def _sig_loader(ids):
                if not sig_retained:
                    return None
                stored_sigs = (
                    ss.read.schema(sig.schema).parquet(sigs_dir)
                    if os.path.isdir(sigs_dir) and _has_rows(sigs_dir)
                    else ss.createDataFrame([], sig.schema)
                )
                # replayed batches duplicate signature rows, and a
                # replayed id is in BOTH relations — dedup on the
                # members-restricted union (tiny)
                return (
                    sig.unionByName(stored_sigs)
                    .join(ids, "_id", "left_semi")
                    .dropDuplicates(["_id"])
                )

            p = _verify_gate_candidates(
                cands,
                bdf,
                stored_docs,
                id_col,
                text_col,
                k_shingle,
                threshold,
                n_hashes,
                bands,
                star_accept_frac,
                demoted_salvage_cap,
                scope,
                cands_truncated=True,
                signatures_loader=_sig_loader,
            ).toPandas()
            if len(p):
                out.append(p)
            # appends AFTER the pairs are computed: every pair is
            # completed by exactly one batch (the harness invariant).
            # Restart semantics (plain parquet append = at-least-once,
            # see _run_indexed_stream): a replayed batch re-appends
            # BOTH stores.  Duplicate band rows only inflate bucket
            # censuses (group-preserving — pairs dedup, the gate's
            # per-bucket fraction is value-identical over duplicated
            # edges); duplicate doc rows would corrupt jaccard, which
            # is why _verify_gate_candidates dropDuplicates the
            # touched docs subset.  Bands are appended FIRST so the
            # crash-between-appends replay parks its duplicate in the
            # band store (benign inflation) rather than the text
            # store (heavier rows, and correct only thanks to that
            # dedup guard).  Signatures land before their bands (the
            # retention-completeness ordering — an indexed id must
            # never lack its signature; see dedup._band_index_has_sigs).
            if sig_retained:
                sig.write.mode("append").parquet(sigs_dir)
            banded.write.mode("append").parquet(index_dir)
            bdf.select(id_col, text_col).withColumn(
                "shard", _doc_shard(F.col(id_col))
            ).repartition(F.col("shard")).write.mode("append").partitionBy(
                "shard"
            ).parquet(docs_dir)
            if groups_dir is not None and len(p):
                from wrds_data_pipeline_spark.operators.components import (
                    update_groups_store,
                )

                update_groups_store(
                    ss,
                    groups_dir,
                    ss.createDataFrame(p[["id_a", "id_b"]]),
                    n_shards=groups_shards,
                )

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = reader.parquet(path).writeStream.foreachBatch(_sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with store_write_locks([index_dir, docs_dir, groups_dir], 'streaming_near_dedup_verified'):
        q = writer.start()
        q.processAllAvailable()
        q.stop()
    return (
        pd.concat(out, ignore_index=True)
        if out
        else pd.DataFrame(columns=["id_a", "id_b", "jaccard"])
    )


def streaming_semantic_dedup(
    spark,
    path: str,
    schema,
    index_dir: str,
    centroids: list[tuple[int, list[float]]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hierarchical_assign: bool = False,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
):
    """Streaming SemDeDup: each micro-batch's embeddings are
    IVF-assigned ONCE against the pinned coarse quantizer
    (``centroids`` — in production built offline and versioned, like
    the MinHash band constants), compared within-cell against the
    persisted per-cell vector index for cross-batch near-pairs plus
    the batch's own new-vs-new pairs, then appended to the index —
    the embedding-space twin of ``streaming_near_dedup``.

    Invariant (the parity test's contract): with globally-unique ids,
    the union of per-batch (id_a, id_b, cell, cos_sim) over any
    arrival order equals batch
    ``operators.similarity.semantic_dup_pairs`` over the accumulated
    corpus — each pair is emitted exactly once, by whichever batch
    completes it (cell assignment is a pure function of (vector,
    centroids), so both members of a pair always land in the same
    cell regardless of arrival order).

    Scale: per-batch cost is O(|batch|) assignment (route through
    ``hierarchical_assign=True`` when the quantizer is large) plus a
    cell equi-join sized by the probed cells' populations; the
    accumulated corpus is never re-embedded or re-assigned.  The
    assigner closure — including the hierarchical path's driver-side
    super-cell k-means and the c×dim literal serialization — is built
    ONCE for the stream's lifetime, not per micro-batch (the
    quantizer is pinned, so per-batch rebuilds would be pure
    redundant driver+analysis work).  Index durability/filesystem
    caveats: see ``_run_indexed_stream``; at production scale the
    index table is partitioned by ``cell`` so the probe join prunes
    to the batch's cells.

    Returns the concatenated pandas of all emitted pairs.
    """
    from wrds_data_pipeline_spark.operators.similarity import (
        dot,
        exact_assigner,
        hierarchical_assigner,
        l2_norm,
    )

    assigner = (
        hierarchical_assigner(centroids, vec_col=vec_col)
        if hierarchical_assign
        else exact_assigner(centroids, vec_col=vec_col)
    )
    v = F.col(vec_col).cast("array<double>")

    def index_rows(bdf: DataFrame) -> DataFrame:
        return (
            assigner(bdf)
            .select("cell", F.col(id_col).alias("_id"), v.alias("_v"))
            .withColumn("_n", l2_norm(F.col("_v")))
        )

    def side(df: DataFrame, suffix: str) -> DataFrame:
        return df.select(
            "cell",
            F.col("_id").alias(f"id_{suffix}"),
            F.col("_v").alias(f"_v{suffix}"),
            F.col("_n").alias(f"_n{suffix}"),
        )

    def scored(a: DataFrame, b: DataFrame, cond) -> DataFrame:
        return (
            a.join(b, "cell")
            .filter(cond)
            .withColumn(
                "cos_sim",
                F.round(
                    dot(F.col("_va"), F.col("_vb"))
                    / (F.col("_na") * F.col("_nb")),
                    6,
                ),
            )
            .filter(F.col("cos_sim") >= threshold)
        )

    def pairs(assigned: DataFrame, stored: DataFrame) -> DataFrame:
        # cross-batch: cosine is symmetric, so compute it on the raw
        # sides and normalize the id order afterwards
        cross = scored(
            side(stored, "a"),
            side(assigned, "b"),
            F.col("id_a") != F.col("id_b"),
        ).select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "cell",
            "cos_sim",
        )
        within = scored(
            side(assigned, "a"),
            side(assigned, "b"),
            F.col("id_a") < F.col("id_b"),
        ).select("id_a", "id_b", "cell", "cos_sim")
        return cross.unionByName(within)

    return _run_indexed_stream(
        spark,
        path,
        schema,
        index_dir,
        index_rows=index_rows,
        pairs=pairs,
        empty_cols=["id_a", "id_b", "cell", "cos_sim"],
        max_files_per_trigger=max_files_per_trigger,
        checkpoint_dir=checkpoint_dir,
    )


def streaming_paragraph_dedup(
    spark,
    path: str,
    schema,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
):
    """Streaming keep-first paragraph dedup: each micro-batch's
    documents are exploded into paragraphs ONCE, paragraphs whose
    hash already sits in the persisted seen-hash index (``index_dir``)
    are dropped, within-batch copies resolve by min (doc, pos), the
    surviving documents are re-assembled and emitted, and the batch's
    distinct dedupable hashes are appended to the index — the
    streaming form of ``operators/boilerplate.paragraph_dedup``.

    Invariant (the parity test's contract): when increments arrive in
    (doc_id) order, the union of per-batch outputs equals the batch
    operator over the accumulated corpus.  Under other arrival orders
    the KEPT copy of a repeated paragraph is the first to ARRIVE
    (streaming has no other choice); the set of surviving paragraph
    hashes is arrival-order invariant.

    The stored index holds only distinct int64 hashes (not
    paragraphs), so it is a fraction of corpus size; a hash re-seen
    in a later batch is anti-joined away before the append
    (``dedup_index``), so the index holds each hash exactly once no
    matter how many batches carry it.
    Durability/filesystem caveats: see ``_run_indexed_stream``.

    Returns the concatenated pandas of all emitted
    (id, text, n_paragraphs, n_dropped) rows.
    """
    from wrds_data_pipeline_spark.operators.boilerplate import (
        _keep_first_paragraphs,
        _rebuild_paragraph_docs,
        paragraph_relation,
    )

    def index_rows(bdf: DataFrame) -> DataFrame:
        return paragraph_relation(bdf, id_col, text_col, min_chars)

    def dedup_batch(pars: DataFrame, stored: DataFrame) -> DataFrame:
        kept = _keep_first_paragraphs(pars, seen=stored)
        # the batch's documents = the distinct _ids of its own relation
        docs = pars.select(F.col("_id").alias(id_col)).distinct().withColumn(
            text_col, F.lit("")
        )
        out = _rebuild_paragraph_docs(docs, pars, kept, id_col, text_col)
        return out

    return _run_indexed_stream(
        spark,
        path,
        schema,
        index_dir,
        index_rows=index_rows,
        pairs=dedup_batch,
        empty_cols=[id_col, text_col, "n_paragraphs", "n_dropped"],
        max_files_per_trigger=max_files_per_trigger,
        index_select=lambda rows: rows.filter(~F.col("_bypass"))
        .select(F.col("_h").alias("h"))
        .distinct(),
        checkpoint_dir=checkpoint_dir,
        dedup_index=True,
    )


def streaming_span_dedup(
    spark,
    path: str,
    schema,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
):
    """Streaming duplicated-span removal: each micro-batch's k-token
    windows probe the persisted seen-gram-hash index; an instance is
    cut when its gram hash was seen in an earlier batch (every
    in-batch instance then cuts) or when it is a non-first in-batch
    occurrence of a new gram.  The batch's distinct gram hashes are
    appended afterwards — the streaming form of
    ``operators/spans.span_dedup``.

    Invariant (the parity test's contract): when increments arrive in
    (doc_id) order, the union of per-batch outputs equals the batch
    operator over the accumulated corpus — first-over-corpus is
    either an earlier arrival (hash stored) or the in-batch minimum.
    Docs below k tokens carry no window rows, so emission is driven
    from the raw batch (the 3-arg ``pairs`` form); they pass through
    verbatim like the batch operator.

    The stored index holds distinct int64 gram hashes — corpus token
    mass, the same order as the batch operator's shuffle; re-seen
    hashes are anti-joined away before the append (``dedup_index``),
    so each gram hash is stored exactly once across all batches.
    Durability/filesystem caveats: see ``_run_indexed_stream``.

    Returns the concatenated pandas of all emitted
    (id, text, n_tok_in, n_tok_removed) rows.
    """
    from wrds_data_pipeline_spark.operators.spans import (
        apply_span_cuts,
        non_first_windows,
        span_cuts,
        span_windows,
    )

    def index_rows(bdf: DataFrame) -> DataFrame:
        return span_windows(bdf, id_col, text_col, k)

    def dedup_batch(
        rows: DataFrame, stored: DataFrame, bdf: DataFrame
    ) -> DataFrame:
        seen = stored.select("h").distinct()
        dup_seen = rows.join(seen, "h", "left_semi").select("_id", "i")
        dup_new = non_first_windows(rows.join(seen, "h", "left_anti"))
        cuts = span_cuts(dup_seen.unionByName(dup_new), k)
        return apply_span_cuts(bdf, cuts, id_col, text_col)

    return _run_indexed_stream(
        spark,
        path,
        schema,
        index_dir,
        index_rows=index_rows,
        pairs=dedup_batch,
        empty_cols=[id_col, text_col, "n_tok_in", "n_tok_removed"],
        max_files_per_trigger=max_files_per_trigger,
        index_select=lambda rows: rows.select("h").distinct(),
        checkpoint_dir=checkpoint_dir,
        dedup_index=True,
    )


def run_stream_foreach_batch(
    spark,
    path: str,
    schema,
    batch_fn,
    max_files_per_trigger: int | None = None,
):
    """Apply full batch semantics per micro-batch via ``foreachBatch``
    — the streaming form of any *per-document-independent* batch
    operator.  Inside the callback each micro-batch is an ordinary
    batch DataFrame, so operators that need aggregation + anti-join
    (e.g. operators/contamination.decontaminate against a static
    benchmark — unsupported as a single append-mode streaming plan)
    run unchanged, and per-doc independence makes the union of
    per-batch outputs exactly the batch-over-everything result.

    This harness collects each batch's output as pandas and returns
    the concatenation; a production sink would write parquet/Kafka
    inside the callback instead.  Stateless scalar filters
    (gopher_keep, quality thresholds, redact_pii) do NOT need this —
    they stream natively (see the parity test).
    """
    import pandas as pd

    out: list = []

    def _sink(bdf: DataFrame, _epoch: int) -> None:
        pdf = batch_fn(bdf).toPandas()
        if len(pdf):
            out.append(pdf)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = reader.parquet(path).writeStream.foreachBatch(_sink).start()
    q.processAllAvailable()
    q.stop()
    return pd.concat(out, ignore_index=True) if out else pd.DataFrame()


def run_corpus_stream(
    spark,
    path: str,
    schema,
    build,
    query_name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Drive ``build(stream_df)`` over a staged parquet dir to
    completion via the memory sink (the local-smoke harness; see
    resample_stream.run_stream_over_parquet for the append-mode
    watermark-flush caveat)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        build(reader.parquet(path))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")


def streaming_semantic_ingest(
    spark,
    path: str,
    schema,
    index_path: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
    groups_store_path: str | None = None,
    groups_shards: int = 64,
    probe_cells: int = 1,
):
    """Streaming twin of ``vector_index.semantic_ingest_increment``
    against the PERSISTED cell-partitioned vector index (meta +
    centroids + optional PQ codes) — unlike ``streaming_semantic_
    dedup``, whose flat index_dir is the single-shot test shape, this
    maintains the store every other verb (build-vector,
    append-vector, ingest-vectors, query-vector, compact, harvest)
    interoperates with.

    Each micro-batch IS an ingest increment: the verb itself runs per
    batch (one code path — probe with the stored quantizer, canonical
    pairs materialized before the append, groups-store resolution,
    every refusal), so the stream inherits the verb's contracts:
    folding a corpus through any batch split emits the batch
    ``semantic_dup_pairs`` set under the stored centroids, and a
    replayed batch (checkpoint-less re-run, or a crash inside a
    batch) re-emits the same pairs and appends duplicate rows that
    ``compact_vector_index`` reclaims.  The per-batch
    ``load_vector_index`` re-collects the pinned centroid/meta
    relations — KBs by construction, and the quantizer never moves on
    append, so the reload is redundant work, not a correctness seam.

    The index must exist (build it from a seed corpus first): the
    quantizer has to be pinned BEFORE the stream starts — a
    first-batch-builds design would make every later assignment
    depend on arrival order.

    ``checkpoint_dir`` gives restart recovery exactly like the text
    twin: committed batches are never re-read, so their pairs are
    never re-emitted and their vectors never re-appended.

    ``probe_cells`` threads straight through to the verb (the recall
    knob over the same-cell convention's boundary blind spot); since
    the index must pre-exist here, it applies from the FIRST batch —
    no creation-call caveat.

    Returns the concatenated pandas of all emitted pairs."""
    import os

    import pandas as pd

    from wrds_data_pipeline_spark.operators.vector_index import (
        semantic_ingest_increment,
    )

    if not os.path.exists(os.path.join(index_path, "meta")):
        raise ValueError(
            f"streaming_semantic_ingest: no vector index at "
            f"{index_path!r} — build one from a seed corpus first "
            "(the quantizer must be pinned before the stream starts)"
        )
    out: list = []

    def _sink(bdf: DataFrame, _epoch: int) -> None:
        if bdf.isEmpty():
            return
        p = semantic_ingest_increment(
            bdf,
            index_path,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            groups_store_path=groups_store_path,
            groups_shards=groups_shards,
            probe_cells=probe_cells,
        ).toPandas()
        if len(p):
            out.append(p)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = reader.parquet(path).writeStream.foreachBatch(_sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with store_write_locks([index_path, groups_store_path], 'streaming_semantic_ingest'):
        q = writer.start()
        q.processAllAvailable()
        q.stop()
    return (
        pd.concat(out, ignore_index=True)
        if out
        else pd.DataFrame(columns=["id_a", "id_b", "cell", "cos_sim"])
    )


def streaming_tokenizer_stats(
    spark,
    path: str,
    schema,
    tokenizer_factory,
    text_col: str = "text",
    unk_id: int | None = None,
    stats_store: str | None = None,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
) -> dict:
    """Streaming twin of ``tokenize.tokenizer_corpus_stats`` — the
    eval verb over a LIVE ingest directory, the way the dedup/semantic
    verbs already stream: each micro-batch runs the same
    mapInPandas-partial aggregation the batch form runs (one code
    path) and contributes its four RAW SUMS; the derived ratios
    (bytes_per_token, unk_rate) are computed once over the running
    totals, never averaged across batches (a mean-of-ratios would
    weight a 10-doc batch like a 10M-doc one).

    Exactly-once totals under at-least-once execution: each batch's
    partial row is keyed by the stream's epoch id, and the final
    aggregate takes ONE row per epoch — a replayed batch (crash inside
    foreachBatch, checkpoint-less re-run) overwrites its own partial
    instead of double-counting, the additive-aggregate analogue of
    the dedup twins' tolerated-duplicate contract.  With
    ``stats_store`` the partials persist as parquet, so totals survive
    a restart and later runs keep accumulating (committed batches are
    never re-read under ``checkpoint_dir``, so their partials are
    never re-emitted); without it the partials live in this call.
    The store appends one tiny file per batch forever — reclaim with
    ``wrds-spark-index compact --flat-store`` (full-row dedup is safe
    here: distinct epochs are distinct rows, and a replayed epoch's
    partial is bit-identical).

    Returns {n_docs, n_tokens, n_bytes, n_unk, bytes_per_token,
    unk_rate} over everything seen so far."""
    from wrds_data_pipeline_spark.functions.tokenize import (
        tokenizer_corpus_stats,
    )

    if stats_store is not None and checkpoint_dir is None:
        # the exactly-once claim is the PAIR: the checkpoint keeps a
        # restart from re-reading committed files, the epoch-keyed
        # partials absorb within-run replays.  A store WITHOUT a
        # checkpoint double-counts across restarts — run 2 re-reads
        # everything with epoch ids restarting at 0 (and possibly
        # different batch boundaries), so its epoch-0 partial collides
        # with run 1's under the by-epoch dedup and an arbitrary row
        # wins.  Refuse rather than persist silently-wrong totals.
        raise ValueError(
            "streaming_tokenizer_stats: stats_store requires "
            "checkpoint_dir — persisted partials are keyed by the "
            "per-run epoch id, so a restart without a checkpoint "
            "re-reads all input under colliding epoch keys and the "
            "accumulated totals double-count (or arbitrarily drop) "
            "work. Pass checkpoint_dir (restarts resume after the "
            "last committed batch), or drop stats_store for a "
            "single-run eval."
        )

    partials: list[tuple[int, int, int, int, int]] = []

    def _sink(bdf: DataFrame, epoch: int) -> None:
        if bdf.isEmpty():
            return
        row = tokenizer_corpus_stats(
            bdf, tokenizer_factory, text_col=text_col, unk_id=unk_id
        ).first()
        rec = (
            int(epoch), int(row["n_docs"]), int(row["n_tokens"]),
            int(row["n_bytes"]), int(row["n_unk"]),
        )
        if stats_store is not None:
            spark.createDataFrame(
                [rec],
                "epoch long, n_docs long, n_tokens long, "
                "n_bytes long, n_unk long",
            ).coalesce(1).write.mode("append").parquet(stats_store)
        else:
            partials.append(rec)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = reader.parquet(path).writeStream.foreachBatch(_sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with store_write_locks([stats_store], 'streaming_tokenizer_stats'):
        q = writer.start()
        q.processAllAvailable()
        q.stop()

    if stats_store is not None:
        import os

        if not os.path.isdir(stats_store):
            rows = []
        else:
            rows = [
                (
                    int(r["epoch"]), int(r["n_docs"]), int(r["n_tokens"]),
                    int(r["n_bytes"]), int(r["n_unk"]),
                )
                for r in spark.read.parquet(stats_store).collect()
            ]
    else:
        rows = partials
    # one row per epoch: replayed partials are identical recomputes
    by_epoch = {r[0]: r for r in rows}
    n_docs = sum(r[1] for r in by_epoch.values())
    n_tokens = sum(r[2] for r in by_epoch.values())
    n_bytes = sum(r[3] for r in by_epoch.values())
    n_unk = sum(r[4] for r in by_epoch.values())
    return {
        "n_docs": n_docs,
        "n_tokens": n_tokens,
        "n_bytes": n_bytes,
        "n_unk": n_unk,
        "bytes_per_token": (
            round(n_bytes / n_tokens, 4) if n_tokens else None
        ),
        "unk_rate": round(n_unk / n_tokens, 6) if n_tokens else None,
    }


def streaming_media_dedup(
    spark,
    path: str,
    schema,
    store_path: str,
    max_hamming: int = 3,
    bands: int = 4,
    n_shards: int = 16,
    max_files_per_trigger: int | None = None,
    checkpoint_dir: str | None = None,
):
    """Streaming perceptual-hash media near-dup — the streaming twin
    of ``media_dedup.ingest_media_hashes``: each micro-batch's media
    is decoded and dhashed ONCE (the Arrow mapInPandas boundary),
    probed against the persisted media-hash store (statically
    shard-pruned), its internal near-dups found via the banded join,
    and its band rows appended — a continuous media crawl hashes
    each item exactly once, ever.

    ``schema`` may describe either raw media rows (binary ``content``
    — the decode runs in-stream) or precomputed ``(media_id, dhash)``
    rows (the decode ran upstream).

    Invariant (the parity test's contract): the union of per-batch
    pair outputs equals the batch ``hamming_near_dup_pairs`` over the
    accumulated corpus, with cross-batch pairs oriented (stored id,
    new id).  At-least-once replay re-emits a replayed batch's pairs
    and re-appends its band rows (benign: probes stay distinct;
    ``compact_media_store`` reclaims).

    The run takes ONE run-scoped single-writer lease on the store
    (refusing up front if a compact/ingest holds it); the per-batch
    inner ingest re-enters it, whichever thread foreachBatch lands
    on.  Returns the concatenated pandas of all emitted
    (id_a, id_b, hamming) rows.
    """
    import pandas as pd

    from wrds_data_pipeline_spark.multimodal import extract_dhash
    from wrds_data_pipeline_spark.operators.media_dedup import (
        ingest_media_hashes,
    )

    out: list = []

    def _sink(bdf: DataFrame, _epoch: int) -> None:
        if bdf.isEmpty():
            return
        hashes = bdf if "dhash" in bdf.columns else extract_dhash(bdf)
        p = ingest_media_hashes(
            hashes, store_path,
            bands=bands, max_hamming=max_hamming, n_shards=n_shards,
        ).toPandas()
        if len(p):
            out.append(p)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    writer = reader.parquet(path).writeStream.foreachBatch(_sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    with store_write_locks([store_path], "streaming_media_dedup"):
        q = writer.start()
        q.processAllAvailable()
        q.stop()
    return (
        pd.concat(out, ignore_index=True)
        if out
        else pd.DataFrame(columns=["id_a", "id_b", "hamming"])
    )
