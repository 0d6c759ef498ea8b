"""Sequence packing: assign documents to fixed-token-budget training
sequences (the "pack short documents into 4k-token rows" step every
LLM data pipeline runs between curation and tokenized-shard writing).

Semantics: greedy first-fit-in-order — walk documents in a
deterministic order, append each to the current sequence, and start a
new sequence when the document would overflow ``max_tokens``.
Documents longer than ``max_tokens`` are flagged oversize
(seq_id null) for the caller to truncate or drop.

Scale design — the naive plan is a global cumulative sum, i.e. one
unpartitioned window (the scale-killer this repo bans).  Instead:

1. **Distributed exclusive prefix sum**: range-repartition on the
   order key, per-partition cumsum (window partitioned by
   spark_partition_id), then add per-partition offsets.  The offset
   relation has exactly one row per partition — the only
   unpartitioned window runs over those ~10^2-10^3 rows, never the
   corpus.
2. **Chunking**: prefix sum / (max_tokens * chunk_bins) splits the
   ordered corpus into chunks of ~chunk_bins sequences' worth of
   tokens.  Sequences never cross chunks, so step 3 is embarrassingly
   parallel with bounded state.
3. **Exact greedy within each chunk**, entirely JVM-side: one
   hash-aggregate collects the chunk's (order, id, count) structs —
   ~chunk_bins * max_tokens tokens of *metadata*, ids and counts,
   not text — and an ``aggregate()`` fold replays the first-fit
   recurrence, accumulating only the sequence-boundary indices
   (bounded by 4*chunk_bins) so the fold stays linear even on a
   pathological many-tiny-docs chunk.  No Python anywhere in the
   packing path.

Cost of chunking vs a single global greedy pass: at most one extra
partially-filled sequence per chunk boundary.  With chunk_bins=64
that is <1.6% fill loss, and parity with global greedy is exact
whenever the corpus fits one chunk (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wrds_data_pipeline_spark import caching
from wrds_data_pipeline_spark.functions.text import bpe_ish_token_count, tokens


def _exclusive_prefix_sum(
    df: DataFrame, order_cols: list[str], val_col: str,
    check_unique: bool = True,
) -> DataFrame:
    """Adds ``_cum`` = sum of ``val_col`` over all rows strictly
    before this one in ``order_cols`` order.  Distributed: range
    partition -> local cumsum -> tiny offset join.  ``order_cols``
    must be a unique key: with ties, "strictly before" is ambiguous
    and the tied rows' prefix sums depend on arbitrary within-tie
    order — silently nondeterministic packing.  The default guard
    makes that impossible by construction: a ``lag`` comparison fused
    into the same cumsum window (equal keys share a range partition
    and sort adjacent, so the check is complete) raises on the first
    action that touches a duplicate — no extra job or shuffle.  A
    caller that has guaranteed uniqueness upstream can skip the
    per-row comparison with ``check_unique=False``."""
    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    df = df.repartitionByRange(p, *[F.col(c) for c in order_cols])
    df = df.withColumn("_pid", F.spark_partition_id())
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    cum = F.sum(val_col).over(w) - F.col(val_col)
    if check_unique:
        # Uniqueness guard fused into the SAME window pass (identical
        # partition + order spec → one WindowExec, no extra job or
        # shuffle): equal keys share a range partition and sort
        # adjacent, so a lag comparison is a complete duplicate check;
        # raise_error fires on the first action that touches the row.
        key = F.struct(*[F.col(c) for c in order_cols])
        dup = F.lag(key).over(w).eqNullSafe(key)
        cum = F.when(
            dup,
            F.raise_error(
                F.lit(
                    f"order_cols {order_cols} are not a unique key; "
                    "prefix-sum order (and therefore packing) would be "
                    "nondeterministic — deduplicate or add a tie-break "
                    "column"
                )
            ).cast("long"),
        ).otherwise(cum)
    df = df.withColumn("_cum_local", cum)
    totals = df.groupBy("_pid").agg(F.sum(val_col).alias("_ptot"))
    # one row per partition: this window is over ~p rows, not the data
    woff = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "_pid", F.coalesce(F.sum("_ptot").over(woff), F.lit(0)).alias("_off")
    )
    return df.join(F.broadcast(offsets), "_pid").withColumn(
        "_cum", F.col("_cum_local") + F.col("_off")
    ).drop("_pid", "_cum_local", "_off")


def pack_sequences(
    docs: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_col: str | None = None,
    order_col: str | None = None,
    chunk_bins: int = 64,
    scope=None,
) -> DataFrame:
    """(id, n_tokens, seq_id, seq_pos, oversize) — greedy packing of
    documents into sequences of at most ``max_tokens`` tokens.

    The chunk-assignment relation is cut at a ``caching.waist`` (under
    ``scope`` when given); on spot/preemptible fleets set a
    SparkContext checkpoint dir and the waist becomes a reliable
    checkpoint that survives executor loss.

    - ``token_col``: precomputed token counts; default derives
      bpe_ish_token_count(text_col).
    - ``order_col``: packing order (ties broken by id); default id.
    - seq_id is globally unique and increases with packing order;
      seq_pos is the document's position within its sequence.
    - Oversize docs (n_tokens > max_tokens) get seq_id null,
      oversize true; docs whose token count is null (null text) are
      routed the same way rather than silently dropped.
    """
    tok = (
        F.col(token_col)
        if token_col
        else bpe_ish_token_count(text_col)
    ).cast("long")
    if order_col:
        base = docs.select(
            F.col(id_col).alias("_id"),
            tok.alias("n_tokens"),
            F.col(order_col).alias("_ord"),
        )
        order_cols = ["_ord", "_id"]
    else:
        base = docs.select(F.col(id_col).alias("_id"), tok.alias("n_tokens"))
        order_cols = ["_id"]

    # null token counts (null text / nulls in a user token_col) route
    # to the unpackable branch — without the isNull arm they would
    # match NEITHER filter (three-valued logic) and silently vanish
    oversize = base.filter(
        (F.col("n_tokens") > max_tokens) | F.col("n_tokens").isNull()
    ).select(
        F.col("_id").alias(id_col),
        "n_tokens",
        F.lit(None).cast("long").alias("seq_id"),
        F.lit(None).cast("int").alias("seq_pos"),
        F.lit(True).alias("oversize"),
    )
    fit = base.filter(F.col("n_tokens") <= max_tokens)

    chunk_budget = max_tokens * chunk_bins
    fit = _exclusive_prefix_sum(fit, order_cols, "n_tokens")
    fit = fit.withColumn(
        "_chunk", (F.col("_cum") / F.lit(chunk_budget)).cast("long")
    )
    # lineage truncation at the chunk-assignment waist: the greedy
    # tail below is higher-order-function expressions, and Catalyst
    # re-derives the composed prefix-sum lineage under them per
    # action — measured ~7x on the whole query (the q43/q66 lesson:
    # any multiply-referenced relation feeding HOF lambdas needs
    # truncation at its waist).  eager=False keeps this lazy; the
    # relation is increment-sized metadata (id, count, chunk).  With
    # a caller scope it is also persisted: the tokenize + range-
    # partition sampling + prefix-sum window re-ran on every
    # invocation; a repeated invocation now re-reads the cache.
    fit = caching.waist(fit, scope)

    # greedy first-fit needs >= ceil(2*chunk_tokens/max)+1 ids per
    # chunk in the worst case (consecutive sequences sum > max); 4x
    # bins is comfortably above it and keeps seq_id monotone in order
    seqs_per_chunk = 4 * chunk_bins

    # Exact greedy within each chunk, ENTIRELY JVM-side (replacing
    # the former applyInPandas hop — ~600 tiny chunks at bench scale
    # cost ~2s of per-group Python/Arrow overhead, and this was the
    # packing path's only Python boundary).  One hash-aggregate
    # collects the chunk's (order, id, n_tokens) structs — metadata
    # only, the same bounded chunk the pandas frame used to hold —
    # array_sort restores packing order (order_cols lead the struct
    # and are unique, so trailing fields never tie-break), and a
    # single aggregate() fold replays the first-fit recurrence.
    # The accumulator carries only the sequence BOUNDARY indices
    # (bounded by seqs_per_chunk, hard-guarded below) plus the
    # running token count — appending per-element labels instead
    # would copy the accumulator array per element, quadratic on a
    # pathological many-tiny-docs chunk; labels derive from the
    # boundary array afterwards in one linear transform.
    extra = [] if "_id" in order_cols else ["_id"]
    doc_struct = F.struct(
        *[F.col(c) for c in (*order_cols, *extra, "n_tokens")]
    )
    per_chunk = fit.groupBy("_chunk").agg(
        F.array_sort(F.collect_list(doc_struct)).alias("_docs")
    )
    folded = F.aggregate(
        F.col("_docs"),
        F.struct(
            F.lit(0).alias("i"),
            F.lit(0).cast("long").alias("run"),
            F.array().cast("array<int>").alias("bnd"),
        ),
        lambda acc, x: F.struct(
            (acc["i"] + 1).alias("i"),
            F.when(
                (acc["run"] + x["n_tokens"] > max_tokens)
                & (acc["run"] > 0),
                x["n_tokens"],
            )
            .otherwise(acc["run"] + x["n_tokens"])
            .alias("run"),
            F.when(
                (acc["run"] + x["n_tokens"] > max_tokens)
                & (acc["run"] > 0),
                F.array_append(acc["bnd"], acc["i"]),
            )
            .otherwise(acc["bnd"])
            .alias("bnd"),
        ),
    )
    per_chunk = per_chunk.withColumn("_bnd", folded["bnd"])
    # element i's local seq = boundaries at or before it; its seq_pos
    # = distance from the latest such boundary (or from 0 in the
    # first sequence) — exactly the sequential walk's labels
    labels = F.transform(
        F.sequence(F.lit(0), F.size("_docs") - 1),
        lambda i: F.struct(
            F.size(F.filter(F.col("_bnd"), lambda b: b <= i)).alias(
                "seq"
            ),
            (
                i
                - F.coalesce(
                    F.array_max(
                        F.filter(F.col("_bnd"), lambda b: b <= i)
                    ),
                    F.lit(0),
                )
            ).alias("pos"),
        ),
    )
    zipped = F.zip_with(
        F.col("_docs"),
        labels,
        lambda d, s: F.struct(d.alias("d"), s.alias("s")),
    )
    exploded = per_chunk.select(
        "_chunk", F.explode(zipped).alias("e")
    )
    # namespace guard, the JVM form of the old assert: more sequences
    # than the id stride would alias seq_ids across chunks — corrupt
    # silently, so raise on the first action instead
    local_seq = F.when(
        F.col("e.s.seq") >= seqs_per_chunk,
        F.raise_error(F.lit("seq id namespace overflow")).cast("int"),
    ).otherwise(F.col("e.s.seq"))
    packed = exploded.select(
        F.col("e.d._id").alias(id_col),
        F.col("e.d.n_tokens").alias("n_tokens"),
        (
            F.col("_chunk") * seqs_per_chunk + local_seq
        ).cast("long").alias("seq_id"),
        F.col("e.s.pos").cast("int").alias("seq_pos"),
        F.lit(False).alias("oversize"),
    )
    return packed.unionByName(oversize)


def sequence_stats(packed: DataFrame, max_tokens: int) -> DataFrame:
    """Per-sequence fill statistics: (seq_id, n_docs, seq_tokens,
    fill_ratio).  Oversize (null-seq) rows are excluded."""
    return (
        packed.filter(F.col("seq_id").isNotNull())
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .withColumn(
            "fill_ratio",
            F.round(F.col("seq_tokens") / F.lit(max_tokens), 6),
        )
    )


def write_packed_shards(
    docs: DataFrame,
    packed: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_shards: int = 32,
) -> None:
    """Join the packing assignment back to the documents and write
    parquet sharded by contiguous seq_id ranges: sequences that train
    together are stored together, each output file covers a dense
    seq_id interval, and the write needs one range shuffle."""
    (
        docs.join(packed.filter(F.col("seq_id").isNotNull()), id_col)
        .repartitionByRange(n_shards, "seq_id", "seq_pos")
        .sortWithinPartitions("seq_id", "seq_pos")
        .write.mode("overwrite")
        .parquet(path)
    )


def chunk_documents(
    docs: DataFrame,
    max_tokens: int,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, chunk_id, n_chunk_tokens, chunk_text): split each document
    into token windows of at most ``max_tokens`` tokens starting every
    ``stride`` tokens — the long-document counterpart of
    ``pack_sequences`` (packing merges short docs, chunking splits
    long ones; a training pipeline runs chunking first, then packs the
    pieces).  ``stride < max_tokens`` gives overlapping windows
    (context-carryover chunking); the default ``stride = max_tokens``
    is a disjoint partition of the token list, so
    ``array_join(collect_list(chunk))`` in chunk_id order rebuilds the
    normalized document exactly.  Trailing windows may be short;
    zero-token documents produce no chunks.

    Scale: entirely row-local (explode of a per-row ``sequence`` of
    window starts + ``slice``) — no shuffle, no window, no UDF; chunk
    count per row is ⌈n/stride⌉ so output size is linear in corpus
    tokens even with overlap.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    stride = max_tokens if stride is None else stride
    if stride <= 0:
        raise ValueError(f"stride must be positive, got {stride}")
    toked = docs.select(
        F.col(id_col).alias("_id"),
        F.filter(tokens(text_col), lambda t: t != "").alias("_toks"),
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("_toks") - 1, F.lit(0)),
        F.lit(stride),
    )
    exploded = toked.select(
        "_id", "_toks", F.posexplode(starts).alias("chunk_id", "_start")
    )
    chunk = F.slice("_toks", F.col("_start") + 1, F.lit(max_tokens))
    return (
        exploded.select(
            F.col("_id").alias(id_col),
            "chunk_id",
            F.size(chunk).alias("n_chunk_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
        .filter(F.col("n_chunk_tokens") > 0)
    )
