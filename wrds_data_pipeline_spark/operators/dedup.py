"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup — all
partition-parallel, no driver-side state, designed so the candidate
generation (the quadratic part) is bounded by LSH bucketing rather
than all-pairs.

Portability note: every hash here is md5-based (available and
bit-identical in Spark and DuckDB), so each operator has an exact SQL
oracle.  At production scale you'd swap md5 for xxhash64 (~5× faster)
without changing any plan shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wrds_data_pipeline_spark import caching
from wrds_data_pipeline_spark.caching import PersistScope, materialize_release
from wrds_data_pipeline_spark.functions.text import fingerprint, word_shingles
from wrds_data_pipeline_spark.operators.store_lock import locked_store_verb


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by content fingerprint: one row per duplicate
    group with the canonical (min) id and the group size.  A single
    hash-aggregate — the map-side partial agg means only one record
    per (partition, fingerprint) shuffles."""
    return (
        docs.withColumn("fingerprint", fingerprint(text_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


# MinHash permutation constants: sig_i = min((A[i]*h + B[i]) mod M)
# over shingle hashes h.  Fixed literals so any engine (the DuckDB
# oracle included) reproduces signatures bit-for-bit.  M prime;
# A[i]*h < 1e18 stays inside int64.
MINHASH_MOD = 1_000_000_007
MINHASH_AB: tuple[tuple[int, int], ...] = tuple(
    ((2_654_435_761 * (i + 1)) % MINHASH_MOD, (40_503 * (i + 7)) % MINHASH_MOD)
    for i in range(16)
)


def shingle_hash_wide(shingle_col) -> "F.Column":
    """Shingle → 60-bit int64 (first 15 md5 hex chars, NO modulus):
    the hash for EXACT set membership (contamination, boilerplate),
    where the mod-1e9+7 MinHash space (~2^30) would produce false
    hits at corpus scale — 10^5 benchmark n-grams × 10^3 grams/doc
    gives ~10% false-contamination per doc at 2^30 vs ~10^-10 at
    2^60.  DuckDB twin: CAST(concat('0x', substr(md5(s),1,15)) AS
    BIGINT)."""
    h = F.conv(F.substring(F.md5(shingle_col.cast("binary")), 1, 15), 16, 10)
    return h.cast("bigint")


def shingle_hash(shingle_col) -> "F.Column":
    """Shingle → int64 mod MINHASH_MOD: the MinHash-arithmetic hash
    (products must stay inside int64).  Collisions at ~2^-30/pair are
    fine for *similarity estimates* — use shingle_hash_wide for exact
    membership.  (DuckDB twin: shingle_hash_wide's % 1000000007.)"""
    return shingle_hash_wide(shingle_col) % MINHASH_MOD


def _shingled(
    docs: DataFrame, id_col: str, text_col: str, k: int, hash_fn=None
) -> DataFrame:
    """(_id, h): distinct hashed k-shingles per document.  One md5 per
    shingle total — signatures/joins downstream are integer-only.

    The input is repartitioned first: document tables compress well,
    so a modest parquet file (one 128 MB scan split) can hold 10^5+
    docs whose shingling is CPU-bound — without the repartition all
    that tokenize+md5 work lands on one core.  The pre-shingle rows
    are tiny; the shuffle is cheap insurance.

    No post-explode distinct: word_shingles already array_distincts
    within each document, so (_id, shingle) pairs are unique by
    construction — a .distinct() here would re-shuffle every shingle
    row for nothing.  (Within-doc hash collisions could in principle
    produce duplicate (_id, h) pairs — P ≈ n²/2^61 per doc — the
    oracle mirrors by deduping shingle *strings* before hashing.)"""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism
    hash_fn = hash_fn or shingle_hash
    return (
        docs.repartition(par, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.explode(word_shingles(text_col, k)).alias("shingle"),
        )
        .select("_id", hash_fn(F.col("shingle")).alias("h"))
    )


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 12,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures, wide form: (_id, sig0..sig{n-1}).

    One aggregation computes all n mins (no per-seed explosion): the
    shuffle carries one row per doc and map-side partial agg has
    already collapsed each partition's shingles.

    ``shingles``: optionally a precomputed ``_shingled``-shaped
    relation (_id, h) — tokenize+md5 is the CPU-heavy stage of the
    whole near-dedup pipeline, and a caller composing candidate
    generation with Jaccard verification (near_dup_pairs) computes it
    once, persists it, and feeds both consumers; at cluster scale the
    same role is a materialized per-corpus shingle table.
    """
    sh = (
        shingles
        if shingles is not None
        else _shingled(docs, id_col, text_col, k_shingle)
    )
    aggs = [
        F.min((F.col("h") * a + b) % MINHASH_MOD).alias(f"sig{i}")
        for i, (a, b) in enumerate(MINHASH_AB[:n_hashes])
    ]
    return sh.groupBy("_id").agg(*aggs)


def minhash_band_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    shingles: DataFrame | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(_id, band, band_hash): the LSH banding relation — signatures
    split into ``bands`` bands of ``n_hashes/bands`` rows, one md5 per
    band.  This is the *index* of LSH dedup: materialize it (parquet,
    bucketed by (band, band_hash) at scale) once per corpus and each
    new ingest increment joins against it instead of recomputing
    signatures for the whole corpus (`incremental_lsh_candidates`).

    ``signatures``: optionally a precomputed ``minhash_signatures``
    relation (_id, sig0..sig{n-1}) — a caller that also needs the raw
    per-row values downstream (``near_dup_pairs``' demoted-bucket
    salvage) computes/persists it once and both consumers read the
    same relation instead of re-aggregating the shingle table."""
    rows_per_band = n_hashes // bands
    sig = (
        signatures
        if signatures is not None
        else minhash_signatures(
            docs, id_col, text_col, k_shingle, n_hashes, shingles=shingles
        )
    )
    # all bands in ONE pass over the signatures (a per-band union would
    # replay the whole shingle+signature pipeline once per band)
    band_structs = []
    for band in range(bands):
        cols = [f"sig{band * rows_per_band + j}" for j in range(rows_per_band)]
        band_structs.append(
            F.struct(
                F.lit(band).alias("band"),
                F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]).cast("binary")).alias("band_hash"),
            )
        )
    return sig.select(
        "_id", F.explode(F.array(*band_structs)).alias("_b")
    ).select("_id", F.col("_b.band").alias("band"), F.col("_b.band_hash").alias("band_hash"))


# Band-bucket population bound: a bucket holding m members emits
# m(m-1)/2 candidate pairs, and when the members are TRUE
# near-duplicates (the "viral boilerplate page with one varying token"
# regime — a constant feature of web corpora at 100 TB) those pairs
# all survive `distinct`, Jaccard verification, and the components
# edge list — AQE skew-split only balances the shuffle, it cannot
# reduce the pair mass.  Buckets over this population therefore
# contribute STAR edges (hub = min id ↔ each member, O(m)) whose
# connected components equal the clique's, never m²/2 pairs.  The
# bound is per-bucket — independent of corpus size — so a fixed
# constant is principled: worst-case pair mass per bucket is B²/2 ≈
# 32k at the default.  sf-scale fixtures max out at 16 members/bucket
# (measured), 16× under the default, so every registered oracle row
# is value-identical with the guard on.
#
# Whether a hot bucket's members really ARE one duplicate group is a
# separate question: a full-band collision at high density is strong
# but not conclusive evidence (the popular-min-shingle regime makes
# dissimilar short docs collide).  Candidate-level operators
# therefore only *emit* star edges (optionally flagged via
# resolved_col); the verified composition (near_dup_pairs)
# EVIDENCE-GATES each hot bucket on the measured jaccard of its star
# edges before resolving it — see near_dup_pairs' star_accept_frac.
DEFAULT_MAX_BUCKET = 256


def _lsh_candidate_split(
    banded: DataFrame,
    scope: PersistScope,
    max_bucket: int | None,
    eager_shortcircuit: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """Split candidate generation over a (persisted) band relation into
    ``(small_pairs, star_edges)``: buckets with population ≤
    ``max_bucket`` emit their full in-bucket pair set via the bucket
    self-join; buckets over it resolve directly to a duplicate group
    via star edges (see DEFAULT_MAX_BUCKET).  ``star_edges`` is None
    when ``max_bucket`` is None (unbounded legacy behavior).

    Two execution shapes, picked by the CALLER's cost structure:

    - ``eager_shortcircuit=False`` (default — candidate-only
      operators): the split stays fully LAZY — the census, anti-join,
      and star join are plan nodes that execute inside the caller's
      single job.  With zero hot buckets the star side is an empty
      broadcast join — near-free at runtime — and no extra job/driver
      sync is paid (measured: an eager census costs the candidate-only
      path ~2× at sf0.1, because materializing the band cache for the
      scalar un-fuses the whole shingle+signature pipeline from the
      pair join).
    - ``eager_shortcircuit=True`` (the verified composition,
      near_dup_pairs): one scalar aggregate over the persisted band
      relation decides hotness at plan-build time, and the common
      no-hot-bucket case drops the ENTIRE star/resolved superstructure
      from the downstream verification plan (pair-dedup groupBy,
      resolved threading, lost-pair anti-join, evidence gate) — which
      is where r7's census overhead actually lived.  The census job
      double-duties as the band-cache materialization the composition
      needs anyway, so its marginal cost is one tiny shuffle.

    Star edges carry their bucket key ``(band, band_hash)`` so a
    verifying caller can aggregate per-bucket acceptance evidence;
    pair-only consumers select id_a/id_b."""
    src = banded
    star = None
    if max_bucket is not None:
        # map-side-combined census — never a partitionBy(bucket)
        # window, which would put a hot bucket's rows in one task
        counts = banded.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_n"), F.min("_id").alias("_hub")
        )
        hot = None
        if eager_shortcircuit:
            # scalar max straight off the census subtree — the common
            # no-hot-bucket case persists NOTHING beyond the banded
            # cache this job materializes anyway (r8 persisted the full
            # per-bucket counts relation up front; at zero hot buckets
            # that cache was pure overhead — VERDICT r8 next #4).  When
            # the max IS over bound, the hot relation is rebuilt from a
            # fresh census pass over the (now cached) band relation —
            # one cheap extra scan on the rare path.
            max_row = counts.agg(F.max("_n").alias("m")).first()
            max_n = max_row["m"] if max_row is not None else None
            if max_n is not None and max_n > max_bucket:
                hot = scope.persist(
                    counts.filter(F.col("_n") > max_bucket).select(
                        "band", "band_hash", "_hub"
                    )
                )
        else:
            # persisted: read by both the anti-join and the star join;
            # ≤ |docs|·bands / max_bucket rows — tiny, AQE broadcasts
            hot = scope.persist(
                counts.filter(F.col("_n") > max_bucket).select(
                    "band", "band_hash", "_hub"
                )
            )
        if hot is not None:
            src = banded.join(
                hot.select("band", "band_hash"),
                ["band", "band_hash"],
                "left_anti",
            )
            star = (
                banded.join(hot, ["band", "band_hash"])
                .filter(F.col("_id") != F.col("_hub"))
                .select(
                    F.least("_hub", "_id").alias("id_a"),
                    F.greatest("_hub", "_id").alias("id_b"),
                    "band",
                    "band_hash",
                )
            )
    a = src.select(F.col("_id").alias("id_a"), "band", "band_hash")
    b = src.select(F.col("_id").alias("id_b"), "band", "band_hash")
    small = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return small, star


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    shingles: DataFrame | None = None,
    scope: PersistScope | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    resolved_col: str | None = None,
    carry_bucket: bool = False,
) -> DataFrame:
    """LSH candidate pairs: documents colliding on any band's hash are
    candidates.  The self-join is on (band, band_hash) — i.e. only
    within buckets, never all-pairs — and bucket populations over
    ``max_bucket`` contribute O(m) star edges instead of m²/2 clique
    pairs (see DEFAULT_MAX_BUCKET), so per-bucket pair mass is bounded
    regardless of how pathological the duplicate distribution is.

    Returns (id_a, id_b) with id_a < id_b, distinct.  Star edges from
    over-bound buckets preserve connected components exactly (a star
    and a clique on the same members have the same components), so
    group-level dedup downstream is unchanged; only the enumeration of
    every intra-cluster pair is elided.

    ``resolved_col``: optionally the name of a boolean output column
    marking hot-bucket star edges (True) vs ordinary bucket-join
    candidates (False).  Star edges are a GROUP-membership claim, not
    a verified pair: a downstream Jaccard verifier that
    threshold-filters them would silently disconnect hot-bucket
    members (a star member has ONE edge where the clique had m-1), so
    any consumer that verifies candidates must request this flag and
    thread it through ``jaccard_pairs(resolved_col=...)`` — exactly
    what ``near_dup_pairs`` does internally.  Default None keeps the
    legacy two-column schema.

    ``carry_bucket`` (requires ``resolved_col``): additionally keep
    ``(band, band_hash)`` on star edges (NULL on ordinary candidates,
    one row per hot bucket per star edge) so a verifying consumer can
    EVIDENCE-GATE each hot bucket instead of trusting it wholesale —
    thread the output through ``jaccard_pairs(resolved_col=...)`` and
    then ``gate_star_edges`` (or compose via
    ``incremental_near_dup_pairs`` / ``near_dup_pairs``, which do this
    internally).  Without the bucket key a consumer CANNOT apply the
    gate downstream — the popular-min-shingle degenerate-bucket regime
    (see near_dup_pairs) would wholesale-merge dissimilar docs.

    ``scope``: caller-owned cache lifecycle (see caching.PersistScope)
    — result stays lazy, caller releases.  Without it the candidate
    relation is materialized eagerly and the band-table cache freed
    before returning.
    """
    own = scope is None
    scope = scope or PersistScope()
    banded = minhash_band_table(
        docs, id_col, text_col, k_shingle, n_hashes, bands, shingles=shingles
    )
    # persist: the bucket self-join reads `banded` twice (plus the
    # census), and each un-persisted read replays the full
    # shingle+signature pipeline (the expensive part).  One row per
    # (doc, band) — tiny.
    banded = scope.persist(banded)
    small, star = _lsh_candidate_split(banded, scope, max_bucket)
    out = _union_candidates(small, star, resolved_col, carry_bucket)
    return materialize_release(out, scope) if own else out


def _union_candidates(
    small: DataFrame,
    star: DataFrame | None,
    resolved_col: str | None,
    carry_bucket: bool = False,
) -> DataFrame:
    """Union bucket-join pairs with (bucket-keyed) star edges into the
    distinct candidate relation; with ``resolved_col`` the distinct
    becomes a max-per-pair aggregate so a pair that is BOTH a small
    candidate and a star edge stays marked resolved.

    ``carry_bucket`` (requires ``resolved_col``): keep ``(band,
    band_hash)`` on star edges — one row PER bucket a star edge
    belongs to (the per-bucket acceptance evidence ``gate_star_edges``
    aggregates), NULL bucket keys on ordinary candidates.  A pair that
    is both a small candidate and a star edge appears once flat plus
    once per hot bucket; pair-level consumers dedup (jaccard_pairs'
    candidate aggregate already does)."""
    if carry_bucket:
        if resolved_col is None:
            raise ValueError("carry_bucket requires resolved_col")
        flat = small.distinct().select(
            "id_a",
            "id_b",
            F.lit(False).alias(resolved_col),
            F.lit(None).cast("int").alias("band"),
            F.lit(None).cast("string").alias("band_hash"),
        )
        if star is None:
            return flat
        return flat.unionByName(
            star.select(
                "id_a", "id_b", F.lit(True).alias(resolved_col),
                "band", "band_hash",
            )
        )
    if star is not None:
        star = star.select("id_a", "id_b")
    if resolved_col is None:
        out = small if star is None else small.unionByName(star)
        return out.distinct()
    tagged = small.withColumn(resolved_col, F.lit(False))
    if star is not None:
        tagged = tagged.unionByName(star.withColumn(resolved_col, F.lit(True)))
    return tagged.groupBy("id_a", "id_b").agg(
        F.max(resolved_col).alias(resolved_col)
    )


def incremental_lsh_candidates(
    new_docs: DataFrame,
    band_table: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    scope: PersistScope | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    resolved_col: str | None = None,
    carry_bucket: bool = False,
) -> DataFrame:
    """Candidate pairs for a NEW ingest increment against an existing
    corpus, without touching the existing corpus's text: signatures
    are computed for the increment only and joined against the
    corpus's materialized ``band_table`` (minhash_band_table output,
    same k/n/bands), plus the increment's own new-vs-new self-join.

    Returns (id_a, id_b), id_a < id_b, distinct — below the bucket
    bound, exactly the pairs `minhash_lsh_candidates(old ∪ new)` would
    emit minus the old-vs-old pairs (already resolved in previous
    runs); buckets over ``max_bucket`` contribute star edges instead
    (group membership preserved — see ``lsh_probe_bands``).  Ids must
    be globally unique across increments (caller's contract).

    Scale: per-ingest cost is O(|increment|) signature work plus a
    join sized by bucket collisions.  With the band table bucketed by
    (band, band_hash) at write time, the probe join needs no shuffle
    of the stored side — the index amortizes across every future
    increment, which is the point: a daily crawl never re-hashes the
    accumulated 100 TB corpus.
    """
    own = scope is None
    scope = scope or PersistScope()
    new_banded = scope.persist(
        minhash_band_table(new_docs, id_col, text_col, k_shingle, n_hashes, bands)
    )
    out = lsh_probe_bands(
        new_banded, band_table, max_bucket=max_bucket, scope=scope,
        resolved_col=resolved_col, carry_bucket=carry_bucket,
    )
    return materialize_release(out, scope) if own else out


def lsh_probe_bands(
    new_banded: DataFrame,
    band_table: DataFrame,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    scope: PersistScope | None = None,
    resolved_col: str | None = None,
    carry_bucket: bool = False,
) -> DataFrame:
    """The band-level half of ``incremental_lsh_candidates``: candidate
    pairs of a precomputed increment band relation (minhash_band_table
    output) against the stored corpus band table, plus the increment's
    new-vs-new self-join.  Split out so a caller that also needs to
    *store* the increment's bands (the streaming ingest path,
    streaming/corpus_stream.streaming_near_dedup) computes the
    signature pipeline exactly once per document.

    The bucket-population bound applies to the COMBINED (stored ∪
    increment) population of each probed bucket: over ``max_bucket``,
    the bucket contributes star edges — each new member to the
    increment's hub (min new id), plus one bridge edge hub_new ↔
    hub_old connecting the increment to the group the stored members
    already belong to (they were interconnected when THEY were the
    increment) — never old-vs-old edges, and never m²/2 pairs.  Group
    membership across increments is preserved exactly; see
    DEFAULT_MAX_BUCKET.

    The stored side is first restricted (left-semi) to the increment's
    bucket keys, so the bucket census only ever scans what the probe
    join would read anyway — stored buckets the increment doesn't
    touch are never counted.  The census stays LAZY on this path (no
    plan-build scalar): with zero hot buckets its anti-join and star
    join execute as empty broadcast joins inside the probe's single
    job — measured cheaper than an eager short-circuit, whose scalar
    read un-fuses the probe pipeline into two jobs.

    ``resolved_col``: optionally mark star edges True in a boolean
    output column — REQUIRED by any consumer that Jaccard-verifies
    these candidates (a star member has one edge, not m-1; threshold-
    filtering unmarked star edges silently disconnects hot-bucket
    members).  See ``minhash_lsh_candidates``.

    ``carry_bucket``: keep ``(band, band_hash)`` on star edges so the
    verifying consumer can ALSO evidence-gate each hot bucket
    (gate_star_edges) instead of resolving it wholesale — the verified
    ingest composition (``incremental_near_dup_pairs``,
    ``probe_band_index_verified``, ``streaming_near_dedup_verified``)
    does exactly this.  See ``minhash_lsh_candidates``.
    """
    own = scope is None
    scope = scope or PersistScope()
    # no .distinct() on the key side: left-semi semantics don't need
    # it, and a distinct's aggregate would pre-partition the keys at
    # spark.sql.shuffle.partitions — making EnsureRequirements
    # re-shuffle the STORED side of the semi-join instead of reusing a
    # bucketed index's layout (measured: 3 exchanges vs 2, with the
    # extra one on the 100 TB side)
    keys = new_banded.select("band", "band_hash")
    old_hit = (
        band_table.select("_id", "band", "band_hash")
        .join(keys, ["band", "band_hash"], "left_semi")
    )
    # one tagged relation feeds census, pair self-join and star join —
    # persisted so the stored-side probe scan happens once
    comb = scope.persist(
        new_banded.select("_id", "band", "band_hash")
        .withColumn("_new", F.lit(True))
        .unionByName(old_hit.withColumn("_new", F.lit(False)))
    )
    star = None
    src = comb
    if max_bucket is not None:
        # LAZY shape (see _lsh_candidate_split): the census, anti-join,
        # and star join stay plan nodes inside the caller's single job
        # — with zero hot buckets the star side is an empty broadcast
        # join, and no extra job/driver sync is paid on the probe path
        counts = comb.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.when(F.col("_new"), F.col("_id"))).alias("_hub_new"),
            F.min(F.when(~F.col("_new"), F.col("_id"))).alias("_hub_old"),
        )
        # every comb bucket has ≥1 new member (old side is semi-joined
        # on the increment's keys), so _hub_new is never null.
        # persisted: read by the anti-join and the star join — one row
        # per over-bound probed bucket, tiny, AQE broadcasts it
        hot = scope.persist(
            counts.filter(F.col("_n") > max_bucket).select(
                "band", "band_hash", "_hub_new", "_hub_old"
            )
        )
        src = comb.join(
            hot.select("band", "band_hash"),
            ["band", "band_hash"],
            "left_anti",
        )
        # star edges keep their bucket key so a verifying caller
        # (carry_bucket) can aggregate per-bucket acceptance evidence;
        # pair-only output drops it in _union_candidates
        star_new = (
            comb.join(hot, ["band", "band_hash"])
            .filter(F.col("_new") & (F.col("_id") != F.col("_hub_new")))
            .select(
                F.least("_hub_new", "_id").alias("id_a"),
                F.greatest("_hub_new", "_id").alias("id_b"),
                "band",
                "band_hash",
            )
        )
        star_bridge = (
            hot.filter(F.col("_hub_old").isNotNull())
            .select(
                F.least("_hub_old", "_hub_new").alias("id_a"),
                F.greatest("_hub_old", "_hub_new").alias("id_b"),
                "band",
                "band_hash",
            )
        )
        star = star_new.unionByName(star_bridge)
    a = src.select(
        F.col("_id").alias("id_a"), F.col("_new").alias("_new_a"), "band", "band_hash"
    )
    b = src.select(
        F.col("_id").alias("id_b"), F.col("_new").alias("_new_b"), "band", "band_hash"
    )
    pairs = (
        a.join(b, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.col("_new_a") | F.col("_new_b"))
        .select("id_a", "id_b")
    )
    out = _union_candidates(pairs, star, resolved_col, carry_bucket)
    return materialize_release(out, scope) if own else out


def jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    scope: PersistScope | None = None,
    resolved_col: str | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity pairs ≥ threshold.

    Without ``candidates``: inverted-index join (pairs sharing ≥1
    shingle) — exact but fans out on common shingles.  With
    ``candidates`` (e.g. from LSH): verification is restricted to the
    candidate set — the scale path.  ``shingles``: precomputed
    (_id, h) relation (see minhash_signatures) so the LSH→verify
    composition hashes each document once.

    ``resolved_col``: name of a boolean column on ``candidates``
    marking pairs already RESOLVED as duplicates (hot-bucket star
    edges, DEFAULT_MAX_BUCKET) — resolved pairs bypass the size-ratio
    prune and the threshold filter but still get their true measured
    jaccard, all inside the ONE verification subtree (a separate
    unverified pass would double the shingle-join plan).
    Returns (id_a, id_b, jaccard).
    """
    from pyspark.sql.window import Window as W

    own = scope is None
    scope = scope or PersistScope()
    sh = (
        shingles
        if shingles is not None
        else _shingled(docs, id_col, text_col, k_shingle)
    )

    if candidates is not None:
        # Candidate-DRIVEN verification (the scale path): start from
        # the (small, LSH-bounded) candidate pairs and attach each
        # side's full shingle-hash SET as an array, computing
        # |A∩B| per pair with a JVM ``array_intersect`` — the
        # inverted-index h-self-join's quadratic fan-out on common
        # shingles never happens, and (since r14) neither does the
        # old per-(pair, shingle) explode join: that shape shipped
        # each doc's shingles once PER CANDIDATE PAIR through a
        # (id_b, h) exchange plus a per-pair aggregation exchange,
        # where the array shape ships each doc's shingle set ONCE per
        # join side and finishes with zero post-join exchanges (guide
        # §2.3 "shuffle keys and metadata", §8 "move heavy bytes
        # once"; measured at sf0.1: the q26 verify stage lost 3
        # exchanges and the whole-plan wall dropped ~25%).  A pair
        # with an empty intersection keeps a row (n_inter=0), so the
        # resolved-pair restoration anti-join the explode shape
        # needed is gone too.  Size-ratio prune (jaccard ≤
        # min(n)/max(n)) drops hopeless pairs before the arrays are
        # compared.  The per-doc array is the doc's distinct shingle
        # set — bounded by document length, the same row width the
        # signature aggregation already carries.
        if shingles is None:
            # read 2× below (a-side, b-side)
            sh = scope.persist(sh)
        # one aggregation per doc: shingle set + its size.  sh is
        # hash-partitioned by _id (see _shingled), so this
        # aggregates without an exchange; element order in the
        # array is irrelevant (array_intersect hashes one side).
        arrs = sh.groupBy("_id").agg(
            F.collect_list("h").alias("_hs"), F.count(F.lit(1)).alias("n")
        )
        # pair-level dedup: the old left_semi restriction was
        # idempotent under duplicate candidate rows; the
        # candidate-driven join is not (each duplicate would
        # double-count the pair downstream).  With a resolved flag
        # the dedup is max-per-pair (a pair both verified and
        # resolved stays resolved).
        if resolved_col is not None:
            cand = (
                candidates.select("id_a", "id_b", resolved_col)
                .groupBy("id_a", "id_b")
                .agg(F.max(resolved_col).alias("_res"))
            )
        else:
            cand = candidates.select("id_a", "id_b").distinct().withColumn(
                "_res", F.lit(False)
            )
        c = (
            cand
            .join(
                arrs.select(
                    F.col("_id").alias("id_a"),
                    F.col("_hs").alias("_ha"),
                    F.col("n").alias("n_a"),
                ),
                "id_a",
            )
            .join(
                arrs.select(
                    F.col("_id").alias("id_b"),
                    F.col("_hs").alias("_hb"),
                    F.col("n").alias("n_b"),
                ),
                "id_b",
            )
        )
        if threshold > 0:
            c = c.filter(
                F.col("_res")
                | (
                    F.least("n_a", "n_b")
                    >= F.greatest("n_a", "n_b") * F.lit(threshold)
                )
            )
        # per-doc hashes are distinct by construction (see _shingled),
        # so the intersection size equals the match count the old
        # explode join aggregated.  A resolved pair sharing NO
        # shingle (full band-hash collision without one shared
        # shingle — minhash coincidence) gets n_inter=0 → jaccard
        # 0.0 naturally, never vanishing from the relation.
        inter = c.select(
            "id_a", "id_b", "n_a", "n_b", "_res",
            F.size(F.array_intersect("_ha", "_hb")).alias("n_inter"),
        ).filter((F.col("n_inter") > 0) | F.col("_res"))
        # ^ zero-intersection unresolved pairs never appeared in the
        # explode shape's inner join — preserved exactly (visible
        # only at threshold=0, where jaccard 0.0 would pass the
        # final filter)
    else:
        # Exact inverted-index join on the int64 shingle hash (not the
        # string) — ~10× smaller shuffle payload; collisions at 1e-9
        # scale are acceptable for a similarity measure (and mirrored
        # exactly by the oracle).  Shingle-set sizes ride along on each
        # side so the size-ratio bound prunes hopeless pairs BEFORE the
        # per-pair aggregation.  The size comes from a window count (sh
        # is already hash-partitioned by _id, so no shuffle and no
        # doc-count-sized broadcast), and the result is persisted: the
        # h self-join reads the same relation twice, and without the
        # persist Spark replays the whole tokenize+shingle+md5 subtree
        # per side (~3× the CPU).  At cluster scale the same role is
        # played by materializing the shingle table to parquet once.
        shn = scope.persist(
            sh.withColumn("n", F.count(F.lit(1)).over(W.partitionBy("_id")))
        )
        a = shn.select(F.col("_id").alias("id_a"), "h", F.col("n").alias("n_a"))
        b = shn.select(F.col("_id").alias("id_b"), "h", F.col("n").alias("n_b"))
        pairs = a.join(b, "h").filter(F.col("id_a") < F.col("id_b"))
        if threshold > 0:
            pairs = pairs.filter(
                F.least("n_a", "n_b") >= F.greatest("n_a", "n_b") * F.lit(threshold)
            )
        inter = pairs.groupBy("id_a", "id_b", "n_a", "n_b").agg(
            F.count(F.lit(1)).alias("n_inter")
        )

    out = inter.withColumn(
        "jaccard",
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
    )
    keep = F.col("jaccard") >= threshold
    if "_res" in out.columns:
        keep = keep | F.col("_res")
    out = out.filter(keep).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )
    return materialize_release(out, scope) if own else out


def _star_bucket_fractions(
    scored: DataFrame, star_edges: DataFrame, threshold: float
) -> DataFrame:
    """(band, band_hash, _frac): per hot bucket, the fraction of its
    star edges whose measured jaccard meets the threshold — the
    acceptance evidence both the gate and the demotion list read.

    The join is LEFT from the star edges, and an edge with no score
    row counts as FAILING: the join is total when ``scored`` came
    from ``jaccard_pairs(resolved_col=...)`` over candidates
    containing the star edges (resolved pairs always survive
    verification, zero-intersection ones restored at jaccard 0.0) —
    but when the verification text store is INCOMPLETE (a coverage-
    contract violation), edges whose stored doc is missing have no
    score, and counting only the present edges could flip a bucket's
    fate to ACCEPT (e.g. the missing half would all have failed).
    Missing evidence therefore counts against the bucket — an
    incomplete store can only cost recall, never cause a merge."""
    return (
        star_edges.select("id_a", "id_b", "band", "band_hash")
        .join(scored, ["id_a", "id_b"], "left")
        .groupBy("band", "band_hash")
        .agg(
            F.avg(
                F.coalesce(
                    F.col("jaccard") >= F.lit(threshold), F.lit(False)
                ).cast("double")
            ).alias("_frac")
        )
    )


def _gate_and_demote(
    scored: DataFrame,
    star_edges: DataFrame,
    threshold: float,
    accept_frac: float,
    scope: PersistScope | None = None,
    eager_demote: bool = False,
) -> tuple[DataFrame, DataFrame | None]:
    """One-pass form of the gate for the verified compositions:
    returns ``(gated_pairs, demoted_buckets)`` off a SINGLE per-bucket
    fraction aggregation (the public ``gate_star_edges`` +
    ``demoted_star_buckets`` pair would run it twice — once per
    call).

    ``eager_demote=True`` (requires ``scope``) persists the tiny
    per-bucket fraction relation and answers "did ANY bucket demote?"
    as a scalar at plan-build time, returning ``demoted=None`` when
    the answer is no — so the caller can skip attaching the salvage
    subtree entirely in the common all-buckets-accepted case instead
    of paying the sub-bucketing/census/verify plan as always-on
    insurance (the r9 q43 regression).  The scalar runs off the
    already-persisted ``scored``/``star_edges``, so it materializes
    work the composition's first job needed anyway."""
    if not 0 < accept_frac <= 1:
        # a fraction the per-bucket average can never reach (>1) would
        # silently demote EVERY bucket; ≤0 would accept every bucket
        # unconditionally — both are the legacy regimes this gate
        # exists to replace, so refuse rather than degrade
        raise ValueError(
            f"accept_frac must be in (0, 1], got {accept_frac}; "
            "pass star_accept_frac=None for the legacy unconditional "
            "resolution"
        )
    fr = _star_bucket_fractions(scored, star_edges, threshold)
    if eager_demote:
        # one row per hot bucket — tiny; read by the accepted filter,
        # the demoted filter, and the any-demoted scalar below
        fr = scope.persist(fr)
    accepted_buckets = fr.filter(F.col("_frac") >= F.lit(accept_frac)).select(
        "band", "band_hash"
    )
    demoted = fr.filter(F.col("_frac") < F.lit(accept_frac)).select(
        "band", "band_hash"
    )
    if eager_demote and demoted.first() is None:
        demoted = None
    # an edge sitting in ≥1 accepted bucket is kept resolved; the
    # inner join against scored means an accepted edge with NO score
    # row (missing text) is still never emitted — membership for
    # missing docs is lost (recall), never invented (precision)
    accepted_edges = (
        star_edges.select("id_a", "id_b", "band", "band_hash")
        .join(accepted_buckets, ["band", "band_hash"], "left_semi")
        .select("id_a", "id_b")
        .distinct()
    )
    gated = (
        scored.join(
            accepted_edges.withColumn("_acc", F.lit(True)),
            ["id_a", "id_b"],
            "left",
        )
        .filter(
            (F.col("jaccard") >= F.lit(threshold)) | F.col("_acc").isNotNull()
        )
        .select("id_a", "id_b", "jaccard")
    )
    return gated, demoted


def gate_star_edges(
    scored: DataFrame,
    star_edges: DataFrame,
    threshold: float,
    accept_frac: float = 0.9,
) -> DataFrame:
    """Evidence-gate hot-bucket star edges AFTER verification — the
    public form of the gate ``near_dup_pairs`` applies internally, for
    consumers composing the candidate-level surfaces themselves (the
    continuous-ingest loop: probe → verify → gate → append).

    ``scored``: (id_a, id_b, jaccard) from ``jaccard_pairs(...,
    resolved_col=...)`` over candidates that INCLUDED the star edges —
    i.e. every star edge is present with its true measured jaccard
    (resolved pairs bypass the threshold inside jaccard_pairs).
    ``star_edges``: (id_a, id_b, band, band_hash) — hot-bucket star
    edges WITH their bucket key (``carry_bucket=True`` on any
    candidate surface; filter ``band IS NOT NULL`` + the resolved
    flag).

    Per bucket, the fraction of its star edges meeting ``threshold``
    decides its fate: ≥ ``accept_frac`` resolves the bucket (every
    star edge kept — a true near-dup cluster where a sampled spoke can
    still dip under threshold); below it the bucket is DEMOTED — only
    edges passing the threshold on their own merit survive.  This is
    what stops the popular-min-shingle degenerate bucket (dissimilar
    short docs colliding on one viral shingle) from wholesale-merging
    on the ingest paths.  A star edge MISSING from ``scored`` counts
    as failing its bucket (see _star_bucket_fractions) and is never
    itself emitted.  Member↔member recall inside a demoted bucket:
    see ``demoted_salvage_candidates``.

    Returns (id_a, id_b, jaccard): pairs ≥ threshold plus star edges
    of accepted buckets.  Persist ``scored`` (and ``star_edges``)
    before calling when they are expensive to recompute — both are
    read by more than one subtree here."""
    gated, _ = _gate_and_demote(scored, star_edges, threshold, accept_frac)
    return gated


def demoted_star_buckets(
    scored: DataFrame,
    star_edges: DataFrame,
    threshold: float,
    accept_frac: float = 0.9,
) -> DataFrame:
    """(band, band_hash) of hot buckets the evidence gate DEMOTES —
    the complement of ``gate_star_edges``' accepted set, fed to
    ``demoted_salvage_candidates``."""
    if not 0 < accept_frac <= 1:
        raise ValueError(
            f"accept_frac must be in (0, 1], got {accept_frac}"
        )
    return (
        _star_bucket_fractions(scored, star_edges, threshold)
        .filter(F.col("_frac") < F.lit(accept_frac))
        .select("band", "band_hash")
    )


def demoted_salvage_candidates(
    star_edges: DataFrame,
    demoted: DataFrame,
    shingles: DataFrame,
    n_hashes: int = 12,
    salvage_cap: int = 32,
    bands: int = 4,
    signatures: DataFrame | None = None,
    signatures_loader=None,
) -> DataFrame:
    """Extra candidate pairs recovering member↔member near-dups inside
    DEMOTED hot buckets (id_a, id_b — verify with jaccard_pairs).

    A demoted bucket connects only its individually-passing star
    edges, so a true near-dup pair where neither doc is the hub is
    found only if it collides on another band — a residual recall gap.
    Salvage re-applies LSH at the finest granularity, restricted to
    the demoted bucket's members: sub-buckets keyed by (bucket, hash
    row i, single minhash value), i.e. the salt is the row index.  A
    pair with jaccard j agrees on any one row w.p. j, so it lands in a
    shared sub-bucket unless it disagrees on ALL rows — P(miss) ≤
    (1−j)^n_hashes (~1e-12 at j=0.9, n=12).  The popular-shingle rows
    that made the bucket degenerate self-exclude: their sub-bucket is
    the whole bucket, over ``salvage_cap``, skipped.

    Pair mass: sub-buckets sized 2..cap are fully pair-joined —
    worst case (salvage_cap·n_hashes/2)·m per demoted bucket of m
    members, but realistically only genuinely-similar groups
    co-bucket, so the mass is ~cluster-sized.  Residual (documented):
    a similar CLUSTER larger than ``salvage_cap`` inside a demoted
    bucket still relies on other-band collisions — at that size the
    per-pair other-band probability makes a miss of the whole cluster
    vanishing.

    Salvage candidates are NOT resolved edges — each must pass the
    jaccard threshold on its own merit, so the salvage can add recall
    but never false merges.

    Two exclusions keep the salt set HONEST (pair-specific evidence
    only — without them a demoted bucket with population ≤ cap would
    silently re-enumerate its whole clique, the wholesale path the
    gate exists to avoid):

    - the bucket's OWN band rows: equal band hashes imply the
      members' values on those rows are IDENTICAL (md5 of the row
      concatenation) — zero pair information by construction;
    - any sub-bucket holding MORE THAN HALF its bucket's members: the
      popular shingle that made the bucket degenerate also tends to
      own the minimum on rows OUTSIDE its band (short docs have few
      competing shingles — measured: a 20-member degenerate fixture
      shares its hot value on row 3 and splits rows 4-5 in half), and
      a value shared by most of a DISSIMILAR-majority bucket is that
      shingle again, not evidence.  A genuine hidden cluster is a
      minority of its bucket by the demotion premise, so its
      sub-buckets pass.  Documented trade-off: a true cluster that IS
      the majority of its demoted bucket loses its salvage salts —
      at the production bound (demoted pops > 256, majority clusters
      > 128 members) its pairs recover via other-band collisions with
      near-certainty (each pair independently at ~1−(1−j^r)^(b−1),
      and the component needs only a vanishing fraction of them), so
      the exclusion costs ~nothing where it matters and removes the
      bounded-but-systematic clique re-enumeration everywhere.

    A similar pair's recovery rests on the non-excluded rows —
    P(miss) ≤ (1−j)^9 at the defaults.  ``bands`` must match the
    banding that produced the bucket keys.

    ``signatures``: optionally the (_id, sig0..sig{n-1}) relation the
    signature stage already computed to build the band table
    (``minhash_signatures``) — reused directly instead of
    re-aggregating the same per-row minimums from the shingle
    relation (one fewer aggregation over the demoted members).

    ``signatures_loader``: the late-bound form for the on-disk/
    streaming paths — a callable receiving the demoted-member id
    relation (computed HERE, after the demotion list exists) and
    returning the same (_id, sig0..sig{n-1}) shape covering every
    member (increment sigs ∪ the index's retained signature store,
    shard-pruned to the members), or ``None`` when the store predates
    signature retention.  Only consulted when ``signatures`` is
    absent.  When both are absent, the values are recomputed from
    ``shingles``, semi-join-restricted to the demoted members — the
    legacy fallback."""
    rows_per_band = n_hashes // bands
    # members-sized truncation points: this relation is read by ids,
    # the sub explosion, AND the bucket census — and `mh` below drags
    # the signature/shingle lineage in; without truncation every
    # downstream action re-optimizes those trees per reference (the
    # near_dup_pairs plan-depth note).  Both relations are bounded by
    # the demoted buckets' membership.
    members = (
        star_edges.join(demoted, ["band", "band_hash"], "left_semi")
        .select(
            "band",
            "band_hash",
            F.explode(F.array("id_a", "id_b")).alias("_id"),
        )
        .distinct()
        .transform(caching.waist)
    )
    ids = members.select("_id").distinct()
    if signatures is None and signatures_loader is not None:
        signatures = signatures_loader(ids)
    if signatures is not None:
        # the signature stage's own per-row values, restricted to the
        # demoted members — no second aggregation
        mh = signatures.join(ids, "_id", "left_semi").select(
            "_id",
            *[F.col(f"sig{i}").alias(f"_mh{i}") for i in range(n_hashes)],
        )
    else:
        # per-row minhash of the demoted members ONLY — the shingle
        # scan is semi-join-restricted, never the whole corpus
        sh_m = shingles.join(ids, "_id", "left_semi")
        mh = sh_m.groupBy("_id").agg(
            *[
                F.min((F.col("h") * a + b) % MINHASH_MOD).alias(f"_mh{i}")
                for i, (a, b) in enumerate(MINHASH_AB[:n_hashes])
            ]
        )
    mh = caching.waist(mh)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("_r"), F.col(f"_mh{i}").alias("_v")
            )
            for i in range(n_hashes)
        ]
    )
    sub = (
        members.join(mh, "_id")
        .select("band", "band_hash", "_id", F.explode(rows).alias("_rv"))
        .select(
            "band",
            "band_hash",
            F.col("_rv._r").alias("_r"),
            F.col("_rv._v").alias("_v"),
            "_id",
        )
        # the bucket's own band rows are bucket-constant, never
        # pair-specific evidence (see docstring)
        .filter(
            (F.col("_r") < F.col("band") * rows_per_band)
            | (F.col("_r") >= (F.col("band") + 1) * rows_per_band)
        )
    )
    key = ["band", "band_hash", "_r", "_v"]
    # census first (map-side-combined, never a partitionBy window), so
    # the collect_list below only ever sees bounded groups — polluted
    # sub-buckets (over cap, or over HALF their bucket's membership;
    # see docstring) are dropped before any row is collected.  The
    # pairing is collect_list + two nested explodes, NOT an a⋈b
    # self-join: a self-join duplicates the whole probe/verify lineage
    # per side, which blew up Catalyst's relation dedup on the ingest
    # composition.
    bucket_pop = members.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("_m")
    )
    ok = (
        sub.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .join(bucket_pop, ["band", "band_hash"])
        .filter(
            (F.col("_n") >= 2)
            & (F.col("_n") <= F.lit(salvage_cap))
            & (F.col("_n") * 2 <= F.col("_m") + 1)
        )
        .select(*key)
    )
    grp = (
        sub.join(ok, key, "left_semi")
        .groupBy(*key)
        .agg(F.sort_array(F.collect_list("_id")).alias("_ids"))
    )
    e1 = grp.select(
        "_ids", F.posexplode("_ids").alias("_i", "id_a")
    )
    return (
        e1.select(
            "id_a",
            F.explode(
                F.slice("_ids", F.col("_i") + 2, F.size("_ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 12,
    bands: int = 4,
    scope: PersistScope | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    star_accept_frac: float | None = 0.9,
    demoted_salvage_cap: int | None = 32,
) -> DataFrame:
    """The near-dedup composition: MinHash-LSH candidate generation +
    exact Jaccard verification, with the shingle relation computed
    ONCE and shared by both stages (tokenize+md5 dominates the
    pipeline's CPU; running the stages independently doubles it).
    At cluster scale the persist below is a materialized per-corpus
    shingle table feeding both the band index build and verification.
    Returns (id_a, id_b, jaccard) for pairs ≥ threshold among LSH
    candidates.

    Buckets over ``max_bucket`` contribute O(m) star edges instead of
    m²/2 clique pairs (see DEFAULT_MAX_BUCKET) — but a full-band
    collision at high population is only *presumptive* duplicate
    evidence.  The classic LSH failure regime breaks the presumption:
    a popular shingle (viral boilerplate phrase) whose hash happens to
    be minimal under one band's hash functions becomes that band's
    minimum for every short document containing it — a hot bucket of
    genuinely DISSIMILAR documents.  Wholesale-resolving such a bucket
    would silently merge (and downstream, delete) unrelated docs.

    So star edges are EVIDENCE-GATED per bucket: they flow through the
    same verification subtree as ordinary candidates (one shared
    shingle join) and carry their true measured jaccard; a per-bucket
    aggregate over the bucket's O(m) star edges computes the fraction
    meeting the threshold.  Buckets with fraction ≥
    ``star_accept_frac`` resolve as a duplicate group (every star edge
    kept — a true near-dup cluster where a sampled spoke can still dip
    under threshold); buckets below it are demoted to the quarantined
    "hot-degenerate" fate: only star edges whose own measured jaccard
    passes the threshold survive (each a genuinely verified pair), the
    rest connect nothing.  ``star_accept_frac=None`` restores the
    unconditional legacy resolution.  The gate costs two aggregates
    over the O(m·hot_buckets) star relation — nothing when the census
    short-circuit finds no hot bucket.

    ``demoted_salvage_cap``: a demoted bucket's member↔member
    near-dups (neither doc the hub) would otherwise be found only via
    an other-band collision; the salvage pass re-buckets the demoted
    members by single minhash rows (the salt), fully pair-joins
    sub-buckets of 2..cap members (bucket-constant and majority-
    shared salts excluded — see demoted_salvage_candidates), and
    verifies each recovered pair on its own merit — extra recall, zero extra false-merge risk (see
    ``demoted_salvage_candidates``).  ``None``/0 disables it, leaving
    the residual documented there; clusters larger than the cap still
    rely on other-band collisions.

    ``scope``: caller-owned cache lifecycle — the RESULT stays lazy
    and the caller releases the shingle/band caches.  Without it the
    (pairs-sized) result is materialized eagerly and every
    intermediate cache is freed before returning.  Note that with or
    without a scope, CALLING this function runs one plan-build job
    (the census short-circuit: band-table materialization + a scalar
    max-population aggregate — see _lsh_candidate_split), and when a
    hot bucket survives the census with the gate + salvage enabled,
    the verification job too (the pay-per-use salvage decision —
    "did any bucket demote?" — is a scalar off the persisted scored
    relation, so the common no-demotion case never carries the
    salvage subtree in its plan; when demotion DID occur the salvage
    candidates flow lazily into the final job — see
    ``_salvage_demoted``); a purely plan-side composition that must
    not touch the data should use the candidate-level operators,
    whose census stays lazy."""
    own = scope is None
    scope = scope or PersistScope()
    sh = scope.persist(_shingled(docs, id_col, text_col, k_shingle))
    # the per-row signature relation is persisted (not just an
    # internal subtree of the band table) so the demoted-bucket
    # salvage can reuse the exact values the banding computed instead
    # of re-aggregating them from the shingle relation; it sits on the
    # band table's critical path, so caching it stores an intermediate
    # the census job materializes anyway (|docs| rows of n longs)
    sig = scope.persist(
        minhash_signatures(
            docs, id_col, text_col, k_shingle, n_hashes, shingles=sh
        )
    )
    banded = scope.persist(
        minhash_band_table(
            docs, id_col, text_col, k_shingle, n_hashes, bands,
            signatures=sig,
        )
    )
    small, star = _lsh_candidate_split(
        banded, scope, max_bucket, eager_shortcircuit=True
    )
    if star is None:
        out = jaccard_pairs(
            docs, id_col, text_col, k_shingle, threshold,
            candidates=small, shingles=sh, scope=scope,
        )
    else:
        # ONE verification subtree for both kinds of candidate: star
        # edges ride through with a resolved flag that bypasses the
        # size-ratio prune and the threshold filter (see
        # jaccard_pairs' resolved_col) — a separate unverified pass
        # would double the shingle-join plan.
        star = scope.persist(star)  # cand union + gate joins
        cand = small.withColumn("_resolved", F.lit(False)).unionByName(
            star.select("id_a", "id_b").withColumn("_resolved", F.lit(True))
        )
        scored = jaccard_pairs(
            docs, id_col, text_col, k_shingle, threshold,
            candidates=cand, shingles=sh, scope=scope,
            resolved_col="_resolved",
        )
        if star_accept_frac is None:
            out = scored
        else:
            # PLAN-TRUNCATED handles for the gate/salvage subtree: the
            # scope persists keep the cross-call caches (a repeated
            # invocation's identical plan re-hits them), but a persist
            # does NOT truncate the logical plan — so every eager
            # scalar on this path (the demote decision, the salvage
            # emptiness check, the final job) re-OPTIMIZED the whole
            # composed census→verify lineage, ~0.5-1s of driver time
            # per plan layer per action (measured: the salvage stages
            # of the q66-shaped corpus dropped 7.7s→1.6s and 4.7s→0.9s
            # with truncation).  The waist reads each persisted cache
            # once and hands the subtree a pairs-sized LogicalRDD.
            star_t = caching.waist(star)
            scored_t = caching.waist(scored, scope)
            out, demoted = _gate_and_demote(
                scored_t, star_t, threshold, star_accept_frac,
                scope=scope, eager_demote=bool(demoted_salvage_cap),
            )
            if demoted_salvage_cap and demoted is not None:
                out = out.unionByName(_salvage_demoted(
                    docs, id_col, text_col, k_shingle, threshold,
                    n_hashes, bands, scored_t, star_t, sh, scope,
                    demoted, demoted_salvage_cap, signatures=sig,
                ))
    return materialize_release(out, scope) if own else out


def _salvage_demoted(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int,
    threshold: float,
    n_hashes: int,
    bands: int,
    scored: DataFrame,
    star: DataFrame,
    sh: DataFrame,
    scope: PersistScope,
    demoted: DataFrame,
    salvage_cap: int,
    signatures: DataFrame | None = None,
    signatures_loader=None,
) -> DataFrame | None:
    """Shared salvage stage of the verified compositions: generate
    sub-bucket candidates for the (caller-computed) demoted buckets,
    drop pairs already scored, verify the rest through the same
    shingle cache.  Returns (id_a, id_b, jaccard) DISJOINT from
    ``scored``'s pairs (anti-joined), so the caller's union needs no
    dedup.

    Fully LAZY since r14: the old shape persisted the candidate
    relation and answered "did sub-bucketing yield any fresh
    candidate?" as a driver scalar, skipping the verification subtree
    when empty — but that emptiness probe cost a full extra action
    (job launch + a Catalyst pass over the salvage lineage) on EVERY
    demoted-bucket invocation, while the subtree it sometimes saved
    runs in microseconds on an empty candidate relation inside the
    final job (its inputs are the same checkpointed/cached relations
    either way).  Paying plan nodes instead of a driver round-trip is
    the guide §1.2 trade: the candidate relation is read exactly once
    (jaccard_pairs' pair-dedup aggregate), so it no longer needs the
    persist either."""
    salv = demoted_salvage_candidates(
        star, demoted, sh, n_hashes, salvage_cap, bands,
        signatures=signatures, signatures_loader=signatures_loader,
    ).join(scored.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti")
    return jaccard_pairs(
        docs, id_col, text_col, k_shingle, threshold,
        candidates=salv, shingles=sh, scope=scope,
    )


def _verify_gate_candidates(
    cands: DataFrame,
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int,
    threshold: float,
    n_hashes: int,
    bands: int,
    star_accept_frac: float | None,
    demoted_salvage_cap: int | None,
    scope: PersistScope,
    cands_truncated: bool = False,
    signatures_loader=None,
) -> DataFrame:
    """Shared verify→gate→salvage tail of the ingest compositions.

    ``signatures_loader``: optionally the retained-signature lookup
    for the salvage stage (see demoted_salvage_candidates) — the
    on-disk/streaming callers build it over increment sigs ∪ the
    index's signature store so salvage never re-aggregates stored
    members' minhashes from shingles.

    ``cands``: bucket-carrying candidates (id_a, id_b, _resolved,
    band, band_hash) from a probe surface with ``carry_bucket=True``.
    Only documents actually TOUCHED by a candidate pair are shingled:
    the corpus text store is semi-join-restricted to candidate ids
    before any text processing (and anti-joined against the
    increment's ids, so a store that already absorbed the increment
    can't double its shingle rows)."""
    # lineage truncation, not just caching: the candidate relation is
    # referenced by touched-ids, verification, the gate, AND the
    # salvage — with a raw persist each reference re-expands the full
    # probe lineage at analysis time, and Catalyst's relation-dedup
    # pass blows the driver heap on the composed tree (measured: OOM
    # at 120 docs).  The waist replaces the plan with the
    # (pairs-sized) computed relation; eager=False keeps it lazy until
    # the composition's first job.  At cluster scale this is the
    # materialized candidate table between the probe and verify
    # stages.  ``cands_truncated``: the caller already checkpointed
    # (e.g. to collect shard-pruning keys off the same computed
    # relation) — don't store a second copy.
    if not cands_truncated:
        cands = caching.waist(cands)
    touched = (
        cands.select(F.col("id_a").alias(id_col))
        .unionByName(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # dropDuplicates on the TOUCHED subset (collision-sized, cheap):
    # a duplicated (id, text) row — e.g. a docs store re-appended by
    # an at-least-once restart — would double that doc's shingle rows
    # and quadruple its intersection counts, silently corrupting
    # every jaccard it participates in.  Dedup AFTER the semi-join so
    # the shuffle never sees the whole store.
    docs_v = (
        new_docs.select(id_col, text_col)
        .unionByName(
            corpus_docs.select(id_col, text_col)
            .join(new_docs.select(id_col), id_col, "left_anti")
        )
        .join(touched, id_col, "left_semi")
        .dropDuplicates([id_col])
    )
    sh = scope.persist(_shingled(docs_v, id_col, text_col, k_shingle))
    scored = scope.persist(
        jaccard_pairs(
            docs_v, id_col, text_col, k_shingle, threshold,
            candidates=cands, shingles=sh, scope=scope,
            resolved_col="_resolved",
        )
    )
    if star_accept_frac is None:
        return scored
    star = cands.filter(
        F.col("_resolved") & F.col("band").isNotNull()
    ).select("id_a", "id_b", "band", "band_hash")
    out, demoted = _gate_and_demote(
        scored, star, threshold, star_accept_frac,
        scope=scope, eager_demote=bool(demoted_salvage_cap),
    )
    if demoted_salvage_cap and demoted is not None:
        out = out.unionByName(_salvage_demoted(
            docs_v, id_col, text_col, k_shingle, threshold, n_hashes,
            bands, scored, star, sh, scope, demoted,
            demoted_salvage_cap, signatures_loader=signatures_loader,
        ))
    return out


def incremental_near_dup_pairs(
    new_docs: DataFrame,
    band_table: DataFrame,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    threshold: float = 0.5,
    n_hashes: int = 12,
    bands: int = 4,
    scope: PersistScope | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    star_accept_frac: float | None = 0.9,
    demoted_salvage_cap: int | None = 32,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """VERIFIED near-dup pairs for an ingest increment — the
    continuous-ingest twin of ``near_dup_pairs``: probe the stored
    band table (``incremental_lsh_candidates`` semantics), verify
    every candidate with exact n-gram Jaccard, EVIDENCE-GATE hot
    buckets on the measured jaccard of their own star edges, and
    salvage demoted buckets — so the popular-min-shingle degenerate
    bucket can no longer wholesale-merge dissimilar docs on the ingest
    path (the candidate-level operators alone can't apply the gate:
    their documented resolved-flag contract resolves star edges
    unconditionally).

    ``corpus_docs``: (id, text) for previously-indexed documents —
    the verification side of the probe.  Only docs touched by a
    candidate pair are shingled (semi-join-restricted before any text
    work), so per-increment cost is O(|increment| + |collisions|),
    never O(|corpus|).  Ids must be globally unique across increments;
    a ``corpus_docs`` that already contains the increment is tolerated
    (anti-joined).  COVERAGE CONTRACT: ``corpus_docs`` must contain
    every previously-indexed id — a candidate pair whose stored doc is
    absent cannot be verified and is dropped (the verification join is
    inner on doc sizes), so an incomplete text store silently loses
    pairs; keep the store append in lockstep with the index append
    (``streaming_near_dedup_verified`` does).  The gate fails safe
    under a violation: a star edge with no score counts AGAINST its
    bucket's acceptance fraction (see _star_bucket_fractions), so
    missing text can cost recall but never flip a degenerate bucket
    to a wholesale merge.

    Returns (id_a, id_b, jaccard): pairs ≥ threshold plus star edges
    of accepted hot buckets; ``star_accept_frac=None`` skips the gate
    (every verified candidate, star edges unconditionally resolved —
    the legacy contract).  See ``gate_star_edges`` /
    ``demoted_salvage_candidates`` for the gate and salvage semantics,
    ``build_band_index``/``append_band_index`` for the stored side's
    lifecycle, and ``probe_band_index_verified`` for the on-disk-index
    form."""
    own = scope is None
    scope = scope or PersistScope()
    if new_banded is None:
        new_banded = scope.persist(
            minhash_band_table(
                new_docs, id_col, text_col, k_shingle, n_hashes, bands
            )
        )
    cands = lsh_probe_bands(
        new_banded, band_table, max_bucket=max_bucket, scope=scope,
        resolved_col="_resolved", carry_bucket=True,
    )
    out = _verify_gate_candidates(
        cands, new_docs, corpus_docs, id_col, text_col, k_shingle,
        threshold, n_hashes, bands, star_accept_frac, demoted_salvage_cap,
        scope,
    )
    return materialize_release(out, scope) if own else out


def winnowing_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    k-gram (rolling over the token stream), then keep the minimum
    hash of each sliding window of ``window`` consecutive k-grams.
    Guarantees any shared run of ≥ k+window-1 tokens between two
    documents yields a shared fingerprint, at ~1/window the storage
    of the full shingle set.

    Returns (_id, fp) distinct.  Pure window-function pipeline —
    partitioned per document, state bounded by document length.
    """
    from pyspark.sql.window import Window as W

    from wrds_data_pipeline_spark.functions.text import word_shingles_ordered

    spark = docs.sparkSession
    posed = (
        docs.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.posexplode(word_shingles_ordered(text_col, k_shingle)).alias("pos", "shingle"),
        )
        .select("_id", "pos", shingle_hash(F.col("shingle")).alias("h"))
    )
    w = W.partitionBy("_id").orderBy("pos").rowsBetween(0, window - 1)
    return (
        posed.withColumn("fp", F.min("h").over(w))
        .select("_id", "fp")
        .distinct()
    )


def simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """SimHash fingerprint: per token, hash to ``bits`` bits (md5 hex
    nibbles); each bit contributes +1/-1; fingerprint bit b is the
    sign of the sum.  Near-duplicate docs land at small Hamming
    distance.  Pure expression pipeline: explode tokens → per-bit
    votes via bit arithmetic → groupBy id.

    Returns (_id, simhash) with simhash as a ``bits``-wide bigint.

    Bit source: bit b of a token = the high bit of md5-hex nibble b
    (md5 char ∈ '89abcdef') — 32 usable independent bits, identical
    and cheap in any engine with md5 (no hex→int conversion needed).
    """
    from wrds_data_pipeline_spark.functions.text import tokens

    assert bits <= 32
    high = [c for c in "89abcdef"]
    spark = docs.sparkSession
    tok = (
        docs.repartition(spark.sparkContext.defaultParallelism, F.col(id_col))
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
        )
        .select("_id", F.md5(F.col("tok").cast("binary")).alias("h"))
    )
    votes = [
        F.sum(
            F.when(F.substring(F.col("h"), b + 1, 1).isin(high), 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    agg = tok.groupBy("_id").agg(*votes)
    fp = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("_id", fp.cast("bigint").alias("simhash"))


# --- persisted band index (the continuous-ingest loop) ----------------------
#
# probe → resolve → append: a daily crawl probes the accumulated
# corpus's stored bands, resolves its duplicates, then appends its own
# bands — the 100 TB corpus is hashed exactly once, ever.

_BAND_INDEX_META_COLS = ("n_shards", "k_shingle", "n_hashes", "bands")


def _band_index_shard(n_shards: int):
    return F.pmod(F.xxhash64(F.col("band"), F.col("band_hash")), F.lit(n_shards)).cast(
        "int"
    )


def _read_meta_rows_local(dir_path: str) -> list[dict] | None:
    """Rows of a tiny driver-local parquet dir read directly on the
    driver (pyarrow), or None when the dir is not driver-local (a
    cluster URI — the caller then goes through a Spark read).  A
    1-row meta read as a Spark job costs ~0.13s of pure scheduling
    per verb invocation vs ~0.01s here (guide §5: the driver should
    do almost no data work — and a one-row config read is exactly the
    exception that belongs on the driver)."""
    import os

    if not os.path.isdir(dir_path):
        return None
    import pyarrow.parquet as pq

    return pq.read_table(dir_path).to_pylist()


def _read_band_index_meta(spark, path: str) -> dict:
    # a reshard (compact --reshard) swaps the WHOLE index dir; recover
    # that window first, then the per-subdir compact window
    _recover_compact_swap(path)
    _recover_compact_swap(f"{path}/bands")
    rows = _read_meta_rows_local(f"{path}/meta")
    if rows is None:
        rows = spark.read.parquet(f"{path}/meta").collect()
    [row] = rows
    return {k: int(row[k]) for k in _BAND_INDEX_META_COLS}


def _band_index_has_sigs(path: str) -> bool:
    """Whether this index RETAINS per-row signatures (``path/
    signatures``, partitioned by ``sshard = xxhash64(_id) %
    n_shards``).  Presence-based, not meta-pinned: adding a meta
    column would flip the exact-equality refusal on every pre-existing
    store.  The invariant that makes presence sufficient is WRITE
    ORDERING — signatures are appended before bands everywhere, so a
    crash can leave orphan signature rows (benign, deduplicated at
    read) but never an indexed id without its signature; an index
    built before retention simply has no signatures dir and salvage
    falls back to re-aggregating from shingles (correct, one extra
    aggregation)."""
    import os

    d = f"{path}/signatures"
    # an interrupted signature-compaction swap must not read as "no
    # signatures" — that would silently degrade every future salvage
    # to the fallback while the store sits at signatures.old
    _recover_compact_swap(d)
    return os.path.isdir(d) and _store_has_rows(d)


def _stored_signature_loader(spark, path: str, meta: dict, new_sigs):
    """Build the salvage-stage signature lookup for an on-disk index
    (see demoted_salvage_candidates' ``signatures_loader``): demoted
    members are either increment ids (covered by ``new_sigs``) or
    stored ids (covered by the index's signature store — complete by
    the write-ordering invariant).  The stored read statically prunes
    to the members' sshards (a bounded collect over the tiny demoted-
    member relation, which derives from already-persisted star/
    demoted caches).  Returns None when the index predates signature
    retention — the caller then re-aggregates from shingles."""
    if not _band_index_has_sigs(path):
        return None

    def loader(ids):
        sshards = [
            r["s"]
            for r in ids.select(
                _doc_store_shard(F.col("_id"), meta["n_shards"]).alias("s")
            )
            .distinct()
            .collect()
        ]
        stored = (
            spark.read.parquet(f"{path}/signatures")
            .filter(F.col("sshard").isin(sshards))
            .drop("sshard")
        )
        # dropDuplicates on the members-restricted union: replayed
        # appends duplicate signature rows, and a re-ingested id is in
        # BOTH relations — a duplicated row would double-count ids in
        # the salvage sub-buckets (self-pairs, inflated censuses)
        return (
            new_sigs.unionByName(stored)
            .join(ids, "_id", "left_semi")
            .dropDuplicates(["_id"])
        )

    return loader


def _write_band_signatures(sig, path: str, n_shards: int, mode: str) -> None:
    """Append/overwrite the retained-signature relation, partitioned by
    the member-id shard so the salvage read prunes statically."""
    sig.withColumn(
        "sshard", _doc_store_shard(F.col("_id"), n_shards)
    ).repartition(F.col("sshard")).write.mode(mode).partitionBy(
        "sshard"
    ).parquet(f"{path}/signatures")


@locked_store_verb('path')
def build_band_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    n_shards: int = 64,
) -> None:
    """Materialize the corpus's LSH band table as an on-disk index:
    parquet under ``path/bands`` partitioned by ``shard =
    xxhash64(band, band_hash) % n_shards``, plus a one-row
    ``path/meta`` recording the signature parameters.

    The meta row makes the incremental contract ENFORCED instead of
    documented: ``append_band_index`` / ``probe_band_index`` re-derive
    k/n/bands from it, so an increment can never be hashed with a
    different scheme than the index it probes (the failure mode is
    silently-empty candidates, invisible until duplicates ship).

    The shard partitioning is the probe-side pruning handle: a small
    increment touches a bounded set of shards and the probe scan
    reads ONLY those partition directories (static pruning on the
    partition column).  Size ``n_shards`` well above the typical
    increment's distinct-band count for proportional skipping; within
    a shard, files stay row-group-skippable via min/max on band_hash.
    """
    if n_shards < 1:
        # pmod(x, 0) is NULL: every row lands in the default
        # partition and the probe's isin([None]) pruning matches
        # NOTHING — cross-increment pairs silently missed forever
        raise ValueError(
            f"build_band_index: n_shards must be >= 1, got {n_shards}"
        )
    # lineage-truncate the signature relation: both writes below (and
    # at cluster scale, both consumers forever after) read it, and the
    # banding derives from it — one shingle+signature pass total
    sig = minhash_signatures(
        docs, id_col, text_col, k_shingle, n_hashes
    ).transform(caching.waist)
    banded = minhash_band_table(
        docs, id_col, text_col, k_shingle, n_hashes, bands, signatures=sig
    )
    # signatures FIRST (the retention ordering: a crash can orphan
    # signature rows, never index an id without its signature —
    # _band_index_has_sigs), then bands; repartition by shard before
    # each partitioned write: without it every write task emits one
    # file per shard it holds (tasks × shards small files — measured
    # 1112 files for 64 shards at test scale); with it each shard is
    # one task's output, and AQE keeps task sizes sane when shards skew
    _write_band_signatures(sig, path, n_shards, "overwrite")
    banded.withColumn("shard", _band_index_shard(n_shards)).repartition(
        F.col("shard")
    ).write.mode("overwrite").partitionBy("shard").parquet(f"{path}/bands")
    spark = docs.sparkSession
    spark.createDataFrame(
        [(n_shards, k_shingle, n_hashes, bands)], list(_BAND_INDEX_META_COLS)
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


@locked_store_verb('path')
def append_band_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Add an increment's bands to the stored index (signature params
    from the index's own meta — by construction compatible).  Ids must
    be globally unique across increments (the
    ``incremental_lsh_candidates`` contract).  An index that retains
    signatures gets the increment's appended too (before the bands —
    the ordering that keeps retention complete under a crash); a
    pre-retention index stays signature-less rather than becoming
    PARTIALLY covered, which would silently lose salvage members."""
    meta = _read_band_index_meta(new_docs.sparkSession, path)
    sig = None
    if _band_index_has_sigs(path):
        sig = minhash_signatures(
            new_docs, id_col, text_col, meta["k_shingle"], meta["n_hashes"]
        ).transform(caching.waist)
        _write_band_signatures(sig, path, meta["n_shards"], "append")
    banded = minhash_band_table(
        new_docs, id_col, text_col, meta["k_shingle"], meta["n_hashes"],
        meta["bands"], signatures=sig,
    )
    banded.withColumn("shard", _band_index_shard(meta["n_shards"])).repartition(
        F.col("shard")
    ).write.mode("append").partitionBy("shard").parquet(f"{path}/bands")


def probe_band_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    prune_shards: bool = True,
    scope: PersistScope | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    resolved_col: str | None = None,
    carry_bucket: bool = False,
    new_banded: DataFrame | None = None,
    index_rel: DataFrame | None = None,
) -> DataFrame:
    """``incremental_lsh_candidates`` against the ON-DISK index:
    candidate pairs (id_a, id_b) of the increment vs the accumulated
    corpus plus the increment's own new-vs-new pairs.

    ``prune_shards``: the increment's distinct shard set (a collect
    over at most n_shards ints — bounded, driver-safe) becomes an
    IN-filter on the index's partition column, so the probe reads only
    the partition directories the increment can possibly collide with;
    the stored side's OTHER shards are never listed, read, or shuffled.
    Pass False to benchmark the full-scan plan or when the increment
    is known to span every shard anyway.

    ``new_banded``: optionally the increment's precomputed (persisted)
    band relation — a caller that must also APPEND those bands after
    probing (``ingest_increment``) hashes the increment exactly once.
    MUST have been built with the index's own meta scheme.

    ``index_rel``: optionally the pre-resolved ``{path}/bands``
    relation.  Resolving the shard-partitioned directory costs a full
    listing + footer schema inference per call (measured ~0.3-0.6s at
    129 files); a caller probing an index it KNOWS is immutable for
    the process lifetime (the pinned bench/oracle index) resolves it
    once and passes the handle.  Mutating callers (ingest loops —
    appends land new files) must leave this None so every probe sees
    the current file set.
    """
    spark = new_docs.sparkSession
    meta = _read_band_index_meta(spark, path)
    own = scope is None
    scope = scope or PersistScope()
    if new_banded is None:
        new_banded = scope.persist(
            minhash_band_table(
                new_docs,
                id_col,
                text_col,
                meta["k_shingle"],
                meta["n_hashes"],
                meta["bands"],
            )
        )
    index = (
        index_rel if index_rel is not None
        else spark.read.parquet(f"{path}/bands")
    )
    if prune_shards:
        shards = [
            r["shard"]
            for r in new_banded.select(
                _band_index_shard(meta["n_shards"]).alias("shard")
            )
            .distinct()
            .collect()
        ]
        index = index.filter(F.col("shard").isin(shards))
    out = lsh_probe_bands(
        new_banded, index.drop("shard"), max_bucket=max_bucket, scope=scope,
        resolved_col=resolved_col, carry_bucket=carry_bucket,
    )
    return materialize_release(out, scope) if own else out


def probe_band_index_verified(
    new_docs: DataFrame,
    path: str,
    corpus_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    prune_shards: bool = True,
    scope: PersistScope | None = None,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    star_accept_frac: float | None = 0.9,
    demoted_salvage_cap: int | None = 32,
) -> DataFrame:
    """``incremental_near_dup_pairs`` against the ON-DISK index:
    shard-pruned probe → exact-Jaccard verification → per-bucket
    evidence gate → demoted-bucket salvage, with the signature
    parameters (k/n/bands) taken from the index's own meta so the
    verification shingles exactly match what the index was built from.
    The index CLI's ``probe --verify-docs`` drives this.  Returns
    (id_a, id_b, jaccard).

    When the index retains signatures (every index built/appended
    since retention), the salvage stage reads the demoted STORED
    members' minhashes from ``path/signatures`` (sshard-pruned) and
    the increment's from the probe's own signature relation — no
    shingle re-aggregation; a pre-retention index falls back."""
    spark = new_docs.sparkSession
    meta = _read_band_index_meta(spark, path)
    own = scope is None
    scope = scope or PersistScope()
    # the increment is signature-aggregated ONCE: the banding derives
    # from this relation, and the salvage loader re-reads it
    new_sigs = scope.persist(
        minhash_signatures(
            new_docs, id_col, text_col, meta["k_shingle"], meta["n_hashes"]
        )
    )
    new_banded = scope.persist(
        minhash_band_table(
            new_docs, id_col, text_col, meta["k_shingle"],
            meta["n_hashes"], meta["bands"], signatures=new_sigs,
        )
    )
    cands = probe_band_index(
        new_docs, path, id_col, text_col, prune_shards, scope,
        max_bucket, resolved_col="_resolved", carry_bucket=True,
        new_banded=new_banded,
    )
    out = _verify_gate_candidates(
        cands, new_docs, corpus_docs, id_col, text_col,
        meta["k_shingle"], threshold, meta["n_hashes"], meta["bands"],
        star_accept_frac, demoted_salvage_cap, scope,
        signatures_loader=_stored_signature_loader(
            spark, path, meta, new_sigs
        ),
    )
    return materialize_release(out, scope) if own else out


_DOCS_STORE_META = "_ingest_meta.json"


def _doc_store_shard(col, docs_shards: int):
    """THE shard expression of every id/group-keyed on-disk store
    (docs store, streaming docs store, groups store) — one
    definition, because a drifted copy silently prunes the wrong
    partitions, the corruption class the meta pins exist to catch."""
    return F.pmod(F.xxhash64(col), F.lit(docs_shards)).cast("int")


def _store_has_rows(d: str) -> bool:
    """Whether a store directory holds any DATA (parquet files or
    partition dirs).  Underscore/dot entries (_ingest_meta.json, an
    aborted write's _temporary dir, Spark's ._SUCCESS.crc) are NOT
    data — counting them would make a restart after a first-batch
    crash take the has-rows path and fail schema inference on the
    empty read instead of recovering (Spark itself hides them from
    its file listing for the same reason)."""
    import os

    return any(
        not f.startswith(("_", "."))
        and (f.endswith(".parquet") or os.path.isdir(os.path.join(d, f)))
        for f in os.listdir(d)
    )


def _pin_store_meta(dir_path: str, meta: dict, label: str) -> None:
    """The shared scheme pin of the json-meta stores: create the dir,
    write ``_ingest_meta.json`` on first touch, REFUSE loudly when an
    existing pin differs (a mismatched scheme silently misses pairs /
    prunes the wrong partitions — the failure is invisible until
    duplicates ship, so it must never load).  One implementation so
    the refusal contract cannot drift between sibling stores."""
    import json
    import os

    # BEFORE the create-on-first-touch: a store mid-compaction-swap
    # (live dir missing, .old present) would otherwise be minted as a
    # fresh empty store here, silently orphaning the real data
    _recover_compact_swap(dir_path)
    os.makedirs(dir_path, exist_ok=True)
    meta_path = os.path.join(dir_path, _DOCS_STORE_META)
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            stored = json.load(fh)
        if stored != meta:
            raise ValueError(
                f"{label}: store at {dir_path!r} was built with "
                f"{stored}, called with {meta} — probing it would "
                "silently miss pairs or prune the wrong partitions; "
                "pass the original parameters or rebuild the store"
            )
    else:
        with open(meta_path, "w") as fh:
            json.dump(meta, fh)


@locked_store_verb('index_path', 'docs_store_path', 'groups_store_path')
def ingest_increment(
    new_docs: DataFrame,
    index_path: str,
    docs_store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k_shingle: int = 3,
    n_hashes: int = 12,
    bands: int = 4,
    n_shards: int = 64,
    docs_shards: int = 64,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    star_accept_frac: float | None = 0.9,
    demoted_salvage_cap: int | None = 32,
    groups_store_path: str | None = None,
    groups_shards: int = 64,
) -> DataFrame:
    """ONE-VERB verified ingest: probe the on-disk band index with the
    increment, exact-Jaccard-verify every candidate against the
    on-disk DOCS STORE, evidence-gate hot buckets, salvage demoted
    ones, and only then append the increment's bands AND texts to the
    two stores IN LOCKSTEP — the library/streaming coverage contract
    ("every indexed id has its text in the store") made operational,
    so a CLI user no longer has to compose ``probe-band
    --verify-docs`` + ``append-band`` + a store append by hand and
    honor the contract themselves.

    ``groups_store_path``: optionally ALSO resolve the emitted pairs
    into persisted duplicate GROUPS — the loop's "resolve" step
    (``operators/components.update_groups_store``): a partitioned
    (id, group_id) table updated incrementally, only the partitions
    the increment touches rewritten, cross-increment merges relabeled
    transitively.  Requires integral ids (checked up front, before
    any append).

    Store layout: the band side is ``build_band_index``'s
    (``index_path/bands`` partitioned by ``shard = xxhash64(band,
    band_hash) % n_shards`` + a ``meta`` row), so the existing
    ``probe-band``/``append-band`` verbs interoperate; the docs store
    is parquet partitioned by ``shard = xxhash64(id) % docs_shards``
    (the ``streaming_near_dedup_verified`` scheme) with a
    ``_ingest_meta.json`` pinning ``docs_shards``.  First call
    CREATES both stores with the passed parameters; later calls
    REFUSE loudly when the passed signature/shard parameters differ
    from the stored metas (a mismatched probe silently misses pairs;
    a mismatched shard count silently prunes the wrong partitions).

    Per increment, cost is O(|increment| + |collisions|): the band
    probe statically prunes to the increment's band shards, the
    verification read statically prunes to the shards of
    candidate-touched STORED ids (both collects bounded by the shard
    counts), and only candidate-touched docs are ever re-shingled.

    Crash recovery (plain-parquet appends are not transactional —
    LOCAL-FILESYSTEM-ONLY, at production scale both stores are
    transactional tables): the docs store is appended FIRST, so an
    interruption leaves at worst orphan TEXT rows — never an indexed
    id without its verification text, which is the one ordering that
    preserves the coverage contract under a crash (orphan texts are
    benign: never probed, deduplicated at read if the increment is
    re-ingested).  Re-running the same increment after ANY
    interruption recovers: duplicate band rows only inflate bucket
    censuses (group-preserving), duplicate doc rows are dropped on
    the touched subset at verification time, and the emitted pairs
    are the same set.

    Returns the materialized (id_a, id_b, jaccard) pairs — computed
    BEFORE the appends, so every pair is attributed to exactly one
    increment (the streaming harness invariant)."""
    import os

    spark = new_docs.sparkSession
    if groups_store_path is not None:
        # refuse BEFORE any append: a post-append refusal would leave
        # the band/docs stores updated with the pairs never resolved
        dt = dict(new_docs.dtypes)[id_col]
        if dt not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"ingest_increment: groups_store_path requires "
                f"integral ids, got {id_col}:{dt!r} (map string ids "
                "to a surrogate first)"
            )
    for pname, val in (
        ("n_shards", n_shards), ("docs_shards", docs_shards),
        ("groups_shards", groups_shards),
    ):
        if val < 1:
            # pmod(x, 0) is NULL under non-ANSI Spark: every row
            # lands in the default partition, the pruning collect
            # yields [None], and isin([None]) matches NOTHING — every
            # cross-increment pair silently missed with exit code 0
            raise ValueError(
                f"ingest_increment: {pname} must be >= 1, got {val}"
            )
    # BEFORE the create-on-first-touch makedirs: an index mid-reshard-
    # swap (index_path missing, index_path.old present) would
    # otherwise read as "no index" — this call would mint a FRESH
    # index over the stored corpus, the exact corruption class
    # _pin_store_meta guards its stores against
    _recover_compact_swap(index_path)
    os.makedirs(index_path, exist_ok=True)

    bands_dir = os.path.join(index_path, "bands")
    index_exists = os.path.exists(os.path.join(index_path, "meta"))
    if index_exists:
        meta = _read_band_index_meta(spark, index_path)
        passed = {
            "n_shards": n_shards, "k_shingle": k_shingle,
            "n_hashes": n_hashes, "bands": bands,
        }
        if meta != passed:
            raise ValueError(
                f"ingest_increment: band index at {index_path!r} was "
                f"built with {meta}, called with {passed} — probing "
                "it would silently miss pairs; pass the original "
                "parameters or rebuild the stores"
            )
    elif os.path.isdir(bands_dir) and _store_has_rows(bands_dir):
        # band rows without a meta row: a previous index CREATION was
        # interrupted between the bands append and the meta write.
        # Treating the index as absent would probe future increments
        # against an EMPTY stored side — the interrupted increment's
        # ids silently unprobed FOREVER once the meta lands — so
        # refuse with the recovery path instead
        raise ValueError(
            f"ingest_increment: {bands_dir!r} has band rows but no "
            f"meta row — a previous index creation was interrupted. "
            "Delete the bands directory and re-ingest the interrupted "
            "increment (its docs-store rows are tolerated duplicates)"
        )
    _pin_store_meta(
        docs_store_path, {"docs_shards": docs_shards},
        "ingest_increment docs store",
    )
    # an index with rows but an UNREADABLE verification side is the
    # operational mistake this verb exists to prevent (a probe-band
    # index built without a store): refuse rather than fail-closed
    # drop every cross pair (the gate would, silently costing recall)
    docs_has_rows = _store_has_rows(docs_store_path)
    if index_exists and not docs_has_rows:
        raise ValueError(
            f"ingest_increment: band index at {index_path!r} has "
            f"stored ids but the docs store {docs_store_path!r} is "
            "empty — candidates against stored docs cannot be "
            "verified (every cross pair would be dropped).  Ingest "
            "through this verb from the start, or backfill the store "
            "with the indexed corpus's (id, text) rows first"
        )
    if not index_exists and docs_has_rows:
        # the CONVERSE shape: docs rows with no band index.  Legitimate
        # exactly once — first-increment crash recovery (docs are
        # appended before bands, so a crash leaves the increment's own
        # ids stored and nothing indexed).  An ESTABLISHED docs store
        # paired with a mistyped/fresh index_path matches the same
        # shape but would silently miss every cross-increment pair
        # with exit 0 (nothing indexed → nothing probed), so verify
        # the recovery premise: every stored id must be one of the
        # increment's own.  The anti-join scans the store, but in the
        # legitimate case the store IS increment-sized — and this
        # branch only runs on the rare index-missing shape.
        stray = (
            spark.read.parquet(docs_store_path)
            .select(id_col)
            .join(new_docs.select(id_col), id_col, "left_anti")
            .first()
        )
        if stray is not None:
            raise ValueError(
                f"ingest_increment: docs store {docs_store_path!r} "
                f"holds ids beyond this increment (e.g. "
                f"{stray[id_col]!r}) but there is no band index at "
                f"{index_path!r} — probing would silently miss every "
                "cross-increment pair.  Check the index path; to "
                "rebuild a lost index, build-band from the store's "
                "full (id, text) rows first"
            )

    with PersistScope() as scope:
        # signature-aggregate the increment ONCE: the banding derives
        # from it, the salvage loader re-reads it, and (when the index
        # retains signatures) the sig append re-reads it
        sig = scope.persist(
            minhash_signatures(
                new_docs, id_col, text_col, k_shingle, n_hashes
            )
        )
        banded = scope.persist(
            minhash_band_table(
                new_docs, id_col, text_col, k_shingle, n_hashes, bands,
                signatures=sig,
            )
        )
        if index_exists:
            cands = probe_band_index(
                new_docs, index_path, id_col, text_col, True, scope,
                max_bucket, resolved_col="_resolved", carry_bucket=True,
                new_banded=banded,
            )
        else:
            # first increment: new-vs-new only, probed against an
            # empty stored side so the hot-bucket machinery still
            # applies to the increment's own buckets
            empty = spark.createDataFrame([], banded.schema)
            cands = lsh_probe_bands(
                banded, empty, max_bucket=max_bucket, scope=scope,
                resolved_col="_resolved", carry_bucket=True,
            )
        cands = caching.waist(cands)
        docs_schema = new_docs.select(id_col, text_col).schema
        if docs_has_rows:
            # stored ids touched by a candidate → their shard set
            # (bounded collect; new ids anti-joined out so their
            # shards don't de-prune the read)
            touched_old = (
                cands.select(F.col("id_a").alias(id_col))
                .unionByName(cands.select(F.col("id_b").alias(id_col)))
                .join(new_docs.select(id_col), id_col, "left_anti")
            )
            shards = [
                r["s"]
                for r in touched_old.select(
                    _doc_store_shard(F.col(id_col), docs_shards).alias("s")
                )
                .distinct()
                .collect()
            ]
            stored_docs = (
                spark.read.parquet(docs_store_path)
                .filter(F.col("shard").isin(shards))
                .select(id_col, text_col)
            )
        else:
            stored_docs = spark.createDataFrame([], docs_schema)
        meta_for_loader = {
            "n_shards": n_shards, "k_shingle": k_shingle,
            "n_hashes": n_hashes, "bands": bands,
        }
        sig_retained = (not index_exists) or _band_index_has_sigs(
            index_path
        )
        pairs = _verify_gate_candidates(
            cands, new_docs, stored_docs, id_col, text_col, k_shingle,
            threshold, n_hashes, bands, star_accept_frac,
            demoted_salvage_cap, scope, cands_truncated=True,
            signatures_loader=(
                _stored_signature_loader(
                    spark, index_path, meta_for_loader, sig
                )
                if index_exists
                # first increment: nothing stored — the increment's
                # own persisted signatures cover every possible member
                else (lambda ids: sig)
            ),
        ).transform(caching.waist, eager=True)  # pairs complete BEFORE appends

        # append ordering: docs (verification text) → signatures →
        # bands.  Each store may run ahead of the ones after it under
        # a crash; an id is only PROBED once its bands land, by which
        # point its text and signature are already stored — the one
        # direction that preserves both coverage contracts
        new_docs.select(id_col, text_col).withColumn(
            "shard", _doc_store_shard(F.col(id_col), docs_shards)
        ).repartition(F.col("shard")).write.mode("append").partitionBy(
            "shard"
        ).parquet(docs_store_path)
        if sig_retained:
            _write_band_signatures(sig, index_path, n_shards, "append")
        banded.withColumn("shard", _band_index_shard(n_shards)).repartition(
            F.col("shard")
        ).write.mode("append").partitionBy("shard").parquet(
            f"{index_path}/bands"
        )
        if not index_exists:
            spark.createDataFrame(
                [(n_shards, k_shingle, n_hashes, bands)],
                list(_BAND_INDEX_META_COLS),
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{index_path}/meta"
            )
        if groups_store_path is not None:
            from wrds_data_pipeline_spark.operators.components import (
                update_groups_store,
            )

            update_groups_store(
                spark, groups_store_path, pairs,
                n_shards=groups_shards,
            )
    return pairs


def _count_parquet_files(root: str) -> int:
    import os

    return sum(
        1
        for dirpath, _dirs, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    )


def _require_store(path: str, label: str) -> None:
    """A typed refusal for the compaction verbs: a mistyped path — or
    an existing directory holding no data rows (e.g. a store dir a
    refused ingest left with only its meta sidecar) — otherwise dies
    deep in the parquet reader (AnalysisException) — dangerous next
    to verbs that RENAME directories."""
    import os

    _recover_compact_swap(path)
    if not os.path.isdir(path):
        raise ValueError(f"compact: no {label} at {path!r}")
    if not _store_has_rows(path):
        raise ValueError(
            f"compact: {label} at {path!r} holds no data rows — "
            "nothing to compact (a mistyped path, or a store a "
            "refused ingest left with only its meta sidecar)"
        )


def _recover_compact_swap(live: str) -> None:
    """Detect — and when safe, resolve — the ``_swap_compacted`` crash
    window at LOAD time: a crash between the swap's two renames leaves
    the store at ``live + '.old'`` with the fully-written compacted
    copy still at ``live + '.compacting'``.  Without this check the
    next loader either dies deep in the parquet reader (band/vector
    paths) or — worse — ``_pin_store_meta``'s create-on-first-touch
    would mint a FRESH EMPTY store at ``live`` and silently orphan the
    data (the docs/groups paths).  Every store loader calls this
    before touching ``live``.

    Resolution: when the compacted copy exists, COMPLETE the swap (it
    was fully written before the first rename, so finishing is always
    safe); when it does not (only possible via manual intervention —
    the swap never removes it before the second rename), refuse with
    the exact recovery command instead of guessing."""
    import os
    import shutil

    old = live + ".old"
    if os.path.exists(live) or not os.path.exists(old):
        return
    tmp = live + ".compacting"
    if os.path.isdir(tmp):
        os.rename(tmp, live)
        shutil.rmtree(old)
        return
    raise RuntimeError(
        f"store at {live!r} is missing but {old!r} exists — an "
        "interrupted compaction swap with no compacted copy beside it "
        f"to finish; recover the pre-compact store with:  mv {old!r} "
        f"{live!r}"
    )


def _swap_compacted(live: str, tmp: str, keep_files: list[str]) -> None:
    """Replace ``live`` with ``tmp`` via two renames (write-then-swap:
    the rewrite never touches the live store, so a crash DURING the
    rewrite loses nothing).  ``keep_files``: store-level sidecars
    (e.g. _ingest_meta.json) copied into the compacted dir before the
    swap so the scheme pin survives.  The swap itself is two renames
    wide — a crash between them leaves the store at ``live + '.old'``;
    every loader detects that state and completes the swap (or refuses
    with the recovery command — see _recover_compact_swap); at
    production scale this whole verb is a transactional-table REPLACE
    and the window doesn't exist."""
    import os
    import shutil

    for f in keep_files:
        src = os.path.join(live, f)
        if os.path.exists(src):
            shutil.copy2(src, os.path.join(tmp, f))
    old = live + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(tmp, live)
    shutil.rmtree(old)


@locked_store_verb('path')
def compact_band_index(spark, path: str, reshard: int | None = None) -> dict:
    """Rewrite the on-disk band index dropping duplicated rows — the
    at-least-once residue (a replayed/re-run increment re-appends its
    bands) that is TOLERATED at read (duplicate band rows only
    inflate bucket censuses, group-preservingly) but never reclaimed,
    and the per-append small files (one file per shard per append)
    that grow the listing cost monotonically.  Preserves the shard
    scheme and the meta row exactly: post-compact probes see the same
    candidate set, post-compact verified ingests emit the same pairs.
    Returns {rows_before, rows_after, files_before, files_after}.

    ``reshard=N``: the shard-count MIGRATION path for a store that
    grew past its creation-time pin — every store pins ``n_shards``
    at build and refuses a mismatched call (correct: a drifted count
    silently prunes the wrong partitions), which left rebuild-from-
    scratch as the only growth path.  Compact already pays the full
    rewrite, so it is the natural place to change the count: band
    rows re-hash to ``shard = xxhash64(band, band_hash) % N``,
    retained signatures to ``sshard = xxhash64(_id) % N``, and the
    meta row pins N — all written into ONE staging copy of the whole
    index and swapped in atomically (``path + '.compacting'`` →
    ``path``), because swapping bands and meta independently would
    expose a window where probes hash with the OLD count against the
    NEW layout (silently empty candidates, not an error).  Probe and
    ingest results are bitwise unchanged — the shard is pure routing;
    only which partition directory holds a row moves.  Callers must
    pass the NEW count afterwards (the refusal contract is unchanged
    — it now guards the new pin).

    LOCAL-FILESYSTEM-ONLY (the store contract): the compacted copy is
    fully written BESIDE the live store, then swapped in via rename —
    see _swap_compacted for the crash window."""
    if reshard is not None and reshard < 1:
        raise ValueError(
            f"compact_band_index: reshard must be >= 1, got {reshard}"
        )
    _recover_compact_swap(path)  # an interrupted reshard whole-index swap
    _require_store(f"{path}/bands", "band index")
    meta = _read_band_index_meta(spark, path)
    if reshard is not None:
        return _reshard_band_index(spark, path, meta, reshard)
    bands_dir = f"{path}/bands"
    stats = {
        "rows_before": spark.read.parquet(bands_dir).count(),
        "files_before": _count_parquet_files(bands_dir),
    }
    tmp = bands_dir + ".compacting"
    (
        spark.read.parquet(bands_dir)
        .dropDuplicates()  # full-row: exactly the re-append residue
        .repartition(F.col("shard"))  # one file per shard
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    _swap_compacted(bands_dir, tmp, keep_files=[])
    if _read_band_index_meta(spark, path) != meta:
        # postcondition, raised (not assert — stripped under -O): a
        # drifted scheme pin after the swap means future probes hash
        # with the wrong parameters and silently miss pairs
        raise RuntimeError(
            f"compact_band_index: meta at {path!r} changed across the "
            "compaction swap — the scheme pin must be byte-identical"
        )
    if _band_index_has_sigs(path):
        # the retained-signature relation accumulates the same
        # at-least-once residue (a replayed append re-appends its
        # rows) and per-append small files — same rewrite, same swap
        sigs_dir = f"{path}/signatures"
        stats["sig_rows_before"] = spark.read.parquet(sigs_dir).count()
        tmp = sigs_dir + ".compacting"
        (
            spark.read.parquet(sigs_dir)
            .dropDuplicates()
            .repartition(F.col("sshard"))
            .write.mode("overwrite")
            .partitionBy("sshard")
            .parquet(tmp)
        )
        _swap_compacted(sigs_dir, tmp, keep_files=[])
        stats["sig_rows_after"] = spark.read.parquet(sigs_dir).count()
    stats["rows_after"] = spark.read.parquet(bands_dir).count()
    stats["files_after"] = _count_parquet_files(bands_dir)
    return stats


def _reshard_band_index(spark, path: str, meta: dict, n_new: int) -> dict:
    """The whole-index rewrite behind ``compact_band_index(...,
    reshard=N)``: bands (and retained signatures) re-hashed to the new
    shard count, meta re-pinned, everything staged beside the live
    index and swapped in as one directory."""
    import os
    import shutil

    bands_dir = f"{path}/bands"
    stats = {
        "rows_before": spark.read.parquet(bands_dir).count(),
        "files_before": _count_parquet_files(bands_dir),
        "n_shards_before": meta["n_shards"],
        "n_shards_after": n_new,
    }
    tmp = path + ".compacting"
    if os.path.isdir(tmp):
        # residue of an interrupted REWRITE (crash before the swap) —
        # the live index was never touched, so discarding is safe
        shutil.rmtree(tmp)
    (
        spark.read.parquet(bands_dir)
        .drop("shard")
        .dropDuplicates()  # shard is a pure function of the row: same dedup
        .withColumn("shard", _band_index_shard(n_new))
        .repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(f"{tmp}/bands")
    )
    if _band_index_has_sigs(path):
        sigs_dir = f"{path}/signatures"
        stats["sig_rows_before"] = spark.read.parquet(sigs_dir).count()
        (
            spark.read.parquet(sigs_dir)
            .drop("sshard")
            .dropDuplicates()
            .withColumn("sshard", _doc_store_shard(F.col("_id"), n_new))
            .repartition(F.col("sshard"))
            .write.mode("overwrite")
            .partitionBy("sshard")
            .parquet(f"{tmp}/signatures")
        )
    new_meta = dict(meta, n_shards=n_new)
    spark.createDataFrame(
        [tuple(new_meta[k] for k in _BAND_INDEX_META_COLS)],
        list(_BAND_INDEX_META_COLS),
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp}/meta")
    _swap_compacted(path, tmp, keep_files=[])
    if _read_band_index_meta(spark, path) != new_meta:
        raise RuntimeError(
            f"compact_band_index: meta at {path!r} does not pin the "
            f"resharded count {n_new} after the swap"
        )
    if "sig_rows_before" in stats:
        stats["sig_rows_after"] = spark.read.parquet(
            f"{path}/signatures"
        ).count()
    stats["rows_after"] = spark.read.parquet(bands_dir).count()
    stats["files_after"] = _count_parquet_files(bands_dir)
    return stats


@locked_store_verb('path')
def compact_flat_store(spark, path: str, n_files: int = 8) -> dict:
    """``compact_band_index``'s twin for the FLAT (unpartitioned)
    parquet stores the streaming harness appends per micro-batch
    (``_run_indexed_stream``'s band/vector/membership indexes and the
    seen-hash sets): full-row dedup — the at-least-once replay
    residue — plus a bounded output file count (each append adds
    files forever otherwise).  Schema-agnostic; same write-then-swap
    as the other compactors, and any ``_ingest_meta.json`` sidecar is
    carried over.  Returns the same stats shape."""
    _require_store(path, "flat store")
    stats = {
        "rows_before": spark.read.parquet(path).count(),
        "files_before": _count_parquet_files(path),
    }
    tmp = path + ".compacting"
    (
        spark.read.parquet(path)
        .dropDuplicates()
        .repartition(max(1, n_files))
        .write.mode("overwrite")
        .parquet(tmp)
    )
    _swap_compacted(path, tmp, keep_files=[_DOCS_STORE_META])
    stats["rows_after"] = spark.read.parquet(path).count()
    stats["files_after"] = _count_parquet_files(path)
    return stats


@locked_store_verb('path')
def compact_docs_store(
    spark, path: str, reshard: int | None = None, id_col: str = "doc_id"
) -> dict:
    """``compact_band_index``'s twin for the shard-partitioned docs
    store: drop full-row duplicates (the re-appended (id, text) rows
    the verification read dedups on every touched subset — paid per
    read, never reclaimed) and collapse each shard to one file.
    Full-row dedup only: two rows sharing an id with DIFFERENT text
    are an id-uniqueness contract violation and stay visible rather
    than being silently resolved here (the read-time guard keeps
    handling them).  ``_ingest_meta.json`` (the docs_shards pin) is
    carried into the compacted store.  Returns the same stats shape
    as compact_band_index.

    ``reshard=N``: re-hash every row to ``shard = xxhash64(id) % N``
    and re-pin ``docs_shards`` — the growth path for a store whose
    creation-time count left shards unboundedly large (see
    compact_band_index's reshard note).  ``id_col`` names the id
    column the shard derives from (the store schema doesn't record
    it); a wrong name fails loudly at analysis, never mis-shards.
    The new meta json is written INTO the staging copy so pin and
    layout swap together."""
    import json
    import os

    if reshard is not None and reshard < 1:
        raise ValueError(
            f"compact_docs_store: reshard must be >= 1, got {reshard}"
        )
    _require_store(path, "docs store")
    stats = {
        "rows_before": spark.read.parquet(path).count(),
        "files_before": _count_parquet_files(path),
    }
    tmp = path + ".compacting"
    content = spark.read.parquet(path)
    if reshard is not None:
        if id_col not in content.columns:
            raise ValueError(
                f"compact_docs_store: reshard needs the id column; "
                f"{id_col!r} not in store columns {content.columns}"
            )
        content = content.drop("shard").dropDuplicates().withColumn(
            "shard", _doc_store_shard(F.col(id_col), reshard)
        )
        stats["n_shards_after"] = reshard
    else:
        content = content.dropDuplicates()
    (
        content.repartition(F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(tmp)
    )
    if reshard is not None:
        # the pin swaps with the layout: _swap_compacted's keep_files
        # would carry the OLD count over the new layout
        meta_path = os.path.join(path, _DOCS_STORE_META)
        with open(meta_path) as fh:
            meta = json.load(fh)
        # prior count for the stats/summary: the meta pin, else the
        # layout itself (a store whose meta json predates the
        # docs_shards key) — never None into the CLI's "resharded
        # X -> Y" print (ADVICE r12)
        if "docs_shards" in meta:
            stats["n_shards_before"] = int(meta["docs_shards"])
        else:
            stats["n_shards_before"] = sum(
                1 for d in os.listdir(path)
                if d.startswith("shard=")
                and os.path.isdir(os.path.join(path, d))
            )
        meta["docs_shards"] = reshard
        with open(os.path.join(tmp, _DOCS_STORE_META), "w") as fh:
            json.dump(meta, fh)
        _swap_compacted(path, tmp, keep_files=[])
    else:
        _swap_compacted(path, tmp, keep_files=[_DOCS_STORE_META])
    stats["rows_after"] = spark.read.parquet(path).count()
    stats["files_after"] = _count_parquet_files(path)
    return stats


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k_shingle: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    scope: PersistScope | None = None,
) -> DataFrame:
    """Shingle CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ threshold —
    the subset/quote detector (Broder's containment, public).  A short
    document fully embedded in a long one scores 1.0 here but near 0
    on Jaccard, which is exactly the near-dup case symmetric measures
    miss (syndicated articles inside aggregator pages, quoted posts).

    Deliberately has NO size-ratio prune: ``jaccard_pairs`` drops
    pairs with |A|/|B| < threshold because their Jaccard is bounded by
    the ratio — for containment that bound does not exist (the prune
    would drop precisely the contained-subset pairs this operator
    exists to find).  The honest scale path is therefore
    ``candidates`` from LSH: the inverted-index fallback fans out on
    every shared shingle between size-mismatched docs.

    Returns (id_a, id_b, containment).  Plan shape mirrors
    ``jaccard_pairs``'s candidate-driven branch: candidate-pair
    relation × per-doc shingle joins, one aggregate."""
    from pyspark.sql.window import Window as W

    own = scope is None
    scope = scope or PersistScope()
    sh = (
        shingles
        if shingles is not None
        else _shingled(docs, id_col, text_col, k_shingle)
    )
    if candidates is not None:
        # array-shaped candidate-driven verification — the
        # jaccard_pairs shape (see there): each doc's shingle set
        # rides as ONE array per join side, |A∩B| is a per-pair JVM
        # array_intersect, and the per-(pair, shingle) explode join +
        # post-join aggregation exchanges are gone.
        if shingles is None:
            sh = scope.persist(sh)  # both join sides
        arrs = sh.groupBy("_id").agg(
            F.collect_list("h").alias("_hs"), F.count(F.lit(1)).alias("n")
        )
        inter = (
            candidates.select("id_a", "id_b").distinct()
            .join(
                arrs.select(
                    F.col("_id").alias("id_a"),
                    F.col("_hs").alias("_ha"),
                    F.col("n").alias("n_a"),
                ),
                "id_a",
            )
            .join(
                arrs.select(
                    F.col("_id").alias("id_b"),
                    F.col("_hs").alias("_hb"),
                    F.col("n").alias("n_b"),
                ),
                "id_b",
            )
            .select(
                "id_a", "id_b", "n_a", "n_b",
                F.size(F.array_intersect("_ha", "_hb")).alias("n_inter"),
            )
            # zero-intersection pairs never appeared in the explode
            # shape's inner join — preserved exactly (visible only at
            # threshold=0)
            .filter(F.col("n_inter") > 0)
        )
    else:
        shn = scope.persist(
            sh.withColumn("n", F.count(F.lit(1)).over(W.partitionBy("_id")))
        )
        a = shn.select(F.col("_id").alias("id_a"), "h", F.col("n").alias("n_a"))
        b = shn.select(F.col("_id").alias("id_b"), "h", F.col("n").alias("n_b"))
        inter = (
            a.join(b, "h")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    out = (
        inter.withColumn(
            "containment",
            F.col("n_inter") / F.least("n_a", "n_b"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )
    return materialize_release(out, scope) if own else out
