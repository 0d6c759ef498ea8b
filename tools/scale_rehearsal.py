"""Scale rehearsal: measure how the auto-sized dedup/ANN paths grow
with the corpus, on synthetic clustered embeddings far larger than the
driver's testdata.  This is the experiment that exposed (round 6) the
hidden O(n²/target) of EXACT IVF assignment under bounded-population
auto-sizing, and validated the fixes — run it after touching
operators/similarity.py's assignment or candidate-generation paths.

Usage:  python tools/scale_rehearsal.py [sizes ...]   (default 2000 8000 32000)

Prints one line per size:
  n, lsh: planes / candidate pairs / wall;  ivf: cells / assign-mode walls;
  semdedup (hierarchical): pairs / wall.

Expected shape (the claims SCALE.md makes, made falsifiable):
- LSH candidate pairs grow ~O(n·log n + P), where P is the TRUE
  near-pair count: auto_n_planes pins the hash-random bucket
  population, the (1+planes) multi-probe fan-out is the log, and P
  is the output-sensitive floor no sound method can undercut.  On
  THIS fixture P dominates at large n (64 dense topics ⇒ P is
  quadratic in cluster size — e.g. ~11M genuine candidates at 32k);
  real corpora cap it by resolving duplicate groups as they form
  (connected components → keep canonical) instead of enumerating
  every pair of a 500-member near-identical cluster.
- exact IVF assign wall grows ~quadratically (n·c dots, c ∝ n) — it
  is expected to become infeasible; the harness caps it at the
  smallest size and skips beyond unless --exact-all.
- hierarchical assign and the full SemDeDup pipeline grow ~linearly
  (2·sqrt(c) dots/row; within-cell pair work n·target).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DIM = 64
N_TOPICS = 64
STAGE = "/tmp/scale_rehearsal"


def _generate(n: int) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # cache key carries the generation parameters: a cached fixture
    # from an earlier DIM/N_TOPICS configuration must not silently
    # masquerade as the current one
    path = os.path.join(STAGE, f"emb_{n}_d{DIM}_t{N_TOPICS}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(STAGE, exist_ok=True)
    rng = np.random.default_rng(7)
    base = rng.standard_normal((N_TOPICS, DIM))
    topics = rng.integers(0, N_TOPICS, n)
    vecs = base[topics] + 0.3 * rng.standard_normal((n, DIM))
    t = pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [v.astype("float32").tolist() for v in vecs],
                pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(t, path)
    return path


def _generate_docs(n: int, doc_len: int = 200) -> str:
    """Synthetic text fixture: ``n`` docs of ~``doc_len`` tokens; 20%
    carry one of 32 canonical 30-token passages mid-document (the
    planted duplicated spans), so removed mass is known to be
    passage-sized × (carriers − 32 firsts)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(STAGE, f"docs_{n}_l{doc_len}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(STAGE, exist_ok=True)
    rng = np.random.default_rng(11)
    vocab = np.array([f"w{i}" for i in range(50_000)])
    passages = [
        " ".join(vocab[rng.integers(0, len(vocab), 30)]) for _ in range(32)
    ]
    texts = []
    for d in range(n):
        body = vocab[rng.integers(0, len(vocab), doc_len)].tolist()
        if d % 5 == 0:  # 20% carriers
            body.insert(doc_len // 2, passages[d % 32])
        texts.append(" ".join(body))
    t = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(t, path)
    return path


def _generate_hot_docs(m: int, n_background: int = 2000) -> str:
    """Hot-cluster text fixture: ``m`` near-identical docs (one fixed
    ~60-token template + a unique final token — the 'viral boilerplate
    page with one varying token' regime) over ``n_background``
    unrelated random-token docs.  Every cluster pair is a TRUE LSH
    candidate, so without the bucket bound the pair mass is the m²/2
    clique."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(STAGE, f"hotdocs_{m}_bg{n_background}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(STAGE, exist_ok=True)
    rng = np.random.default_rng(11)
    vocab = [f"w{i}" for i in range(5000)]
    template = " ".join(vocab[i] for i in rng.integers(0, 5000, 60))
    texts = [template + f" variant{i}" for i in range(m)]
    texts += [
        " ".join(vocab[i] for i in rng.integers(0, 5000, 40))
        for _ in range(n_background)
    ]
    t = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(t, path)
    return path


def lsh_bucket_rung(spark, sizes: list[int], unguarded_all: bool = False) -> None:
    """Band-bucket bound scaling (VERDICT r6 'What's wrong' #1): with
    a planted m-member near-identical cluster, guarded candidate pair
    mass must grow O(m) (star edges per hot bucket) while the
    unbounded clique is m²/2 — and the cluster must still resolve to
    exactly ONE duplicate group.  The unbounded run is materialized
    only at the smallest size (the clique is the quadratic this rung
    exists to avoid); --unguarded-all forces it everywhere."""
    from wrds_data_pipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
    )

    for m in sizes:
        docs = spark.read.parquet(_generate_hot_docs(m)).repartition(32)

        t0 = time.time()
        guarded = minhash_lsh_candidates(docs)  # default bound
        rows = guarded.collect()
        w_g = time.time() - t0
        clique = m * (m - 1) // 2

        # group check: union-find over the guarded edges — the
        # cluster (ids 0..m-1) must land in one component
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent.setdefault(parent[x], parent[x])
                x = parent[x]
            return x

        for r in rows:
            ra, rb = find(r.id_a), find(r.id_b)
            if ra != rb:
                parent[ra] = rb
        # Members with NO edge at all are LSH recall misses (they
        # collide on no band — the unguarded clique lacks their pairs
        # too, and the guard cannot create or destroy edge-ownership:
        # hot-bucket members always get a star edge, small-bucket
        # members keep their pairs).  So the group check covers the
        # EDGED members, and the isolated count is printed separately
        # — a star-path regression that drops members' edges shows up
        # as an isolated-count spike, not a silent pass.
        edged = [i for i in range(m) if i in parent]
        n_isolated = m - len(edged)
        cluster_roots = {find(i) for i in edged}
        one_group = len(cluster_roots) == 1

        if unguarded_all or m == min(sizes):
            t0 = time.time()
            n_u = minhash_lsh_candidates(docs, max_bucket=None).count()
            w_u = f"{time.time() - t0:.1f}s pairs={n_u}"
        else:
            w_u = f"skipped (clique={clique}; --unguarded-all to force)"

        # incremental path: the last third of the cluster arrives as a
        # NEW ingest against a stored band index of the first two
        # thirds — probe pair mass must stay O(|increment|) (star +
        # bridge edges), never |increment|·|stored| for the hot bucket
        import shutil
        import tempfile

        from pyspark.sql import functions as F

        from wrds_data_pipeline_spark.operators.dedup import (
            build_band_index,
            probe_band_index,
        )

        old = docs.filter((F.col("doc_id") >= m) | (F.col("doc_id") % 3 != 0))
        new = docs.filter((F.col("doc_id") < m) & (F.col("doc_id") % 3 == 0))
        idx = tempfile.mkdtemp(prefix="lsh_bucket_idx_")
        try:
            build_band_index(old, idx)
            t0 = time.time()
            n_inc = probe_band_index(new, idx).count()
            w_inc = time.time() - t0
        finally:
            shutil.rmtree(idx, ignore_errors=True)

        print(
            f"m={m}: guarded pairs={len(rows)} wall={w_g:.1f}s "
            f"(clique {clique}, ratio {len(rows) / clique:.4f}) "
            f"cluster_one_group={one_group} "
            f"(isolated LSH-recall misses: {n_isolated}) | "
            f"incremental probe ({m // 3} new vs {m - m // 3} stored): "
            f"pairs={n_inc} wall={w_inc:.1f}s | unguarded: {w_u}"
        )


def _generate_degenerate_hot_docs(m: int, m_true: int = 0) -> str:
    """Popular-min-shingle fixture (VERDICT r7 'What's wrong' #1): ``m``
    pairwise-DISSIMILAR 6-token docs engineered (via the SHARED Python
    mirror of the Spark-side md5/MinHash arithmetic,
    ``operators/lsh_fixtures.py`` — one copy, also used by the pytest
    suite) so one shared 3-gram is the band-0 minimum for every
    member — the classic LSH false-positive regime where a hot bucket
    holds unrelated short docs.  Optionally plus ``m_true``
    near-identical template docs (a genuine duplicate cluster) so the
    same run shows the evidence gate keeping true clusters while
    demoting the degenerate bucket."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wrds_data_pipeline_spark.operators.lsh_fixtures import (
        degenerate_hot_docs,
    )

    path = os.path.join(STAGE, f"degendocs_{m}_t{m_true}.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(STAGE, exist_ok=True)
    texts = [text for _, text in degenerate_hot_docs(m)]
    template = " ".join(f"t{i}" for i in range(60))
    texts += [template + f" variant{i}" for i in range(m_true)]
    t = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(t, path)
    return path


def lsh_bucket_precision_rung(spark, sizes: list[int]) -> None:
    """The r7 `weak`, rehearsed: a hot bucket of DISSIMILAR docs (the
    popular-min-shingle regime) must produce ZERO false merges under
    the evidence gate — while a genuine hot cluster in the same corpus
    still resolves to one group.  Also runs the legacy unconditional
    resolution (star_accept_frac=None) to show the regime is live."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.dedup import near_dup_pairs

    m_true = 400  # over the production bound of 256 — a true hot bucket
    for m in sizes:
        docs = spark.read.parquet(
            _generate_degenerate_hot_docs(m, m_true)
        ).repartition(32)

        t0 = time.time()
        gated = near_dup_pairs(docs, threshold=0.5).collect()
        w = time.time() - t0
        degen = set(range(m))
        false_merges = [
            (r.id_a, r.id_b)
            for r in gated
            if r.id_a in degen and r.id_b in degen and r.jaccard < 0.5
        ]
        # true-cluster check: ids m..m+m_true-1 one component
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent.setdefault(parent[x], parent[x])
                x = parent[x]
            return x

        for r in gated:
            ra, rb = find(r.id_a), find(r.id_b)
            if ra != rb:
                parent[ra] = rb
        edged_true = [i for i in range(m, m + m_true) if i in parent]
        # both halves of the contract: nearly every true-cluster
        # member carries an edge (a few genuine LSH-recall misses —
        # variants colliding in NO band — are expected and accounted,
        # e.g. 398/400 here; an empty edge set must read as failure,
        # not as "one group") and the edged members land in ONE
        # component
        true_one_group = (
            len(edged_true) >= 0.95 * m_true
            and len({find(i) for i in edged_true}) == 1
        )

        t0 = time.time()
        legacy = near_dup_pairs(
            docs, threshold=0.5, star_accept_frac=None
        ).collect()
        legacy_false = sum(
            1
            for r in legacy
            if r.id_a in degen and r.id_b in degen and r.jaccard < 0.5
        )
        w_l = time.time() - t0

        print(
            f"m_degen={m} m_true={m_true}: gated pairs={len(gated)} "
            f"false_merges={len(false_merges)} "
            f"true_cluster_one_group={true_one_group} wall={w:.1f}s | "
            f"legacy (ungated): pairs={len(legacy)} "
            f"sub-threshold degenerate edges={legacy_false} "
            f"wall={w_l:.1f}s"
        )
        assert not false_merges, (
            f"evidence gate failed: {len(false_merges)} false merges "
            f"at m={m}"
        )
        assert true_one_group, (
            f"evidence gate over-demoted: true {m_true}-cluster did "
            f"not resolve to one group at m={m}"
        )


def ingest_precision_rung(spark, sizes: list[int]) -> None:
    """The r8 `weak`, rehearsed at scale on the INGEST surfaces: the
    popular-min-shingle degenerate bucket accumulating across a stored
    corpus and an increment must produce ZERO false merges through
    the verified probe (on-disk index) and the verified stream, while
    (a) a genuine hot cluster split across the boundary still
    connects and (b) a similar cluster HIDDEN inside the degenerate
    bucket (sharing no other band — the demoted-recall class) is
    recovered by the salvage pass.  The legacy resolved-flag contract
    (star_accept_frac=None) runs alongside to show the regime is
    live: it emits the wholesale sub-threshold merges the gate
    blocks."""
    import shutil
    import tempfile

    from wrds_data_pipeline_spark.operators.dedup import (
        build_band_index,
        probe_band_index_verified,
    )
    from wrds_data_pipeline_spark.operators.lsh_fixtures import (
        degenerate_hot_docs,
        demoted_cluster_docs,
    )

    m_true = 400  # over the production bound — a genuine hot cluster
    c = 8
    template = " ".join(f"t{i}" for i in range(60))
    for m in sizes:
        deg = degenerate_hot_docs(m)
        true_rows = [
            (1_000_000 + i, template + f" variant{i}") for i in range(m_true)
        ]
        cl = demoted_cluster_docs(c, start_id=2_000_000)
        cluster_ids = {i for i, _ in cl}
        stored_rows = deg[: m // 2] + true_rows[: m_true // 2]
        inc_rows = deg[m // 2 :] + true_rows[m_true // 2 :] + cl
        stored = spark.createDataFrame(stored_rows, ["doc_id", "text"])
        inc = spark.createDataFrame(inc_rows, ["doc_id", "text"])
        tmp = tempfile.mkdtemp(prefix="ingest_precision_")
        try:
            build_band_index(stored, os.path.join(tmp, "idx"), n_shards=16)
            t0 = time.time()
            gated = probe_band_index_verified(
                inc, os.path.join(tmp, "idx"), stored, threshold=0.5
            ).collect()
            w = time.time() - t0
            degen = set(range(m))
            false_merges = [
                r for r in gated
                if r.id_a in degen and r.id_b in degen and r.jaccard < 0.5
            ]
            # hidden-cluster salvage recall: all C(c,2) pairs, each
            # individually verified
            got_cl = {
                (r.id_a, r.id_b)
                for r in gated
                if r.id_a in cluster_ids and r.id_b in cluster_ids
            }
            # true-cluster connectivity: every increment-side true doc
            # reaches ONE component that also contains a stored-side
            # true doc (spokes to the increment hub + the bridge edge)
            parent = {}

            def find(x):
                parent.setdefault(x, x)
                while parent[x] != x:
                    parent[x] = parent.setdefault(parent[x], parent[x])
                    x = parent[x]
                return x

            for r in gated:
                ra, rb = find(r.id_a), find(r.id_b)
                if ra != rb:
                    parent[ra] = rb
            inc_true = [
                i for i, _ in true_rows[m_true // 2 :] if i in parent
            ]
            stored_true_edged = any(
                i in parent for i, _ in true_rows[: m_true // 2]
            )
            true_connected = (
                len(inc_true) >= 0.95 * (m_true - m_true // 2)
                and len({find(i) for i in inc_true}) == 1
                and stored_true_edged
            )

            t0 = time.time()
            legacy = probe_band_index_verified(
                inc, os.path.join(tmp, "idx"), stored, threshold=0.5,
                star_accept_frac=None,
            ).collect()
            legacy_false = sum(
                1 for r in legacy
                if r.id_a in degen and r.id_b in degen and r.jaccard < 0.5
            )
            w_l = time.time() - t0
            print(
                f"m_degen={m} m_true={m_true} hidden_c={c}: "
                f"verified-probe pairs={len(gated)} "
                f"false_merges={len(false_merges)} "
                f"hidden_cluster_pairs={len(got_cl)}/{c*(c-1)//2} "
                f"true_cluster_connected={true_connected} wall={w:.1f}s | "
                f"legacy: sub-threshold degenerate edges={legacy_false} "
                f"wall={w_l:.1f}s"
            )
            assert not false_merges, f"gate failed on ingest at m={m}"
            assert got_cl == {
                (min(a, b), max(a, b))
                for a in cluster_ids
                for b in cluster_ids
                if a < b
            }, "salvage missed hidden-cluster pairs on the ingest path"
            assert true_connected, "gate over-demoted the true cluster"
            assert legacy_false >= (m - m // 2) - 1, (
                "legacy regime not live — rehearsal would be vacuous"
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


def _row_ticker(spark, df):
    """(wrapped_df, accumulator): wrap ``df`` in a mapInPandas ticker
    so the accumulator counts every source row EVERY time the scan
    executes — the load-independent pass-count protocol shared by the
    --corpus-gates and --scrub-short-items rungs (passes = accumulator
    / row count)."""
    acc = spark.sparkContext.accumulator(0)

    def tick(batches, _acc=acc):
        for pdf in batches:
            _acc.add(len(pdf))
            yield pdf

    return df.mapInPandas(tick, df.schema), acc


def corpus_gates_rung(spark, sizes: list[int]) -> None:
    """Fused-gate pass counting (VERDICT r7 next #7): the r7 claim
    'the fused gates replaced ~4 corpus replays with one persisted
    scored relation' was supported by a wall-time smoke comparison
    across different ambient loads.  This rung measures the claim
    LOAD-INDEPENDENTLY: the source corpus is wrapped in a mapInPandas
    row ticker (an accumulator counts every source row every time the
    scan executes), then driven through curate + apply_corpus_gates +
    a final count — `passes` = accumulator / corpus size = how many
    times the pipeline read the corpus relation, a number ambient CPU
    contention cannot touch.  Structural expectation: a small
    constant, flat across fixture multiples."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.cli import apply_corpus_gates
    from wrds_data_pipeline_spark.plans.corpus import curate

    for n in sizes:
        docs0 = spark.read.parquet(_generate_docs(n))
        n_docs = docs0.count()
        docs, acc = _row_ticker(spark, docs0)
        t0 = time.time()
        kept, audit = curate(docs)
        gated, gate_cache = apply_corpus_gates(spark, kept, keep_frac=0.5)
        n_out = gated.count()
        if gate_cache is not None:
            gate_cache.release()
        n_audit = audit.groupBy("fate").count().count()
        wall = time.time() - t0
        passes = acc.value / n_docs
        print(
            f"n={n}: source-row reads={acc.value} -> passes={passes:.2f} "
            f"(kept {n_out}, {n_audit} fates) wall={wall:.1f}s"
        )


def _generate_chain_docs(n: int) -> str:
    """Full-chain fixture: every doc has three '\\n\\n' paragraphs —
    one SHARED boilerplate line (the --boilerplate-min-docs target), a
    ~150-token body (20% of docs carry one of 32 planted 30-token
    passages mid-body — the span-dedup target), and 10% of docs in
    PAIRS sharing a closing paragraph (the paragraph-dedup target;
    exactly 2 copies each, deliberately BELOW the ladder's
    --boilerplate-min-docs=3 so the earlier boilerplate stage cannot
    strip the paragraph stage's work away) — so each ladder stage has
    real work, not an empty-relation short-circuit."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(STAGE, f"chaindocs_{n}_v2.parquet")
    if os.path.exists(path):
        return path
    os.makedirs(STAGE, exist_ok=True)
    rng = np.random.default_rng(13)
    vocab = np.array([f"w{i}" for i in range(50_000)])
    boiler = "subscribe to our newsletter for daily updates and offers"
    passages = [
        " ".join(vocab[rng.integers(0, len(vocab), 30)]) for _ in range(32)
    ]
    texts = []
    prev_closer = None
    for d in range(n):
        body = vocab[rng.integers(0, len(vocab), 150)].tolist()
        if d % 5 == 0:
            body.insert(75, passages[d % 32])
        if d % 20 == 1 and prev_closer is not None:
            closer = prev_closer  # second (and last) copy of d-1's
        else:
            closer = " ".join(vocab[rng.integers(0, len(vocab), 12)])
            if d % 20 == 0:
                prev_closer = closer
        texts.append(boiler + "\n\n" + " ".join(body) + "\n\n" + closer)
    t = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    pq.write_table(t, path)
    return path


def _chain_assets(spark, tmp: str, docs0) -> tuple[str, str, str]:
    """Stage-side artifacts shared by the chain rungs, built once:
    benchmark items sliced from a carrier doc (live hit path), an LM
    reference, a trained quality model (synthetic good/bad seed, same
    recipe as the CLI test).  Returns (bench, lm_ref, model) paths."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark import cli

    body = docs0.filter(F.col("doc_id") == 0).first()["text"].split()
    bench_p = os.path.join(tmp, "bench")
    spark.createDataFrame(
        [(" ".join(body[40:52]),), (" ".join(body[60:62]),)], ["text"]
    ).write.parquet(bench_p)
    lm_p = os.path.join(tmp, "lmref")
    docs0.limit(200).select("text").write.parquet(lm_p)
    good = "the careful analysis of the estimator shows stable results"
    bad = "click here buy now free free prize winner casino jackpot"
    labeled_p = os.path.join(tmp, "labeled")
    spark.createDataFrame(
        [(i, f"{good} v{i}", 1) for i in range(12)]
        + [(100 + i, f"{bad} v{i}", 0) for i in range(12)],
        ["doc_id", "text", "label"],
    ).write.parquet(labeled_p)
    model_p = os.path.join(tmp, "qmodel")
    assert cli.quality_main(
        ["train", labeled_p, model_p, "--n-buckets", "4096"]
    ) == 0
    return bench_p, lm_p, model_p


def corpus_chain_materialized_rung(spark, sizes: list[int]) -> None:
    """--materialize-stages validation (VERDICT r9 next #7): the FULL
    9-stage chain run twice on the same fixture — lazy (the default)
    vs stage-materialized — must produce IDENTICAL shard contents,
    and the materialized run's total SOURCE passes must collapse to
    the first stage's intrinsic constant (every later stage reads its
    predecessor's table, so the original source is never re-scanned
    by a downstream action — the deployment shape SCALE.md argues)."""
    import shutil
    import tempfile

    from wrds_data_pipeline_spark import cli

    tmp = tempfile.mkdtemp(prefix="chain_mat_")
    n = sizes[0]
    docs_path = _generate_chain_docs(n)
    docs0 = spark.read.parquet(docs_path)
    n_docs = docs0.count()
    bench_p, lm_p, model_p = _chain_assets(spark, tmp, docs0)
    flags = [
        "--min-quality", "0.0", "--langs", "xx,en,unknown",
        "--boilerplate-min-docs", "3", "--paragraph-dedup",
        "--span-dedup-k", "12",
        "--bench", bench_p, "--bench-scrub", "--bench-scrub-strict",
        # min-prob 0: the synthetic-seed model scores every chain doc
        # under the default 0.5, which would empty the shards and make
        # the content-parity assertion below vacuous — the stage still
        # runs (scores joined, filter applied), it just keeps rows
        "--quality-model", model_p, "--model-min-prob", "0.0",
        "--lm-ref", lm_p,
        "--keep-frac", "0.5",
    ]
    real_read = cli._read_docs
    results = {}
    try:
        print(f"n={n}: full chain, lazy vs --materialize-stages")
        for mode, extra in (
            ("lazy", []),
            (
                "materialized",
                ["--materialize-stages", os.path.join(tmp, "stages")],
            ),
        ):
            ticker = {}

            def patched(s, p, _t=ticker):
                df, acc = _row_ticker(s, real_read(s, p))
                _t["acc"] = acc
                return df

            cli._read_docs = patched
            out_dir = os.path.join(tmp, f"out_{mode}")
            t0 = time.time()
            assert cli.corpus_main([docs_path, out_dir] + flags + extra) == 0
            wall = time.time() - t0
            passes = ticker["acc"].value / n_docs
            content = sorted(
                map(tuple, spark.read.parquet(f"{out_dir}/shards").collect())
            )
            results[mode] = (passes, content)
            print(
                f"  {mode}: source passes={passes:.2f} wall={wall:.1f}s "
                f"shard_rows={len(content)}"
            )
        assert results["lazy"][1], (
            "empty shards — the parity assertion would be vacuous"
        )
        assert results["lazy"][1] == results["materialized"][1], (
            "shard contents diverged between lazy and materialized"
        )
        print(
            f"  shards identical ({len(results['lazy'][1])} rows); "
            f"source passes {results['lazy'][0]:.2f} -> "
            f"{results['materialized'][0]:.2f}"
        )
    finally:
        cli._read_docs = real_read
        shutil.rmtree(tmp, ignore_errors=True)


def corpus_chain_rung(spark, sizes: list[int]) -> None:
    """Whole-pipeline pass counting (VERDICT r8 next #8): the
    `--corpus-gates` protocol extended to the full 9-stage CLI chain
    (boilerplate → paragraph → span → curate → decontaminate → model
    → quantile/perplexity → pack → shards), driven through
    ``corpus_main`` ITSELF — the source read is wrapped via the
    ``cli._read_docs`` seam, so what is measured is the production
    body including its persist points and writes.

    Per-stage attribution: stages are lazy inside one plan, so a
    stage's scan cost surfaces at whichever action forces it — the
    honest per-stage number is therefore the MARGINAL total passes of
    a ladder that switches stages on one at a time (each rung a full
    corpus_main run).  Structural expectation: every marginal is a
    small constant, flat across corpus sizes."""
    import shutil
    import tempfile

    from wrds_data_pipeline_spark import cli

    tmp = tempfile.mkdtemp(prefix="chain_rung_")
    docs0 = spark.read.parquet(_generate_chain_docs(sizes[0]))
    bench_p, lm_p, model_p = _chain_assets(spark, tmp, docs0)

    base = ["--min-quality", "0.0", "--langs", "xx,en,unknown"]
    ladder = [
        ("base: curate+pack+shards", []),
        ("+boilerplate", ["--boilerplate-min-docs", "3"]),
        ("+paragraph-dedup", ["--paragraph-dedup"]),
        ("+span-dedup", ["--span-dedup-k", "12"]),
        (
            "+decontaminate (scrub+strict)",
            ["--bench", bench_p, "--bench-scrub", "--bench-scrub-strict"],
        ),
        ("+quality-model", ["--quality-model", model_p]),
        ("+perplexity (lm-ref)", ["--lm-ref", lm_p]),
        ("+quality-quantile", ["--keep-frac", "0.5"]),
    ]
    real_read = cli._read_docs
    try:
        for n in sizes:
            docs_path = _generate_chain_docs(n)
            n_docs = spark.read.parquet(docs_path).count()
            prev = 0.0
            print(f"n={n}:")
            flags: list[str] = []
            for label, extra in ladder:
                flags += extra
                ticker = {}

                def patched(s, p, _t=ticker):
                    df, acc = _row_ticker(s, real_read(s, p))
                    _t["acc"] = acc
                    return df

                cli._read_docs = patched
                out_dir = os.path.join(tmp, f"out_{n}_{len(flags)}")
                shutil.rmtree(out_dir, ignore_errors=True)
                t0 = time.time()
                assert (
                    cli.corpus_main([docs_path, out_dir] + base + flags) == 0
                )
                wall = time.time() - t0
                passes = ticker["acc"].value / n_docs
                print(
                    f"  {label}: total passes={passes:.2f} "
                    f"(marginal {passes - prev:+.2f}) wall={wall:.1f}s"
                )
                prev = passes
    finally:
        cli._read_docs = real_read
        shutil.rmtree(tmp, ignore_errors=True)


def scrub_short_items_rung(spark, sizes: list[int]) -> None:
    """Fused multi-width scrub pass counting (round 8 self-review #4):
    `scrub_contaminated_spans(cover_short_items=True)` used to re-scan
    and re-tokenize the corpus once per distinct short-item width; the
    fix scans the width-n grams and every short width in ONE
    `span_windows_multi` pass.  Same accumulator protocol as
    `--corpus-gates`: passes = source-row reads / corpus size.
    Structural expectation: the pass count is FLAT in the number of
    distinct short widths (scan + rebuild), not widths+2."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.contamination import (
        scrub_contaminated_spans,
    )

    for n in sizes:
        docs0 = spark.read.parquet(_generate_docs(n))
        n_docs = docs0.count()
        # benchmark items sliced from a real carrier doc so the hit
        # path is LIVE (a no-hit benchmark would also measure the
        # AQE empty-relation shortcut, not the production shape): one
        # 12-token passage slice (the ordinary width-8 gram path) +
        # short items at 1 / 3 distinct widths
        toks0 = docs0.filter(F.col("doc_id") == 0).first()["text"].split()
        long_item = " ".join(toks0[100:112])
        for label, shorts in (
            ("1 short width", [" ".join(toks0[60:62])]),
            (
                "3 short widths",
                [toks0[50], " ".join(toks0[60:62]), " ".join(toks0[70:73])],
            ),
        ):
            bench = spark.createDataFrame(
                [(long_item,)] + [(s,) for s in shorts], ["text"]
            )
            docs, acc = _row_ticker(spark, docs0)
            t0 = time.time()
            out = scrub_contaminated_spans(
                docs, bench, cover_short_items=True
            )
            # force the FULL production computation: a bare count()
            # lets Catalyst eliminate the rebuild join outright (the
            # cuts side is an aggregate -> provably unique key, no
            # columns referenced) and reads 1 pass — an optimizer
            # artifact, not the scrub.  Aggregating the rebuilt text
            # and the cut counts keeps both subtrees live, exactly
            # like writing the scrubbed shard does.
            row = out.agg(
                F.sum(F.length("text")).alias("chars"),
                F.sum("n_tok_removed").alias("removed"),
            ).first()
            wall = time.time() - t0
            passes = acc.value / n_docs
            print(
                f"n={n} {label}: source-row reads={acc.value} -> "
                f"passes={passes:.2f} (chars {row['chars']}, removed "
                f"{row['removed']}) wall={wall:.1f}s"
            )


def groups_ladder_rung(spark, sizes: list[int]) -> None:
    """Groups-store maintenance scaling (VERDICT r10 next #7): fold
    the same increment shape through ``update_groups_store`` against
    stores of growing size and record, per increment, (wall, id-shards
    rewritten, member-lookup rows scanned).  This is the measured form
    of the O(increment + affected-members) claim: the write column and
    the sidecar-pruned member scan must stay FLAT as the store grows
    (the scan tracks the touched group's size, not the corpus), where
    the r10 predicate scan read every store row per increment (the
    ``full_scan`` column).  Each rung ends with a union-find oracle
    over everything folded, so the ladder can never trade correctness
    for the flat columns."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.components import (
        _affected_member_shards,
        update_groups_store,
    )
    from wrds_data_pipeline_spark.operators.dedup import _doc_store_shard

    n_shards = 64
    n_inc = 5
    for s_groups in sizes:
        base = tempfile.mkdtemp(prefix=f"groups_ladder_{s_groups}_")
        path = f"{base}/store"
        # seed: s_groups two-member groups in one batch (ids 2i, 2i+1)
        seed = spark.range(s_groups).select(
            (F.col("id") * 2).alias("id_a"),
            (F.col("id") * 2 + 1).alias("id_b"),
        )
        t0 = time.time()
        update_groups_store(spark, path, seed, n_shards=n_shards)
        w_seed = time.time() - t0
        total = spark.read.parquet(path).count()

        walls, rewrites, scans = [], [], []
        folded = [
            (2 * i, 2 * i + 1) for i in range(s_groups)
        ]
        for k in range(n_inc):
            # touch ONE existing group per increment, spread across
            # the id space so shard locality can't flatter the numbers
            gid = 2 * ((k * (s_groups // n_inc + 1)) % s_groups)
            new_id = 10_000_000 + s_groups * 10 + k
            inc_pairs = [(gid, new_id)]
            inc = spark.createDataFrame(
                inc_pairs, "id_a bigint, id_b bigint"
            )
            # instrument the member lookup exactly as the verb will
            # run it: affected groups -> sidecar-pruned shard set ->
            # rows the pruned member scan reads (vs the full store)
            touched = spark.createDataFrame(
                [(gid,), (new_id,)], "id bigint"
            )
            affected = (
                spark.read.parquet(path)
                .join(touched, "id", "left_semi")
                .select("group_id")
                .distinct()
            )
            shards = _affected_member_shards(
                spark, path, n_shards, affected
            )
            scan = (
                spark.read.parquet(path)
                .filter(F.col("shard").isin(shards))
                .count()
                if shards is not None
                else total
            )
            t0 = time.time()
            upd = update_groups_store(spark, path, inc, n_shards=n_shards)
            walls.append(time.time() - t0)
            rewrites.append(
                upd.select(
                    _doc_store_shard(F.col("id"), n_shards).alias("s")
                )
                .distinct()
                .count()
            )
            scans.append(scan)
            folded.extend(inc_pairs)

        # union-find oracle over everything folded — the rung is a
        # rehearsal, never a benchmark that could drift wrong
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent.setdefault(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in folded:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {(n, find(n)) for n in parent}
        got = {
            (r["id"], r["group_id"])
            for r in spark.read.parquet(path)
            .select("id", "group_id")
            .collect()
        }
        assert got == want, (
            f"groups-ladder S={s_groups}: store diverged from the "
            f"union-find oracle ({len(got ^ want)} differing rows)"
        )
        med = sorted(walls)[len(walls) // 2]
        print(
            f"groups-ladder S={s_groups}: store_rows={total} "
            f"seed={w_seed:.1f}s | per-increment wall "
            f"med={med:.2f}s {['%.2f' % w for w in walls]} | "
            f"shards_rewritten={rewrites} | "
            f"member_scan_rows={scans} (r10 full scan = {total}) | "
            f"oracle ok"
        )
        shutil.rmtree(base)


def semantic_ingest_ladder_rung(spark, sizes: list[int]) -> None:
    """Semantic verified-ingest scaling: ingest the SAME increment
    shape (100 engineered near-copies of stored vectors + 100 novel
    vectors) against vector indexes of growing size and record, per
    increment, (wall, cells probed, stored rows read in the probed
    cells vs the full store).  The measured form of the verb's
    O(|increment| + |probed cells|) claim: cell populations are
    bounded by the auto-sizing (cells grow with the corpus instead),
    so the probed-rows column must stay FLAT while total store rows
    grow — and every rung asserts the 100 engineered pairs are all
    emitted (the ladder never trades recall for the flat column)."""
    import shutil
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.vector_index import (
        _assigner_for,
        load_vector_index,
        semantic_ingest_increment,
    )

    n_copy, n_novel = 100, 100
    n_inc = 3
    threshold = 0.95
    for n in sizes:
        emb_path = _generate(n)
        base = tempfile.mkdtemp(prefix=f"sem_ingest_{n}_")
        idx_path = f"{base}/vidx"
        store = spark.read.parquet(emb_path)
        t0 = time.time()
        semantic_ingest_increment(store, idx_path, threshold=threshold)
        w_build = time.time() - t0
        idx = load_vector_index(spark, idx_path)
        total0 = idx.df.count()

        # the increment is topically CONCENTRATED — the realistic
        # "one crawl shard" shape, and the one where cell pruning has
        # something to prune (a uniformly-diverse increment probes
        # every cell by construction; no layout can help it).
        # Reproduce the generator's topic assignment (same seed and
        # draw order as _generate) to pick one topic's members.
        g = np.random.default_rng(7)
        topic_base = g.standard_normal((N_TOPICS, DIM))
        topic_of = g.integers(0, N_TOPICS, n)
        rng = np.random.default_rng(11)
        walls, probed_cells, probed_rows, totals = [], [], [], []
        for k in range(n_inc):
            topic = k % N_TOPICS
            members = np.flatnonzero(topic_of == topic)
            k_copy = min(n_copy, len(members))  # small rungs have
            # fewer same-topic members than the target copy count
            src = sorted(
                rng.choice(members, size=k_copy, replace=False).tolist()
            )
            rows = {
                r["vec_id"]: list(r["embedding"])
                for r in store.filter(
                    F.col("vec_id").isin(src)
                ).collect()
            }
            inc_rows = []
            expected = set()
            for j, sid in enumerate(src):
                new_id = 10_000_000 + k * 1_000 + j
                v = np.array(rows[sid], dtype="float32")
                # scaled copy: cosine 1.0 with its source
                inc_rows.append(
                    (new_id, (v * 1.25).astype("float32").tolist())
                )
                expected.add((sid, new_id))
            for j in range(n_novel):  # novel members of the SAME topic
                new_id = 10_000_000 + k * 1_000 + k_copy + j
                nv = topic_base[topic] + 0.3 * rng.standard_normal(DIM)
                inc_rows.append((new_id, nv.astype("float32").tolist()))
            inc = spark.createDataFrame(
                inc_rows, "vec_id bigint, embedding array<float>"
            )
            # instrument the pruning exactly as the verb runs it
            idx = load_vector_index(spark, idx_path)
            cells = sorted(
                r["cell"]
                for r in _assigner_for(idx.centroid_list(), "embedding")(
                    inc
                )
                .select("cell")
                .distinct()
                .collect()
            )
            pr = idx.df.filter(F.col("cell").isin(cells)).count()
            tot = idx.df.count()
            t0 = time.time()
            pairs = semantic_ingest_increment(
                inc, idx_path, threshold=threshold
            )
            walls.append(time.time() - t0)
            got = {
                (r["id_a"], r["id_b"])
                for r in pairs.select("id_a", "id_b").collect()
            }
            assert expected <= got, (
                f"semantic-ladder n={n} inc={k}: "
                f"{len(expected - got)} engineered pairs missed"
            )
            probed_cells.append(len(cells))
            probed_rows.append(pr)
            totals.append(tot)
        med = sorted(walls)[len(walls) // 2]
        print(
            f"semantic-ladder n={n}: cells={len(idx.centroids)} "
            f"build={w_build:.1f}s store_rows={total0} | per-increment "
            f"wall med={med:.2f}s {['%.2f' % w for w in walls]} | "
            f"cells_probed={probed_cells} | "
            f"probed_rows={probed_rows} of {totals} | "
            f"pairs ok (all engineered copies found per increment)"
        )
        shutil.rmtree(base)



def tokenizer_ladder_rung(spark, sizes: list[int]) -> None:
    """Tokenizer-training scaling: train byte-level BPE on growing
    corpora, separating the DISTRIBUTED phase (JVM word counting +
    the capped collect) from the DRIVER phase (merge learning over
    the unique-word relation) — the measured form of the module's
    two-phase claim: the driver column must track UNIQUE WORDS (and
    the vocab target), not corpus rows, while the count phase is one
    shuffle.  Each rung asserts the artifact is deterministic (same
    counts → byte-identical json) and round-trips a sample through
    the interpreter with byte-lossless pieces."""
    import json as _json

    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.functions.pybpe import (
        PurePythonTokenizer,
        _BYTE_UNICODE,
    )
    from wrds_data_pipeline_spark.functions.tokenizer_train import (
        bpe_tokenizer_spec,
        gpt2_word_counts,
        learn_bpe_from_counts,
    )

    vocab_size = 2048
    for n in sizes:
        docs = spark.read.parquet(_generate_docs(n))
        t0 = time.time()
        wc = gpt2_word_counts(docs, min_frequency=2, max_words=500_000)
        rows = [(r["word"], r["count"]) for r in wc.collect()]
        w_count = time.time() - t0
        t0 = time.time()
        vocab, merges = learn_bpe_from_counts(
            rows, vocab_size, special_tokens=("<|endoftext|>",)
        )
        w_learn = time.time() - t0
        spec = bpe_tokenizer_spec(
            vocab, merges, special_tokens=("<|endoftext|>",)
        )
        # determinism: the artifact is a pure function of the counts
        v2, m2 = learn_bpe_from_counts(
            rows, vocab_size, special_tokens=("<|endoftext|>",)
        )
        assert _json.dumps(
            bpe_tokenizer_spec(v2, m2, special_tokens=("<|endoftext|>",)),
            sort_keys=True,
        ) == _json.dumps(spec, sort_keys=True)
        # byte-lossless round trip on a sample
        tok = PurePythonTokenizer(spec)
        rev = {i: t for t, i in vocab.items()}
        for r in docs.select("text").limit(5).collect():
            ids = tok.encode(r["text"]).ids
            want = "".join(
                _BYTE_UNICODE[b] for b in r["text"].encode("utf-8")
            )
            assert "".join(rev[i] for i in ids) == want
        toks = docs.select(
            F.sum(F.size(F.split("text", " "))).alias("s")
        ).first()["s"]
        print(
            f"tokenizer-ladder n={n}: corpus_words~{toks} "
            f"unique_words={len(rows)} | count(shuffle+collect)="
            f"{w_count:.1f}s learn(driver)={w_learn:.1f}s | "
            f"vocab={len(vocab)} merges={len(merges)} | "
            f"deterministic + byte-lossless ok"
        )



def wordpiece_counting_ladder_rung(spark, sizes: list[int]) -> None:
    """Pin the ONE corpus-sized Python phase left in tokenizer
    training: ``bert_word_counts``'s mapInPandas (BertNormalizer has
    no JVM expression, so WordPiece counting must run the
    interpreter's own normalizer).  Per rung: wall vs the pure-JVM BPE
    counting path (``gpt2_word_counts``) on the SAME docs, plus the
    per-batch Counter combine's measured reduction factor — corpus
    words → emitted partial rows, the number that bounds what the
    shuffle actually carries (the module's map-side-combine claim,
    measured)."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.functions.tokenizer_train import (
        _bert_partial_counts,
        bert_word_counts,
        gpt2_word_counts,
    )

    for n in sizes:
        docs = spark.read.parquet(_generate_docs(n))
        # A/B the ASCII fast path (VERDICT r12 missing #4): the
        # all-Python reference vs the default routed pipeline on the
        # SAME ASCII-dominant docs — the ratio drop is the measured
        # recovery of the 10x
        t0 = time.time()
        uniq_ref = bert_word_counts(docs, ascii_fastpath=False).count()
        w_ref = time.time() - t0
        t0 = time.time()
        uniq_bert = bert_word_counts(docs).count()
        w_bert = time.time() - t0
        assert uniq_bert == uniq_ref, "ascii fastpath changed the counts"
        t0 = time.time()
        uniq_gpt2 = gpt2_word_counts(docs).count()
        w_gpt2 = time.time() - t0
        partials = _bert_partial_counts(
            docs, "text", True, None, ascii_fastpath=False
        )
        agg = partials.agg(
            F.count("*").alias("rows"), F.sum("count").alias("words")
        ).first()
        n_partial, n_words = int(agg["rows"]), int(agg["words"])
        print(
            f"wordpiece-counting-ladder n={n}: corpus_words={n_words} "
            f"unique={uniq_bert} (gpt2 unique={uniq_gpt2}) | "
            f"bert(all-python)={w_ref:.1f}s bert(ascii-fastpath)="
            f"{w_bert:.1f}s jvm(gpt2)={w_gpt2:.1f}s | "
            f"ratio_vs_jvm: {w_ref / max(w_gpt2, 1e-9):.1f}x -> "
            f"{w_bert / max(w_gpt2, 1e-9):.1f}x | "
            f"partial_rows={n_partial} combine_reduction="
            f"{n_words / max(n_partial, 1):.1f}x"
        )


def unigram_em_ladder_rung(spark, sizes: list[int]) -> None:
    """Distributed-vs-driver Unigram EM at the RAISED cap: per rung,
    train both paths on the same capped (word, count) relation —
    wall for each, piece-set equality + per-piece logp ≤1e-9 as the
    rung's oracle (the distributed path's only deviation is float
    re-association in the E-step's partial sums).  The driver
    learner's wall tracks UNIQUE WORDS (every EM iteration walks
    every lattice on the driver); the distributed path's
    driver-resident share is the vocab-sized M-step/pruning, so its
    wall is the E-step jobs — the asymmetry the r12 change removes
    from the cap."""
    import math

    from wrds_data_pipeline_spark.functions.tokenizer_train import (
        learn_unigram_distributed,
        learn_unigram_from_counts,
        metaspace_word_counts,
    )

    vocab_size = 512
    for n in sizes:
        docs = spark.read.parquet(_generate_docs(n))
        wc = metaspace_word_counts(
            docs, min_frequency=2, max_words=1_000_000
        ).localCheckpoint(eager=True)
        rows = [(r["word"], r["count"]) for r in wc.collect()]
        t0 = time.time()
        driver = dict(learn_unigram_from_counts(rows, vocab_size))
        w_driver = time.time() - t0
        tm: dict = {}
        t0 = time.time()
        dist = dict(
            learn_unigram_distributed(wc, vocab_size, timings=tm)
        )
        w_dist = time.time() - t0
        assert set(dist) == set(driver), (
            f"unigram-em-ladder n={n}: piece sets diverged"
        )
        worst = max(
            abs(dist[p] - lp) for p, lp in driver.items()
        ) if driver else 0.0
        assert worst <= 1e-9, (
            f"unigram-em-ladder n={n}: logp drift {worst}"
        )
        assert not math.isnan(worst)
        print(
            f"unigram-em-ladder n={n}: unique_words={len(rows)} | "
            f"driver_em={w_driver:.1f}s distributed_em={w_dist:.1f}s "
            f"(driver-resident M+prune={tm.get('driver', 0.0):.1f}s, "
            f"e_step jobs={tm.get('e_step', 0.0):.1f}s) | "
            f"pieces={len(dist)} parity: sets equal, worst |dlogp|="
            f"{worst:.2e}"
        )


def _generate_unique_words_docs(u: int) -> str:
    """Suffix-blowup fixture for the EM CROSSOVER rung (VERDICT r12
    missing #3): ~``u`` UNIQUE words — each a distinct numeric-suffix
    blowup of a small stem set, ~12 chars so the per-word lattice has
    real work — every word appearing exactly TWICE (survives the
    ladder's min_frequency=2 without inflating corpus mass).  The
    standard ``_generate_docs`` fixture draws from a FIXED vocab, so
    its unique-word count saturates by the first rung and both EM
    walls go flat; here unique words == the scaling variable the
    driver learner's wall actually tracks (every EM iteration walks
    every lattice on the driver core)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(STAGE, f"uniqdocs_{u}_x2")
    if os.path.exists(path):
        return path
    os.makedirs(path, exist_ok=True)
    stems = ["alpha", "brav", "charli", "delt", "echo", "foxtro"]
    words = [f"{stems[i % len(stems)]}{i:07d}" for i in range(u)]
    rng = np.random.default_rng(29)
    toks = np.array(words + words)  # each word exactly twice
    rng.shuffle(toks)
    per_doc = 50
    texts = [
        " ".join(toks[i : i + per_doc])
        for i in range(0, len(toks), per_doc)
    ]
    n_files = 16
    per = (len(texts) + n_files - 1) // n_files
    for f in range(n_files):
        lo, hi = f * per, min((f + 1) * per, len(texts))
        if lo >= hi:
            break
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(lo, hi), pa.int64()),
                    "text": pa.array(texts[lo:hi], pa.string()),
                }
            ),
            os.path.join(path, f"part-{f:02d}.parquet"),
        )
    return path


def unigram_em_crossover_rung(spark, uniques: list[int]) -> None:
    """The crossover the lifted ``max_words`` cap exists for (VERDICT
    r12 missing #3): on a corpus whose UNIQUE-WORD count grows with
    the rung, the driver learner's wall grows with it (all lattice
    work on one core) while the distributed path's wall stays
    executor-bound (the driver keeps only the vocab-sized M-step).
    Same per-rung oracle as ``unigram_em_ladder_rung``: piece sets
    equal, per-piece |dlogp| ≤ 1e-9."""
    import math

    from wrds_data_pipeline_spark.functions.tokenizer_train import (
        learn_unigram_distributed,
        learn_unigram_from_counts,
        metaspace_word_counts,
    )

    vocab_size = 512
    for u in uniques:
        docs = spark.read.parquet(_generate_unique_words_docs(u))
        wc = metaspace_word_counts(
            docs, min_frequency=2, max_words=1_000_000
        ).localCheckpoint(eager=True)
        rows = [(r["word"], r["count"]) for r in wc.collect()]
        t0 = time.time()
        driver = dict(learn_unigram_from_counts(rows, vocab_size))
        w_driver = time.time() - t0
        tm: dict = {}
        t0 = time.time()
        dist = dict(learn_unigram_distributed(wc, vocab_size, timings=tm))
        w_dist = time.time() - t0
        assert set(dist) == set(driver), (
            f"unigram-em-crossover u={u}: piece sets diverged"
        )
        worst = max(
            abs(dist[p] - lp) for p, lp in driver.items()
        ) if driver else 0.0
        assert worst <= 1e-9 and not math.isnan(worst), (
            f"unigram-em-crossover u={u}: logp drift {worst}"
        )
        print(
            f"unigram-em-crossover u={u}: unique_words={len(rows)} | "
            f"driver_em={w_driver:.1f}s distributed_em={w_dist:.1f}s "
            f"(driver-resident M+prune={tm.get('driver', 0.0):.1f}s, "
            f"e_step jobs={tm.get('e_step', 0.0):.1f}s) | "
            f"speedup={w_driver / max(w_dist, 1e-9):.2f}x | parity: "
            f"sets equal, worst |dlogp|={worst:.2e}"
        )


def _generate_skew_docs(n: int, hot_frac: float = 0.3) -> str:
    """Boilerplate-heavy fixture for the span-dedup SKEW rehearsal:
    ONE 12-token sentence embedded mid-document in ``hot_frac`` of the
    docs (VERDICT r6 next #2's regime), the rest of each ~100-token
    doc random.  With k=8 the sentence contributes 5 identical gram
    hashes with 0.3·n instances EACH — the hot-key shape that a
    ``partitionBy(h)`` window would pin to one task."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # a DIRECTORY of 16 files, not one: a single parquet file under
    # maxPartitionBytes is ONE scan split, so the whole corpus scan +
    # repartition map side runs in one task — a fixture artifact that
    # measured as a phantom 500× "skew" before any gram work started
    # (production input arrives in thousands of splits)
    path = os.path.join(STAGE, f"skewdocs_{n}_h{hot_frac}_multifile")
    if os.path.exists(path):
        return path
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(13)
    vocab = [f"w{i}" for i in range(20000)]
    hot = " ".join(f"hot{j}" for j in range(12))
    texts = []
    for i in range(n):
        toks = [vocab[t] for t in rng.integers(0, 20000, 100)]
        if i % 10 < int(hot_frac * 10):
            toks[40:40] = hot.split()
        texts.append(" ".join(toks))
    n_files = 16
    per = (n + n_files - 1) // n_files
    for f in range(n_files):
        lo, hi = f * per, min((f + 1) * per, n)
        if lo >= hi:
            break
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(range(lo, hi), pa.int64()),
                    "text": pa.array(texts[lo:hi], pa.string()),
                }
            ),
            os.path.join(path, f"part-{f:02d}.parquet"),
        )
    return path


def _task_skew(spark, stages_before: set[tuple[int, int]]):
    """(worst_ratio, rows): per new completed stage with ≥8 tasks and
    a ≥200ms max task, the max/median task duration from the UI REST
    API (quantiles 0/0.5/1).  Needs spark.ui.enabled=true."""
    import json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    stages = json.load(
        urllib.request.urlopen(
            f"{base}/api/v1/applications/{app}/stages?status=complete"
        )
    )
    rows = []
    for s in stages:
        key = (s["stageId"], s["attemptId"])
        if key in stages_before or s["numTasks"] < 8:
            continue
        ts = json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages/{s['stageId']}/"
                f"{s['attemptId']}/taskSummary?quantiles=0.0,0.5,1.0"
            )
        )
        lo, med, hi = ts["duration"]
        if hi < 200:  # ms — sub-noise stages prove nothing
            continue
        rows.append((s["stageId"], s["numTasks"], med, hi, hi / max(med, 1.0)))
    # the skew verdict considers stages whose MEDIAN task does real
    # work (≥100ms): a genuine hot-key strand shows up as a
    # multi-second max there; a 200ms max over a 30ms median is
    # scheduler noise, not a stranded key
    worst = max((r[-1] for r in rows if r[2] >= 100), default=0.0)
    return worst, rows


def _completed_stage_keys(spark) -> set[tuple[int, int]]:
    import json
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    return {
        (s["stageId"], s["attemptId"])
        for s in json.load(
            urllib.request.urlopen(
                f"{base}/api/v1/applications/{app}/stages?status=complete"
            )
        )
    }


def spans_skew_rung(spark, sizes: list[int]) -> None:
    """Span-dedup HOT-GRAM skew, measured not asserted (VERDICT r6
    next #2): the keep-first aggregate must combine the hot gram
    map-side and the instance join must AQE-split it, so no task
    strands on the boilerplate key.  Pass = max-task/median-task
    under ~3× on the heavy stages at every size.  Requires the rung's
    own session with the UI on (`main` arranges this)."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.spans import span_dedup

    for n in sizes:
        docs = spark.read.parquet(_generate_skew_docs(n)).repartition(32)

        def run():
            return span_dedup(docs, k=8).agg(
                F.sum("n_tok_removed").alias("cut"),
                F.sum(F.length("text")).alias("bytes"),
            ).first()

        run()  # warm: codegen + shuffle machinery
        before = _completed_stage_keys(spark)
        t0 = time.time()
        out = run()
        w = time.time() - t0
        worst, rows = _task_skew(spark, before)
        detail = "; ".join(
            f"stage{sid}({nt}t med={med:.0f}ms max={hi:.0f}ms r={r:.2f})"
            for sid, nt, med, hi, r in sorted(rows, key=lambda x: -x[-1])[:4]
        )
        hot_carriers = sum(1 for i in range(n) if i % 10 < 3)
        print(
            f"n={n}: span_dedup wall={w:.1f}s removed={out['cut']} "
            f"(hot carriers {hot_carriers}, floor {(hot_carriers - 1) * 12}) "
            f"worst max/med={worst:.2f} [{detail}]"
        )


def spans_rung(spark, sizes: list[int]) -> None:
    """Span-dedup scaling: wall should grow ~linearly in corpus token
    mass (one gram-hash shuffle + duplicated-mass tail), and removed
    mass should track the planted passages exactly."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.spans import span_dedup

    for n in sizes:
        # repartition: the single-file fixture would otherwise run the
        # doc-local gram pass on ONE split — production input arrives
        # in thousands of splits, that's the regime being rehearsed
        docs = spark.read.parquet(_generate_docs(n)).repartition(32)

        def run():
            return span_dedup(docs, k=8).agg(
                F.sum("n_tok_removed").alias("cut"),
                F.sum(F.length("text")).alias("bytes"),  # forces rebuild
            ).first()

        run()  # warm: codegen + shuffle-machinery JIT
        t0 = time.time()
        out = run()
        w = time.time() - t0
        # every carrier past the 32 firsts loses the 30-token passage
        # plus the k-1 window bleed on each side (up to 2*(k-1)=14)
        carriers = (n + 4) // 5
        floor = max(0, carriers - 32) * 30
        print(
            f"n={n}: span_dedup wall={w:.1f}s removed={out['cut']} "
            f"(planted floor {floor})"
        )


def text_rung(spark, sizes: list[int]) -> None:
    """Learned-filter + LM scaling: both paths are one explode →
    broadcast join(s) → per-doc agg, so wall should grow ~linearly in
    corpus token mass with a flat broadcast-build floor (weights /
    vocab tables are size-capped, independent of n)."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.keywords import (
        build_bigram_vocab,
        build_vocab,
        doc_cross_entropy_bigram,
    )
    from wrds_data_pipeline_spark.operators.quality_model import (
        score_quality,
        train_quality_model,
    )

    model = None
    for n in sizes:
        docs = spark.read.parquet(_generate_docs(n)).repartition(32)
        if model is None:  # one model scores every size: the 100 TB shape
            model = train_quality_model(
                docs.withColumn("label", (F.col("doc_id") % 2).cast("int")),
                "label",
                sample=2000,
            )

        def run_score():
            return score_quality(docs, model).agg(F.sum("prob")).first()

        def run_lm():
            vocab = build_vocab(docs, size=30_000)
            bigrams = build_bigram_vocab(docs, size=100_000)
            return (
                doc_cross_entropy_bigram(docs, vocab, bigrams)
                .agg(F.sum("cross_entropy"))
                .first()
            )

        run_score()
        t0 = time.time()
        run_score()
        w_score = time.time() - t0
        run_lm()
        t0 = time.time()
        run_lm()
        w_lm = time.time() - t0
        print(
            f"n={n}: quality_score wall={w_score:.1f}s "
            f"bigram_ce wall={w_lm:.1f}s (model+vocab rebuilt in-plan)"
        )


def media_dedup_ladder_rung(spark, sizes: list[int]) -> None:
    """Perceptual-hash media near-dup at ladder scale (r14): a
    planted-duplicate media corpus — n base items, 10% single-char
    're-encode' variants, plus ONE 100-member exact-duplicate
    cluster — measured on three axes:

    - decode+dhash throughput (the Arrow mapInPandas boundary);
    - the banded join's CANDIDATE pair mass (Σ_buckets C(m,2) from
      the band census) vs the all-pairs n(n-1)/2 it replaces, plus
      verified-pair recall of the planted variants;
    - the groups path's identical-hash collapse: the 100-member
      cluster costs k-1 = 99 identity edges instead of the
      C(100,2) = 4950 pairs the pair verb would enumerate.
    """
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.multimodal import (
        extract_dhash,
        synthesize_media,
    )
    from wrds_data_pipeline_spark.operators.media_dedup import (
        hamming_band_table,
        hamming_dup_groups,
        hamming_near_dup_pairs,
    )

    for n in sizes:
        docs = spark.read.parquet(_generate_docs(n)).repartition(32)
        variants = (
            docs.filter(F.col("doc_id") % 10 == 0)
            .select(
                (F.col("doc_id") + 10_000_000).alias("doc_id"),
                F.concat(
                    F.substring("text", 1, 10), F.lit("~"),
                    F.expr("substring(text, 12)"),
                ).alias("text"),
            )
        )
        clones = (
            docs.filter(F.col("doc_id") == 0)
            .crossJoin(spark.range(100).select(F.col("id").alias("_k")))
            .select(
                (F.col("_k") + 20_000_000).alias("doc_id"), F.col("text")
            )
        )
        corpus = docs.select("doc_id", "text").unionByName(
            variants
        ).unionByName(clones)
        media = synthesize_media(spark, corpus)
        n_items = media.count()
        n_variants = variants.count()

        # 1. decode + dhash throughput (warm then timed)
        hashes = extract_dhash(media)
        hashes.count()
        t0 = time.time()
        hashes.count()
        w_hash = time.time() - t0

        h = hashes.localCheckpoint(eager=True)

        # 2. candidate pair mass from the band census vs all-pairs
        census = (
            hamming_band_table(h)
            .groupBy("band", "band_val")
            .agg(F.count(F.lit(1)).alias("m"))
            .agg(F.sum(F.expr("m * (m - 1) / 2")).alias("mass"))
            .first()["mass"]
        )
        allpairs = n_items * (n_items - 1) // 2
        t0 = time.time()
        pairs = hamming_near_dup_pairs(h).localCheckpoint(eager=True)
        n_pairs = pairs.count()
        w_pairs = time.time() - t0
        found_variants = pairs.filter(
            F.col("id_b") == F.col("id_a") + 10_000_000
        ).count()

        # 3. groups path: identical-hash collapse economics
        t0 = time.time()
        groups = hamming_dup_groups(h).localCheckpoint(eager=True)
        n_grouped = groups.count()
        w_groups = time.time() - t0
        clone_group = groups.filter(
            F.col("media_id") >= 20_000_000
        ).count()
        print(
            f"n={n_items} (base {n}, variants {n_variants}, clone "
            f"cluster 100): dhash wall={w_hash:.1f}s "
            f"({n_items / max(w_hash, 1e-9):,.0f} items/s) | "
            f"bucket_pair_mass={int(census):,} vs allpairs "
            f"{allpairs:,} ({census / allpairs:.2%}) | "
            f"pairs wall={w_pairs:.1f}s n_pairs={n_pairs} "
            f"variant_recall={found_variants}/{n_variants} | "
            f"groups wall={w_groups:.1f}s grouped={n_grouped} "
            f"(clone cluster: 99 identity edges, not "
            f"{100 * 99 // 2} pairs; {clone_group}/100 members "
            "labeled)"
        )


def bloom_rung(spark, sizes: list[int]) -> None:
    """Decontamination-rung crossover: exact-broadcast vs bloom probe
    wall and broadcast payload as the REFERENCE set grows (sizes are
    reference doc counts; corpus fixed at 8000 docs).  The claim made
    falsifiable: corpus-side wall should be ~flat for both (one scan
    + per-doc agg), with bloom's payload bits-per-key vs the exact
    relation's 8+ bytes/gram — the win is broadcast mass, visible in
    build wall and executor memory, not probe CPU."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.contamination import (
        auto_bloom_params,
        benchmark_ngram_set,
        contamination_scores,
    )

    corpus = spark.read.parquet(_generate_docs(8000)).repartition(32)
    for n in sizes:
        ref = spark.read.parquet(_generate_docs(n)).select(
            F.col("doc_id").alias("qid"), "text"
        )
        n_grams = benchmark_ngram_set(ref).count()
        try:
            m_bits, nk = auto_bloom_params(n_grams)
        except ValueError as e:
            # the documented cap: past 2^26 bits the honest rung is
            # strategy='shuffle' — the guard firing IS the result
            print(f"n_ref_docs={n}: grams={n_grams} bloom guard: {e}")
            continue

        def run(strategy):
            return (
                contamination_scores(corpus, ref, strategy=strategy)
                .agg(F.sum("n_contaminated"))
                .first()[0]
            )

        run("broadcast")
        t0 = time.time()
        hits_exact = run("broadcast")
        w_exact = time.time() - t0
        run("bloom")
        t0 = time.time()
        hits_bloom = run("bloom")
        w_bloom = time.time() - t0
        print(
            f"n_ref_docs={n}: grams={n_grams} exact wall={w_exact:.1f}s "
            f"(~{n_grams * 8 // 1024}KB set) bloom wall={w_bloom:.1f}s "
            f"({m_bits // 8 // 1024}KB bits, k={nk}) "
            f"hits exact={hits_exact} bloom={hits_bloom} "
            f"(bloom ≥ exact, gap = fp)"
        )


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:] if a.isdigit()] or [2000, 8000, 32000]
    exact_all = "--exact-all" in sys.argv
    if "--lsh-bucket" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        lsh_bucket_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [2500, 5000, 10000],
            unguarded_all="--unguarded-all" in sys.argv,
        )
        return
    if "--lsh-bucket-precision" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        lsh_bucket_precision_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [300, 600, 1200],
        )
        return
    if "--corpus-gates" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        corpus_gates_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [8000, 32000],
        )
        return
    if "--ingest-precision" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        ingest_precision_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [300, 600],
        )
        return
    if "--corpus-chain" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        corpus_chain_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [8000, 32000],
        )
        return
    if "--corpus-chain-materialized" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        corpus_chain_materialized_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [8000],
        )
        return
    if "--tokenizer-ladder" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        tokenizer_ladder_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()]
            or [2000, 8000, 32000],
        )
        return
    if "--wordpiece-counting-ladder" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        wordpiece_counting_ladder_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()]
            or [2000, 8000, 32000],
        )
        return
    if "--unigram-em-ladder" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        unigram_em_ladder_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()]
            or [2000, 8000, 32000],
        )
        return
    if "--unigram-em-crossover" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        unigram_em_crossover_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()]
            or [60000, 200000, 600000],
        )
        return
    if "--semantic-ladder" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        semantic_ingest_ladder_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()]
            or [2000, 8000, 32000],
        )
        return
    if "--groups-ladder" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        groups_ladder_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()]
            or [2000, 8000, 32000],
        )
        return
    if "--media-dedup-ladder" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        media_dedup_ladder_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()]
            or [8000, 32000],
        )
        return
    if "--scrub-short-items" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        scrub_short_items_rung(
            get_spark(app_name="scale_rehearsal"),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [32000],
        )
        return
    if "--spans-skew" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        spans_skew_rung(
            get_spark(
                app_name="scale_rehearsal_skew",
                extra_conf={"spark.ui.enabled": "true"},
            ),
            [int(a) for a in sys.argv[1:] if a.isdigit()] or [4000, 32000, 128000],
        )
        return
    if "--spans" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        spans_rung(get_spark(app_name="scale_rehearsal"), sizes)
        return
    if "--text" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        text_rung(get_spark(app_name="scale_rehearsal"), sizes)
        return
    if "--bloom" in sys.argv:
        from wrds_data_pipeline_spark.session import get_spark

        bloom_rung(get_spark(app_name="scale_rehearsal"), sizes)
        return

    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.similarity import (
        _hyperplane,
        arrow_assigner,
        auto_n_planes,
        embedding_dup_pairs,
        ivf_assign,
        ivf_build,
        semantic_dup_pairs,
    )
    from wrds_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scale_rehearsal")
    for n in sizes:
        emb = spark.read.parquet(_generate(n))

        np_ = auto_n_planes(n, target_bucket_size=32)
        planes = [_hyperplane(DIM, p) for p in range(np_)]
        t0 = time.time()
        cand = embedding_dup_pairs(
            emb, threshold=-1.0, planes=planes, hamming_probe=1
        ).count()
        w_lsh = time.time() - t0

        t0 = time.time()
        assigned, cents = ivf_build(
            emb, n_cells=None, target_cell_size=64, assign="hierarchical"
        )
        assigned.agg(F.sum("cell")).first()
        w_hier = time.time() - t0
        t0 = time.time()
        arrow_assigner(cents)(emb).agg(F.sum("cell")).first()
        w_arrow = time.time() - t0
        if exact_all or n == min(sizes):  # smallest size, whatever order
            t0 = time.time()
            ivf_assign(emb, cents).agg(F.sum("cell")).first()
            w_exact = f"{time.time() - t0:.1f}s"
        else:
            w_exact = "skipped(n*c quadratic; --exact-all to force)"

        t0 = time.time()
        sem = semantic_dup_pairs(
            emb, cents, threshold=0.9, hierarchical_assign=True
        ).count()
        w_sem = time.time() - t0

        # PQ rung: ADC scan vs exact scan for one query over the full
        # corpus (both O(n) rows, but m lookups vs dim multiplies per
        # row — the ratio should hold flat as n grows), plus recall@10
        # of the rerank path vs brute force
        from wrds_data_pipeline_spark.operators.pq import (
            pq_encode,
            pq_adc_topk,
            pq_topk,
            pq_train,
        )
        from wrds_data_pipeline_spark.operators.similarity import (
            brute_force_topk,
        )

        cb = pq_train(emb, m=8, k=16)
        # encode once, persisted: the stored-code-table regime
        coded = pq_encode(emb, cb).persist()
        coded.count()
        qv = [float(x) for x in emb.first()["embedding"]]
        t0 = time.time()
        pq_adc_topk(coded, cb, qv, k=10).collect()
        w_adc = time.time() - t0
        t0 = time.time()
        exact_ids = [r["vec_id"] for r in brute_force_topk(emb, qv, 10).collect()]
        w_bf = time.time() - t0
        rr_ids = [
            r["vec_id"]
            for r in pq_topk(coded, cb, qv, 10, rerank_factor=8).collect()
        ]
        recall8 = len(set(exact_ids) & set(rr_ids)) / 10
        # auto (error-band) pool: sized by the sigma calibration, no
        # hand tuning — the r6 0.30-recall regime is exactly what this
        # must fix (VERDICT r6 next #7)
        auto_ids = [
            r["vec_id"]
            for r in pq_topk(coded, cb, qv, 10, rerank_factor=None).collect()
        ]
        recall_auto = len(set(exact_ids) & set(auto_ids)) / 10
        coded.unpersist()

        print(
            f"n={n}: lsh planes={np_} cand_pairs={cand} wall={w_lsh:.1f}s | "
            f"ivf cells={len(cents)} hier_assign={w_hier:.1f}s "
            f"arrow_assign={w_arrow:.1f}s exact_assign={w_exact} | "
            f"semdedup pairs={sem} wall={w_sem:.1f}s | "
            f"pq adc_scan={w_adc:.1f}s exact_scan={w_bf:.1f}s "
            f"rerank_recall@10: factor8={recall8:.2f} auto={recall_auto:.2f}"
        )


if __name__ == "__main__":
    main()
