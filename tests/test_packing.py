"""Sequence packing: greedy-oracle parity + invariants."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from wrds_data_pipeline_spark.operators.packing import (
    pack_sequences,
    sequence_stats,
)


def _global_greedy(tokens_in_order, max_tokens):
    """Oracle: single-pass first-fit-in-order over the whole corpus.
    Returns the sequence index per doc."""
    seq, run, cur = [], 0, 0
    for t in tokens_in_order:
        if run + t > max_tokens and run > 0:
            cur += 1
            run = 0
        seq.append(cur)
        run += t
    return seq


def _tok_docs(spark, toks):
    rows = [(i, t) for i, t in enumerate(toks)]
    return spark.createDataFrame(rows, ["doc_id", "n_tok"])


def _collect(packed):
    rows = packed.filter(~F.col("oversize")).orderBy("doc_id").collect()
    return rows


def test_single_chunk_matches_global_greedy(spark):
    rng = random.Random(11)
    toks = [rng.randrange(1, 900) for _ in range(200)]
    docs = _tok_docs(spark, toks)
    # chunk_bins large enough that everything lands in chunk 0 ->
    # packing must EQUAL the global greedy oracle, not just bound it
    packed = pack_sequences(
        docs, max_tokens=2048, token_col="n_tok", chunk_bins=10_000
    )
    rows = _collect(packed)
    want = _global_greedy(toks, 2048)
    # same grouping structure (seq ids may be relabeled monotonically)
    got = [r.seq_id for r in rows]
    remap = {}
    for g, w in zip(got, want):
        remap.setdefault(g, w)
        assert remap[g] == w
    assert len(set(got)) == len(set(want))


def test_invariants_multi_chunk(spark):
    rng = random.Random(5)
    toks = [rng.randrange(1, 1500) for _ in range(600)]
    max_tokens = 2048
    docs = _tok_docs(spark, toks)
    packed = pack_sequences(
        docs, max_tokens=max_tokens, token_col="n_tok", chunk_bins=4
    )
    rows = _collect(packed)
    assert len(rows) == len(toks)  # every doc assigned exactly once
    # budget respected per sequence
    stats = {
        r.seq_id: r.seq_tokens
        for r in sequence_stats(packed, max_tokens).collect()
    }
    assert all(v <= max_tokens for v in stats.values())
    # seq ids monotone in doc order; positions contiguous from 0
    by_seq = {}
    prev_seq = None
    for r in rows:
        assert prev_seq is None or r.seq_id >= prev_seq
        prev_seq = r.seq_id
        by_seq.setdefault(r.seq_id, []).append(r.seq_pos)
    for poss in by_seq.values():
        assert poss == list(range(len(poss)))
    # chunk-boundary waste is bounded: at most one extra sequence per
    # chunk versus the global greedy oracle
    n_global = len(set(_global_greedy(toks, max_tokens)))
    n_chunks = len({r.seq_id // (4 * 4) for r in rows})
    assert len(by_seq) <= n_global + n_chunks


def test_oversize_flagged_not_packed(spark):
    docs = _tok_docs(spark, [100, 5000, 200])
    packed = pack_sequences(
        docs, max_tokens=1024, token_col="n_tok"
    ).orderBy("doc_id")
    rows = packed.collect()
    assert rows[1].oversize and rows[1].seq_id is None
    assert not rows[0].oversize and not rows[2].oversize


def test_null_tokens_routed_not_dropped(spark):
    """Null text / null token counts must come back flagged, not
    silently vanish (three-valued-logic regression)."""
    docs = spark.createDataFrame(
        [(1, 100), (2, None), (3, 200)],
        "doc_id long, n_tok long",
    )
    rows = (
        pack_sequences(docs, 1024, token_col="n_tok")
        .orderBy("doc_id")
        .collect()
    )
    assert [r.doc_id for r in rows] == [1, 2, 3]
    assert rows[1].oversize and rows[1].seq_id is None
    docs_txt = spark.createDataFrame(
        [(1, "some real words here"), (2, None)], "doc_id long, text string"
    )
    rows = pack_sequences(docs_txt, 1024).orderBy("doc_id").collect()
    assert len(rows) == 2 and rows[1].oversize


def test_repartition_invariant(spark):
    rng = random.Random(3)
    toks = [rng.randrange(1, 700) for _ in range(300)]
    docs = _tok_docs(spark, toks)
    a = {
        (r.doc_id, r.seq_id, r.seq_pos)
        for r in _collect(
            pack_sequences(docs, 2048, token_col="n_tok", chunk_bins=8)
        )
    }
    b = {
        (r.doc_id, r.seq_id, r.seq_pos)
        for r in _collect(
            pack_sequences(
                docs.repartition(17), 2048, token_col="n_tok", chunk_bins=8
            )
        )
    }
    assert a == b


def test_write_packed_shards_roundtrip(spark, tmp_path):
    from wrds_data_pipeline_spark.operators.packing import write_packed_shards

    docs = spark.createDataFrame(
        [(i, f"text {i}", 300) for i in range(50)],
        ["doc_id", "text", "n_tok"],
    )
    packed = pack_sequences(docs, 1024, token_col="n_tok", chunk_bins=4)
    out = str(tmp_path / "shards")
    write_packed_shards(docs, packed, out, n_shards=4)
    back = spark.read.parquet(out)
    assert back.count() == 50
    assert {"doc_id", "text", "seq_id", "seq_pos"} <= set(back.columns)


def test_pack_from_text_and_order_col(spark, driver_tables):
    # derive token counts from real document text; order by (lang, id)
    docs = driver_tables["documents"]
    packed = pack_sequences(
        docs.withColumn("lang", F.lit("en")),
        max_tokens=4096,
        order_col="lang",
        chunk_bins=8,
    )
    n_docs = docs.count()
    assert packed.count() == n_docs
    stats = sequence_stats(packed, 4096)
    assert stats.filter(F.col("seq_tokens") > 4096).count() == 0


def _long_docs(spark):
    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),   # 10 tokens
        (2, "alpha beta gamma"),                      # 3 tokens (< window)
        (3, ""),                                      # empty -> no chunks
        (4, " ".join(f"u{i}" for i in range(8))),    # exactly 2 windows of 4
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_chunk_disjoint_rebuilds_document(spark):
    from wrds_data_pipeline_spark.operators.packing import chunk_documents

    out = chunk_documents(_long_docs(spark), max_tokens=4).collect()
    by_doc = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.chunk_id)):
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 4}  # empty doc 3 absent
    # disjoint stride rebuilds the normalized doc exactly
    assert " ".join(c.chunk_text for c in by_doc[1]) == " ".join(
        f"t{i}" for i in range(10)
    )
    assert [c.n_chunk_tokens for c in by_doc[1]] == [4, 4, 2]
    assert [c.chunk_id for c in by_doc[1]] == [0, 1, 2]
    assert [c.n_chunk_tokens for c in by_doc[2]] == [3]
    assert [c.n_chunk_tokens for c in by_doc[4]] == [4, 4]


def test_chunk_overlap_stride(spark):
    from wrds_data_pipeline_spark.operators.packing import chunk_documents

    out = sorted(
        chunk_documents(
            _long_docs(spark).filter("doc_id = 1"), max_tokens=4, stride=2
        ).collect(),
        key=lambda r: r.chunk_id,
    )
    # starts 0,2,4,6,8 -> windows of 4,4,4,4,2
    assert [r.n_chunk_tokens for r in out] == [4, 4, 4, 4, 2]
    texts = [r.chunk_text.split() for r in out]
    for a, b in zip(texts, texts[1:]):
        assert a[2:] == b[: len(a) - 2]  # 2-token overlap carries over


def test_chunk_no_shuffle_plan(spark, driver_tables):
    from wrds_data_pipeline_spark.operators.packing import chunk_documents

    out = chunk_documents(driver_tables["documents"], max_tokens=128)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # row-local: explode + slice only
    assert out.count() > 0


def test_chunk_validates_args(spark):
    import pytest

    from wrds_data_pipeline_spark.operators.packing import chunk_documents

    with pytest.raises(ValueError):
        chunk_documents(_long_docs(spark), max_tokens=0)
    with pytest.raises(ValueError):
        chunk_documents(_long_docs(spark), max_tokens=4, stride=-1)


def test_duplicate_order_keys_raise(spark):
    """Non-unique order keys would make the distributed prefix sum
    (and therefore seq assignment) nondeterministic — the fused
    raise_error guard makes that impossible by construction (fires at
    action time; no extra job when keys are unique)."""
    import pytest

    rows = [(1, 10), (1, 20), (2, 30)]  # duplicate doc_id=1
    docs = spark.createDataFrame(rows, ["doc_id", "n_tok"])
    with pytest.raises(Exception, match="unique key"):
        pack_sequences(docs, max_tokens=100, token_col="n_tok").collect()


def test_unique_keys_do_not_raise_and_check_skippable(spark):
    docs = spark.createDataFrame([(1, 10), (2, 20)], ["doc_id", "n_tok"])
    out = pack_sequences(docs, max_tokens=100, token_col="n_tok")
    assert out.count() == 2
    from wrds_data_pipeline_spark.operators.packing import _exclusive_prefix_sum

    # trusted-caller escape hatch: no eager uniqueness job
    cum = _exclusive_prefix_sum(
        docs, ["doc_id"], "n_tok", check_unique=False
    ).orderBy("doc_id").collect()
    assert [r["_cum"] for r in cum] == [0, 10]


def test_reliable_checkpoint_waist(spark, request):
    """On preemptible clusters localCheckpoint's unreplicated blocks
    make the truncated lineage unrecomputable on executor loss; a
    session with a checkpoint dir writes the waist to that
    fault-tolerant dir instead — identical packing either way."""
    import os

    rng = random.Random(7)
    toks = [rng.randrange(1, 900) for _ in range(120)]
    docs = _tok_docs(spark, toks)
    local = _collect(
        pack_sequences(docs, max_tokens=1024, token_col="n_tok")
    )
    ckpt = request.getfixturevalue("reliable_checkpoint_dir")
    reliable = _collect(
        pack_sequences(docs, max_tokens=1024, token_col="n_tok")
    )
    assert [(r.doc_id, r.seq_id, r.seq_pos) for r in local] == [
        (r.doc_id, r.seq_id, r.seq_pos) for r in reliable
    ]
    assert [
        d for _, dirs, _ in os.walk(ckpt) for d in dirs
        if d.startswith("rdd-")
    ]
