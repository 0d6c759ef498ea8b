"""Round-15 optimization seams: the new caller-scope persists and the
pre-resolved-index handle must be pure performance knobs — bit-equal
outputs with and without them.  (The oracles already pin the scoped
paths at driver scale; these pin the PARITY of the seam itself on
engineered inputs, including the fan-out/edge shapes.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wrds_data_pipeline_spark.caching import PersistScope


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def vecs(spark):
    # 40 vectors in 4 dims, a few engineered near-dups + a null row
    data = []
    for i in range(40):
        base = [float((i * 7 + j * 3) % 11 - 5) for j in range(4)]
        data.append((i, base))
    data.append((100, data[3][1][:]))       # exact dup of id 3
    data.append((101, None))                 # null embedding
    return spark.createDataFrame(
        data, "vec_id bigint, embedding array<double>"
    )


def test_embedding_dup_pairs_scope_parity(vecs):
    from wrds_data_pipeline_spark.operators.similarity import (
        embedding_dup_pairs,
    )

    planes = [[1.0, 0.5, -0.25, 2.0], [-1.5, 0.75, 1.0, -0.5],
              [0.25, -2.0, 0.5, 1.5]]
    scope = PersistScope()
    try:
        for probe in (0, 1):
            lazy = embedding_dup_pairs(
                vecs, threshold=0.8, planes=planes, hamming_probe=probe,
            )
            scoped = embedding_dup_pairs(
                vecs, threshold=0.8, planes=planes, hamming_probe=probe,
                scope=scope,
            )
            assert _rows(lazy) == _rows(scoped)
            assert len(_rows(lazy)) > 0  # the fixture must exercise pairs
    finally:
        scope.release()


def test_semantic_dup_pairs_scope_parity(vecs):
    from wrds_data_pipeline_spark.operators.similarity import (
        semantic_dup_pairs,
    )

    centroids = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
                 (2, [0.0, 0.0, 1.0, 1.0])]
    scope = PersistScope()
    try:
        lazy = semantic_dup_pairs(vecs, centroids, threshold=0.8)
        scoped = semantic_dup_pairs(
            vecs, centroids, threshold=0.8, scope=scope
        )
        assert _rows(lazy) == _rows(scoped)
    finally:
        scope.release()


def test_pack_sequences_scope_parity(spark):
    from wrds_data_pipeline_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, (i * 13 % 37) + 1) for i in range(60)]
        + [(1000, 500), (1001, None)],  # oversize + null count
        "doc_id bigint, n_tok bigint",
    )
    scope = PersistScope()
    try:
        lazy = pack_sequences(
            docs, max_tokens=32, token_col="n_tok", chunk_bins=2
        )
        scoped = pack_sequences(
            docs, max_tokens=32, token_col="n_tok", chunk_bins=2,
            scope=scope,
        )
        assert _rows(lazy) == _rows(scoped)
    finally:
        scope.release()


def test_hamming_near_dup_pairs_scope_parity(spark):
    from wrds_data_pipeline_spark.operators.media_dedup import (
        hamming_near_dup_pairs,
    )

    hashes = spark.createDataFrame(
        [(i, (i * 0x9E3779B1) % (1 << 56)) for i in range(50)]
        + [(200, 5), (201, 7), (202, 5)],  # hamming(5,7)=1; exact dup 5
        "media_id bigint, dhash bigint",
    )
    scope = PersistScope()
    try:
        lazy = hamming_near_dup_pairs(hashes, bits=56, bands=4,
                                      max_hamming=3)
        scoped = hamming_near_dup_pairs(hashes, bits=56, bands=4,
                                        max_hamming=3, scope=scope)
        assert _rows(lazy) == _rows(scoped)
        assert (200, 202, 0) in _rows(lazy)
    finally:
        scope.release()


def test_probe_band_index_preresolved_rel_parity(spark, tmp_path):
    from wrds_data_pipeline_spark.operators.dedup import (
        build_band_index,
        probe_band_index,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i} tok{i+1} tok{i+2}")
         for i in range(30)],
        "doc_id bigint, text string",
    )
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "idx")
    build_band_index(old, path)
    by_path = probe_band_index(new, path)
    rel = spark.read.parquet(f"{path}/bands")
    by_rel = probe_band_index(new, path, index_rel=rel)
    assert _rows(by_path) == _rows(by_rel)
    assert len(_rows(by_path)) > 0


def test_relation_cache_memoizes_per_session_and_path(spark, sf_dir):
    from wrds_data_pipeline_spark import driver_queries as dq

    a = dq._t(spark, sf_dir, "documents")
    b = dq._t(spark, sf_dir, "documents")
    c = dq._t(spark, sf_dir, "embeddings")
    assert a is b            # memoized handle, one resolution per path
    assert a is not c        # distinct paths stay distinct
    # the handle is a lazy plan over the live files, not cached data
    assert a.count() == b.count()
