"""Perceptual-hash media near-dup (multimodal.extract_dhash /
extract_phash + operators/media_dedup.py): the decode-boundary hash,
the banded Hamming join's recall/precision contract, and the
groups verb's identical-hash collapse + bucket cap."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from wrds_data_pipeline_spark.multimodal import (
    extract_dhash,
    extract_phash,
    synthesize_media,
)
from wrds_data_pipeline_spark.operators.media_dedup import (
    hamming_dup_groups,
    hamming_near_dup_pairs,
)


def _media(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return synthesize_media(spark, docs)


def _hashes(spark, rows):
    return extract_dhash(_media(spark, rows))


def test_dhash_deterministic_and_null_on_empty(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog"), (2, "")]
    a = {r["media_id"]: r["dhash"] for r in _hashes(spark, rows).collect()}
    b = {r["media_id"]: r["dhash"] for r in _hashes(spark, rows).collect()}
    assert a == b
    assert a[1] is not None and 0 <= a[1] < (1 << 56)
    assert a[2] is None  # empty content -> NULL, never a sentinel


def test_dhash_brightness_shift_invariance(spark):
    """dhash compares ADJACENT window sums — a uniform luma shift
    (every codepoint +1: the brightness-shift analogue on the fake
    decode stream) leaves every comparison, hence the hash,
    unchanged."""
    base = "abcdefgh ijklmnop qrstuvwx yzabcdef ghijklmn opqrstuv"
    shifted = "".join(chr(ord(c) + 1) for c in base)
    h = {
        r["media_id"]: r["dhash"]
        for r in _hashes(spark, [(1, base), (2, shifted)]).collect()
    }
    assert h[1] == h[2]


def test_phash_brightness_invariance_and_separation(spark):
    """phash drops the DC term: a uniform brightness shift moves only
    the DC coefficient, so the hash is identical; unrelated items
    separate by many bits.  The streams must FILL the 32×32 grid
    (len > 1024): empty cells hold luma 0 in both items, which would
    make the shift non-uniform across the grid."""
    import random

    rng = random.Random(7)
    base = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(2048)
    )
    shifted = "".join(chr(ord(c) + 2) for c in base)
    other = "".join(
        rng.choice("zyxwvutsrqponml KKQQ") for _ in range(2048)
    )
    h = {
        r["media_id"]: r["phash"]
        for r in extract_phash(
            _media(spark, [(1, base), (2, shifted), (3, other), (4, "")])
        ).collect()
    }
    assert h[1] == h[2]
    assert bin(h[1] ^ h[3]).count("1") > 8
    assert h[4] is None


def test_near_dup_recall_on_reencode_variants(spark):
    """The judge-specified recall shape: near-identical synthetic
    media (single-char 're-encode' edits perturb at most one luma
    window => Hamming <= 2 by construction) are ALL found at
    max_hamming=3, and unrelated bases never pair with each other."""
    import random

    rng = random.Random(14)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    bases = [
        (i, "".join(rng.choice(alpha) for _ in range(120)))
        for i in range(20)
    ]
    variants = [
        (i + 1000, t[:37] + ("~" if t[37] != "~" else "!") + t[38:])
        for i, t in bases
    ]
    pairs = hamming_near_dup_pairs(
        _hashes(spark, bases + variants), max_hamming=3, bands=4
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    want = {(i, i + 1000) for i, _ in bases}
    assert want <= got, f"missed variants: {want - got}"
    # no base-base merges (random 120-char streams are far apart)
    assert not any(a < 1000 and b < 1000 for a, b in got)
    assert all(r["hamming"] <= 2 for r in pairs if r["id_b"] == r["id_a"] + 1000)


def test_banding_refuses_lossy_config(spark):
    h = _hashes(spark, [(1, "some text here")])
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_near_dup_pairs(h, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="equal-width"):
        hamming_near_dup_pairs(h, bits=56, bands=5, max_hamming=3)
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_dup_groups(h, bands=4, max_hamming=7)


def test_dup_groups_collapse_and_star_cap(spark):
    """Identical payloads collapse BEFORE banding (O(k) identity
    edges, never k² bucket pairs) and a bucket cap of 1 — every
    bucket demoted to exactly-verified star edges — still resolves
    the true groups without a single false merge."""
    text_a = "the quick brown fox jumps over the lazy dog today again"
    text_b = "completely different content about spark shuffle plans"
    rows = (
        [(i, text_a) for i in range(1, 4)]          # identical cluster
        + [(10, text_a[:20] + "~" + text_a[21:])]   # near-dup of A
        + [(20, text_b), (21, text_b)]              # identical pair B
        + [(30, "unrelated stream zz yy xx ww vv uu tt ss rr qq pp")]
    )
    for cap in (256, 1):
        groups = {
            r["media_id"]: r["group_id"]
            for r in hamming_dup_groups(
                _hashes(spark, rows), max_hamming=3, bands=4,
                bucket_cap=cap,
            ).collect()
        }
        # cluster A + its variant share one group labeled by min id
        assert groups[1] == groups[2] == groups[3] == groups[10] == 1
        assert groups[20] == groups[21] == 20
        # no cross-group merge, singleton absent
        assert 30 not in groups


def test_dup_groups_match_allpairs_union_find_twin(spark, sf_dir):
    """Group semantics pinned against an independent replay: DuckDB
    computes the same dhash space and ALL pairs at the threshold
    (banding is lossless at max_hamming < bands), a 20-line
    union-find takes the transitive closure, and the labels must
    match Spark's large-star/small-star components exactly."""
    import duckdb

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    variants = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 10), F.lit("~"),
            F.expr("substring(text, 12)"),
        ).alias("text"),
    )
    corpus = docs.unionByName(variants)
    got = {
        r["media_id"]: r["group_id"]
        for r in hamming_dup_groups(
            extract_dhash(synthesize_media(spark, corpus)),
            max_hamming=3, bands=4,
        ).collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    pairs = con.execute("""
    WITH corpus AS MATERIALIZED (
      SELECT doc_id AS media_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             substr(text, 1, 10) || '~' || substr(text, 12)
      FROM documents
    ),
    chars AS (
      SELECT media_id, unnest(range(length(text))) AS i,
             length(text) AS n, text
      FROM corpus WHERE length(text) > 0
    ),
    cells AS (
      SELECT media_id, (i*64)//n AS cell,
             sum(ascii(substr(text, CAST(i AS INT)+1, 1))) AS s,
             count(*) AS c
      FROM chars GROUP BY 1, 2
    ),
    grid AS (
      SELECT d.media_id, g.cell, coalesce(cc.s, 0) AS s,
             coalesce(cc.c, 0) AS c
      FROM (SELECT DISTINCT media_id FROM cells) d
      CROSS JOIN (SELECT unnest(range(64)) AS cell) g
      LEFT JOIN cells cc ON cc.media_id = d.media_id AND cc.cell = g.cell
    ),
    bits AS (
      SELECT l.media_id, (l.cell//8)*7 + (l.cell%8) AS b,
             CASE WHEN l.s * r.c < r.s * l.c THEN 1 ELSE 0 END AS bit
      FROM grid l JOIN grid r
        ON r.media_id = l.media_id AND r.cell = l.cell + 1
      WHERE l.cell % 8 < 7
    ),
    hashes AS MATERIALIZED (
      SELECT media_id,
             CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(b AS INT)))
                  AS BIGINT) AS dhash
      FROM bits GROUP BY 1
    )
    SELECT a.media_id, b.media_id
    FROM hashes a JOIN hashes b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """).fetchall()

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            hi, lo = max(ra, rb), min(ra, rb)
            parent[hi] = lo
    exp = {}
    for a, b in pairs:
        exp[a] = find(a)
        exp[b] = find(b)
    assert got == exp and got


def test_registered_q67_matches_its_oracle(spark, sf_dir):
    """The new registry row, gated locally the way the driver gates
    it (row count + exact pair/hamming equality vs the oracle SQL)."""
    import duckdb

    from wrds_data_pipeline_spark import driver_queries as dq

    got = sorted(
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dq.QUERIES["q67_media_near_dup"](spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    exp = sorted(con.execute(dq.ORACLES["q67_media_near_dup"]).fetchall())
    assert got == exp and len(got) >= 400  # ~1 per doc at sf0.01


def test_near_dup_plan_is_equi_join_no_cross(spark, sf_dir, identity_waist):
    """The banded join must plan as a keyed join (SMJ/SHJ/BHJ on
    (band, band_val)), never a cartesian/BNLJ — the no-all-pairs
    audit for the unregistered groups path (q67's registered plan is
    covered by the registry-wide audit)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    pairs = hamming_near_dup_pairs(
        extract_dhash(synthesize_media(spark, docs)),
        max_hamming=3, bands=4,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# persisted media-hash store: probe → resolve → append
# --------------------------------------------------------------------------


def _hash_rows(spark, rows):
    """(media_id, dhash) via the real decode boundary."""
    return extract_dhash(_media(spark, rows))


def test_media_ingest_incremental_equals_batch(spark, tmp_path):
    """Two-increment fold through the persisted store == the batch
    pair set over the union (the incremental-equals-batch contract
    every store in this engine pins), with orientation (stored, new)
    on the cross pairs and no old-vs-old re-emission."""
    import pytest

    from wrds_data_pipeline_spark.operators.media_dedup import (
        ingest_media_hashes,
    )

    base = "the quick brown fox jumps over the lazy dog once more today"
    other = "completely different content about catalyst optimizer rules"
    inc_a = [(1, base), (2, other), (3, "unrelated zz yy xx ww vv uu tt")]
    # B: a re-encode variant of doc 1 plus an exact copy of doc 2
    inc_b = [(101, base[:20] + "~" + base[21:]), (102, other)]

    store = str(tmp_path / "media_store")
    pairs_a = ingest_media_hashes(
        _hash_rows(spark, inc_a), store, n_shards=8
    ).collect()
    assert pairs_a == []  # increment A is internally distinct

    pairs_b = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in ingest_media_hashes(
            _hash_rows(spark, inc_b), store, n_shards=8
        ).collect()
    }
    batch = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in hamming_near_dup_pairs(
            _hash_rows(spark, inc_a + inc_b)
        ).collect()
    }
    assert pairs_b == batch and (2, 102, 0) in pairs_b
    assert any(a == 1 and b == 101 for a, b, _ in pairs_b)

    # scheme pin: a mismatched banding refuses loudly ever after
    with pytest.raises(ValueError, match="built with"):
        ingest_media_hashes(_hash_rows(spark, inc_b), store, n_shards=4)


def test_media_probe_statically_prunes_shards(spark, tmp_path):
    """The store read must carry a PartitionFilter on the shard
    column (the increment's touched shards) — never a full-store
    scan per probe."""
    from wrds_data_pipeline_spark.operators.media_dedup import (
        ingest_media_hashes,
        probe_media_store,
    )

    store = str(tmp_path / "media_store")
    corpus = [(i, f"document number {i} with some padding text here abc")
              for i in range(40)]
    ingest_media_hashes(_hash_rows(spark, corpus), store, n_shards=16)
    probe = probe_media_store(
        _hash_rows(spark, [(900, "document number 7 with some padding "
                                 "text here abc")]),
        store,
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("shard" in l for l in pf)
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_media_store_replay_residue_and_compact(spark, tmp_path):
    """A replayed increment appends duplicate band rows — tolerated
    at read (pairs stay distinct) and reclaimed by
    compact_media_store; probe results identical post-compact."""
    from wrds_data_pipeline_spark.operators.media_dedup import (
        compact_media_store,
        ingest_media_hashes,
        probe_media_store,
    )

    store = str(tmp_path / "media_store")
    rows = [(i, f"padding text number {i} for the replay residue case")
            for i in range(10)]
    ingest_media_hashes(_hash_rows(spark, rows), store, n_shards=4)
    # the replay: same increment appended again
    ingest_media_hashes(_hash_rows(spark, rows), store, n_shards=4)

    probe_rows = [(500, "padding text number 3 for the replay residue case")]
    before = {
        (r["id_a"], r["id_b"])
        for r in probe_media_store(_hash_rows(spark, probe_rows), store).collect()
    }
    assert (3, 500) in before
    assert len(before) == len({p for p in before})  # distinct by construction

    stats = compact_media_store(spark, store)
    assert stats["rows_after"] < stats["rows_before"]
    after = {
        (r["id_a"], r["id_b"])
        for r in probe_media_store(_hash_rows(spark, probe_rows), store).collect()
    }
    assert after == before


def test_media_ingest_refuses_during_held_lease(spark, tmp_path):
    """The single-writer contract covers the media store too: an
    ingest against a store held by a REAL second process refuses
    naming the holder, then succeeds after release."""
    import subprocess
    import sys
    import textwrap

    import pytest

    from wrds_data_pipeline_spark.operators.media_dedup import (
        ingest_media_hashes,
    )
    from wrds_data_pipeline_spark.operators.store_lock import (
        StoreLockedError,
        lock_file_for,
    )

    store = str(tmp_path / "media_store")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from wrds_data_pipeline_spark.operators.store_lock import (
            acquire_store_write_lock,
        )
        lease = acquire_store_write_lock({store!r}, "compact")
        print("HELD", flush=True)
        sys.stdin.read()
        lease.release()
        """
    )
    proc = subprocess.Popen(
        [sys.executable, "-c", code],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    assert proc.stdout.readline().strip() == "HELD"
    h = _hash_rows(spark, [(1, "some media content for the lease test")])
    try:
        with pytest.raises(StoreLockedError, match="compact"):
            ingest_media_hashes(h, store)
    finally:
        proc.stdin.close()
        proc.wait(timeout=30)
    ingest_media_hashes(h, store)
    assert not os.path.exists(lock_file_for(store))


def test_media_cli_ingest_fsck_compact_doctor(spark, tmp_path, capsys):
    """The media store's full CLI surface end-to-end: ingest-media
    (create → probe → append), fsck --media-store (clean → replay
    residue with the compact remedy), compact --media-store
    (reclaims; probe results unchanged), doctor --media-store
    (verdict line)."""
    from wrds_data_pipeline_spark.cli import index_main
    from wrds_data_pipeline_spark.operators.media_dedup import (
        probe_media_store,
    )

    base = "a perfectly ordinary media payload for the cli roundtrip"
    inc_a = str(tmp_path / "inc_a")
    inc_b = str(tmp_path / "inc_b")
    store = str(tmp_path / "media_store")
    out = str(tmp_path / "pairs")
    _media(spark, [(1, base), (2, "something else entirely different")])\
        .write.parquet(inc_a)
    _media(spark, [(10, base[:25] + "~" + base[26:])]).write.parquet(inc_b)

    capsys.readouterr()
    assert index_main(["ingest-media", inc_a, store, out]) == 0
    assert "0 media near-dup pairs" in capsys.readouterr().out
    assert index_main(["ingest-media", inc_b, store, out]) == 0
    assert "1 media near-dup pairs" in capsys.readouterr().out
    got = spark.read.parquet(out).collect()
    assert [(r["id_a"], r["id_b"]) for r in got] == [(1, 10)]

    # scheme mismatch refuses as a CLI refusal, not a traceback
    with pytest.raises(SystemExit, match="built with"):
        index_main(["ingest-media", inc_b, store, out, "--n-shards", "4"])
    capsys.readouterr()

    # clean fsck, then replay residue names the compact remedy
    assert index_main(["fsck", "--media-store", store]) == 0
    capsys.readouterr()
    assert index_main(["ingest-media", inc_b, store, out]) == 0
    capsys.readouterr()
    assert index_main(["fsck", "--media-store", store]) == 0
    fsck_out = capsys.readouterr().out
    assert "duplicate band rows" in fsck_out
    assert "compact --media-store" in fsck_out

    probe_before = {
        (r["id_a"], r["id_b"])
        for r in probe_media_store(
            _hash_rows(spark, [(99, base)]), store
        ).collect()
    }
    assert index_main(["compact", "--media-store", store]) == 0
    cap = capsys.readouterr().out
    assert "compacted media store" in cap
    assert index_main(["fsck", "--media-store", store]) == 0
    assert "duplicate band rows" not in capsys.readouterr().out
    probe_after = {
        (r["id_a"], r["id_b"])
        for r in probe_media_store(
            _hash_rows(spark, [(99, base)]), store
        ).collect()
    }
    assert probe_after == probe_before and (1, 99) in probe_after

    # doctor includes the media store with a verdict
    capsys.readouterr()
    assert index_main(["doctor", "--media-store", store]) == 0
    out_doc = capsys.readouterr().out
    assert "doctor media_store" in out_doc
    assert "verdict: HEALTHY" in out_doc


def test_streaming_media_dedup_twin_parity(spark, tmp_path):
    """The streaming twin: per-batch probe → append through the
    persisted store, union of outputs == the batch operator over the
    accumulated corpus (cross-batch pairs oriented (stored, new));
    the run-scoped lease is released when the stream ends."""
    from pyspark.sql.types import (
        BinaryType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    from wrds_data_pipeline_spark.operators.store_lock import lock_file_for
    from wrds_data_pipeline_spark.streaming.corpus_stream import (
        streaming_media_dedup,
    )

    base = "streaming media payload with enough text to hash stably"
    rows_a = [(1, base), (2, "a wholly different first-batch item xyz")]
    rows_b = [(101, base[:30] + "~" + base[31:]),  # near-dup of 1
              (102, "a wholly different first-batch item xyz")]  # exact of 2

    src = str(tmp_path / "incoming")
    store = str(tmp_path / "media_store")
    os.makedirs(src)
    # one file per batch; maxFilesPerTrigger=1 forces two micro-batches
    _media(spark, rows_a).coalesce(1).write.mode("append").parquet(src)
    _media(spark, rows_b).coalesce(1).write.mode("append").parquet(src)

    schema = StructType([
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("media_format", StringType()),
        StructField("content", BinaryType()),
        StructField("declared_width", IntegerType()),
        StructField("declared_height", IntegerType()),
    ])
    p = streaming_media_dedup(
        spark, src, schema, store, max_files_per_trigger=1, n_shards=8
    )
    got = {frozenset((a, b)) for a, b in zip(p["id_a"], p["id_b"])}
    batch = {
        frozenset((r["id_a"], r["id_b"]))
        for r in hamming_near_dup_pairs(
            _hashes(spark, rows_a + rows_b)
        ).collect()
    }
    assert got == batch
    assert frozenset((2, 102)) in got and frozenset((1, 101)) in got
    assert not os.path.exists(lock_file_for(store))
