"""Store integrity checking (``wrds-spark-index fsck``) — the
read-only diagnosis verb that closes the store-lifecycle loop the
maintenance verbs opened: build/ingest create, compact/reshard/
recenter rewrite, lock-status shows who is writing, and fsck answers
"is what's on disk still the structure every reader assumes?".

Each checker returns ``{"kind", "path", "errors", "warnings",
"stats"}``: an ERROR is a broken invariant readers rely on (probes
would silently miss pairs, top-k would return corrupt neighbors); a
WARNING is tolerated residue with a maintenance remedy (duplicate
rows → compact, dead sidecar labels → compact --groups-store).

What gets checked, per store — each line names the reader that
breaks when the invariant doesn't hold:

band index   meta pin sane (probe hashing); partition dirs within
             [0, n_shards) and a sampled shard-expression recompute
             (static pruning reads the RIGHT partitions); retained
             signatures cover every banded id (salvage completeness
             — the write-ordering invariant, checked rather than
             trusted); banded ids all have verification text in the
             paired docs store (the ingest lockstep contract);
             duplicate band rows counted (benign, compact reclaims).
docs store   meta pin; layout + sampled shard recompute (the
             verification read prunes by this); ids carrying >1
             DISTINCT text (the id-uniqueness violation the read
             guard tolerates but never repairs); full-row duplicate
             residue.
groups store meta pin; layout + sampled shard recompute; every
             group's label == its minimum member id (the components
             labeling invariant harvest's loser election assumes);
             inverted sidecar COVERS the live (group → member-shard)
             set — a PARTIAL sidecar star is the one shape the
             lookup's zero-row fallback cannot detect (silently
             incomplete member stars; ERROR), while dead-label
             sidecar residue only over-reads (WARNING, compact).
media store  meta pin (hash bits / bands / shards); band partition
             dirs within range and a sampled shard-expression
             recompute; NULL hashes (an ingest-bug signature);
             duplicate band rows (replay residue, compact reclaims).
vector index loadable quantizer; every cell partition known to the
             centroid table; sampled embedding dimension; duplicate
             ids (actively corrupt top-k — compact is REPAIR here);
             sampled re-assignment against the stored centroids (a
             mixed-generation store — old cells under new centroids,
             the state the recenter whole-dir swap exists to prevent
             — mismatches nearly everywhere; small drift is the
             hierarchical router's approximation and stays a
             warning); sampled PQ re-encode against the stored
             codebooks; zero-norm vectors counted.

Scale notes: sampled checks bound their row work at ``sample`` (the
usual smallest-(xxhash64(id), id) deterministic draw); the
whole-store checks (duplicate census, coverage anti-joins, sidecar
diff) are column-pruned single aggregations — fsck is a maintenance
diagnostic priced like compact, not a probe-path cost.  Every check
is READ-ONLY: fsck never takes the writer lease and can run beside a
live ingest (it may then report the in-flight increment's benign
residue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wrds_data_pipeline_spark import caching

__all__ = [
    "fsck_band_index",
    "fsck_docs_store",
    "fsck_flat_store",
    "fsck_groups_store",
    "fsck_media_store",
    "fsck_vector_index",
    "plan_repairs",
    "run_repairs",
]


def _findings(kind: str, path: str) -> dict:
    return {
        "kind": kind,
        "path": path,
        "errors": [],
        "warnings": [],
        "stats": {},
    }


def _sample_rows(df: DataFrame, key_cols: list[str], n: int) -> DataFrame:
    """Deterministic hash-order sample (TakeOrderedAndProject): the
    repo's standard reproducible draw, decorrelated from insertion
    order."""
    return (
        df.withColumn("_h", F.xxhash64(*[F.col(c) for c in key_cols]))
        .orderBy("_h", *key_cols)
        .limit(n)
        .drop("_h")
    )


def _partition_values(path: str, prefix: str) -> list[int] | None:
    """Partition-dir values under ``path`` (None when the dir itself
    is missing — a corrupt-store shape the CALLER must classify as an
    ERROR; a diagnostic verb never tracebacks on the states it
    exists to diagnose)."""
    import os

    try:
        entries = os.listdir(path)
    except (FileNotFoundError, NotADirectoryError):
        return None
    out = []
    for entry in entries:
        if entry.startswith(prefix) and os.path.isdir(
            os.path.join(path, entry)
        ):
            try:
                out.append(int(entry[len(prefix):]))
            except ValueError:
                out.append(-1)  # unparseable partition dir
    return out


def _swap_residue_ok(f: dict, live: str) -> bool:
    """READ-ONLY classification of the ``_swap_compacted`` crash
    window (store at ``live + '.old'``, compacted copy at
    ``live + '.compacting'``).  The mutating verbs REPAIR this state
    at load (``dedup._recover_compact_swap``); fsck must only REPORT
    it — fsck runs unlocked beside live writers, and completing the
    swap inside a live compactor's two-rename window would make the
    compactor's own rename fail and race its rmtree of the ``.old``
    dir (ADVICE r13).  Returns False when the live dir is unusable
    (interrupted swap / missing) — nothing else is checkable without
    repairing first."""
    import os

    old, tmp = live + ".old", live + ".compacting"
    if not os.path.exists(live):
        if os.path.exists(old) and os.path.isdir(tmp):
            f["errors"].append(
                f"interrupted compaction swap: store renamed to "
                f"{old!r} with the fully-written compacted copy at "
                f"{tmp!r} — any lease-holding mutating verb (or "
                "fsck --repair) completes it; fsck itself is "
                "read-only and will not"
            )
            # machine-readable hook for plan_repairs (completable)
            f.setdefault("interrupted_swaps", []).append(live)
            return False
        if os.path.exists(old):
            f["errors"].append(
                f"store at {live!r} is missing but {old!r} exists "
                "with NO compacted copy beside it — recover the "
                f"pre-compact store with:  mv {old!r} {live!r}"
            )
            return False
        f["errors"].append(f"store missing: {live!r}")
        return False
    # live exists: leftover siblings are benign residue, not errors
    if os.path.exists(tmp):
        f["warnings"].append(
            f"stale compacted copy at {tmp!r} beside the live store "
            "(a compact crashed during its rewrite, before the swap; "
            "safe to delete)"
        )
    if os.path.exists(old):
        f["warnings"].append(
            f"stale pre-compact copy at {old!r} beside the live "
            "store (a swap crashed after the final rename; safe to "
            "delete)"
        )
    return True


def fsck_band_index(
    spark: SparkSession,
    path: str,
    docs_store: str | None = None,
    id_col: str = "doc_id",
    sample: int = 4096,
) -> dict:
    import os

    from wrds_data_pipeline_spark.operators.dedup import (
        _BAND_INDEX_META_COLS,
        _band_index_shard,
        _store_has_rows,
    )

    f = _findings("band_index", path)
    # read-only swap-window classification FIRST (never repair: the
    # mutating loaders' _read_band_index_meta recovers; fsck reports)
    if not _swap_residue_ok(f, path):
        return f
    if not _swap_residue_ok(f, os.path.join(path, "bands")):
        return f
    # signatures dir is optional: only classify swap residue when an
    # interrupted signature-compaction window is present (its absence
    # is the legitimate pre-retention store shape, not a finding)
    if os.path.exists(os.path.join(path, "signatures.old")):
        _swap_residue_ok(f, os.path.join(path, "signatures"))
    try:
        [row] = spark.read.parquet(f"{path}/meta").collect()
        meta = {k: int(row[k]) for k in _BAND_INDEX_META_COLS}
    except Exception as exc:  # unreadable meta: nothing else checkable
        f["errors"].append(f"meta unreadable: {exc}")
        return f
    f["stats"]["meta"] = meta
    bad_meta = False
    for k, v in meta.items():
        if v < 1:
            f["errors"].append(f"meta {k}={v} < 1")
            bad_meta = True
    if bad_meta:
        # every later check divides/mods by these pins; a diagnostic
        # verb classifies the corruption, it doesn't crash on it
        return f
    if meta["n_hashes"] % meta["bands"] != 0:
        f["errors"].append(
            f"bands={meta['bands']} does not divide "
            f"n_hashes={meta['n_hashes']} — banding at probe time "
            "cannot reproduce the build's rows-per-band"
        )

    part_vals = _partition_values(f"{path}/bands", "shard=")
    if part_vals is None:
        f["errors"].append(
            f"bands dir missing at {path}/bands — the index has a "
            "meta pin but no banded rows; probes read nothing "
            "(interrupted build? restore from backup or rebuild)"
        )
        return f
    bad_dirs = [v for v in part_vals if not 0 <= v < meta["n_shards"]]
    if bad_dirs:
        f["errors"].append(
            f"bands layout holds shard dirs outside [0, "
            f"{meta['n_shards']}): {sorted(bad_dirs)[:8]} — probes "
            "statically prune to computed shards and will never read "
            "these rows"
        )

    bands = spark.read.parquet(f"{path}/bands")
    samp = _sample_rows(
        bands.select("band", "band_hash", "shard"),
        ["band", "band_hash"],
        sample,
    )
    mism = samp.filter(
        _band_index_shard(meta["n_shards"]) != F.col("shard")
    ).count()
    f["stats"]["sampled_shard_mismatches"] = mism
    if mism:
        f["errors"].append(
            f"{mism}/{sample} sampled band rows live in the wrong "
            "shard partition for the pinned count — probes prune to "
            "the computed shard and silently miss them (was this "
            "store resharded by hand instead of compact --reshard?)"
        )

    total = bands.count()
    distinct = bands.distinct().count()
    f["stats"]["band_rows"] = total
    f["stats"]["duplicate_band_rows"] = total - distinct
    if total != distinct:
        f["warnings"].append(
            f"{total - distinct} duplicate band rows (at-least-once "
            "replay residue; benign at read — census inflation only — "
            "reclaim with: wrds-spark-index compact --band-index "
            f"{path})"
        )

    # read-only twin of _band_index_has_sigs (which repairs an
    # interrupted signature-compaction swap at load; fsck reported it
    # above instead)
    sig_dir = os.path.join(path, "signatures")
    if os.path.isdir(sig_dir) and _store_has_rows(sig_dir):
        sig_ids = spark.read.parquet(f"{path}/signatures").select("_id")
        banded_ids = bands.select("_id").distinct()
        missing = banded_ids.join(
            sig_ids.distinct(), "_id", "left_anti"
        ).count()
        f["stats"]["banded_ids_missing_signature"] = missing
        if missing:
            f["errors"].append(
                f"{missing} banded ids have no retained signature — "
                "the signatures-before-bands write ordering was "
                "violated; salvage for their buckets will silently "
                "fall back or drop members"
            )

    if docs_store is not None:
        docs_ids = spark.read.parquet(docs_store).select(
            F.col(id_col).alias("_id")
        )
        uncovered = (
            bands.select("_id")
            .distinct()
            .join(docs_ids.distinct(), "_id", "left_anti")
            .count()
        )
        f["stats"]["banded_ids_missing_text"] = uncovered
        if uncovered:
            f["errors"].append(
                f"{uncovered} banded ids have no text in the docs "
                f"store at {docs_store!r} — the ingest lockstep "
                "contract (docs appended FIRST) was violated; "
                "verification fails closed and silently drops their "
                "candidate pairs"
            )
    return f


def fsck_docs_store(
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    sample: int = 4096,
) -> dict:
    import json
    import os

    from wrds_data_pipeline_spark.operators.dedup import (
        _DOCS_STORE_META,
        _doc_store_shard,
    )

    f = _findings("docs_store", path)
    if not _swap_residue_ok(f, path):  # read-only: report, never repair
        return f
    try:
        with open(os.path.join(path, _DOCS_STORE_META)) as fh:
            meta = json.load(fh)
        n_shards = int(meta["docs_shards"])
    except (OSError, KeyError, ValueError, json.JSONDecodeError) as exc:
        f["errors"].append(f"meta pin unreadable: {exc}")
        return f
    f["stats"]["docs_shards"] = n_shards
    if n_shards < 1:
        f["errors"].append(f"docs_shards={n_shards} < 1")
        return f

    bad_dirs = [
        v
        for v in _partition_values(path, "shard=")
        if not 0 <= v < n_shards
    ]
    if bad_dirs:
        f["errors"].append(
            f"layout holds shard dirs outside [0, {n_shards}): "
            f"{sorted(bad_dirs)[:8]} — the verification read prunes "
            "statically and will never see these texts"
        )

    docs = spark.read.parquet(path)
    if id_col not in docs.columns:
        f["errors"].append(
            f"id column {id_col!r} not in store columns {docs.columns}"
        )
        return f
    samp = _sample_rows(docs.select(id_col, "shard"), [id_col], sample)
    mism = samp.filter(
        _doc_store_shard(F.col(id_col), n_shards) != F.col("shard")
    ).count()
    f["stats"]["sampled_shard_mismatches"] = mism
    if mism:
        f["errors"].append(
            f"{mism}/{sample} sampled docs live in the wrong shard "
            "for the pinned count — shard-pruned verification misses "
            "their texts (fail-closed: candidate pairs touching them "
            "are silently dropped)"
        )

    conflicted = (
        docs.groupBy(id_col)
        .agg(F.countDistinct("text").alias("_n"))
        .filter(F.col("_n") > 1)
        .count()
    )
    f["stats"]["ids_with_conflicting_text"] = conflicted
    if conflicted:
        f["errors"].append(
            f"{conflicted} ids carry more than one DISTINCT text — "
            "the id-uniqueness contract is violated; which text "
            "verifies a pair depends on read order"
        )

    total = docs.count()
    distinct = docs.distinct().count()
    f["stats"]["rows"] = total
    f["stats"]["duplicate_rows"] = total - distinct
    if total != distinct:
        f["warnings"].append(
            f"{total - distinct} duplicate rows (replay residue; "
            "deduplicated at every read — reclaim with: "
            f"wrds-spark-index compact --docs-store {path})"
        )
    return f


def fsck_groups_store(
    spark: SparkSession, path: str, sample: int = 4096
) -> dict:
    import json
    import os

    from wrds_data_pipeline_spark.operators.components import (
        _GROUP_SHARDS_DIR,
    )
    from wrds_data_pipeline_spark.operators.dedup import (
        _DOCS_STORE_META,
        _doc_store_shard,
        _store_has_rows,
    )

    f = _findings("groups_store", path)
    if not _swap_residue_ok(f, path):  # read-only: report, never repair
        return f
    try:
        with open(os.path.join(path, _DOCS_STORE_META)) as fh:
            n_shards = int(json.load(fh)["groups_shards"])
    except (OSError, KeyError, ValueError, json.JSONDecodeError) as exc:
        f["errors"].append(f"meta pin unreadable: {exc}")
        return f
    f["stats"]["groups_shards"] = n_shards

    store = spark.read.parquet(path).select("id", "group_id", "shard")
    samp = _sample_rows(store, ["id"], sample)
    mism = samp.filter(
        _doc_store_shard(F.col("id"), n_shards) != F.col("shard")
    ).count()
    f["stats"]["sampled_shard_mismatches"] = mism
    if mism:
        f["errors"].append(
            f"{mism}/{sample} sampled members live in the wrong "
            "id-shard for the pinned count — touched-id lookups prune "
            "statically and will miss them"
        )

    bad_labels = (
        store.groupBy("group_id")
        .agg(F.min("id").alias("_min"))
        .filter(F.col("_min") != F.col("group_id"))
        .count()
    )
    f["stats"]["groups_with_nonmin_label"] = bad_labels
    if bad_labels:
        f["errors"].append(
            f"{bad_labels} groups whose label is not their minimum "
            "member id — the components labeling invariant is broken; "
            "harvest's loser election (id != group_id) would keep the "
            "wrong member or none"
        )

    sc_dir = os.path.join(path, _GROUP_SHARDS_DIR)
    if os.path.isdir(sc_dir) and _store_has_rows(sc_dir):
        live = (
            store.select(
                "group_id",
                _doc_store_shard(F.col("id"), n_shards).alias("shard"),
            )
            .distinct()
        )
        sidecar = spark.read.parquet(sc_dir).select("group_id", "shard")
        missing = live.join(
            sidecar.distinct(), ["group_id", "shard"], "left_anti"
        ).count()
        f["stats"]["sidecar_missing_member_shards"] = missing
        if missing:
            f["errors"].append(
                f"{missing} live (group, member-shard) pairs absent "
                "from the inverted sidecar — a PARTIAL star passes the "
                "zero-row staleness check, so member lookups silently "
                "read an incomplete star; repair with: "
                f"wrds-spark-index compact --groups-store {path}"
            )
        dead = sidecar.distinct().join(
            live, ["group_id", "shard"], "left_anti"
        ).count()
        f["stats"]["sidecar_dead_rows"] = dead
        if dead:
            f["warnings"].append(
                f"{dead} sidecar rows point at no live member (merge "
                "churn residue; over-read only — reclaim with: "
                f"wrds-spark-index compact --groups-store {path})"
            )
    else:
        f["warnings"].append(
            "no inverted sidecar (pre-sidecar store): member lookups "
            "fall back to full scans; the next update_groups_store "
            "migrates it, or run rebuild_group_shards"
        )
    return f


def fsck_vector_index(
    spark: SparkSession, path: str, sample: int = 4096
) -> dict:
    from wrds_data_pipeline_spark.operators.similarity import (
        exact_assigner,
    )
    from wrds_data_pipeline_spark.operators.vector_index import (
        load_vector_index,
    )

    import os

    f = _findings("vector_index", path)
    # read-only swap classification BEFORE load (load_vector_index
    # REPAIRS the interrupted-recenter window; fsck must only report)
    if not _swap_residue_ok(f, path):
        return f
    if not _swap_residue_ok(f, os.path.join(path, "vectors")):
        return f
    try:
        idx = load_vector_index(spark, path)
    except Exception as exc:
        f["errors"].append(f"index unloadable: {exc}")
        return f
    cents = idx.centroid_list()
    if not cents:
        f["errors"].append(
            "centroid table is EMPTY — no cell can be ranked or "
            "probed; every query returns nothing (rebuild the index)"
        )
        return f
    dim = len(cents[0][1])
    f["stats"]["n_cells"] = len(cents)
    f["stats"]["dim"] = dim

    known = {c for c, _ in cents}
    stored_cells = {
        int(r["cell"]) for r in idx.df.select("cell").distinct().collect()
    }
    orphans = sorted(stored_cells - known)
    if orphans:
        f["errors"].append(
            f"cells {orphans[:8]} hold vectors but are unknown to the "
            "centroid table — probes can never rank or read them "
            "(mixed-generation store: was a recenter swap assembled "
            "by hand?)"
        )

    samp = _sample_rows(
        idx.df.select(idx.id_col, idx.vec_col, "cell"), [idx.id_col], sample
    ).transform(caching.waist, eager=True)
    bad_dim = samp.filter(F.size(F.col(idx.vec_col)) != dim).count()
    f["stats"]["sampled_dim_mismatches"] = bad_dim
    if bad_dim:
        f["errors"].append(
            f"{bad_dim}/{sample} sampled vectors have dimension != "
            f"{dim} — every dot product against them is garbage"
        )

    dup_ids = (
        idx.df.groupBy(idx.id_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .count()
    )
    f["stats"]["duplicate_ids"] = dup_ids
    if dup_ids:
        f["errors"].append(
            f"{dup_ids} ids appear more than once — top-k returns the "
            "same id twice and crowds out a real neighbor; repair "
            f"with: wrds-spark-index compact --vector-index {path}"
        )

    # re-assignment drift: exact argmax against the STORED centroids.
    # A mixed-generation store (old cells under new centroids — the
    # state the whole-index swap prevents) mismatches nearly every
    # row; a small fraction is the hierarchical router's approximation
    # on near-boundary vectors and is only worth a warning.
    reassigned = exact_assigner(cents, idx.vec_col)(
        samp.withColumnRenamed("cell", "_stored_cell")
    )
    drift = reassigned.filter(
        F.col("cell") != F.col("_stored_cell")
    ).count()
    n_samp = samp.count()
    frac = drift / n_samp if n_samp else 0.0
    f["stats"]["sampled_assignment_drift"] = drift
    f["stats"]["sampled_assignment_drift_frac"] = round(frac, 4)
    if frac > 0.25:
        f["errors"].append(
            f"{drift}/{n_samp} sampled vectors are not in their "
            "argmax cell under the stored centroids — generations are "
            "mixed (cells from one quantizer, centroids from another); "
            "rebuild or recenter the index"
        )
    elif drift:
        f["warnings"].append(
            f"{drift}/{n_samp} sampled vectors off their exact-argmax "
            "cell (hierarchical-router approximation on boundary "
            "vectors; probes still find them via probe widening)"
        )

    if idx.codebooks is not None and "pq_code" in idx.df.columns:
        from wrds_data_pipeline_spark.operators.pq import pq_encode_col

        pq_samp = _sample_rows(
            idx.df.select(idx.id_col, idx.vec_col, "pq_code"),
            [idx.id_col],
            sample,
        )
        bad_codes = pq_samp.filter(
            pq_encode_col(idx.codebooks, F.col(idx.vec_col))
            != F.col("pq_code")
        ).count()
        f["stats"]["sampled_pq_code_mismatches"] = bad_codes
        if bad_codes:
            f["errors"].append(
                f"{bad_codes}/{sample} sampled PQ codes do not "
                "re-encode from the stored codebooks — codes and "
                "codebooks are from different generations; ADC "
                "rankings are garbage (recenter --retrain-pq "
                "re-encodes everything)"
            )

    zero = samp.filter(
        F.aggregate(
            F.col(idx.vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
        == 0.0
    ).count()
    f["stats"]["sampled_zero_norm"] = zero
    if zero:
        f["warnings"].append(
            f"{zero}/{n_samp} sampled vectors are zero-norm (no "
            "direction; they never rank and never match)"
        )
    return f


def fsck_flat_store(
    spark: SparkSession, path: str, files_warn_at: int = 64
) -> dict:
    """The streaming harness's FLAT stores (per-batch band/vector/
    membership appends, seen-hash sets) are schema-agnostic, so the
    checkable surface is the residue class: full-row duplicates (the
    at-least-once replay tolerated at read) and the per-append file
    growth — both warnings with the compact remedy, never errors
    (no pinned scheme to violate)."""
    from wrds_data_pipeline_spark.operators.dedup import (
        _count_parquet_files,
        _store_has_rows,
    )

    f = _findings("flat_store", path)
    import os

    if os.path.exists(path + ".old") and not os.path.exists(path):
        # interrupted swap: report read-only (see _swap_residue_ok)
        _swap_residue_ok(f, path)
        return f
    if not _store_has_rows(path):
        f["warnings"].append("store is empty or missing")
        return f
    _swap_residue_ok(f, path)  # live store: classify benign residue
    df = spark.read.parquet(path)
    total = df.count()
    distinct = df.distinct().count()
    n_files = _count_parquet_files(path)
    f["stats"]["rows"] = total
    f["stats"]["duplicate_rows"] = total - distinct
    f["stats"]["files"] = n_files
    if total != distinct:
        f["warnings"].append(
            f"{total - distinct} duplicate rows (replay residue; "
            "reclaim with: wrds-spark-index compact --flat-store "
            f"{path})"
        )
    if n_files >= files_warn_at:
        f["warnings"].append(
            f"{n_files} files (one per micro-batch append; listing "
            "cost grows monotonically — same compact reclaims)"
        )
    return f


# --------------------------------------------------------------------------
# fsck --repair: close the detect→repair loop (VERDICT r13 missing #3).
# fsck's findings each NAME their repair verb; the planner turns the
# findings into an ordered, executable plan and the runner executes it
# the way an operator would by hand — through the SAME lease-taking
# maintenance verbs, in dependency order (swap completion before
# compaction before recentering), deferring politely when another
# writer holds a store (the ingest auto-compact convention) instead of
# failing.  Conditions with no safe mechanical fix (lockstep
# violations, conflicting texts, non-min labels, mixed band layouts)
# are listed as MANUAL — repair never guesses.
# --------------------------------------------------------------------------

#: execution order: completing a crashed swap unblocks every loader;
#: compaction rewrites stores (and, for groups, rebuilds the sidecar
#: from compacted truth); recentering is the heavyweight last resort
#: that re-derives quantizer state.
_PHASE_SWAP, _PHASE_COMPACT, _PHASE_RECENTER, _PHASE_MANUAL = 0, 1, 2, 9


def plan_repairs(reports: list[dict]) -> list[dict]:
    """Ordered repair plan from fsck reports: each entry is
    ``{"phase", "action", "store", "why"}``; ``action="manual"``
    entries are never executed (printed so the operator knows what
    repair canNOT do)."""
    plan: list[dict] = []

    def add(phase, action, store, why, **kw):
        plan.append(
            {"phase": phase, "action": action, "store": store, "why": why, **kw}
        )

    for r in reports:
        kind, path, st = r["kind"], r["path"], r.get("stats", {})
        for live in r.get("interrupted_swaps", []):
            add(_PHASE_SWAP, "complete-swap", live,
                "interrupted compaction swap (compacted copy present)")
        if kind == "band_index" and st.get("duplicate_band_rows"):
            add(_PHASE_COMPACT, "compact-band-index", path,
                f"{st['duplicate_band_rows']} duplicate band rows")
        if kind == "docs_store" and st.get("duplicate_rows"):
            add(_PHASE_COMPACT, "compact-docs-store", path,
                f"{st['duplicate_rows']} duplicate rows")
        if kind == "flat_store" and (
            st.get("duplicate_rows") or st.get("files", 0) >= 64
        ):
            add(_PHASE_COMPACT, "compact-flat-store", path,
                f"{st.get('duplicate_rows', 0)} duplicate rows / "
                f"{st.get('files', 0)} files")
        if kind == "media_store" and st.get("duplicate_band_rows"):
            add(_PHASE_COMPACT, "compact-media-store", path,
                f"{st['duplicate_band_rows']} duplicate band rows")
        if kind == "groups_store" and (
            st.get("sidecar_missing_member_shards")
            or st.get("sidecar_dead_rows")
            or any("no inverted sidecar" in w for w in r["warnings"])
        ):
            add(_PHASE_COMPACT, "compact-groups-store", path,
                "sidecar incomplete/dead/missing (compact rebuilds it "
                "from compacted truth)")
        if kind == "vector_index":
            if st.get("duplicate_ids"):
                add(_PHASE_COMPACT, "compact-vector-index", path,
                    f"{st['duplicate_ids']} duplicate ids corrupt top-k")
            if st.get("sampled_pq_code_mismatches"):
                add(_PHASE_RECENTER, "recenter-retrain-pq", path,
                    "PQ codes do not re-encode from the stored "
                    "codebooks (mixed generations)")
            elif st.get("sampled_assignment_drift_frac", 0.0) > 0.25:
                add(_PHASE_RECENTER, "recenter", path,
                    "sampled assignment drift > 25% (mixed-generation "
                    "cells/centroids)")
        # everything red that no planned action covers is manual
        covered = bool(
            r.get("interrupted_swaps")
            or [e for e in plan if e["store"] == path and e["phase"] < 9]
        )
        for e in r["errors"]:
            if "interrupted compaction swap" in e:
                continue
            mechanical = (
                ("duplicate" in e and covered)
                or "sidecar" in e
                or "re-encode" in e
                or "generations are mixed" in e
            )
            if not mechanical:
                add(_PHASE_MANUAL, "manual", path, e, kind=kind)

    # dedupe (a store can earn the same action from several findings)
    seen = set()
    out = []
    for e in sorted(plan, key=lambda x: (x["phase"], x["store"])):
        key = (e["phase"], e["action"], e["store"])
        if key in seen:
            continue
        seen.add(key)
        out.append(e)
    return out


def run_repairs(
    spark: SparkSession, plan: list[dict], dry_run: bool = True
) -> dict:
    """Execute a repair plan in phase order through the lease-taking
    maintenance verbs.  A store held by another writer DEFERS that
    action (stderr note, like ingest's auto-compact) — repair never
    fights a live writer for the lease.  Returns
    {"executed": n, "deferred": n, "manual": n}."""
    import sys as _sys

    from wrds_data_pipeline_spark.operators.store_lock import (
        StoreLockedError,
        store_write_lock,
    )

    executed = deferred = manual = 0
    for e in plan:
        label = f"{e['action']} {e['store']}"
        if e["action"] == "manual":
            manual += 1
            print(f"repair MANUAL ({e['store']}): {e['why']}")
            continue
        if dry_run:
            print(f"repair would run: {label}  [{e['why']}]")
            continue
        try:
            if e["action"] == "complete-swap":
                from wrds_data_pipeline_spark.operators.dedup import (
                    _recover_compact_swap,
                )

                # the one repair with no verb of its own: complete the
                # two-rename window under the writer lease, so a live
                # compactor can never be raced (the hazard that made
                # fsck itself stop repairing)
                with store_write_lock(e["store"], "fsck-repair-swap"):
                    _recover_compact_swap(e["store"])
            elif e["action"] == "compact-band-index":
                from wrds_data_pipeline_spark.operators.dedup import (
                    compact_band_index,
                )

                compact_band_index(spark, e["store"])
            elif e["action"] == "compact-docs-store":
                from wrds_data_pipeline_spark.operators.dedup import (
                    compact_docs_store,
                )

                compact_docs_store(spark, e["store"])
            elif e["action"] == "compact-flat-store":
                from wrds_data_pipeline_spark.operators.dedup import (
                    compact_flat_store,
                )

                compact_flat_store(spark, e["store"])
            elif e["action"] == "compact-media-store":
                from wrds_data_pipeline_spark.operators.media_dedup import (
                    compact_media_store,
                )

                compact_media_store(spark, e["store"])
            elif e["action"] == "compact-groups-store":
                from wrds_data_pipeline_spark.operators.components import (
                    compact_groups_store,
                )

                compact_groups_store(spark, e["store"])
            elif e["action"] == "compact-vector-index":
                from wrds_data_pipeline_spark.operators.vector_index import (
                    compact_vector_index,
                )

                compact_vector_index(spark, e["store"])
            elif e["action"] in ("recenter", "recenter-retrain-pq"):
                from wrds_data_pipeline_spark.operators.vector_index import (
                    recenter_vector_index,
                )

                recenter_vector_index(
                    spark, e["store"],
                    retrain_pq=e["action"] == "recenter-retrain-pq",
                )
            else:  # pragma: no cover - planner/runner drift guard
                raise ValueError(f"unknown repair action {e['action']!r}")
            executed += 1
            print(f"repaired: {label}")
        except StoreLockedError as exc:
            deferred += 1
            print(
                f"repair deferred (store busy): {label} — {exc}",
                file=_sys.stderr,
            )
    return {"executed": executed, "deferred": deferred, "manual": manual}


def fsck_media_store(
    spark: SparkSession, path: str, sample: int = 4096
) -> dict:
    """Integrity check for the media-hash store (media_dedup.py):
    meta pin sane; band partition dirs within [0, n_shards); sampled
    shard-expression recompute (probes statically prune to computed
    shards); NULL hashes in the band table (an ingest bug — the
    extract layer maps empty content to NULL and ingest filters it,
    so a stored NULL can never verify); duplicate band rows
    (replay residue; compact_media_store reclaims)."""
    import json
    import os

    from wrds_data_pipeline_spark.operators.dedup import (
        _DOCS_STORE_META,
        _store_has_rows,
    )
    from wrds_data_pipeline_spark.operators.media_dedup import (
        _media_band_shard,
    )

    f = _findings("media_store", path)
    if not _swap_residue_ok(f, path):
        return f
    bands_dir = os.path.join(path, "bands")
    try:
        with open(os.path.join(path, _DOCS_STORE_META)) as fh:
            meta = json.load(fh)
        n_shards = int(meta["n_shards"])
        bits, bands_n = int(meta["hash_bits"]), int(meta["bands"])
    except (OSError, KeyError, ValueError, json.JSONDecodeError) as exc:
        f["errors"].append(f"meta pin unreadable: {exc}")
        return f
    f["stats"]["meta"] = {
        "hash_bits": bits, "bands": bands_n, "n_shards": n_shards
    }
    bad_meta = False
    for k, v in f["stats"]["meta"].items():
        if v < 1:
            f["errors"].append(f"meta {k}={v} < 1")
            bad_meta = True
    if not bad_meta and bits % bands_n != 0:
        f["errors"].append(
            f"bands={bands_n} does not divide hash_bits={bits} — "
            "probe-time banding cannot reproduce the stored slices"
        )
        bad_meta = True
    if bad_meta:
        return f
    if not _swap_residue_ok(f, bands_dir):
        return f
    if not _store_has_rows(bands_dir):
        f["warnings"].append("band table is empty (no ingests yet)")
        return f

    part_vals = _partition_values(bands_dir, "shard=")
    bad_dirs = [v for v in (part_vals or []) if not 0 <= v < n_shards]
    if bad_dirs:
        f["errors"].append(
            f"bands layout holds shard dirs outside [0, {n_shards}): "
            f"{sorted(bad_dirs)[:8]} — probes statically prune to "
            "computed shards and will never read these rows"
        )

    bt = spark.read.parquet(bands_dir)
    samp = _sample_rows(
        bt.select("band", "band_val", "shard"), ["band", "band_val"], sample
    )
    mism = samp.filter(
        _media_band_shard(n_shards) != F.col("shard")
    ).count()
    f["stats"]["sampled_shard_mismatches"] = mism
    if mism:
        f["errors"].append(
            f"{mism}/{sample} sampled band rows live in the wrong "
            "shard partition for the pinned count — probes silently "
            "miss them (resharded by hand?)"
        )

    nulls = bt.filter(F.col("dhash").isNull()).count()
    f["stats"]["null_hash_rows"] = nulls
    if nulls:
        f["errors"].append(
            f"{nulls} band rows carry a NULL hash — ingest filters "
            "NULL hashes before banding, so these rows were written "
            "by something else and can never verify a pair"
        )

    total = bt.count()
    distinct = bt.distinct().count()
    f["stats"]["band_rows"] = total
    f["stats"]["duplicate_band_rows"] = total - distinct
    if total != distinct:
        f["warnings"].append(
            f"{total - distinct} duplicate band rows (replay residue; "
            "benign at read — reclaim with: wrds-spark-index compact "
            f"--media-store {path})"
        )
    return f
