"""Console entry points for the three reference pipelines.

The reference is operated as CLIs (README.md:18-43):

- ``sp500ccm_generator.py`` (no args) → the universe table,
- ``taq_chunks.py start end`` → one resampled panel CSV per day,
- ``correlation_matrix_exporter.py start end interval freq`` → one
  correlation-matrix CSV per window.

These wrap the same plans with the same positional arguments, except
the first argument is always the snapshot directory holding the
WRDS-shaped parquet tables (the reference reads live WRDS Postgres;
the engine reads table snapshots — SURVEY S1) and an output location
replaces the reference's hard-coded relative paths.

Every command is driver-loop-free: dates/windows are partitioning
dimensions of one Spark plan, and the CSV sinks fan out in Arrow
tasks where the shape allows (panels) or stream tiny finished
matrices through the driver (corr — matrices are universe-bounded).
"""

from __future__ import annotations

import argparse
import datetime
import re
import sys

from wrds_data_pipeline_spark import caching
from wrds_data_pipeline_spark.catalog import load_tables
from wrds_data_pipeline_spark.session import get_spark

_INTERVAL_RE = re.compile(r"^(\d+)\s*(ms|s|sec|min|m|h|hr|d|day|days)$")

_UNIT_SECONDS = {
    "s": 1, "sec": 1, "min": 60, "m": 60, "h": 3600, "hr": 3600,
    "d": 86400, "day": 86400, "days": 86400,
}


def parse_interval_seconds(text: str) -> int:
    """'4h' → 14400, '1min' → 60, '2d' → 172800 (the exporter's
    pd.to_timedelta surface, correlation_matrix_exporter.py:130).
    Sub-second grids ('250ms') round up to 1s — the engine's resample
    grid is whole-seconds (operators/resample)."""
    m = _INTERVAL_RE.match(text.strip().lower())
    if not m:
        raise ValueError(f"unparseable interval: {text!r}")
    n, unit = int(m.group(1)), m.group(2)
    if unit == "ms":
        return max(1, n // 1000)
    return n * _UNIT_SECONDS[unit]


def _date(text: str) -> datetime.date:
    return datetime.date.fromisoformat(text)


def _universe_frame(spark, data_dir: str, as_of: datetime.date):
    from wrds_data_pipeline_spark.plans.universe import build_universe

    t = load_tables(
        spark, data_dir, ("dsp500list", "dsf", "msenames", "ccmxpf_linktable")
    )
    missing = {"dsp500list", "dsf", "msenames", "ccmxpf_linktable"} - set(t)
    if missing:
        raise SystemExit(f"missing tables under {data_dir}: {sorted(missing)}")
    return build_universe(
        t["dsp500list"], t["dsf"], t["msenames"], t["ccmxpf_linktable"], as_of=as_of
    )


def _prices(spark, data_dir, start, end, freq_seconds):
    """Shared stage of pipelines 2+3: universe symbols for the range →
    resampled long price panel."""
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.plans.taq import (
        day_universe_symbols,
        resampled_prices,
    )

    t = load_tables(spark, data_dir, ("nbbo", "taqmclink"))
    missing = {"nbbo", "taqmclink"} - set(t)
    if missing:
        raise SystemExit(f"missing tables under {data_dir}: {sorted(missing)}")
    link = t["taqmclink"].filter(
        F.col("date").between(F.lit(start), F.lit(end))
    )
    symbols = day_universe_symbols(link.select("date", "permno", "ticker"))
    nbbo = t["nbbo"].filter(F.col("date").between(F.lit(start), F.lit(end)))
    return resampled_prices(nbbo, symbols, freq_seconds=freq_seconds)


def universe_main(argv: list[str] | None = None) -> int:
    """sp500ccm_generator.py equivalent: build the point-in-time
    universe and persist it (gzip CSV like the reference's
    sp500ccm_filtered.csv.gz, or engine-native parquet)."""
    p = argparse.ArgumentParser(prog="wrds-spark-universe")
    p.add_argument("data_dir")
    p.add_argument("out_path")
    p.add_argument("--as-of", type=_date, required=True,
                   help="pin open-ended link intervals (replaces the "
                        "reference's run-date-dependent fillna(today))")
    p.add_argument("--format", choices=("parquet", "csv.gz"), default="parquet")
    args = p.parse_args(argv)

    spark = get_spark(app_name="wrds-spark-universe")
    uni = _universe_frame(spark, args.data_dir, args.as_of)
    if args.format == "parquet":
        uni.write.mode("overwrite").parquet(args.out_path)
    else:
        from wrds_data_pipeline_spark.sinks import write_csv_single

        write_csv_single(uni, args.out_path, compression="gzip")
    print(f"universe -> {args.out_path}")
    return 0


def panels_main(argv: list[str] | None = None) -> int:
    """taq_chunks.py equivalent (CLI: start end): per-day resampled
    price panels under out_dir/{year}/{month:02d}/."""
    p = argparse.ArgumentParser(prog="wrds-spark-panels")
    p.add_argument("data_dir")
    p.add_argument("out_dir")
    p.add_argument("start", type=_date)
    p.add_argument("end", type=_date)
    p.add_argument("--freq", default="1s", help="resample grid (default 1s, "
                   "the taq_chunks.py default)")
    p.add_argument("--sink", choices=("csv", "parquet"), default="csv",
                   help="csv = reference layout (distributed per-day "
                   "writers); parquet = engine-native long partitioned")
    args = p.parse_args(argv)

    spark = get_spark(app_name="wrds-spark-panels")
    prices = _prices(
        spark, args.data_dir, args.start, args.end,
        parse_interval_seconds(args.freq),
    )
    if args.sink == "parquet":
        from pyspark.sql import functions as F

        from wrds_data_pipeline_spark.plans.panel_export import (
            write_daily_panels_long,
        )

        enriched = prices.withColumn("year", F.year("date")).withColumn(
            "month", F.month("date")
        )
        write_daily_panels_long(enriched, args.out_dir)
        n = len(prices.select("date").distinct().collect())
    else:
        from wrds_data_pipeline_spark.plans.panel_export import (
            export_daily_panels_csv_distributed,
        )

        manifest = export_daily_panels_csv_distributed(prices, args.out_dir)
        n = len(manifest.collect())
    print(f"{n} day panels -> {args.out_dir}")
    return 0


def corr_main(argv: list[str] | None = None) -> int:
    """correlation_matrix_exporter.py equivalent (CLI: start end
    interval freq, reference README.md:18-43): one correlation-matrix
    CSV per tumbling window."""
    p = argparse.ArgumentParser(prog="wrds-spark-corr")
    p.add_argument("data_dir")
    p.add_argument("out_dir")
    p.add_argument("start", type=_date)
    p.add_argument("end", type=_date)
    p.add_argument("interval", help="window width: intra-day ('4h') or "
                   "multi-day ('2d'), exporter semantics")
    p.add_argument("freq", help="resample grid inside windows ('1min')")
    p.add_argument("--method", choices=("pairwise", "grouped", "auto"),
                   default="auto")
    args = p.parse_args(argv)

    interval_s = parse_interval_seconds(args.interval)
    freq_s = parse_interval_seconds(args.freq)
    spark = get_spark(app_name="wrds-spark-corr")
    prices = _prices(spark, args.data_dir, args.start, args.end, freq_s)

    from wrds_data_pipeline_spark.plans.corr_export import export_corr_csvs
    from wrds_data_pipeline_spark.plans.corrmatrix import intraday_corr, multiday_corr

    if interval_s < 86400:
        corr = intraday_corr(prices, interval_s, method=args.method)
        paths = export_corr_csvs(
            corr, args.out_dir, "win_start", window_seconds=interval_s
        )
    else:
        from wrds_data_pipeline_spark.operators.windows import trading_calendar

        cal = trading_calendar(spark, args.start, args.end)
        corr = multiday_corr(prices, cal, interval_s // 86400, method=args.method)
        paths = export_corr_csvs(corr, args.out_dir, "block_start", "block_end")
    print(f"{len(paths)} corr matrices -> {args.out_dir}")
    return 0


def _validate_gate_fracs(keep_frac, perplexity_keep_frac, lm_ref) -> None:
    """Range validation shared by apply_corpus_gates (loud ValueError
    for direct importers) and corpus_main (which calls THIS before the
    gate so only a genuine usage error — never an unrelated ValueError
    raised mid-pipeline — becomes its SystemExit)."""
    for name, frac in (
        ("keep_frac", keep_frac),
        ("perplexity_keep_frac", perplexity_keep_frac if lm_ref else None),
    ):
        if frac is not None and not 0 < frac <= 1:
            raise ValueError(f"{name} must be in (0, 1], got {frac}")


def apply_corpus_gates(
    spark,
    kept,
    quality_model: str | None = None,
    lm_ref: str | None = None,
    keep_frac: float | None = None,
    model_min_prob: float = 0.5,
    perplexity_keep_frac: float = 0.9,
    scope: caching.PersistScope | None = None,
):
    """The fused per-doc gate stage (round 7, VERDICT r6 next #3): the
    three post-curation gates (model probability, reference
    perplexity, quality quantile) are per-doc scores + scalar
    cutoffs.  Chained through the stock operators, each quantile's
    percentile_approx crossJoin references the scored relation TWICE,
    so the whole upstream curate/scrub chain replayed once per gate
    (~4 corpus passes at full option load).  Fused: score columns
    joined onto ONE persisted relation, the cutoffs computed as
    driver-side scalars from the cache (the scored relation
    materializes exactly once), one final filter.  Per-gate semantics
    are bit-identical to the stock operators: same round(…, 6), same
    percentile_approx accuracy, and each cutoff is computed over the
    population surviving the PREVIOUS gates, exactly as the
    sequential chain did (parity-tested in tests/test_cli.py;
    pass-counted load-independently in
    tools/scale_rehearsal.py --corpus-gates).

    Returns ``(gated, scope)``: ``scope`` owns the persisted scored
    relation (``scope`` when given, else a fresh ``PersistScope``) —
    release it once ``gated`` is consumed; None when no gate is on."""
    from pyspark.sql import functions as F

    # validate here, not only at the CLI: this is a public importable
    # helper, and an out-of-range fraction otherwise surfaces as an
    # obscure percentile_approx failure deep in the plan
    _validate_gate_fracs(keep_frac, perplexity_keep_frac, lm_ref)
    if not (quality_model or lm_ref or keep_frac):
        return kept, None
    from wrds_data_pipeline_spark.functions import text as X

    scored = kept
    if quality_model:
        from wrds_data_pipeline_spark.operators.quality_model import (
            load_quality_model,
            score_quality,
        )

        model = load_quality_model(spark, quality_model)
        probs = score_quality(scored, model).select(
            "doc_id", F.col("prob").alias("_prob")
        )
        scored = scored.join(probs, "doc_id")
    if lm_ref:
        from wrds_data_pipeline_spark.operators.keywords import (
            build_bigram_vocab,
            build_vocab,
            doc_cross_entropy_bigram,
        )

        ref = spark.read.parquet(lm_ref)
        ce = doc_cross_entropy_bigram(
            scored, build_vocab(ref), build_bigram_vocab(ref)
        ).select("doc_id", F.round("cross_entropy", 6).alias("_ce"))
        # left join + null filter below ≡ the old inner join:
        # docs with < 2 tokens have no perplexity and are dropped
        scored = scored.join(ce, "doc_id", "left")
    if keep_frac:
        scored = scored.withColumn(
            "_q", F.round(X.quality_score("text"), 6)
        )
    if scope is None:
        scope = caching.PersistScope()
    sel = scope.persist(scored)
    if quality_model:
        sel = sel.filter(F.col("_prob") >= F.lit(model_min_prob))
    if lm_ref:
        sel = sel.filter(F.col("_ce").isNotNull())
        ce_cut = sel.agg(
            F.percentile_approx(
                "_ce", F.lit(perplexity_keep_frac), F.lit(10_000)
            )
        ).first()[0]
        sel = sel.filter(F.col("_ce") <= F.lit(ce_cut))
    if keep_frac:
        q_cut = sel.agg(
            F.percentile_approx(
                "_q", F.lit(1.0 - keep_frac), F.lit(10_000)
            )
        ).first()[0]
        sel = sel.filter(F.col("_q") >= F.lit(q_cut))
    return sel.drop("_prob", "_ce", "_q"), scope


def _read_docs(spark, path: str):
    """corpus_main's source read, as a seam: the full-chain pass-count
    rehearsal (tools/scale_rehearsal.py --corpus-chain) wraps this
    with a row-ticker accumulator so the measured pipeline is
    corpus_main's OWN production body, not a reconstruction."""
    return spark.read.parquet(path)


def corpus_main(argv: list[str] | None = None) -> int:
    """Training-corpus pipeline (beyond the reference surface):
    boilerplate removal -> curation -> optional benchmark
    decontamination -> optional quality-quantile cut -> sequence
    packing -> sharded parquet, plus the audit report."""
    from pyspark.sql import functions as F

    p = argparse.ArgumentParser(prog="wrds-spark-corpus")
    p.add_argument("docs_path", help="parquet with (doc_id, text)")
    p.add_argument("out_dir")
    p.add_argument("--bench", help="parquet with a text column to "
                   "decontaminate against (8-gram overlap)")
    p.add_argument("--bench-scrub", action="store_true",
                   help="surgical mode: cut only the overlapping "
                   "spans instead of dropping whole documents")
    p.add_argument("--bench-scrub-strict", action="store_true",
                   help="after scrubbing, DROP any document still "
                   "carrying a benchmark 8-gram: catches grams the "
                   "rebuild spliced across a cut boundary")
    p.add_argument("--bench-short-items", choices=("cover", "warn"),
                   default="cover",
                   help="benchmark items shorter than the 8-token "
                   "window have no 8-gram signature; 'cover' "
                   "(default) matches each one at its OWN width "
                   "(whole-item window) in every mode, 'warn' only "
                   "reports their count (the pre-round-8 behavior)")
    p.add_argument("--max-tokens", type=int, default=4096)
    p.add_argument("--keep-frac", type=float, default=None,
                   help="keep top fraction by quality after filters")
    p.add_argument("--min-quality", type=float, default=0.5)
    p.add_argument("--langs", default="en", help="comma-separated")
    p.add_argument("--group-dedup", action="store_true",
                   help="resolve near-dup pairs into components")
    p.add_argument("--lsh-max-bucket", type=int, default=None,
                   help="LSH band-bucket population bound (default: "
                   "the operator's DEFAULT_MAX_BUCKET=256; buckets "
                   "over it resolve to one duplicate group via star "
                   "edges instead of m^2/2 pairs; 0 = unbounded)")
    p.add_argument("--boilerplate-min-docs", type=int, default=0,
                   help="strip lines occurring in >= N docs (0 = off)")
    p.add_argument("--paragraph-dedup", action="store_true",
                   help="keep only the first corpus-wide occurrence of "
                   "every paragraph before curation")
    p.add_argument("--span-dedup-k", type=int, default=0,
                   help="cut re-occurrences of any K-token span that "
                   "repeats corpus-wide (0 = off)")
    p.add_argument("--quality-model",
                   help="directory of a trained quality model "
                   "(wrds-spark-quality train); docs below "
                   "--model-min-prob are dropped after curation")
    p.add_argument("--model-min-prob", type=float, default=0.5)
    p.add_argument("--shard-format", choices=("parquet", "jsonl"),
                   default="parquet",
                   help="jsonl writes gzip JSON-lines shards (the "
                   "training-loader interchange format), same dense "
                   "seq_id range layout")
    p.add_argument("--lm-ref",
                   help="parquet with a text column: train an "
                   "interpolated bigram LM on it and keep the "
                   "--perplexity-keep-frac LEAST surprising docs "
                   "(the CCNet recipe)")
    p.add_argument("--perplexity-keep-frac", type=float, default=0.7)
    p.add_argument("--tokenizer-json", default=None, metavar="PATH",
                   help="pack with EXACT token counts from this "
                   "tokenizer.json (a wrds-spark-tokenizer train "
                   "artifact or any public export) instead of the "
                   "regex approximation; Rust backend when "
                   "installed, the dependency-free interpreter "
                   "otherwise")
    p.add_argument("--materialize-stages", default=None, metavar="DIR",
                   help="write each stage's output table under DIR "
                   "and read it back (the production deployment "
                   "shape, SCALE.md: every stage scans its "
                   "predecessor's materialized table instead of "
                   "re-deriving the lazy chain per downstream "
                   "action); shard contents are identical either way")
    args = p.parse_args(argv)

    from wrds_data_pipeline_spark.operators.packing import (
        pack_sequences,
        write_packed_shards,
    )
    from wrds_data_pipeline_spark.plans.corpus import (
        curate,
        curation_report,
    )

    spark = get_spark(app_name="wrds-spark-corpus")

    def _stage_table(df, name: str):
        """Stage-materialized mode: write ``df`` as DIR/name and read
        it back — lineage truncation by TABLE, the deployment shape
        SCALE.md argues for (each stage's output scanned once by its
        successor; a downstream action can no longer re-derive the
        whole upstream chain).  A plain read, deliberately NOT the
        _read_docs seam: the pass-count rehearsal ticks SOURCE
        passes, and stage-table reads are not source scans."""
        if not args.materialize_stages:
            return df
        import os

        path = os.path.join(args.materialize_stages, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    docs = _read_docs(spark, args.docs_path)
    if args.boilerplate_min_docs:
        from wrds_data_pipeline_spark.operators.boilerplate import (
            remove_boilerplate,
        )

        docs = _stage_table(
            remove_boilerplate(
                docs, min_docs=args.boilerplate_min_docs
            ).select("doc_id", "text"),
            "boilerplate",
        )
    if args.paragraph_dedup:
        from wrds_data_pipeline_spark.operators.boilerplate import (
            paragraph_dedup,
        )

        docs = _stage_table(
            paragraph_dedup(docs).select("doc_id", "text"),
            "paragraph_dedup",
        )
    if args.span_dedup_k > 0:
        from wrds_data_pipeline_spark.operators.spans import span_dedup

        docs = _stage_table(
            span_dedup(docs, k=args.span_dedup_k).select(
                "doc_id", "text"
            ),
            "span_dedup",
        )
    curate_kwargs = {}
    if args.lsh_max_bucket is not None:
        curate_kwargs["near_dup_max_bucket"] = (
            None if args.lsh_max_bucket == 0 else args.lsh_max_bucket
        )
    kept, audit = curate(
        docs,
        allowed_langs=tuple(args.langs.split(",")),
        min_quality=args.min_quality,
        group_dedup=args.group_dedup,
        **curate_kwargs,
    )
    kept = _stage_table(kept, "curated")
    if args.bench:
        from wrds_data_pipeline_spark.operators.contamination import (
            benchmark_leak_report,
            decontaminate,
            scrub_contaminated_spans,
        )

        bench_df = spark.read.parquet(args.bench)
        # eval-integrity artifact: which benchmark items leaked, and
        # how widely — written BEFORE the drop/scrub so it reflects
        # the corpus the filter actually saw
        if "qid" in bench_df.columns:
            benchmark_leak_report(kept, bench_df).write.mode(
                "overwrite"
            ).parquet(f"{args.out_dir}/leak_report")
        from wrds_data_pipeline_spark.functions import text as X

        cover = args.bench_short_items == "cover"
        if not cover:
            # legacy 'warn' mode: sub-window items pass through
            # uncovered; surface the count (the round-8 default is
            # 'cover' — each short item matched at its own width)
            n_short = bench_df.filter(X.token_count("text") < 8).count()
            if n_short:
                print(
                    f"warning: {n_short} benchmark item(s) shorter than "
                    "8 tokens have no 8-gram signature and "
                    "--bench-short-items=warn leaves leaks of them "
                    "inside longer documents uncovered — use 'cover'"
                )
        if args.bench_scrub:
            cols = [c for c in kept.columns if c not in ("text",)]
            scrubbed = scrub_contaminated_spans(
                kept, bench_df, n=8, cover_short_items=cover
            )
            # re-attach the curation columns the scrub output drops
            kept = (
                kept.drop("text")
                .join(scrubbed.select("doc_id", "text"), "doc_id")
                .select(*cols, "text")
            )
            # text-derived metadata computed PRE-scrub must not ride
            # stale into the shards (ADVICE r6: e.g. n_chars longer
            # than the written text) — recompute every known
            # text-derived column from the scrubbed text.  Unknown
            # input metadata rides as-is (provenance is the caller's).
            stale = {
                "n_chars": F.length("text"),
                "quality": F.round(X.quality_score("text"), 6),
                "ws_tokens": X.token_count("text"),
                "bpe_tokens": X.bpe_ish_token_count("text"),
                "fingerprint": X.fingerprint("text"),
            }
            for c, expr in stale.items():
                if c in cols:
                    kept = kept.withColumn(c, expr)
            if args.bench_scrub_strict:
                # residual re-check (ADVICE r6): the rebuild can
                # splice a NEW benchmark 8-gram (or short item) across
                # a cut boundary (prefix-of-S + LEAK + suffix-of-S →
                # S) — one decontaminate pass over the scrubbed text
                # drops whatever still carries a signature.
                kept = decontaminate(
                    kept, bench_df, n=8, cover_short_items=cover
                )
        else:
            kept = decontaminate(
                kept, bench_df, n=8, cover_short_items=cover
            )
        kept = _stage_table(kept, "decontaminated")
    # fused per-doc gate stage — validate the fractions FIRST (so
    # only a genuine usage error becomes the CLI exit; a ValueError
    # raised mid-pipeline must propagate with its traceback, never be
    # re-dressed as a flag problem)
    try:
        _validate_gate_fracs(
            args.keep_frac, args.perplexity_keep_frac, args.lm_ref
        )
    except ValueError as exc:
        raise SystemExit(f"--{str(exc).replace('_', '-')}") from exc
    with caching.PersistScope() as scope:
        kept, _ = apply_corpus_gates(
            spark,
            kept,
            quality_model=args.quality_model,
            lm_ref=args.lm_ref,
            keep_frac=args.keep_frac,
            model_min_prob=args.model_min_prob,
            perplexity_keep_frac=args.perplexity_keep_frac,
            scope=scope,
        )
        # persist: kept feeds the packing plan AND the shard join; packed
        # feeds the write AND the summary — without these the whole
        # curate->decontaminate->quantile chain re-executes per action
        # (in stage-materialized mode the gated table plays that role and
        # the persist just pins the parquet read)
        kept = scope.persist(_stage_table(kept, "gated"))
        if args.tokenizer_json:
            # tokenizer-grade packing: count with the actual model
            # tokenizer (a wrds-spark-tokenizer train artifact or any
            # public tokenizer.json) instead of the regex approximation —
            # Rust backend when installed, the interpreter otherwise
            from wrds_data_pipeline_spark.functions.pybpe import (
                local_tokenizer_factory,
            )
            from wrds_data_pipeline_spark.functions.tokenize import (
                tokenizer_token_counts,
            )

            counted = tokenizer_token_counts(
                kept, local_tokenizer_factory(args.tokenizer_json),
                out_col="_exact_tok",
            )
            packed = scope.persist(pack_sequences(
                counted, args.max_tokens, token_col="_exact_tok"
            ))
        else:
            packed = scope.persist(pack_sequences(kept, args.max_tokens))
        if args.shard_format == "jsonl":
            from wrds_data_pipeline_spark.sinks import write_jsonl_shards

            write_jsonl_shards(
                kept.join(
                    packed.filter(F.col("seq_id").isNotNull()), "doc_id"
                ),
                f"{args.out_dir}/shards",
                order_col=["seq_id", "seq_pos"],
            )
        else:
            write_packed_shards(kept, packed, f"{args.out_dir}/shards")
        # curation-stage audit (fates up to the near-dup/quality filters)
        curation_report(audit).write.mode("overwrite").parquet(
            f"{args.out_dir}/report"
        )
        # post-filter truth: what actually landed in the shards — the
        # curation report alone over-counts when --bench/--keep-frac
        # dropped docs after the audit was stamped
        summary = packed.filter(F.col("seq_id").isNotNull()).agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("seq_id").alias("n_seqs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        summary.write.mode("overwrite").parquet(
            f"{args.out_dir}/shards_summary"
        )
        row = spark.read.parquet(f"{args.out_dir}/shards_summary").first()
    print(
        f"{row['n_docs']} docs in {row['n_seqs']} sequences "
        f"({row['n_tokens']} tokens) -> {args.out_dir}"
    )
    return 0


# files-per-shard level at which the ingest verb starts advising a
# compact even without --compact-every: each ingest appends ~one file
# per touched shard, so this is roughly "increments since the last
# compact" — past it, listing cost and footer reads grow linearly for
# every probe while the duplicate rows (if any) stay unreclaimed
_COMPACT_ADVISORY_AT = 16
# dead sidecar labels accumulated since the last rebuild before the
# ingest verbs advise reclaiming the groups store's sidecar residue.
# STORE-RELATIVE rule (VERDICT r12 missing #5): the advisory fires at
# max(_REBUILD_ADVISORY_AT, _REBUILD_ADVISORY_FRAC x live labels) —
# 64 dead labels is real residue in a 100-group store and pure noise
# in a 100M-group one, so the absolute count is only the FLOOR; past
# it, one column-pruned countDistinct(group_id) scan (paid only once
# the floor is crossed, never on the quiet path) sets the real bar.
_REBUILD_ADVISORY_AT = 64
_REBUILD_ADVISORY_FRAC = 0.10


# max-cell/mean-cell parquet-bytes ratio past which ingest-vectors
# advises a recenter (cells sized by the listing only — no Spark job)
_RECENTER_ADVISORY_IMBALANCE = 4.0

# eval-vector's ADC-vs-exact rank agreement below which the scorecard
# advises `recenter --retrain-pq` (codebooks encode raw vectors frozen
# at train time; drift degrades the ADC ranking, not cell geometry)
_RETRAIN_PQ_ADVISORY_BELOW = 0.9


def _vector_cell_imbalance(vectors_dir: str) -> tuple[float, int]:
    """(max/mean parquet bytes across ``cell=`` partitions, n_cells)
    — a listing-only proxy for cell-population imbalance (same
    schema per row, so bytes track rows).  The drift signal the
    recenter advisory fires on: appends assign with the FROZEN
    quantizer, so a topically-shifted corpus crams into few cells and
    the imbalance grows without bound while the layout stays
    'healthy' by every file-count measure."""
    import os

    sizes = []
    for entry in os.listdir(vectors_dir):
        d = os.path.join(vectors_dir, entry)
        if not entry.startswith("cell=") or not os.path.isdir(d):
            continue
        sizes.append(
            sum(
                os.path.getsize(os.path.join(dirpath, f))
                for dirpath, _dirs, files in os.walk(d)
                for f in files
                if f.endswith(".parquet")
            )
        )
    if len(sizes) < 2 or sum(sizes) == 0:
        return 1.0, len(sizes)
    return max(sizes) / (sum(sizes) / len(sizes)), len(sizes)


def _recenter_advisory(index_path: str) -> None:
    """The vector index's drift advisory (the recenter verb's trigger
    economics, mirroring compact's): past a max/mean cell-bytes
    imbalance, say so with the exact command.  Stateless — the store
    layout is the counter."""
    import os
    import sys

    vectors_dir = os.path.join(index_path, "vectors")
    if not os.path.isdir(vectors_dir):
        return
    ratio, n_cells = _vector_cell_imbalance(vectors_dir)
    if n_cells >= 2 and ratio >= _RECENTER_ADVISORY_IMBALANCE:
        print(
            f"ADVISORY: the vector index's largest cell holds "
            f"{ratio:.1f}x the mean cell's bytes ({n_cells} cells) — "
            "the frozen quantizer no longer fits the accumulated "
            "corpus (appends never move centroids), so probes "
            "over-read the hot cells and fixed-probe recall decays; "
            "re-fit with: wrds-spark-index recenter "
            f"{index_path} --n-cells 0 (0 = auto-size; a hot "
            "CLUSTER needs the re-seed — a centroid-seeded refine "
            "can only move cells, never split one)",
            file=sys.stderr,
        )


def _groups_churn_advisory(spark, groups_store: str | None) -> None:
    """The groups-store maintenance advisory (VERDICT r11 next #5):
    merge churn grows the sidecar's dead-label residue, which dynamic
    partition overwrite can never remove — only `compact
    --groups-store` (or rebuild_group_shards) reclaims it.  The
    update verb counts dead labels per increment (_churn.json); past
    the store-relative threshold (see _REBUILD_ADVISORY_AT), say so
    with the exact command."""
    import sys

    if groups_store is None:
        return
    from pyspark.sql import functions as F

    from wrds_data_pipeline_spark.operators.components import (
        groups_store_churn,
    )

    churn = groups_store_churn(groups_store)
    if churn < _REBUILD_ADVISORY_AT:
        return  # under the floor: no scan, no advisory
    live = (
        spark.read.parquet(groups_store)
        .agg(F.countDistinct("group_id"))
        .first()[0]
        or 0
    )
    threshold = max(
        _REBUILD_ADVISORY_AT, int(_REBUILD_ADVISORY_FRAC * live)
    )
    if churn >= threshold:
        print(
            f"ADVISORY: the groups store has accumulated {churn} dead "
            "group labels since its sidecar was last rebuilt "
            f"(~{_REBUILD_ADVISORY_FRAC:.0%} of its {live} live "
            "groups) — their sidecar rows are unreachable residue "
            "that inflates member-shard lookups; reclaim with: "
            f"wrds-spark-index compact --groups-store {groups_store}",
            file=sys.stderr,
        )


def _max_files_per_shard(root: str) -> int:
    """Worst per-partition-directory parquet file count under a
    shard-partitioned store (files directly in ``root`` count as one
    pseudo-shard — covers the flat layouts too)."""
    import os

    worst = 0
    for dirpath, _dirs, files in os.walk(root):
        n = sum(1 for f in files if f.endswith(".parquet"))
        worst = max(worst, n)
    return worst


def _ingest_compaction_economics(
    spark, index_path: str, docs_store: str, compact_every: int
) -> None:
    """The maintenance-trigger half of the ingest verb (VERDICT r10
    #6): ingest appends one file per touched shard per increment
    FOREVER, so the compact verb only pays off if something actually
    runs it.  With ``--compact-every N``: auto-compact both stores in
    place once any store's worst shard reaches N files (stateless —
    the store itself is the counter, no sidecar bookkeeping to drift).
    Without it: print a files-per-shard advisory past
    ``_COMPACT_ADVISORY_AT``, naming the exact command.  The groups
    store is exempt: its dynamic-overwrite writes REPLACE partition
    contents, so its per-shard file count does not grow with
    increments."""
    import os
    import sys

    from wrds_data_pipeline_spark.operators.dedup import (
        compact_band_index,
        compact_docs_store,
    )

    tracked = [
        ("band index", os.path.join(index_path, "bands")),
        ("band signatures", os.path.join(index_path, "signatures")),
        ("docs store", docs_store),
    ]
    levels = [
        (label, _max_files_per_shard(d))
        for label, d in tracked
        if os.path.isdir(d)
    ]
    worst_label, worst = max(levels, key=lambda t: t[1], default=("", 0))
    if compact_every and worst >= compact_every:
        from wrds_data_pipeline_spark.operators.store_lock import (
            StoreLockedError,
        )

        try:
            b = compact_band_index(spark, index_path)
            d = compact_docs_store(spark, docs_store)
        except StoreLockedError as exc:
            # the ingest itself already succeeded; a held lease only
            # defers the reclaim — report and leave the stores to the
            # next quiet run instead of failing the verb post-success
            print(
                f"auto-compact skipped (store busy): {exc}",
                file=sys.stderr,
            )
            return
        print(
            f"auto-compact (--compact-every {compact_every}; "
            f"{worst_label} reached {worst} files/shard): band index "
            f"{b['rows_before']}->{b['rows_after']} rows, "
            f"{b['files_before']}->{b['files_after']} files; docs "
            f"store {d['rows_before']}->{d['rows_after']} rows, "
            f"{d['files_before']}->{d['files_after']} files"
        )
    elif worst >= _COMPACT_ADVISORY_AT:
        print(
            f"ADVISORY: {worst_label} holds {worst} files in its "
            "worst shard (one per ingest since the last compact) — "
            "probe listing cost grows with this; reclaim with: "
            f"wrds-spark-index compact --band-index {index_path} "
            f"--docs-store {docs_store}",
            file=sys.stderr,
        )


def index_main(argv: list[str] | None = None) -> int:
    """Persisted-index lifecycle (beyond the reference surface): the
    continuous-ingest loop for LSH near-dedup (band index) and ANN
    search (vector index) as shell commands, so a scheduled crawl can
    probe -> resolve -> append without writing Spark code."""
    p = argparse.ArgumentParser(prog="wrds-spark-index")
    sub = p.add_subparsers(dest="cmd", required=True)

    bb = sub.add_parser("build-band", help="hash a corpus into an on-disk LSH band index")
    bb.add_argument("docs_path", help="parquet with (doc_id, text)")
    bb.add_argument("index_path")
    bb.add_argument("--n-shards", type=int, default=64)
    bb.add_argument("--k-shingle", type=int, default=3)
    bb.add_argument("--n-hashes", type=int, default=12)
    bb.add_argument("--bands", type=int, default=4)

    ab = sub.add_parser("append-band", help="add an increment's bands (scheme from the index meta)")
    ab.add_argument("docs_path")
    ab.add_argument("index_path")

    pb = sub.add_parser("probe-band", help="candidate pairs of an increment vs the stored corpus")
    pb.add_argument("docs_path")
    pb.add_argument("index_path")
    pb.add_argument("out_dir", help="candidate (id_a, id_b) parquet")
    pb.add_argument("--no-prune", action="store_true",
                    help="skip shard pruning (benchmark the full scan)")
    pb.add_argument("--lsh-max-bucket", type=int, default=None,
                    help="band-bucket population bound (default: the "
                    "operator's DEFAULT_MAX_BUCKET=256; buckets over it "
                    "emit star+bridge edges instead of every pair; "
                    "0 = unbounded pair-complete output)")
    pb.add_argument("--mark-resolved", action="store_true",
                    help="add a boolean 'resolved' column flagging "
                    "hot-bucket star edges - REQUIRED if you intend to "
                    "Jaccard-verify these candidates (a star member has "
                    "one edge, not m-1; threshold-filtering unmarked "
                    "star edges silently disconnects hot-bucket members). "
                    "NOTE resolved edges are a GROUP claim resolved "
                    "unconditionally downstream; to evidence-gate hot "
                    "buckets instead (recommended), use --verify-docs")
    pb.add_argument("--verify-docs", default=None,
                    help="(id, text) parquet of the previously-indexed "
                    "corpus: emit VERIFIED pairs (id_a, id_b, jaccard) "
                    "instead of raw candidates - exact-Jaccard "
                    "verification, per-bucket evidence gate, demoted-"
                    "bucket salvage (probe_band_index_verified); only "
                    "docs touched by a candidate are re-shingled")
    pb.add_argument("--threshold", type=float, default=0.5,
                    help="jaccard threshold for --verify-docs")
    pb.add_argument("--star-accept-frac", type=float, default=0.9,
                    help="per-bucket acceptance fraction for the "
                    "evidence gate (with --verify-docs); 0 disables "
                    "the gate (legacy unconditional resolution)")
    pb.add_argument("--salvage-cap", type=int, default=32,
                    help="demoted-bucket salvage sub-bucket cap (with "
                    "--verify-docs); 0 disables salvage")

    ing = sub.add_parser(
        "ingest",
        help="one-verb verified ingest: probe -> verify -> gate -> "
        "salvage -> append band index AND docs store in lockstep "
        "(first call creates both stores; later calls refuse on "
        "parameter mismatch with the stored metas)",
    )
    ing.add_argument("docs_path", help="the increment's (doc_id, text) parquet")
    ing.add_argument("index_path", help="on-disk band index (build-band layout)")
    ing.add_argument("docs_store", help="shard-partitioned (id, text) store")
    ing.add_argument("out_dir", help="verified (id_a, id_b, jaccard) parquet")
    ing.add_argument("--threshold", type=float, default=0.5)
    ing.add_argument("--star-accept-frac", type=float, default=0.9,
                     help="per-bucket evidence-gate acceptance fraction; "
                     "0 disables the gate (legacy unconditional resolution)")
    ing.add_argument("--salvage-cap", type=int, default=32,
                     help="demoted-bucket salvage sub-bucket cap; 0 disables")
    ing.add_argument("--lsh-max-bucket", type=int, default=None,
                     help="band-bucket population bound (default "
                     "DEFAULT_MAX_BUCKET=256; 0 = unbounded)")
    ing.add_argument("--n-shards", type=int, default=64,
                     help="band-index shard count (creation only; later "
                     "calls must match the stored meta)")
    ing.add_argument("--docs-shards", type=int, default=64,
                     help="docs-store shard count (creation only; later "
                     "calls must match the stored meta)")
    ing.add_argument("--k-shingle", type=int, default=3)
    ing.add_argument("--n-hashes", type=int, default=12)
    ing.add_argument("--bands", type=int, default=4)
    ing.add_argument("--groups-store", default=None,
                     help="also resolve the emitted pairs into a "
                     "persisted duplicate-GROUP table (id, group_id) "
                     "updated incrementally — cross-increment merges "
                     "relabel transitively, only touched partitions "
                     "rewritten; requires integral ids")
    ing.add_argument("--groups-shards", type=int, default=64,
                     help="groups-store shard count (creation only; "
                     "later calls must match the stored meta)")
    ing.add_argument("--compact-every", type=int, default=0,
                     help="opt-in maintenance hook: after the ingest, "
                     "when any store's worst shard holds >= N files "
                     "(each ingest appends ~one file per touched "
                     "shard, so files-per-shard ~= increments since "
                     "the last compact), run the compact verb on the "
                     "band index and docs store in place; 0 (default) "
                     "never auto-compacts — the advisory still prints")

    im = sub.add_parser(
        "ingest-media",
        help="one-verb media near-dup ingest: decode -> perceptual "
        "dhash (Arrow boundary) -> probe the stored corpus's band "
        "table (shard-pruned) -> append the increment's bands; "
        "emits (id_a stored, id_b new, hamming) pairs plus the "
        "increment's internal near-dups (first call creates the "
        "store; later calls refuse on scheme mismatch)",
    )
    im.add_argument("media_path",
                    help="the increment's media parquet (media_id + "
                    "binary content columns — synthesize_media / "
                    "binaryFile layout; a (media_id, dhash) parquet "
                    "of precomputed hashes is accepted too)")
    im.add_argument("store_path", help="persisted media-hash store")
    im.add_argument("out_dir", help="near-dup (id_a, id_b, hamming) parquet")
    im.add_argument("--n-shards", type=int, default=16,
                    help="band-table shard count (creation only; "
                    "later calls must match the stored meta)")
    im.add_argument("--bands", type=int, default=4)
    im.add_argument("--max-hamming", type=int, default=3)

    cp = sub.add_parser(
        "compact",
        help="rewrite the band index and/or docs store dropping "
        "at-least-once duplicate rows and per-append small files; "
        "shard scheme and metas preserved (probe/ingest results "
        "identical post-compact)",
    )
    cp.add_argument("--band-index", default=None,
                    help="band index path (build-band/ingest layout)")
    cp.add_argument("--docs-store", default=None,
                    help="shard-partitioned docs store path (ingest layout)")
    cp.add_argument("--flat-store", action="append", default=None,
                    help="flat (unpartitioned) parquet store appended "
                    "per micro-batch by the streaming twins "
                    "(band/vector/membership indexes); repeatable")
    cp.add_argument("--vector-index", default=None,
                    help="IVF(-PQ) vector index path (build-vector "
                    "layout); duplicate rows there actively corrupt "
                    "top-k (a re-appended batch is a second identical "
                    "neighbor), so this is repair, not just reclaim")
    cp.add_argument("--media-store", default=None,
                    help="perceptual-hash media store path "
                    "(ingest-media layout); reclaims replayed band "
                    "rows and per-append small files")
    cp.add_argument("--groups-store", default=None,
                    help="duplicate-groups store path (ingest "
                    "--groups-store layout); the reclaim target is "
                    "the inverted sidecar's dead-label residue, which "
                    "the per-increment dynamic overwrite can never "
                    "remove")
    cp.add_argument("--reshard", type=int, default=None,
                    help="rewrite the passed band-index/docs-store/"
                    "groups-store at this shard count and re-pin "
                    "their metas (the growth path for stores whose "
                    "creation-time count left shards unboundedly "
                    "large); probe/ingest/harvest results are "
                    "unchanged — pass the NEW count to later calls")
    cp.add_argument("--id-col", default="doc_id",
                    help="docs-store id column the reshard hash "
                    "derives from (only used with --reshard "
                    "--docs-store)")

    au = sub.add_parser(
        "audit-groups",
        help="cohesion audit of resolved duplicate groups: sample "
        "non-singleton groups, measure each sampled member's EXACT "
        "jaccard against its group's canonical label using the docs "
        "store — near-zero star pairs are the false-merge signature; "
        "the pre-harvest sanity check",
    )
    au.add_argument("groups_store", help="duplicate-groups store path")
    au.add_argument("docs_store", help="shard-partitioned (id, text) store")
    au.add_argument("--groups", type=int, default=64,
                    help="groups sampled (hash order, deterministic)")
    au.add_argument("--pairs-per-group", type=int, default=8)
    au.add_argument("--k-shingle", type=int, default=3)
    au.add_argument("--id-col", default="doc_id")
    au.add_argument("--suspect-below", type=float, default=0.2,
                    help="star pairs under this exact jaccard are "
                    "counted as suspected false merges (legitimate "
                    "transitive chains score between this and the "
                    "ingest threshold)")
    au.add_argument("--out", default=None,
                    help="optionally write the per-pair "
                    "(group_id, id_a, id_b, jaccard) parquet")

    av2 = sub.add_parser(
        "audit-vectors",
        help="audit-groups' twin for the embedding loop: sampled "
        "members' EXACT cosine vs their group's canonical label, "
        "read from the persisted vector index",
    )
    av2.add_argument("groups_store", help="duplicate-groups store path")
    av2.add_argument("index_path", help="on-disk vector index")
    av2.add_argument("--groups", type=int, default=64)
    av2.add_argument("--pairs-per-group", type=int, default=8)
    av2.add_argument("--suspect-below", type=float, default=0.5,
                     help="star pairs under this cosine count as "
                     "suspected false merges")
    av2.add_argument("--out", default=None)

    hv = sub.add_parser(
        "harvest",
        help="emit the DEDUPLICATED corpus from the ingest loop's two "
        "resolved stores: every docs-store document except the "
        "non-canonical members of duplicate groups (a group's label "
        "IS its minimum member id, so losers are simply the "
        "groups-store rows with id != group_id — one anti-join)",
    )
    hv.add_argument("docs_store", help="shard-partitioned (id, text) store")
    hv.add_argument("groups_store",
                    help="duplicate-groups store (ingest --groups-store)")
    hv.add_argument("out_dir", help="deduplicated (id, text) parquet")
    hv.add_argument("--id-col", default="doc_id",
                    help="the docs store's id column name")
    hv.add_argument("--scores", default=None,
                    help="optional (id, score) parquet: keep the "
                    "BEST-scoring member of each group instead of the "
                    "minimum id (ties and missing scores break to the "
                    "minimum id)")
    hv.add_argument("--score-col", default="score",
                    help="score column name in --scores")

    hvv = sub.add_parser(
        "harvest-vectors",
        help="the embedding loop's harvest: the deduplicated VECTOR "
        "corpus from the vector index + groups store (same loser "
        "election as harvest; cell/pq_code index internals dropped)",
    )
    hvv.add_argument("index_path", help="on-disk vector index")
    hvv.add_argument("groups_store",
                     help="duplicate-groups store (ingest-vectors "
                     "--groups-store)")
    hvv.add_argument("out_dir", help="deduplicated (id, embedding) parquet")
    hvv.add_argument("--scores", default=None,
                     help="optional (id, score) parquet: keep the "
                     "BEST-scoring member per group (ties/missing -> "
                     "minimum id)")
    hvv.add_argument("--score-col", default="score")

    bv = sub.add_parser("build-vector", help="IVF(-PQ) index over an embedding table")
    bv.add_argument("emb_path", help="parquet with (vec_id, embedding)")
    bv.add_argument("index_path")
    bv.add_argument("--n-cells", type=int, default=None,
                    help="default: auto-sized from the corpus")
    bv.add_argument("--pq-m", type=int, default=None,
                    help="enable PQ with this many subspaces")
    bv.add_argument("--pq-k", type=int, default=16)

    av = sub.add_parser("append-vector", help="assign+append new vectors with the stored quantizer")
    av.add_argument("emb_path")
    av.add_argument("index_path")

    rc = sub.add_parser(
        "recenter",
        help="re-fit the coarse quantizer to the CURRENT store "
        "(distributed spherical-k-means rounds seeded from the stored "
        "centroids), reassign every vector, and swap the rewritten "
        "index in atomically — the maintenance verb for a store that "
        "grew or drifted past its build (appends never move "
        "centroids, by design); subsumes compact",
    )
    rc.add_argument("index_path", help="on-disk vector index (build-vector layout)")
    rc.add_argument("--iters", type=int, default=2,
                    help="Lloyd refinement rounds (each is one "
                    "distributed assignment + one (cell, dim) "
                    "aggregate)")
    rc.add_argument("--assign", choices=("auto", "exact", "hierarchical"),
                    default="auto",
                    help="assignment routing for the rounds and the "
                    "final reassignment (auto: exact <=128 cells, "
                    "hierarchical beyond)")
    rc.add_argument("--retrain-pq", action="store_true",
                    help="also re-fit the PQ codebooks (same m/k) on "
                    "the current store and re-encode; default keeps "
                    "them — codes encode raw vectors, not IVF "
                    "residuals, so reassignment alone never "
                    "invalidates them")
    rc.add_argument("--n-cells", type=int, default=None,
                    help="RE-SEED the quantizer at this cell count "
                    "(0 = auto-size from the current store): moved "
                    "seeds can never split a cluster none landed in, "
                    "so a grown store's hot cell needs a re-seed, "
                    "not just a refine; default keeps the stored "
                    "count and seeds from the stored centroids")
    rc.add_argument("--target-cell-size", type=int, default=1024,
                    help="auto-sizing target for --n-cells 0")

    evv = sub.add_parser(
        "eval-vector",
        help="measured ANN health of the index: recall@k vs exact "
        "brute force on a hash-sample of the store's own vectors, "
        "probed-rows fraction, quantizer-fit objective, cell "
        "imbalance — the before/after scorecard for recenter (the "
        "ingest advisory's byte heuristic, quantified)",
    )
    evv.add_argument("index_path")
    evv.add_argument("--queries", type=int, default=64,
                     help="sample size (the brute-force truth costs "
                     "one store scan x this)")
    evv.add_argument("--k", type=int, default=10)
    evv.add_argument("--n-probe", type=int, default=4)
    evv.add_argument("--exact", action="store_true",
                     help="force exact within-cell scoring even on a "
                     "PQ index")
    evv.add_argument("--queries-path", default=None,
                     help="optional (vec_id, embedding) parquet to "
                     "sample queries from (the PRODUCTION query "
                     "distribution) instead of the store's own "
                     "vectors")

    pv = sub.add_parser("prune-vector", help="prototype-pruned survivor ids "
                        "(D4-style: keep far/near members per cell)")
    pv.add_argument("index_path")
    pv.add_argument("out_dir")
    pv.add_argument("--keep-frac", type=float, default=0.5)
    pv.add_argument("--keep", choices=("far", "near"), default="far")

    iv = sub.add_parser(
        "ingest-vectors",
        help="one-verb verified SEMANTIC ingest: probe the vector "
        "index for the increment's same-cell cosine near-dups, then "
        "append the increment (first call builds the index)",
    )
    iv.add_argument("emb_path", help="the increment's (vec_id, embedding) parquet")
    iv.add_argument("index_path", help="on-disk vector index (build-vector layout)")
    iv.add_argument("out_dir", help="(id_a, id_b, cell, cos_sim) parquet")
    iv.add_argument("--threshold", type=float, default=0.95)
    iv.add_argument("--n-cells", type=int, default=None,
                    help="creation only; later calls use the stored quantizer")
    iv.add_argument("--pq-m", type=int, default=None,
                    help="creation only: enable PQ with this many subspaces")
    iv.add_argument("--pq-k", type=int, default=16)
    iv.add_argument("--probe-cells", type=int, default=1,
                    help="probe each increment vector's k nearest "
                    "cells instead of its own only (recall over the "
                    "SemDeDup same-cell convention's boundary blind "
                    "spot; >1 emits a superset of the batch pair "
                    "set, at k x the probe read; applies only once "
                    "an index exists -- the index-creating first "
                    "call emits same-cell pairs and warns)")
    iv.add_argument("--groups-store", default=None,
                    help="also resolve the emitted pairs into the "
                    "persisted duplicate-GROUP table (requires "
                    "integral ids)")
    iv.add_argument("--groups-shards", type=int, default=64)
    iv.add_argument("--compact-every", type=int, default=0,
                    help="after the ingest, when the vectors store's "
                    "worst cell holds >= N files, compact it in "
                    "place (duplicate rows CORRUPT top-k here, so "
                    "compact is repair); 0 never auto-compacts — the "
                    "advisory still prints")

    qv = sub.add_parser("query-vector", help="top-k per query vector through the index")
    qv.add_argument("index_path")
    qv.add_argument("queries_path", help="parquet with (query_id, query_vec); "
                    "all queries are served by ONE scan of the union of "
                    "their probed cells (vector_index_topk_batch)")
    qv.add_argument("out_dir")
    qv.add_argument("--k", type=int, default=10)
    qv.add_argument("--n-probe", type=int, default=4)
    qv.add_argument("--exact", action="store_true",
                    help="exact cosine within probed cells even when the index has PQ codes")
    qv.add_argument("--rerank-factor", type=int, default=None,
                    help="fixed k*factor PQ rerank pool; default is the "
                    "calibrated error-band pool, which REQUIRES the "
                    "index's sigma calibration — indexes built before "
                    "the calibration existed must pass this (or --exact)")

    fk = sub.add_parser(
        "fsck",
        help="read-only store integrity check: meta pin vs layout, "
        "sampled shard-hash recompute, band<->docs lockstep coverage, "
        "retained-signature coverage, groups label/sidecar "
        "invariants, vector cell/dim/PQ/assignment consistency; "
        "ERRORS = invariants readers rely on, WARNINGS = residue a "
        "maintenance verb reclaims; exit 1 on any error",
    )
    fk.add_argument("--band-index", default=None)
    fk.add_argument("--docs-store", default=None)
    fk.add_argument("--groups-store", default=None)
    fk.add_argument("--vector-index", default=None)
    fk.add_argument("--media-store", default=None,
                    help="perceptual-hash media store (ingest-media "
                    "layout): meta pin, shard layout + recompute, "
                    "NULL hashes, duplicate band rows")
    fk.add_argument("--flat-store", action="append", default=[],
                    help="streaming flat store(s): residue-only "
                    "checks (duplicates, file growth) — repeatable")
    fk.add_argument("--id-col", default="doc_id",
                    help="docs-store id column (band<->docs coverage "
                    "and docs shard recompute)")
    fk.add_argument("--sample", type=int, default=4096,
                    help="row budget for the sampled checks")
    fk.add_argument("--repair", action="store_true",
                    help="plan repairs for the findings (swap "
                    "completion, compaction, recenter — in that "
                    "dependency order, via the lease-taking "
                    "maintenance verbs); DRY-RUN by default: prints "
                    "the plan, add --apply to execute")
    fk.add_argument("--apply", action="store_true",
                    help="with --repair: actually execute the plan "
                    "(a store held by another writer defers with a "
                    "note, like ingest's auto-compact), then re-run "
                    "fsck and report the post-repair state")

    dr = sub.add_parser(
        "doctor",
        help="one-shot READ-ONLY health report per store: lock "
        "status + fsck integrity + the maintenance advisories "
        "(files-per-shard compaction, groups churn, vector cell "
        "imbalance, ANN recall + PQ rank agreement) in one place — "
        "the operational front door; never takes a lease, never "
        "repairs (fsck --repair does that); exit 1 only on CORRUPT",
    )
    dr.add_argument("--band-index", default=None)
    dr.add_argument("--docs-store", default=None)
    dr.add_argument("--groups-store", default=None)
    dr.add_argument("--vector-index", default=None)
    dr.add_argument("--media-store", default=None)
    dr.add_argument("--flat-store", action="append", default=[])
    dr.add_argument("--id-col", default="doc_id")
    dr.add_argument("--sample", type=int, default=4096,
                    help="row budget for fsck's sampled checks")
    dr.add_argument("--eval-queries", type=int, default=32,
                    help="ANN scorecard sample size for the vector "
                    "index (0 skips the scorecard — the one "
                    "non-trivial-cost section)")

    lk = sub.add_parser(
        "lock-status",
        help="who holds each store's single-writer lease (pid, host, "
        "verb, age, stale verdict) — the operational view of the "
        "store_lock contract; no Spark session needed",
    )
    lk.add_argument("stores", nargs="+",
                    help="store root paths (band index, docs store, "
                    "groups store, vector index)")

    args = p.parse_args(argv)

    if args.cmd == "lock-status":
        import os

        from wrds_data_pipeline_spark.operators.store_lock import (
            _is_stale,
            _lease_age_s,
            lock_file_for,
            read_lock_holder,
        )

        for store in args.stores:
            lf = lock_file_for(store)
            holder = read_lock_holder(store)
            if holder is None and not os.path.exists(lf):
                print(f"{store}: unlocked")
                continue
            age = _lease_age_s(lf, holder)
            stale = _is_stale(lf, holder, 3600.0)
            who = holder or {}
            print(
                f"{store}: LOCKED by verb={who.get('verb', '?')!r} "
                f"pid={who.get('pid', '?')} host={who.get('host', '?')!r} "
                f"held {age:.0f}s"
                + (
                    " [STALE — next mutating verb will take it over]"
                    if stale
                    else ""
                )
            )
        return 0

    spark = get_spark(app_name="wrds-spark-index")

    if args.cmd == "fsck":
        from wrds_data_pipeline_spark.operators.fsck import (
            fsck_band_index,
            fsck_docs_store,
            fsck_flat_store,
            fsck_groups_store,
            fsck_vector_index,
        )

        if (
            args.band_index is None
            and args.docs_store is None
            and args.groups_store is None
            and args.vector_index is None
            and args.media_store is None
            and not args.flat_store
        ):
            raise SystemExit(
                "fsck: pass --band-index, --docs-store, "
                "--groups-store, --vector-index, --media-store, "
                "and/or --flat-store"
            )
        def gather():
            reports = []
            if args.band_index is not None:
                reports.append(
                    fsck_band_index(
                        spark, args.band_index, docs_store=args.docs_store,
                        id_col=args.id_col, sample=args.sample,
                    )
                )
            if args.docs_store is not None:
                reports.append(
                    fsck_docs_store(
                        spark, args.docs_store, id_col=args.id_col,
                        sample=args.sample,
                    )
                )
            if args.groups_store is not None:
                reports.append(
                    fsck_groups_store(spark, args.groups_store, args.sample)
                )
            if args.vector_index is not None:
                reports.append(
                    fsck_vector_index(spark, args.vector_index, args.sample)
                )
            if args.media_store is not None:
                from wrds_data_pipeline_spark.operators.fsck import (
                    fsck_media_store,
                )

                reports.append(
                    fsck_media_store(spark, args.media_store, args.sample)
                )
            for fs in args.flat_store:
                reports.append(fsck_flat_store(spark, fs))
            return reports

        def show(reports):
            n_err = 0
            for r in reports:
                state = (
                    "CORRUPT" if r["errors"]
                    else ("residue" if r["warnings"] else "clean")
                )
                print(f"fsck {r['kind']} {r['path']}: {state} | {r['stats']}")
                for e in r["errors"]:
                    print(f"  ERROR: {e}")
                    n_err += 1
                for w in r["warnings"]:
                    print(f"  warning: {w}")
            return n_err

        reports = gather()
        n_err = show(reports)
        if args.repair:
            from wrds_data_pipeline_spark.operators.fsck import (
                plan_repairs,
                run_repairs,
            )

            plan = plan_repairs(reports)
            if not plan:
                print("repair: nothing to do")
                return 1 if n_err else 0
            stats = run_repairs(spark, plan, dry_run=not args.apply)
            if not args.apply:
                print(
                    "repair: dry run (add --apply to execute the plan "
                    "above)"
                )
                return 1 if n_err else 0
            print(
                f"repair: {stats['executed']} executed, "
                f"{stats['deferred']} deferred (busy), "
                f"{stats['manual']} manual — re-running fsck"
            )
            n_err = show(gather())
        return 1 if n_err else 0

    if args.cmd == "doctor":
        import os as _os

        from wrds_data_pipeline_spark.operators.fsck import (
            fsck_band_index,
            fsck_docs_store,
            fsck_flat_store,
            fsck_groups_store,
            fsck_vector_index,
        )
        from wrds_data_pipeline_spark.operators.store_lock import (
            _is_stale,
            _lease_age_s,
            lock_file_for,
            read_lock_holder,
        )

        targets: list[tuple[str, str]] = []
        if args.band_index:
            targets.append(("band_index", args.band_index))
        if args.docs_store:
            targets.append(("docs_store", args.docs_store))
        if args.groups_store:
            targets.append(("groups_store", args.groups_store))
        if args.vector_index:
            targets.append(("vector_index", args.vector_index))
        if args.media_store:
            targets.append(("media_store", args.media_store))
        targets += [("flat_store", fs) for fs in args.flat_store]
        if not targets:
            raise SystemExit(
                "doctor: pass --band-index, --docs-store, "
                "--groups-store, --vector-index, --media-store, "
                "and/or --flat-store"
            )

        any_corrupt = False
        for kind, path in targets:
            print(f"== doctor {kind} {path}")
            # 1. writer lease (read-only view)
            lf = lock_file_for(path)
            holder = read_lock_holder(path)
            if holder is None and not _os.path.exists(lf):
                print("  lock: unlocked")
            else:
                age = _lease_age_s(lf, holder)
                who = holder or {}
                stale = _is_stale(lf, holder, 3600.0)
                print(
                    f"  lock: HELD by verb={who.get('verb', '?')!r} "
                    f"pid={who.get('pid', '?')} "
                    f"host={who.get('host', '?')!r} ({age:.0f}s)"
                    + (" [STALE]" if stale else "")
                )
            # 2. integrity (fsck, read-only)
            if kind == "band_index":
                rep = fsck_band_index(
                    spark, path, docs_store=args.docs_store,
                    id_col=args.id_col, sample=args.sample,
                )
            elif kind == "docs_store":
                rep = fsck_docs_store(
                    spark, path, id_col=args.id_col, sample=args.sample
                )
            elif kind == "groups_store":
                rep = fsck_groups_store(spark, path, args.sample)
            elif kind == "vector_index":
                rep = fsck_vector_index(spark, path, args.sample)
            elif kind == "media_store":
                from wrds_data_pipeline_spark.operators.fsck import (
                    fsck_media_store,
                )

                rep = fsck_media_store(spark, path, args.sample)
            else:
                rep = fsck_flat_store(spark, path)
            for e in rep["errors"]:
                print(f"  integrity ERROR: {e}")
            for w in rep["warnings"]:
                print(f"  integrity warning: {w}")

            # 3. the maintenance advisories, consolidated
            advisories = []
            if kind in (
                "band_index", "docs_store", "media_store"
            ) and _os.path.isdir(path):
                worst = _max_files_per_shard(path)
                if worst >= _COMPACT_ADVISORY_AT:
                    flag = {
                        "band_index": "--band-index",
                        "docs_store": "--docs-store",
                        "media_store": "--media-store",
                    }[kind]
                    advisories.append(
                        f"{worst} files in the fullest shard (one per "
                        "append since the last compact) — reclaim "
                        f"with: wrds-spark-index compact {flag} {path}"
                    )
            if kind == "groups_store" and _os.path.isdir(path):
                from wrds_data_pipeline_spark.operators.components import (
                    groups_store_churn,
                )

                churn = groups_store_churn(path)
                if churn >= _REBUILD_ADVISORY_AT:
                    from pyspark.sql import functions as F

                    live = (
                        spark.read.parquet(path)
                        .agg(F.countDistinct("group_id"))
                        .first()[0]
                        or 0
                    )
                    if churn >= max(
                        _REBUILD_ADVISORY_AT,
                        int(_REBUILD_ADVISORY_FRAC * live),
                    ):
                        advisories.append(
                            f"{churn} dead group labels vs {live} live "
                            "(sidecar residue) — reclaim with: "
                            f"wrds-spark-index compact --groups-store "
                            f"{path}"
                        )
            if kind == "vector_index" and not rep["errors"]:
                vd = _os.path.join(path, "vectors")
                if _os.path.isdir(vd):
                    ratio, n_cells = _vector_cell_imbalance(vd)
                    if (
                        n_cells >= 2
                        and ratio >= _RECENTER_ADVISORY_IMBALANCE
                    ):
                        advisories.append(
                            f"largest cell holds {ratio:.1f}x the mean "
                            f"cell's bytes ({n_cells} cells) — re-fit "
                            "with: wrds-spark-index recenter "
                            f"{path} --n-cells 0"
                        )
                # 4. ANN scorecard (the one non-trivial-cost section)
                if args.eval_queries > 0:
                    from wrds_data_pipeline_spark.operators.vector_index import (
                        evaluate_vector_index,
                    )

                    m = evaluate_vector_index(
                        spark, path, n_queries=args.eval_queries
                    )
                    pq_part = (
                        f" pq_rank_agreement={m['pq_rank_agreement']}"
                        if m["pq_rank_agreement"] is not None
                        else ""
                    )
                    print(
                        f"  ann: recall@{m['k']}={m['recall_at_k']} "
                        f"probed_rows_frac={m['probed_rows_frac']} "
                        f"cells={m['n_cells']} "
                        f"max/mean={m['max_mean_cell_ratio']}"
                        + pq_part
                    )
                    if (
                        m["pq_rank_agreement"] is not None
                        and m["pq_rank_agreement"]
                        < _RETRAIN_PQ_ADVISORY_BELOW
                    ):
                        advisories.append(
                            "ADC-vs-exact rank agreement "
                            f"{m['pq_rank_agreement']} < "
                            f"{_RETRAIN_PQ_ADVISORY_BELOW} — retrain "
                            "with: wrds-spark-index recenter "
                            f"{path} --retrain-pq"
                        )
            for a in advisories:
                print(f"  ADVISORY: {a}")

            if rep["errors"]:
                verdict = "CORRUPT (fsck --repair names the fixes)"
                any_corrupt = True
            elif advisories:
                verdict = "DEGRADED (advisories above)"
            elif rep["warnings"]:
                verdict = "residue (reclaimable, reads unaffected)"
            else:
                verdict = "HEALTHY"
            print(f"  verdict: {verdict}")
        return 1 if any_corrupt else 0

    if args.cmd == "ingest-media":
        from wrds_data_pipeline_spark.multimodal import extract_dhash
        from wrds_data_pipeline_spark.operators.media_dedup import (
            ingest_media_hashes,
        )

        src = spark.read.parquet(args.media_path)
        hashes = src if "dhash" in src.columns else extract_dhash(src)
        try:
            pairs = ingest_media_hashes(
                hashes, args.store_path,
                bands=args.bands, max_hamming=args.max_hamming,
                n_shards=args.n_shards,
            )
        except ValueError as exc:  # scheme mismatch / held lease
            raise SystemExit(str(exc)) from exc
        pairs.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(f"{n} media near-dup pairs -> {args.out_dir}")
        # the ingest family's files-per-shard economics: each ingest
        # appends ~one file per touched shard
        import os as _os
        import sys as _sys

        bands_dir = _os.path.join(args.store_path, "bands")
        if _os.path.isdir(bands_dir):
            worst = _max_files_per_shard(bands_dir)
            if worst >= _COMPACT_ADVISORY_AT:
                print(
                    f"ADVISORY: the media store's fullest shard holds "
                    f"{worst} files (~one per ingest since the last "
                    "compact) — listing cost grows per probe; reclaim "
                    "with: wrds-spark-index compact --media-store "
                    f"{args.store_path}",
                    file=_sys.stderr,
                )
        return 0

    if args.cmd == "compact":
        if (
            args.band_index is None
            and args.docs_store is None
            and args.vector_index is None
            and args.groups_store is None
            and args.media_store is None
            and not args.flat_store
        ):
            raise SystemExit(
                "compact: pass --band-index, --docs-store, "
                "--vector-index, --groups-store, --media-store, "
                "and/or --flat-store"
            )
        from wrds_data_pipeline_spark.operators.components import (
            compact_groups_store,
        )
        from wrds_data_pipeline_spark.operators.dedup import (
            compact_band_index,
            compact_docs_store,
            compact_flat_store,
        )
        from wrds_data_pipeline_spark.operators.vector_index import (
            compact_vector_index,
        )

        def _compact_media(sp, p):
            from wrds_data_pipeline_spark.operators.media_dedup import (
                compact_media_store,
            )

            return compact_media_store(sp, p)

        if args.reshard is not None and (
            args.vector_index is not None
            or args.media_store is not None
            or args.flat_store
        ):
            # the vector index is cell-partitioned (recenter re-sizes
            # its layout) and flat stores are unsharded: a silently
            # ignored --reshard would read as "done"
            raise SystemExit(
                "compact: --reshard applies to --band-index, "
                "--docs-store, and --groups-store (vector indexes "
                "are cell-partitioned — use recenter; flat stores "
                "are unsharded)"
            )
        resharded = dict.fromkeys(
            ("band index", "docs store", "groups store"), args.reshard
        )
        jobs = [
            ("band index", args.band_index,
             lambda sp, p: compact_band_index(sp, p, reshard=args.reshard)),
            ("docs store", args.docs_store,
             lambda sp, p: compact_docs_store(
                 sp, p, reshard=args.reshard, id_col=args.id_col)),
            ("vector index", args.vector_index, compact_vector_index),
            ("groups store", args.groups_store,
             lambda sp, p: compact_groups_store(sp, p, reshard=args.reshard)),
            ("media store", args.media_store, _compact_media),
        ] + [
            ("flat store", p, compact_flat_store)
            for p in (args.flat_store or [])
        ]
        for label, target, fn in jobs:
            if target is None:
                continue
            try:
                s = fn(spark, target)
            except ValueError as exc:
                raise SystemExit(str(exc)) from exc
            extra = (
                f", sidecar rows {s['sidecar_rows_before']} -> "
                f"{s['sidecar_rows_after']}"
                if "sidecar_rows_before" in s
                else ""
            )
            if resharded.get(label) is not None:
                extra += (
                    f", resharded {s['n_shards_before']} -> "
                    f"{s['n_shards_after']}"
                )
            print(
                f"compacted {label} {target}: rows "
                f"{s['rows_before']} -> {s['rows_after']}, files "
                f"{s['files_before']} -> {s['files_after']}{extra}"
            )
        return 0

    if args.cmd == "audit-groups":
        from pyspark.sql import functions as F

        from wrds_data_pipeline_spark.operators.components import (
            audit_groups_store,
        )

        try:
            audited = audit_groups_store(
                spark, args.groups_store, args.docs_store,
                n_groups=args.groups,
                max_pairs_per_group=args.pairs_per_group,
                k_shingle=args.k_shingle, id_col=args.id_col,
            ).transform(caching.waist, eager=True)
        except (ValueError, FileNotFoundError) as exc:
            raise SystemExit(str(exc)) from exc
        if args.out is not None:
            audited.write.mode("overwrite").parquet(args.out)
        [s] = audited.agg(
            F.count(F.lit(1)).alias("pairs"),
            F.countDistinct("group_id").alias("groups"),
            F.round(F.avg("jaccard"), 4).alias("mean_j"),
            F.round(F.min("jaccard"), 4).alias("min_j"),
            # NULL jaccard = member text absent from the docs store (a
            # coverage violation, reported separately — NOT a false
            # merge); avg/min/suspect skip NULLs by SQL semantics
            F.sum(
                (F.col("jaccard") < args.suspect_below).cast("long")
            ).alias("suspect"),
            F.sum(F.col("jaccard").isNull().cast("long")).alias("missing"),
        ).collect()
        print(
            f"audit: {s['groups']} groups, {s['pairs']} star pairs | "
            f"mean jaccard={s['mean_j']} min={s['min_j']} | "
            f"{s['suspect'] or 0} pair(s) below {args.suspect_below} "
            "(suspected false merges; legitimate transitive chains "
            "score between this and the ingest threshold), "
            f"{s['missing']} pair(s) with text missing from the docs "
            "store"
            + (f" -> {args.out}" if args.out else "")
        )
        return 0

    if args.cmd == "audit-vectors":
        from pyspark.sql import functions as F

        from wrds_data_pipeline_spark.operators.components import (
            audit_groups_vectors,
        )

        try:
            audited = audit_groups_vectors(
                spark, args.groups_store, args.index_path,
                n_groups=args.groups,
                max_pairs_per_group=args.pairs_per_group,
            ).transform(caching.waist, eager=True)
        except (ValueError, FileNotFoundError) as exc:
            raise SystemExit(str(exc)) from exc
        if args.out is not None:
            audited.write.mode("overwrite").parquet(args.out)
        [s] = audited.agg(
            F.count(F.lit(1)).alias("pairs"),
            F.countDistinct("group_id").alias("groups"),
            F.round(F.avg("cos_sim"), 4).alias("mean_c"),
            F.round(F.min("cos_sim"), 4).alias("min_c"),
            F.sum(
                (F.col("cos_sim") < args.suspect_below).cast("long")
            ).alias("suspect"),
            F.sum(F.col("cos_sim").isNull().cast("long")).alias("missing"),
        ).collect()
        print(
            f"audit: {s['groups']} groups, {s['pairs']} star pairs | "
            f"mean cosine={s['mean_c']} min={s['min_c']} | "
            f"{s['suspect']} pair(s) below {args.suspect_below} "
            f"(suspected false merges), {s['missing']} member(s) "
            "missing from the index"
            + (f" -> {args.out}" if args.out else "")
        )
        return 0

    if args.cmd == "harvest":
        from pyspark.sql import functions as F

        from wrds_data_pipeline_spark.operators.components import (
            harvest_canonical_store,
        )

        try:
            kept = harvest_canonical_store(
                spark, args.docs_store, args.groups_store,
                id_col=args.id_col,
                scores=(
                    spark.read.parquet(args.scores)
                    if args.scores is not None
                    else None
                ),
                score_col=args.score_col,
            )
        except ValueError as exc:
            raise SystemExit(str(exc)) from exc
        kept.write.mode("overwrite").parquet(args.out_dir)
        n_kept = spark.read.parquet(args.out_dir).count()
        # counted against the distinct stored ids, not the min-id
        # loser rule — with --scores the winner is score-elected
        n_total = (
            spark.read.parquet(args.docs_store)
            .select(F.col(args.id_col))
            .distinct()
            .count()
        )
        print(
            f"harvested {n_kept} canonical docs -> {args.out_dir} "
            f"({n_total - n_kept} non-canonical group members dropped)"
        )
        return 0

    if args.cmd == "harvest-vectors":
        from wrds_data_pipeline_spark.operators.vector_index import (
            harvest_canonical_vectors,
            load_vector_index,
        )

        try:
            kept = harvest_canonical_vectors(
                spark, args.index_path, args.groups_store,
                scores=(
                    spark.read.parquet(args.scores)
                    if args.scores is not None
                    else None
                ),
                score_col=args.score_col,
            )
        except ValueError as exc:
            raise SystemExit(str(exc)) from exc
        kept.write.mode("overwrite").parquet(args.out_dir)
        n_kept = spark.read.parquet(args.out_dir).count()
        idx = load_vector_index(spark, args.index_path)
        n_total = idx.df.select(idx.id_col).distinct().count()
        print(
            f"harvested {n_kept} canonical vectors -> {args.out_dir} "
            f"({n_total - n_kept} non-canonical group members dropped)"
        )
        return 0

    if args.cmd == "ingest":
        if not 0 < args.threshold <= 1:
            raise SystemExit(
                f"--threshold must be in (0, 1], got {args.threshold}"
            )
        if args.star_accept_frac != 0 and not (
            0 < args.star_accept_frac <= 1
        ):
            raise SystemExit(
                "--star-accept-frac must be in (0, 1] or 0 to disable "
                f"the gate, got {args.star_accept_frac}"
            )
        if args.salvage_cap < 0:
            raise SystemExit(
                f"--salvage-cap must be >= 0, got {args.salvage_cap}"
            )
        if args.compact_every < 0:
            raise SystemExit(
                f"--compact-every must be >= 0, got {args.compact_every}"
            )
        from wrds_data_pipeline_spark.operators.dedup import (
            DEFAULT_MAX_BUCKET,
            ingest_increment,
        )

        max_bucket = DEFAULT_MAX_BUCKET
        if args.lsh_max_bucket is not None:
            max_bucket = (
                None if args.lsh_max_bucket == 0 else args.lsh_max_bucket
            )
        try:
            pairs = ingest_increment(
                spark.read.parquet(args.docs_path),
                args.index_path,
                args.docs_store,
                threshold=args.threshold,
                k_shingle=args.k_shingle,
                n_hashes=args.n_hashes,
                bands=args.bands,
                n_shards=args.n_shards,
                docs_shards=args.docs_shards,
                max_bucket=max_bucket,
                star_accept_frac=(
                    None if args.star_accept_frac == 0
                    else args.star_accept_frac
                ),
                demoted_salvage_cap=(
                    None if args.salvage_cap == 0 else args.salvage_cap
                ),
                groups_store_path=args.groups_store,
                groups_shards=args.groups_shards,
            )
        except ValueError as exc:
            # meta mismatch / store-inconsistency refusals, dressed as
            # the CLI's usage-error exit
            raise SystemExit(str(exc)) from exc
        pairs.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(f"{n} verified pairs -> {args.out_dir}; stores updated")
        _ingest_compaction_economics(
            spark, args.index_path, args.docs_store, args.compact_every
        )
        _groups_churn_advisory(spark, args.groups_store)
        return 0

    if args.cmd in ("build-band", "append-band", "probe-band"):
        from wrds_data_pipeline_spark.operators.dedup import (
            append_band_index,
            build_band_index,
            probe_band_index,
        )

        docs = spark.read.parquet(args.docs_path)
        if args.cmd == "build-band":
            build_band_index(
                docs, args.index_path, n_shards=args.n_shards,
                k_shingle=args.k_shingle, n_hashes=args.n_hashes,
                bands=args.bands,
            )
            print(f"band index -> {args.index_path}")
        elif args.cmd == "append-band":
            append_band_index(docs, args.index_path)
            print(f"appended {args.docs_path} -> {args.index_path}")
        else:
            probe_kwargs = {}
            if args.lsh_max_bucket is not None:
                probe_kwargs["max_bucket"] = (
                    None if args.lsh_max_bucket == 0 else args.lsh_max_bucket
                )
            if args.verify_docs is not None:
                if args.mark_resolved:
                    # the verified path emits (id_a, id_b, jaccard)
                    # with no resolved column (star edges are
                    # evidence-gated, not flagged) — honoring only one
                    # of two co-passed flags silently hands the user a
                    # different schema than asked for
                    raise SystemExit(
                        "--mark-resolved cannot be combined with "
                        "--verify-docs: verified output has no "
                        "resolved column (hot buckets are "
                        "evidence-gated instead)"
                    )
                # loud range checks, same rationale as the corpus
                # gates' _validate_gate_fracs: an out-of-range
                # fraction would silently demote every bucket
                # (--star-accept-frac 1.5) or emit nothing
                # (--threshold 1.2) rather than error.  0 stays the
                # documented "disable" sentinel.
                if not 0 < args.threshold <= 1:
                    raise SystemExit(
                        f"--threshold must be in (0, 1], got {args.threshold}"
                    )
                if args.star_accept_frac != 0 and not (
                    0 < args.star_accept_frac <= 1
                ):
                    raise SystemExit(
                        "--star-accept-frac must be in (0, 1] or 0 to "
                        f"disable the gate, got {args.star_accept_frac}"
                    )
                if args.salvage_cap < 0:
                    raise SystemExit(
                        f"--salvage-cap must be >= 0, got {args.salvage_cap}"
                    )
                from wrds_data_pipeline_spark.operators.dedup import (
                    probe_band_index_verified,
                )

                cand = probe_band_index_verified(
                    docs, args.index_path,
                    spark.read.parquet(args.verify_docs),
                    threshold=args.threshold,
                    prune_shards=not args.no_prune,
                    star_accept_frac=(
                        None if args.star_accept_frac == 0
                        else args.star_accept_frac
                    ),
                    demoted_salvage_cap=(
                        None if args.salvage_cap == 0 else args.salvage_cap
                    ),
                    **probe_kwargs,
                )
                label = "verified pairs"
            else:
                if args.mark_resolved:
                    probe_kwargs["resolved_col"] = "resolved"
                cand = probe_band_index(
                    docs, args.index_path, prune_shards=not args.no_prune,
                    **probe_kwargs,
                )
                label = "candidate pairs"
            cand.write.mode("overwrite").parquet(args.out_dir)
            n = spark.read.parquet(args.out_dir).count()
            print(f"{n} {label} -> {args.out_dir}")
        return 0

    from wrds_data_pipeline_spark.operators.vector_index import (
        append_vector_index,
        build_vector_index,
        load_vector_index,
    )

    if args.cmd == "build-vector":
        idx = build_vector_index(
            spark.read.parquet(args.emb_path), args.index_path,
            n_cells=args.n_cells, pq_m=args.pq_m, pq_k=args.pq_k,
        )
        print(
            f"vector index: {len(idx.centroids)} cells"
            + (f", pq m={idx.codebooks.m} k={idx.codebooks.k}" if idx.codebooks else "")
            + f" -> {args.index_path}"
        )
    elif args.cmd == "append-vector":
        append_vector_index(spark.read.parquet(args.emb_path), args.index_path)
        print(f"appended {args.emb_path} -> {args.index_path}")
        # appends assign with the FROZEN quantizer — the same drift
        # accumulation ingest-vectors watches for
        _recenter_advisory(args.index_path)
    elif args.cmd == "eval-vector":
        from wrds_data_pipeline_spark.operators.vector_index import (
            evaluate_vector_index,
        )

        ext = None
        if args.queries_path is not None:
            ext = spark.read.parquet(args.queries_path)
        m = evaluate_vector_index(
            spark, args.index_path, n_queries=args.queries,
            k=args.k, n_probe=args.n_probe,
            use_pq=False if args.exact else None,
            queries=ext,
            query_id_col="vec_id", query_vec_col="embedding",
        )
        pq_part = (
            f" | pq_rank_agreement={m['pq_rank_agreement']}"
            if m["pq_rank_agreement"] is not None
            else ""
        )
        print(
            f"eval {args.index_path}: recall@{m['k']}="
            f"{m['recall_at_k']} (n_probe={m['n_probe']}, "
            f"{m['n_queries']} sampled queries) | probed_rows_frac="
            f"{m['probed_rows_frac']} | mean_assigned_cosine="
            f"{m['mean_assigned_cosine']} | cells={m['n_cells']} "
            f"max/mean={m['max_mean_cell_ratio']} | rows={m['rows']}"
            + pq_part
        )
        if (
            m["pq_rank_agreement"] is not None
            and m["pq_rank_agreement"] < _RETRAIN_PQ_ADVISORY_BELOW
        ):
            import sys as _sys

            print(
                "ADVISORY: ADC-vs-exact rank agreement "
                f"{m['pq_rank_agreement']} < "
                f"{_RETRAIN_PQ_ADVISORY_BELOW} — the PQ codebooks no "
                "longer describe the accumulated corpus (they encode "
                "raw vectors frozen at train time), so the ADC scan "
                "mis-ranks candidates and the serving pool pays a "
                "widening rerank to hide it; re-fit with: "
                f"wrds-spark-index recenter {args.index_path} "
                "--retrain-pq",
                file=_sys.stderr,
            )
    elif args.cmd == "recenter":
        from wrds_data_pipeline_spark.operators.vector_index import (
            recenter_vector_index,
        )

        s = recenter_vector_index(
            spark, args.index_path, n_iter=args.iters,
            assign=args.assign, retrain_pq=args.retrain_pq,
            n_cells=args.n_cells,
            target_cell_size=args.target_cell_size,
        )
        print(
            f"recentered {args.index_path}: {s['n_cells']}->"
            f"{s['n_cells_after']} cells x "
            f"{s['n_iter']} rounds ({s['assign']}), objective "
            f"{s['objective_before']} -> {s['objective_after']}, "
            f"{s['rows_before']}->{s['rows_after']} rows, "
            f"{s['files_before']}->{s['files_after']} files"
            + (", pq retrained" if s["retrained_pq"] else "")
        )
    elif args.cmd == "ingest-vectors":
        import os as _os
        import sys as _sys

        from wrds_data_pipeline_spark.operators.vector_index import (
            compact_vector_index,
            semantic_ingest_increment,
        )

        pairs = semantic_ingest_increment(
            spark.read.parquet(args.emb_path),
            args.index_path,
            threshold=args.threshold,
            n_cells=args.n_cells,
            pq_m=args.pq_m,
            pq_k=args.pq_k,
            groups_store_path=args.groups_store,
            groups_shards=args.groups_shards,
            probe_cells=args.probe_cells,
        )
        pairs.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(f"{n} semantic near-dup pairs -> {args.out_dir}")
        worst = _max_files_per_shard(
            _os.path.join(args.index_path, "vectors")
        )
        if args.compact_every and worst >= args.compact_every:
            s = compact_vector_index(spark, args.index_path)
            print(
                f"auto-compact (--compact-every {args.compact_every}; "
                f"vectors reached {worst} files/cell): "
                f"{s['rows_before']}->{s['rows_after']} rows, "
                f"{s['files_before']}->{s['files_after']} files"
            )
        elif worst >= _COMPACT_ADVISORY_AT:
            print(
                f"ADVISORY: the vectors store holds {worst} files in "
                "its worst cell (one per ingest since the last "
                "compact) — duplicate rows from replays CORRUPT "
                "top-k here; repair with: wrds-spark-index "
                f"compact --vector-index {args.index_path}",
                file=_sys.stderr,
            )
        _recenter_advisory(args.index_path)
        _groups_churn_advisory(spark, args.groups_store)
    elif args.cmd == "prune-vector":
        from wrds_data_pipeline_spark.operators.vector_index import (
            prune_vector_index,
        )

        kept = prune_vector_index(
            spark, args.index_path, args.keep_frac, args.keep
        )
        kept.write.mode("overwrite").parquet(args.out_dir)
        n = spark.read.parquet(args.out_dir).count()
        print(f"{n} survivors ({args.keep}, {args.keep_frac}) -> {args.out_dir}")
    else:
        from wrds_data_pipeline_spark.operators.vector_index import (
            vector_index_topk_batch,
        )

        idx = load_vector_index(spark, args.index_path)
        queries = spark.read.parquet(args.queries_path)
        n_q = queries.count()
        if not n_q:
            raise SystemExit(f"no query rows in {args.queries_path}")
        # one scan of the union of probed cells serves every query
        # (round 7) — the previous per-query loop ran one pruned
        # probe JOB per query row
        out = vector_index_topk_batch(
            idx, queries, k=args.k, n_probe=args.n_probe,
            use_pq=False if args.exact else None,
            rerank_factor=args.rerank_factor,
        )
        out.write.mode("overwrite").parquet(args.out_dir)
        print(f"{n_q} queries x top-{args.k} -> {args.out_dir}")
    return 0


def quality_main(argv: list[str] | None = None) -> int:
    """Model-based quality filter lifecycle (beyond the reference
    surface): train a hashed-n-gram linear classifier on a labeled
    seed, then score or filter a corpus with the persisted model —
    the learned stage of the curation stack as shell commands."""
    p = argparse.ArgumentParser(prog="wrds-spark-quality")
    sub = p.add_subparsers(dest="cmd", required=True)

    tr = sub.add_parser("train", help="fit on labeled (doc_id, text, label) parquet")
    tr.add_argument("docs_path")
    tr.add_argument("model_path")
    tr.add_argument("--label-col", default="label")
    tr.add_argument("--n-buckets", type=int, default=1 << 18)
    tr.add_argument("--ngram-max", type=int, default=2)
    tr.add_argument("--sample", type=int, default=10_000)
    tr.add_argument("--seed", type=int, default=0)

    sc = sub.add_parser("score", help="write (doc_id, n_terms, logit, prob)")
    sc.add_argument("docs_path")
    sc.add_argument("model_path")
    sc.add_argument("out_dir")

    fl = sub.add_parser("filter", help="write the surviving docs rows")
    fl.add_argument("docs_path")
    fl.add_argument("model_path")
    fl.add_argument("out_dir")
    fl.add_argument("--min-prob", type=float, default=0.5)

    ev = sub.add_parser("eval", help="accuracy + binned AUC on labeled docs")
    ev.add_argument("docs_path")
    ev.add_argument("model_path")
    ev.add_argument("--label-col", default="label")
    ev.add_argument("--threshold", type=float, default=0.5)

    args = p.parse_args(argv)

    from wrds_data_pipeline_spark.operators.quality_model import (
        evaluate_quality_model,
        filter_by_quality_model,
        load_quality_model,
        save_quality_model,
        score_quality,
        train_quality_model,
    )

    spark = get_spark(app_name="wrds-spark-quality")
    docs = spark.read.parquet(args.docs_path)
    if args.cmd == "train":
        model = train_quality_model(
            docs,
            args.label_col,
            n_buckets=args.n_buckets,
            ngram_max=args.ngram_max,
            seed=args.seed,
            sample=args.sample,
        )
        save_quality_model(model, args.model_path)
        print(
            f"model: {len(model.weights)} non-zero buckets "
            f"(of {model.n_buckets}) -> {args.model_path}"
        )
    elif args.cmd == "score":
        model = load_quality_model(spark, args.model_path)
        score_quality(docs, model).write.mode("overwrite").parquet(
            args.out_dir
        )
        print(f"scores -> {args.out_dir}")
    elif args.cmd == "eval":
        model = load_quality_model(spark, args.model_path)
        out = evaluate_quality_model(
            docs, args.label_col, model, threshold=args.threshold
        )
        print(
            f"n={out['n']} pos={out['n_pos']} "
            f"accuracy={out['accuracy']:.4f} auc={out['auc']:.4f} "
            f"(tie_mass={out['auc_tie_mass']:.4f})"
        )
    else:
        model = load_quality_model(spark, args.model_path)
        kept = filter_by_quality_model(docs, model, min_prob=args.min_prob)
        kept.write.mode("overwrite").parquet(args.out_dir)
        n_in = docs.count()
        n_out = spark.read.parquet(args.out_dir).count()
        print(f"kept {n_out}/{n_in} docs -> {args.out_dir}")
    return 0


def tokenizer_main(argv: list[str] | None = None) -> int:
    """Tokenizer lifecycle (beyond the reference surface): TRAIN a
    byte-level BPE or WordPiece tokenizer.json on a corpus
    (distributed word counting, driver-side merge learning —
    functions/tokenizer_train.py), and COUNT tokens with any
    tokenizer.json through the dependency-free interpreter — the
    producer and consumer ends of the same public format."""
    p = argparse.ArgumentParser(prog="wrds-spark-tokenizer")
    sub = p.add_subparsers(dest="cmd", required=True)

    tr = sub.add_parser(
        "train", help="train a tokenizer.json on (doc_id, text) parquet"
    )
    tr.add_argument("docs_path")
    tr.add_argument("out_json")
    tr.add_argument(
        "--model",
        choices=("bpe", "wordpiece", "unigram", "wordlevel"),
        default="bpe",
    )
    tr.add_argument("--vocab-size", type=int, required=True)
    tr.add_argument("--text-col", default="text")
    tr.add_argument("--min-frequency", type=int, default=1,
                    help="drop words rarer than this before learning")
    tr.add_argument("--min-pair-frequency", type=int, default=2,
                    help="stop merging below this pair count")
    tr.add_argument("--max-words", type=int, default=1_000_000,
                    help="cap the unique-word relation collected to "
                    "the driver (top-N by count; the documented "
                    "approximation at scale)")
    tr.add_argument("--special", action="append", default=None,
                    metavar="TOKEN",
                    help="special token (repeatable; defaults: "
                    "<|endoftext|> for bpe, the BERT five for "
                    "wordpiece)")
    tr.add_argument("--distributed-em", action="store_true",
                    help="unigram only: run each EM iteration's "
                    "posterior counting distributed (mapInPandas "
                    "partial sums) instead of driver-side — the same "
                    "artifact up to float re-association, and the "
                    "word cap stops being driver-bound")
    tr.add_argument("--no-lowercase", action="store_true",
                    help="wordpiece only: skip BertNormalizer "
                    "lowercasing")

    ct = sub.add_parser(
        "count",
        help="write (doc_id, n_tokens) counted with a tokenizer.json "
        "through the dependency-free interpreter",
    )
    ct.add_argument("docs_path")
    ct.add_argument("tokenizer_json")
    ct.add_argument("out_dir")
    ct.add_argument("--text-col", default="text")

    ev = sub.add_parser(
        "eval",
        help="corpus-level tokenizer evaluation: docs/tokens/bytes, "
        "bytes-per-token (compression), unk rate (coverage) — the "
        "numbers that pick between trained candidates",
    )
    ev.add_argument("docs_path")
    ev.add_argument("tokenizer_json")
    ev.add_argument("--text-col", default="text")
    ev.add_argument("--stream", action="store_true",
                    help="treat docs_path as a LIVE ingest directory: "
                    "evaluate per micro-batch with running totals "
                    "(the dedup twins' streaming shape); ratios are "
                    "computed over the totals, never averaged across "
                    "batches")
    ev.add_argument("--checkpoint", default=None,
                    help="streaming checkpoint dir: committed batches "
                    "are never re-read on restart, so totals stay "
                    "exact across runs")
    ev.add_argument("--stats-store", default=None,
                    help="persist per-batch partial sums (parquet) so "
                    "a restarted eval keeps accumulating instead of "
                    "starting at zero; REQUIRES --checkpoint (without "
                    "it a restart re-reads everything under colliding "
                    "epoch keys and the totals double-count — the "
                    "stream refuses the combination)")

    args = p.parse_args(argv)
    spark = get_spark(app_name="wrds-spark-tokenizer")
    docs = spark.read.parquet(args.docs_path)

    if args.cmd == "train":
        from wrds_data_pipeline_spark.functions.tokenizer_train import (
            train_bpe,
            train_unigram,
            train_wordlevel,
            train_wordpiece,
            write_tokenizer_json,
        )

        if args.distributed_em and args.model != "unigram":
            # the other trainers' corpus-sized phase (word counting)
            # is already distributed; silently ignoring the flag would
            # read as "applied"
            raise SystemExit(
                "--distributed-em applies to --model unigram only "
                "(the other trainers have no driver-side EM)"
            )
        stats: dict = {}
        if args.model == "bpe":
            spec = train_bpe(
                docs,
                args.text_col,
                vocab_size=args.vocab_size,
                special_tokens=tuple(args.special or ("<|endoftext|>",)),
                min_frequency=args.min_frequency,
                min_pair_frequency=args.min_pair_frequency,
                max_words=args.max_words,
                stats=stats,
            )
        elif args.model == "unigram":
            spec = train_unigram(
                docs,
                args.text_col,
                vocab_size=args.vocab_size,
                special_tokens=tuple(args.special or ("<unk>",)),
                min_frequency=args.min_frequency,
                max_words=args.max_words,
                distributed_e_step=args.distributed_em,
                stats=stats,
            )
        elif args.model == "wordlevel":
            spec = train_wordlevel(
                docs,
                args.text_col,
                vocab_size=args.vocab_size,
                special_tokens=tuple(args.special or ("<unk>",)),
                min_frequency=args.min_frequency,
                max_words=args.max_words,
                stats=stats,
            )
        else:
            spec = train_wordpiece(
                docs,
                args.text_col,
                vocab_size=args.vocab_size,
                special_tokens=tuple(
                    args.special
                    or ("[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]")
                ),
                lowercase=not args.no_lowercase,
                min_frequency=args.min_frequency,
                min_pair_frequency=args.min_pair_frequency,
                max_words=args.max_words,
                stats=stats,
            )
        write_tokenizer_json(spec, args.out_json)
        capped = " (word cap BOUND — raise --max-words to widen)" if (
            stats.get("words_capped")
        ) else ""
        print(
            f"{args.model}: vocab {stats['vocab_size']} "
            f"({stats['n_merges']} merges) from {stats['n_words']} "
            f"unique words{capped} -> {args.out_json}"
        )
    elif args.cmd == "eval":
        import json as _json

        from wrds_data_pipeline_spark.functions.pybpe import (
            local_tokenizer_factory,
        )
        from wrds_data_pipeline_spark.functions.tokenize import (
            tokenizer_corpus_stats,
        )

        with open(args.tokenizer_json) as fh:
            model = _json.load(fh)["model"]
        # the unk id, per family: Unigram pins unk_id; the others name
        # an unk_token resolved in the vocab (absent for byte-level
        # BPE, where unk is unreachable -> rate 0 by construction)
        if model.get("unk_id") is not None:
            unk_id = int(model["unk_id"])
        elif model.get("unk_token") and model["type"] != "Unigram":
            unk_id = model["vocab"].get(model["unk_token"])
        else:
            unk_id = None
        if args.stream:
            from wrds_data_pipeline_spark.streaming.corpus_stream import (
                streaming_tokenizer_stats,
            )

            row = streaming_tokenizer_stats(
                spark, args.docs_path, docs.schema,
                local_tokenizer_factory(args.tokenizer_json),
                text_col=args.text_col, unk_id=unk_id,
                stats_store=args.stats_store,
                checkpoint_dir=args.checkpoint,
            )
        else:
            row = tokenizer_corpus_stats(
                docs, local_tokenizer_factory(args.tokenizer_json),
                text_col=args.text_col, unk_id=unk_id,
            ).first()
        print(
            f"docs={row['n_docs']} tokens={row['n_tokens']} "
            f"bytes={row['n_bytes']} "
            f"bytes_per_token={row['bytes_per_token']} "
            f"unk_rate={row['unk_rate']}"
            + ("" if unk_id is not None else " (no unk: byte-level)")
        )
    else:
        from wrds_data_pipeline_spark.functions.pybpe import (
            local_tokenizer_factory,
        )
        from wrds_data_pipeline_spark.functions.tokenize import (
            tokenizer_token_counts,
        )

        counted = tokenizer_token_counts(
            docs, local_tokenizer_factory(args.tokenizer_json),
            text_col=args.text_col,
        )
        counted.write.mode("overwrite").parquet(args.out_dir)
        print(f"token counts -> {args.out_dir}")
    return 0


if __name__ == "__main__":  # python -m wrds_data_pipeline_spark.cli <cmd> ...
    cmds = {"universe": universe_main, "panels": panels_main,
            "corr": corr_main, "corpus": corpus_main, "index": index_main,
            "quality": quality_main, "tokenizer": tokenizer_main}
    if len(sys.argv) < 2 or sys.argv[1] not in cmds:
        raise SystemExit(f"usage: cli.py {{{'|'.join(cmds)}}} ...")
    raise SystemExit(cmds[sys.argv[1]](sys.argv[2:]))
