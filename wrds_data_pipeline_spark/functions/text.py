"""Text-analysis functions for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): language
ID, quality scoring, token counting, fingerprinting — all as JVM-side
Column expressions (no Python UDFs), so they run inside whole-stage
codegen over billions of documents.

Every function here has a deliberately *portable* definition (same
result computable in ANSI-ish SQL) so the DuckDB oracle can verify it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small multilingual stopword sets for the n-gram/stopword language
# heuristic (public knowledge; any introductory NLP text)
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
}

_WS = r"\s+"


def _bound(arr: Column, zero: Column, body) -> Column:
    """Evaluate ``arr`` ONCE per row and hand it to ``body`` as a
    bound lambda variable (a 1-element ``aggregate``).

    Why: higher-order functions run interpreted, and any non-lambda
    expression referenced inside a lambda body is RE-EVALUATED per
    array element — ``transform(idx, i -> f(tokens(text), i))``
    re-tokenizes the document once per index, turning O(n) builders
    into O(n²) (see SCALE.md's CollapseProject/HOF note; the same
    trap cost similarity.py a 25× slowdown).  ``zero`` must carry the
    RESULT type of ``body`` (the merge lambda's return type is the
    aggregate's type); its value is never used."""
    return F.aggregate(F.array(arr), zero, lambda acc, a: body(a))


def normalize(text: Column | str) -> Column:
    """lower + trim + collapse whitespace — the canonical form used by
    fingerprints and shingles."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(F.lower(F.trim(c)), _WS, " ")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens of the normalized text (array<string>)."""
    return F.split(normalize(text), " ")


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def punct_ratio(text: Column | str) -> Column:
    """Punctuation chars / total chars (quality signal)."""
    c = F.col(text) if isinstance(text, str) else text
    n_punct = F.regexp_count(c, F.lit(r"[.,;:!?]"))
    return F.when(F.length(c) > 0, n_punct / F.length(c)).otherwise(F.lit(0.0))


def stopword_count(text: Column | str, lang: str = "en") -> Column:
    """Count of stopword occurrences (word-boundary regex — RE2 and
    Java regex agree on \\b)."""
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.regexp_count(normalize(text), F.lit(pat))


def stopword_ratio(text: Column | str, lang: str = "en") -> Column:
    n = token_count(text)
    return F.when(n > 0, stopword_count(text, lang) / n).otherwise(F.lit(0.0))


def mean_word_length(text: Column | str) -> Column:
    t = tokens(text)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total / F.size(t)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: penalize extreme length,
    high punctuation, missing stopwords.  Weights are fixed so the
    score is a deterministic, oracle-checkable expression."""
    n_tok = token_count(text)
    len_ok = F.when((n_tok >= 10) & (n_tok <= 5000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(text) <= 0.1, F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(text) >= 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + stop_ok) / F.lit(3.0)


def lang_scores(text: Column | str) -> dict[str, Column]:
    return {lang: stopword_count(text, lang) for lang in STOPWORDS}


def detect_lang(text: Column | str) -> Column:
    """Argmax of per-language stopword hits; ties prefer en > de > fr
    (fixed order → deterministic)."""
    s = lang_scores(text)
    return (
        F.when((s["en"] >= s["de"]) & (s["en"] >= s["fr"]), F.lit("en"))
        .when(s["de"] >= s["fr"], F.lit("de"))
        .otherwise(F.lit("fr"))
    )


# Unicode script ranges (the stable BMP blocks; public Unicode data).
# Stopword lang-ID only covers languages with curated stopword lists;
# script detection is the coarser-but-universal first-stage router a
# multilingual 100 TB pipeline shards on before any per-language model.
SCRIPT_RANGES: dict[str, str] = {
    "latin": r"A-Za-zÀ-ɏ",
    "cyrillic": r"Ѐ-ӿ",
    "greek": r"Ͱ-Ͽ",
    "arabic": r"؀-ۿ",
    "hebrew": r"֐-׿",
    "devanagari": r"ऀ-ॿ",
    "cjk": r"一-鿿぀-ヿ가-힯",
}


def script_ratios(text: Column | str) -> dict[str, Column]:
    """Per-script character fraction (of the alphabetic-ish chars the
    ranges cover).  One regexp_count per script — all row-local JVM
    expressions, codegen'd into the same scan stage."""
    c = F.col(text) if isinstance(text, str) else text
    counts = {
        name: F.regexp_count(c, F.lit(f"[{rng}]"))
        for name, rng in SCRIPT_RANGES.items()
    }
    total = None
    for v in counts.values():
        total = v if total is None else total + v
    total = F.greatest(total, F.lit(1))
    return {name: F.round(v / total, 6) for name, v in counts.items()}


def detect_script(text: Column | str) -> Column:
    """Argmax script by character count; documents with no scripted
    characters at all → 'unknown'.  Ties resolve in SCRIPT_RANGES
    declaration order (fixed dict order → deterministic).

    Shape matters: each regexp_count appears exactly once, inside one
    array of (count, -priority, name) structs whose array_max is the
    argmax (struct comparison is field-ordered).  A when-chain argmax
    repeats every count in every branch condition — measured 2.3×
    slower at sf0.1 even with codegen subexpression elimination."""
    c = F.col(text) if isinstance(text, str) else text
    entries = F.array(
        *[
            F.struct(
                F.regexp_count(c, F.lit(f"[{rng}]")).alias("cnt"),
                F.lit(-i).alias("prio"),
                F.lit(name).alias("name"),
            )
            for i, (name, rng) in enumerate(SCRIPT_RANGES.items())
        ]
    )
    best = F.array_max(entries)
    return F.when(best["cnt"] > 0, best["name"]).otherwise(F.lit("unknown"))


# GPT-2-style pre-tokenizer approximation: contractions, letter runs,
# digit runs, punctuation runs — each optionally space-prefixed.  Uses
# only \p{L}/\p{N} classes, which Java regex (Spark) and RE2 (DuckDB)
# interpret identically.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: the standard pre-tokenization split
    LLM tokenizers apply before BPE merges.  An upper bound on (and
    strongly correlated with) true BPE token counts — the cheap
    JVM-side budget estimator for a 100 TB corpus."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


# --- repetition / structure signals (Gopher-style corpus filters) ----------
# The published large-corpus quality rules (Rae et al. 2021 "Scaling
# Language Models: ... Gopher", appendix A1.1; public knowledge) are
# per-document and content-local, so each is one JVM expression —
# no shuffle, codegen'd, linear scans except the n-gram top count
# (quadratic in document length, still row-local).  These are
# pytest-verified against python oracles (per-document python replay)
# rather than DuckDB SQL: the registry's 50-query budget is spent on
# the operator families, and these compose from already-oracled parts.


def lines(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\n"), lambda x: F.length(F.trim(x)) > 0)


def dup_line_ratio(text: Column | str) -> Column:
    """Fraction of non-blank lines that are duplicates of an earlier
    line (boilerplate/navigation detector)."""
    ls = lines(text)
    n = F.size(ls)
    return F.when(
        n > 0, (n - F.size(F.array_distinct(ls))) / n.cast("double")
    ).otherwise(F.lit(0.0))


def bullet_line_ratio(text: Column | str) -> Column:
    """Fraction of lines starting with a bullet marker."""
    ls = lines(text)
    n = F.size(ls)
    bullets = F.size(
        F.filter(ls, lambda x: F.trim(x).rlike(r"^([-*•]|\d+[.)])\s"))
    )
    return F.when(n > 0, bullets / n.cast("double")).otherwise(F.lit(0.0))


def ellipsis_line_ratio(text: Column | str) -> Column:
    """Fraction of lines ending in an ellipsis (truncated scrapes)."""
    ls = lines(text)
    n = F.size(ls)
    ell = F.size(F.filter(ls, lambda x: F.trim(x).rlike(r"(\.\.\.|…)$")))
    return F.when(n > 0, ell / n.cast("double")).otherwise(F.lit(0.0))


def symbol_word_ratio(text: Column | str) -> Column:
    """Hash/ellipsis symbols per word (spam/markup signal)."""
    c = F.col(text) if isinstance(text, str) else text
    n = token_count(text)
    syms = F.regexp_count(c, F.lit(r"(#|\.\.\.|…)"))
    return F.when(n > 0, syms / n.cast("double")).otherwise(F.lit(0.0))


def alpha_word_ratio(text: Column | str) -> Column:
    """Fraction of words containing at least one alphabetic char."""
    t = tokens(text)
    n = F.size(t)
    alpha = F.size(F.filter(t, lambda x: x.rlike(r"\p{L}")))
    return F.when(n > 0, alpha / n.cast("double")).otherwise(F.lit(0.0))


def top_ngram_ratio(text: Column | str, n: int = 2) -> Column:
    """Occurrences of the most frequent word n-gram / total n-grams
    (repetition signal).  Row-local quadratic in document n-gram
    count — acceptable because it never shuffles and documents are
    length-bounded upstream; for very long documents compute it on a
    prefix slice."""
    # bind the gram array once: referenced from TWO nested lambdas
    # below, where an inline copy would rebuild the whole shingle
    # array per distinct gram (O(g·n) just to re-materialize it,
    # before the inherent per-gram count scan)
    return _bound(
        word_shingles_ordered(text, n),
        F.lit(0.0),
        lambda grams: F.when(
            F.size(grams) > 0,
            F.array_max(
                F.transform(
                    F.array_distinct(grams),
                    lambda g: F.size(F.filter(grams, lambda x: x == g)),
                )
            )
            / F.size(grams).cast("double"),
        ).otherwise(F.lit(0.0)),
    )


def gopher_keep(
    text: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
) -> Column:
    """Boolean Gopher-rule document filter: word count in range, mean
    word length 3-10, symbol ratio < 0.1, < 90% bullet lines, < 30%
    ellipsis lines, > 80% alphabetic words, < 30% duplicate lines.
    One expression ⇒ pushes into the scan of a 100 TB corpus."""
    n = token_count(text)
    mwl = mean_word_length(text)
    return (
        (n >= min_words)
        & (n <= max_words)
        & (mwl >= 3)
        & (mwl <= 10)
        & (symbol_word_ratio(text) < 0.1)
        & (bullet_line_ratio(text) < 0.9)
        & (ellipsis_line_ratio(text) < 0.3)
        & (alpha_word_ratio(text) > 0.8)
        & (dup_line_ratio(text) < 0.3)
    )


# --- scrubbing / redaction (pre-training hygiene) ---------------------------
# Conservative, deterministic regexes only — a corpus scrubber must
# never crash on adversarial text, and every pattern below is plain
# Java-regex (no backtracking blowups: bounded quantifiers, no nested
# unbounded groups).  All are single regexp_replace/regexp_count
# expressions: row-local, codegen'd, no shuffle.

URL_PATTERN = r"(?i)\bhttps?://[^\s<>\"']+|\bwww\.[^\s<>\"']+"
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_PATTERN = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
# 9-15 digits, up to two separator chars between digits ("1 (415" has
# a space + paren run); leading + allowed — conservative enough to
# skip prices/years, catches phone-shaped runs
PHONE_PATTERN = r"\+?\d(?:[ .()-]{0,2}\d){8,14}"


def strip_urls(text: Column | str, repl: str = " ") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(c, URL_PATTERN, repl)


def url_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(URL_PATTERN))


def redact_pii(text: Column | str) -> Column:
    """Replace emails / URLs / IPv4s / phone-shaped digit runs with
    typed placeholder tokens ([EMAIL], [URL], [IP], [PHONE]).  Order
    matters: URLs first (they may embed digit runs and dots), then
    emails, IPs, phones."""
    c = F.col(text) if isinstance(text, str) else text
    c = F.regexp_replace(c, URL_PATTERN, "[URL]")
    c = F.regexp_replace(c, EMAIL_PATTERN, "[EMAIL]")
    c = F.regexp_replace(c, IPV4_PATTERN, "[IP]")
    c = F.regexp_replace(c, PHONE_PATTERN, "[PHONE]")
    return c


def pii_count(text: Column | str) -> Column:
    """Total email + IPv4 + phone-shaped matches (routing signal for
    a scrub-vs-drop curation decision)."""
    c = F.col(text) if isinstance(text, str) else text
    return (
        F.regexp_count(c, F.lit(EMAIL_PATTERN))
        + F.regexp_count(c, F.lit(IPV4_PATTERN))
        + F.regexp_count(c, F.lit(PHONE_PATTERN))
    )


def fingerprint(text: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text.  Identical
    normalized content → identical fingerprint (exact-dedup key)."""
    return F.md5(normalize(text).cast("binary"))


def word_shingles_ordered(text: Column | str, k: int = 3) -> Column:
    """Positional k-word shingles (array<string>, duplicates kept, in
    token order) — the rolling k-gram stream winnowing needs.
    Sequence + transform + slice, no UDF.  The token array is bound
    ONCE via ``_bound``: inlining ``tokens(text)`` in the per-index
    lambda re-tokenized the document per shingle — an O(n²) tax on
    every MinHash/winnowing/Jaccard consumer of this function."""
    return _bound(
        tokens(text),
        F.array().cast("array<string>"),
        # documents shorter than k words shingle to the whole text
        lambda t: F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(t) - (k - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(t, i, k)),
        ),
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles — the set form used by Jaccard /
    MinHash (order irrelevant there)."""
    return F.array_distinct(word_shingles_ordered(text, k))


# Mojibake: the highest-frequency UTF-8-decoded-as-CP1252 artifacts
# (the core of the public ftfy fix table; byte math is plain
# Unicode/CP1252 knowledge).  Note the right-double-quote artifact's
# third character IS the C1 control U+009D (CP1252 leaves 0x9D
# undefined).  Ordered longest-first so 3-char artifacts repair
# before any 2-char prefix could.
MOJIBAKE_MAP: tuple[tuple[str, str], ...] = (
    ("â€™", "’"),  # a-hat euro tm   -> ’
    ("â€œ", "“"),  # a-hat euro oe   -> “
    ("â€", "”"),  # a-hat euro C1   -> ”
    ("â€”", "—"),  # a-hat euro rdq  -> —
    ("â€“", "–"),  # a-hat euro ldq  -> –
    ("â€¦", "…"),  # a-hat euro brkn -> …
    ("Ã©", "é"),        # A-tilde copy    -> é
    ("Ã¨", "è"),        # -> è
    ("Ã¡", "á"),        # -> á
    ("Ã³", "ó"),        # -> ó
    ("Ãº", "ú"),        # -> ú
    ("Ã±", "ñ"),        # -> ñ
    ("Ã¼", "ü"),        # -> ü
    ("Ã¤", "ä"),        # -> ä
    ("Ã¶", "ö"),        # -> ö
    ("Â ", " "),             # A-circ nbsp     -> plain space
)


def mojibake_count(text: Column | str) -> Column:
    """Occurrences of known double-encoding artifacts — a corpus
    health signal (high counts mean the upstream extractor mis-decoded
    a source).  One regexp_count over an alternation of literals."""
    import re as _re

    c = F.col(text) if isinstance(text, str) else text
    pat = "|".join(_re.escape(bad) for bad, _ in MOJIBAKE_MAP)
    return F.regexp_count(c, F.lit(pat))


def fix_mojibake(text: Column | str) -> Column:
    """Repair the mapped artifacts (longest-first so compound
    sequences never half-repair).  A chain of literal replaces —
    row-local, codegen'd.  NOT a general ftfy: heuristic re-decoding
    is out of scope, this is the high-frequency table only."""
    c = F.col(text) if isinstance(text, str) else text
    for bad, good in MOJIBAKE_MAP:
        c = F.replace(c, F.lit(bad), F.lit(good))
    return c


def normalize_unicode(
    docs,
    form: str = "NFKC",
    text_col: str = "text",
):
    """Unicode-normalize the text column (NFC/NFKC/NFD/NFKD) via
    Arrow-batched ``mapInPandas`` — Spark SQL has no normalizer
    builtin, and the canonical-equivalence tables are exactly what
    ``unicodedata`` (public stdlib) implements.

    Same Python-surface policy as the multimodal decode and
    ``arrow_assigner``: strictly OPT-IN, never inside a registered
    plan, so the §2.9 zero-Python hot-path audit is unaffected.  For
    the common mojibake-class fixes that ARE expressible JVM-side,
    see ``fix_mojibake`` (literal replaces) — this is the full-table
    fallback.  Schema and column order pass through unchanged; null
    text stays null."""
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")
    schema = docs.schema

    def op(batches):
        for pdf in batches:
            pdf[text_col] = pdf[text_col].map(
                lambda s: unicodedata.normalize(form, s)
                if s is not None
                else None
            )
            yield pdf

    return docs.mapInPandas(op, schema)
