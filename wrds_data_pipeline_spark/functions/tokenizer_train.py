"""Tokenizer TRAINING over a Spark corpus — the producer side of the
``tokenizer.json`` contract that ``functions/pybpe.py`` interprets.

The repo could read every mainstream public tokenizer family but not
mint one from its own corpus; this module closes the loop
(train → tokenize → pack) for EVERY model family the interpreter
reads:

- ``train_bpe``: GPT-2-style byte-level BPE (Sennrich et al. 2016,
  "Neural Machine Translation of Rare Words with Subword Units").
- ``train_wordpiece``: BERT-style WordPiece (Schuster & Nakajima
  2012), with the likelihood score public implementations use for
  merge selection: score(a,b) = count(ab) / (count(a) * count(b)).
- ``train_unigram``: SentencePiece-style Unigram LM (Kudo 2018) —
  EM over segmentation lattices with likelihood-loss pruning.
- ``train_wordlevel``: plain vocabulary selection (top words by
  count under the Whitespace pre-tokenizer).

Two-phase shape, the same one public single-node trainers use
(HF tokenizers' BpeTrainer/WordPieceTrainer also count words first):

1. **Distributed word counting** (Spark): pre-tokenize every document
   with the SAME pre-tokenizer the emitted tokenizer.json will
   declare, then one shuffle (``groupBy(word).count``).  The GPT-2
   path runs entirely JVM-side (``regexp_extract_all`` with the
   GPT-2 regex — Java regex supports ``\\p{L}`` and lookahead
   natively, so no Python in the corpus-sized phase); the BERT path
   runs the interpreter's own ``_bert_normalize``/``_bert_words``
   through ``mapInPandas`` with per-batch Counter pre-aggregation
   (map-side combine before the shuffle), because BertNormalizer's
   accent-stripping/CJK steps have no JVM expression and training
   MUST count with the exact normalizer the artifact declares.
2. **Driver-side merge learning** over the unique-word frequency
   relation.  Unique words are corpus-sublinear and the relation is
   capped (``max_words`` keeps the top-N by count — the mass lives
   in the head; the cap and ``min_frequency`` are the documented
   approximations at 100 TB, where the tail is hapax noise anyway).
   The BPE loop is incremental: a lazy max-heap over pair counts and
   a pair→words inverted index, so each merge touches only the words
   containing the winning pair.

Determinism contract: ties on the merge objective break to the
lexicographically smallest (left, right) symbol pair, so training the
same counts twice yields byte-identical artifacts.  HF's trainers
break ties on internal ids, so trained artifacts are NOT claimed
bit-identical to HF trainer output — the interpreter-parity contract
(pybpe's docstring) applies to ENCODING a given artifact, and the
tests assert exactly that: specs minted here encode through
``PurePythonTokenizer`` with hand-derived ids.

Known divergence (same class pybpe documents for its own scanner):
Java's ``(?U)\\s`` and Python's ``str.isspace()`` disagree on a few
control codepoints no corpus contains; the parity test pins the Java
split against ``_gpt2_words`` on real corpus text and a unicode
adversarial suite.
"""

from __future__ import annotations

import heapq
import json
from collections import Counter
from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from wrds_data_pipeline_spark import caching
from wrds_data_pipeline_spark.functions.pybpe import _BYTE_UNICODE

# The GPT-2 pre-tokenization regex, verbatim from the public
# reference implementation (openai/gpt-2 encoder.py), with Java's
# (?U) flag so \s / \w match Unicode classes like Python's re.
# regexp_extract_all group 0 = the full match, i.e. the word.
GPT2_JAVA_REGEX = (
    r"(?U)'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"
    r"|\s+(?!\S)|\s+"
)

_WORD_COUNT_SCHEMA = StructType(
    [
        StructField("word", StringType(), False),
        StructField("count", LongType(), False),
    ]
)


def gpt2_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    *,
    min_frequency: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """(word, count) over the corpus under GPT-2 pre-tokenization —
    fully JVM-side (regexp scan + explode + one hash-aggregate
    shuffle; partial aggregation is Catalyst's, free).  ``max_words``
    keeps the top-N by count (ties broken by word for determinism) —
    the cap that bounds the driver-side learning phase at scale."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(GPT2_JAVA_REGEX),
                0,
            )
        ).alias("word")
    )
    wc = words.groupBy("word").agg(F.count("*").alias("count"))
    if min_frequency > 1:
        wc = wc.filter(F.col("count") >= min_frequency)
    if max_words is not None:
        wc = wc.orderBy(F.desc("count"), F.asc("word")).limit(max_words)
    return wc


# any char outside 7-bit ASCII: the routing predicate for the
# WordPiece counting fast path (JVM regex, evaluated in codegen)
_NON_ASCII_RE = "[^\\x00-\\x7F]"
# BERT's ASCII punctuation ranges (33-47, 58-64, 91-96, 123-126) as a
# Java regex class — for ASCII input this IS the whole punctuation
# class (_bert_is_punct's P*-category branch adds nothing under 0x80)
_ASCII_PUNCT_CLASS = "([!-/:-@\\[-`{-~])"


def _bert_ascii_jvm_counts(
    ascii_docs: DataFrame, text_col: str, lowercase: bool
) -> DataFrame:
    """(word, count) for PURE-ASCII rows through JVM expressions only
    — exact BertNormalizer + BertPreTokenizer semantics, provable
    step by step on sub-0x80 input:

    - clean_text: ``\\t\\n\\r`` → space (checked before the
      category-C drop, per the Rust step order), remaining ASCII
      control chars (0x00-0x08, 0x0B, 0x0C, 0x0E-0x1F, 0x7F) dropped;
      the only ASCII Zs is the space itself.
    - handle_chinese_chars: no CJK below 0x80 — no-op.
    - strip_accents: NFD is the identity on ASCII and ASCII has no
      Mn codepoints — no-op for EITHER flag value.
    - lowercase: ASCII ``lower()`` ≡ ``str.lower()``.
    - BertPreTokenizer: pad every punctuation char with spaces, then
      split on runs of spaces — identical word stream to the
      per-char isolation loop in ``_bert_words``.

    Measured rationale (SCALE.md r12): the mapInPandas path runs ~10x
    the JVM gpt2 path, yet most rows of an English corpus never leave
    ASCII — this routes the bulk back into whole-stage codegen while
    the Python path keeps the exactness duty for everything else."""
    t = F.regexp_replace(F.col(text_col), "[\\t\\n\\r]", " ")
    t = F.regexp_replace(
        t, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""
    )
    if lowercase:
        t = F.lower(t)
    t = F.regexp_replace(t, _ASCII_PUNCT_CLASS, " $1 ")
    return (
        ascii_docs.select(F.explode(F.split(t, " +")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def _bert_partial_counts(
    docs: DataFrame,
    text_col: str,
    lowercase: bool,
    strip_accents: bool | None,
    ascii_fastpath: bool = True,
) -> DataFrame:
    """The PRE-aggregation (word, count) partials of the WordPiece
    counting path — one row per unique word PER ARROW BATCH, the
    relation the shuffle actually carries.  Split out so the scale
    rehearsal can measure the per-batch Counter combine's reduction
    factor (corpus words → emitted partial rows) without re-rolling
    the mapper; ``bert_word_counts`` is its only other consumer.

    ``ascii_fastpath`` (VERDICT r12 missing #4): rows whose text is
    pure 7-bit ASCII route through ``_bert_ascii_jvm_counts`` — the
    normalizer is exactly expressible in JVM codegen there (proof in
    its docstring) — and only rows containing a non-ASCII char pay
    the mapInPandas interpreter.  Both sides emit (word, count)
    partials; the caller's groupBy-sum merges them.  False = the
    all-Python reference path (the A/B the exactness tests and the
    scale ladder measure against)."""
    from wrds_data_pipeline_spark.functions.pybpe import (
        _bert_normalize,
        _bert_words,
    )

    def _mapper(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            counter: Counter[str] = Counter()
            for text in pdf[text_col]:
                if text is None:
                    continue
                normed = _bert_normalize(
                    str(text),
                    clean_text=True,
                    handle_chinese_chars=True,
                    strip_accents=strip_accents,
                    lowercase=lowercase,
                )
                counter.update(_bert_words(normed))
            if counter:
                yield pd.DataFrame(
                    {
                        "word": list(counter.keys()),
                        "count": list(counter.values()),
                    }
                )

    src = docs.select(text_col)
    if not ascii_fastpath:
        return src.mapInPandas(_mapper, schema=_WORD_COUNT_SCHEMA)
    non_null = src.filter(F.col(text_col).isNotNull())
    needs_python = non_null.filter(F.col(text_col).rlike(_NON_ASCII_RE))
    pure_ascii = non_null.filter(~F.col(text_col).rlike(_NON_ASCII_RE))
    return needs_python.mapInPandas(
        _mapper, schema=_WORD_COUNT_SCHEMA
    ).unionByName(
        _bert_ascii_jvm_counts(pure_ascii, text_col, lowercase)
    )


def bert_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    *,
    lowercase: bool = True,
    strip_accents: bool | None = None,
    min_frequency: int = 1,
    max_words: int | None = None,
    ascii_fastpath: bool = True,
) -> DataFrame:
    """(word, count) under BertNormalizer + BertPreTokenizer.  Rows
    containing any non-ASCII char run the interpreter's OWN
    normalizer/pre-tokenizer code through ``mapInPandas``
    (accent-strip/CJK have no JVM expression, and training must
    count with the exact pipeline the artifact declares); pure-ASCII
    rows — the bulk of an English corpus — take an exact JVM
    expression pipeline instead (see ``_bert_ascii_jvm_counts``;
    ``ascii_fastpath=False`` forces the all-Python reference path).
    Each Python-side Arrow batch emits a pre-aggregated Counter
    (map-side combine), so the shuffle carries unique words per
    batch, not corpus tokens."""
    wc = (
        _bert_partial_counts(
            docs, text_col, lowercase, strip_accents,
            ascii_fastpath=ascii_fastpath,
        )
        .groupBy("word")
        .agg(F.sum("count").alias("count"))
    )
    if min_frequency > 1:
        wc = wc.filter(F.col("count") >= min_frequency)
    if max_words is not None:
        wc = wc.orderBy(F.desc("count"), F.asc("word")).limit(max_words)
    return wc


def _merge_symbols(syms: list[str], pair: tuple[str, str], new: str) -> list[str]:
    """One merge step: replace every left-to-right non-overlapping
    occurrence of ``pair`` — the same step the interpreter's
    ``_bpe_word`` applies, so trained merges replay identically."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == pair:
            out.append(new)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def learn_bpe_from_counts(
    counts,
    vocab_size: int,
    *,
    special_tokens: tuple[str, ...] = (),
    byte_level: bool = True,
    min_pair_frequency: int = 2,
) -> tuple[dict[str, int], list[tuple[str, str]]]:
    """The BPE merge loop (Sennrich et al. 2016) over a
    (word, count) relation.  Pure driver-side function — no Spark —
    so the hand-derived-golden tests drive it directly.

    Vocab id layout follows the public convention: special tokens in
    given order, then the alphabet sorted by codepoint (for
    byte_level, all 256 byte symbols — GPT-2's ids 0..255 layout),
    then one id per merge in learned order.

    Incremental update: a lazy max-heap of (-count, pair) plus a
    pair→word-indices inverted index; each merge re-counts only the
    affected words' adjacent pairs.  Every count change pushes a
    fresh heap entry; pops validate against the live count and skip
    stale ones, so the heap never serves an outdated winner.
    """
    if min_pair_frequency < 1:
        raise ValueError("min_pair_frequency must be >= 1")
    words: list[list] = []  # [symbols, count]
    for w, c in counts:
        syms = (
            [_BYTE_UNICODE[b] for b in w.encode("utf-8")]
            if byte_level
            else list(w)
        )
        if syms:
            words.append([syms, int(c)])
    if byte_level:
        alphabet = sorted(_BYTE_UNICODE.values())
    else:
        alphabet = sorted({s for syms, _ in words for s in syms})
    vocab: dict[str, int] = {}
    for tok in special_tokens:
        if tok in vocab:
            raise ValueError(f"duplicate special token {tok!r}")
        vocab[tok] = len(vocab)
    for ch in alphabet:
        if ch not in vocab:
            vocab[ch] = len(vocab)
    if vocab_size < len(vocab):
        raise ValueError(
            f"vocab_size {vocab_size} below the "
            f"{len(vocab)}-entry specials+alphabet floor"
        )

    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    heap: list[tuple[int, tuple[str, str]]] = []
    for i, (syms, c) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(i)
    for p, c in pair_counts.items():
        heapq.heappush(heap, (-c, p))

    merges: list[tuple[str, str]] = []
    while len(vocab) < vocab_size and heap:
        neg, best = heapq.heappop(heap)
        live = pair_counts.get(best)
        if live is None or live != -neg:
            continue  # stale entry; the live one is elsewhere in the heap
        if live < min_pair_frequency:
            break  # heap max — nothing better remains
        a, b = best
        new_sym = a + b
        if new_sym in vocab:
            # a merge result colliding with an existing token (e.g. a
            # special) would alias two ids; drop the pair rather than
            # corrupt the table — rare, and the loop continues
            pair_counts.pop(best, None)
            pair_words.pop(best, None)
            continue
        merges.append(best)
        vocab[new_sym] = len(vocab)
        affected = sorted(pair_words.get(best, ()))
        for i in affected:
            syms, c = words[i]
            old_pairs = Counter(zip(syms, syms[1:]))
            new_syms = _merge_symbols(syms, best, new_sym)
            new_pairs = Counter(zip(new_syms, new_syms[1:]))
            for p, n in old_pairs.items():
                delta = n - new_pairs.get(p, 0)
                if delta == 0:
                    continue
                remaining = pair_counts.get(p, 0) - delta * c
                if remaining <= 0:
                    pair_counts.pop(p, None)
                    pair_words.pop(p, None)
                else:
                    pair_counts[p] = remaining
                    heapq.heappush(heap, (-remaining, p))
                    if p not in new_pairs:
                        s = pair_words.get(p)
                        if s is not None:
                            s.discard(i)
            for p, n in new_pairs.items():
                added = n - old_pairs.get(p, 0)
                if added > 0:
                    pair_counts[p] = pair_counts.get(p, 0) + added * c
                    heapq.heappush(heap, (-pair_counts[p], p))
                pair_words.setdefault(p, set()).add(i)
            words[i][0] = new_syms
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return vocab, merges


def learn_wordpiece_from_counts(
    counts,
    vocab_size: int,
    *,
    special_tokens: tuple[str, ...] = (
        "[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]",
    ),
    continuing_subword_prefix: str = "##",
    min_pair_frequency: int = 2,
) -> tuple[dict[str, int], list[tuple[str, str]]]:
    """The WordPiece trainer loop: BPE-shaped, but the merge
    objective is the likelihood score public implementations use —
    score(a,b) = count(ab) / (count(a) * count(b)) — over
    prefix-marked symbols (first char bare, word-internal chars
    ``##``-prefixed; merging (a, ##b) yields a+b keeping a's prefix
    status).  Returns (vocab, merges); the tokenizer.json WordPiece
    model serializes the VOCAB only (encoding is greedy
    longest-match, not merge replay), merges are returned for
    inspection/tests.

    Scan-per-merge selection (the score's denominator changes with
    every symbol-count update, so a lazy heap would thrash) — fine
    for the vocab sizes this trainer targets; ties break to the
    lexicographically smallest pair, same determinism contract as
    ``learn_bpe_from_counts``.
    """
    pfx = continuing_subword_prefix

    def _mark(w: str) -> list[str]:
        return [w[0]] + [pfx + ch for ch in w[1:]]

    def _merge_name(a: str, b: str) -> str:
        return a + (b[len(pfx):] if b.startswith(pfx) else b)

    words: list[list] = []
    for w, c in counts:
        if w:
            words.append([_mark(w), int(c)])
    alphabet = sorted({s for syms, _ in words for s in syms})
    vocab: dict[str, int] = {}
    for tok in special_tokens:
        if tok in vocab:
            raise ValueError(f"duplicate special token {tok!r}")
        vocab[tok] = len(vocab)
    for ch in alphabet:
        if ch not in vocab:
            vocab[ch] = len(vocab)
    if vocab_size < len(vocab):
        raise ValueError(
            f"vocab_size {vocab_size} below the "
            f"{len(vocab)}-entry specials+alphabet floor"
        )

    sym_counts: Counter[str] = Counter()
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, (syms, c) in enumerate(words):
        for s in syms:
            sym_counts[s] += c
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(i)

    merges: list[tuple[str, str]] = []
    while len(vocab) < vocab_size and pair_counts:
        best, best_score = None, None
        for p, pc in pair_counts.items():
            if pc < min_pair_frequency:
                continue
            score = pc / (sym_counts[p[0]] * sym_counts[p[1]])
            if (
                best is None
                or score > best_score
                or (score == best_score and p < best)
            ):
                best, best_score = p, score
        if best is None:
            break
        new_sym = _merge_name(*best)
        if new_sym in vocab:
            pair_counts.pop(best, None)
            pair_words.pop(best, None)
            continue
        merges.append(best)
        vocab[new_sym] = len(vocab)
        for i in sorted(pair_words.get(best, ())):
            syms, c = words[i]
            old_pairs = Counter(zip(syms, syms[1:]))
            new_syms = _merge_symbols(syms, best, new_sym)
            n_merged = (len(syms) - len(new_syms))
            sym_counts[best[0]] -= n_merged * c
            sym_counts[best[1]] -= n_merged * c
            sym_counts[new_sym] += n_merged * c
            new_pairs = Counter(zip(new_syms, new_syms[1:]))
            for p, n in old_pairs.items():
                delta = n - new_pairs.get(p, 0)
                if delta == 0:
                    continue
                remaining = pair_counts.get(p, 0) - delta * c
                if remaining <= 0:
                    pair_counts.pop(p, None)
                    pair_words.pop(p, None)
                else:
                    pair_counts[p] = remaining
                    if p not in new_pairs:
                        s = pair_words.get(p)
                        if s is not None:
                            s.discard(i)
            for p, n in new_pairs.items():
                added = n - old_pairs.get(p, 0)
                if added > 0:
                    pair_counts[p] = pair_counts.get(p, 0) + added * c
                pair_words.setdefault(p, set()).add(i)
            words[i][0] = new_syms
        pair_counts.pop(best, None)
        pair_words.pop(best, None)
    return vocab, merges


def _added_token_entries(pairs) -> list[dict]:
    """added_tokens entries for trained specials, in the shape every
    mainstream export ships (and the one the interpreter extracts):
    matched literally in raw text, no whitespace absorption."""
    return [
        {
            "id": int(i),
            "content": tok,
            "single_word": False,
            "lstrip": False,
            "rstrip": False,
            "normalized": False,
            "special": True,
        }
        for tok, i in pairs
    ]


def bpe_tokenizer_spec(
    vocab: dict[str, int],
    merges: list[tuple[str, str]],
    *,
    special_tokens: tuple[str, ...] = (),
) -> dict:
    """Serialize a trained byte-level BPE as the tokenizer.json shape
    ``PurePythonTokenizer`` (and the Rust backend) load: ByteLevel
    pre-tokenizer with the GPT-2 regex, merge-list BPE model,
    ByteLevel decoder.  No normalizer, no unk (the 256-symbol
    alphabet makes unk unreachable by construction).  Specials are
    serialized as added_tokens so their literal strings in text
    (e.g. an eos separator inside a packed shard) encode as ONE
    pinned id — the AddedVocabulary semantics the interpreter and
    the Rust backend share."""
    return {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": _added_token_entries(
            (t, vocab[t]) for t in special_tokens
        ),
        "normalizer": None,
        "pre_tokenizer": {
            "type": "ByteLevel",
            "add_prefix_space": False,
            "trim_offsets": True,
            "use_regex": True,
        },
        "post_processor": {
            "type": "ByteLevel",
            "add_prefix_space": False,
            "trim_offsets": True,
            "use_regex": True,
        },
        "decoder": {
            "type": "ByteLevel",
            "add_prefix_space": False,
            "trim_offsets": True,
            "use_regex": True,
        },
        "model": {
            "type": "BPE",
            "dropout": None,
            "unk_token": None,
            "continuing_subword_prefix": None,
            "end_of_word_suffix": None,
            "fuse_unk": False,
            "byte_fallback": False,
            "ignore_merges": False,
            "vocab": dict(vocab),
            "merges": [f"{a} {b}" for a, b in merges],
        },
    }


def wordpiece_tokenizer_spec(
    vocab: dict[str, int],
    *,
    special_tokens: tuple[str, ...] = (),
    unk_token: str = "[UNK]",
    continuing_subword_prefix: str = "##",
    lowercase: bool = True,
    strip_accents: bool | None = None,
    max_input_chars_per_word: int = 100,
) -> dict:
    """Serialize a trained WordPiece as the BERT-family
    tokenizer.json: BertNormalizer + BertPreTokenizer + WordPiece
    model.  The normalizer flags MUST match the ones the word counts
    were taken under — ``train_wordpiece`` threads them through.
    Specials serialize as added_tokens (see ``bpe_tokenizer_spec``)."""
    if unk_token not in vocab:
        raise ValueError(f"unk_token {unk_token!r} not in trained vocab")
    return {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": _added_token_entries(
            (t, vocab[t]) for t in special_tokens
        ),
        "normalizer": {
            "type": "BertNormalizer",
            "clean_text": True,
            "handle_chinese_chars": True,
            "strip_accents": strip_accents,
            "lowercase": lowercase,
        },
        "pre_tokenizer": {"type": "BertPreTokenizer"},
        "post_processor": None,
        "decoder": {
            "type": "WordPiece",
            "prefix": continuing_subword_prefix,
            "cleanup": True,
        },
        "model": {
            "type": "WordPiece",
            "unk_token": unk_token,
            "continuing_subword_prefix": continuing_subword_prefix,
            "max_input_chars_per_word": max_input_chars_per_word,
            "vocab": dict(vocab),
        },
    }


def train_bpe(
    docs: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int,
    special_tokens: tuple[str, ...] = ("<|endoftext|>",),
    min_frequency: int = 1,
    min_pair_frequency: int = 2,
    max_words: int | None = 1_000_000,
    stats: dict | None = None,
) -> dict:
    """Train a GPT-2-style byte-level BPE on a corpus and return the
    tokenizer.json spec dict (json.dump it and every consumer of the
    format — ``local_tokenizer_factory``, the Rust backend — loads
    it).  Distributed word counting, driver-side merge learning; see
    the module docstring for the scale contract."""
    wc = gpt2_word_counts(
        docs, text_col, min_frequency=min_frequency, max_words=max_words
    )
    rows = [(r["word"], r["count"]) for r in wc.collect()]
    vocab, merges = learn_bpe_from_counts(
        rows,
        vocab_size,
        special_tokens=special_tokens,
        byte_level=True,
        min_pair_frequency=min_pair_frequency,
    )
    if stats is not None:
        stats.update(
            n_words=len(rows),
            words_capped=(max_words is not None and len(rows) == max_words),
            n_merges=len(merges),
            vocab_size=len(vocab),
        )
    return bpe_tokenizer_spec(
        vocab, merges, special_tokens=special_tokens
    )


def train_wordpiece(
    docs: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int,
    special_tokens: tuple[str, ...] = (
        "[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]",
    ),
    lowercase: bool = True,
    strip_accents: bool | None = None,
    min_frequency: int = 1,
    min_pair_frequency: int = 2,
    max_words: int | None = 1_000_000,
    unk_token: str = "[UNK]",
    stats: dict | None = None,
) -> dict:
    """Train a BERT-style WordPiece on a corpus and return the
    tokenizer.json spec dict.  The normalizer flags used for counting
    are serialized into the artifact, so encode-time normalization is
    exactly the training-time one."""
    if unk_token not in special_tokens:
        raise ValueError(
            f"unk_token {unk_token!r} must be among special_tokens "
            "(WordPiece encoding requires a vocab-resident unk)"
        )
    wc = bert_word_counts(
        docs,
        text_col,
        lowercase=lowercase,
        strip_accents=strip_accents,
        min_frequency=min_frequency,
        max_words=max_words,
    )
    rows = [(r["word"], r["count"]) for r in wc.collect()]
    vocab, merges = learn_wordpiece_from_counts(
        rows,
        vocab_size,
        special_tokens=special_tokens,
        min_pair_frequency=min_pair_frequency,
    )
    if stats is not None:
        stats.update(
            n_words=len(rows),
            words_capped=(max_words is not None and len(rows) == max_words),
            n_merges=len(merges),
            vocab_size=len(vocab),
        )
    return wordpiece_tokenizer_spec(
        vocab,
        special_tokens=special_tokens,
        unk_token=unk_token,
        lowercase=lowercase,
        strip_accents=strip_accents,
    )


def write_tokenizer_json(spec: dict, path: str) -> None:
    """Write the spec as UTF-8 tokenizer.json (ensure_ascii=False —
    byte-level vocab entries are non-ASCII codepoints by design)."""
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(spec, fh, ensure_ascii=False, indent=1)


# ---------------------------------------------------------------------------
# Unigram (SentencePiece) and WordLevel training — with these, every
# model family the interpreter reads (WordLevel / BPE / WordPiece /
# Unigram) is also trainable from the corpus.
# ---------------------------------------------------------------------------

METASPACE = "▁"


def metaspace_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    *,
    min_frequency: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """(word, count) under the Metaspace pre-tokenizer with
    prepend_scheme=always — the T5/SentencePiece convention the
    emitted Unigram artifact declares.  Fully JVM-side: spaces become
    the replacement codepoint, one is prepended, and the extraction
    regex keeps each replacement attached to what follows
    ("hello  world" → ▁hello, ▁, ▁world — a lone ▁ per extra space),
    mirroring the interpreter's ``_metaspace_words`` exactly (parity
    is pinned in tests).  Only ' ' is replaced — tabs/newlines stay
    inside words, the Metaspace contract."""
    rep = METASPACE
    t = F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), " ", rep)
    t = F.when(
        (F.length(t) > 0) & ~F.startswith(t, F.lit(rep)),
        F.concat(F.lit(rep), t),
    ).otherwise(t)
    words = docs.select(
        F.explode(
            F.regexp_extract_all(t, F.lit(rep + "[^" + rep + "]*"), 0)
        ).alias("word")
    )
    wc = words.groupBy("word").agg(F.count("*").alias("count"))
    if min_frequency > 1:
        wc = wc.filter(F.col("count") >= min_frequency)
    if max_words is not None:
        wc = wc.orderBy(F.desc("count"), F.asc("word")).limit(max_words)
    return wc


def whitespace_word_counts(
    docs: DataFrame,
    text_col: str = "text",
    *,
    min_frequency: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """(word, count) under the HF Whitespace pre-tokenizer
    (``\\w+|[^\\w\\s]+``) — the WordLevel convention.  JVM regex with
    (?U) so the classes are Unicode, like Python's ``re``; parity
    with the interpreter's ``_WHITESPACE_PRE`` is pinned in tests."""
    words = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.coalesce(F.col(text_col), F.lit("")),
                F.lit(r"(?U)\w+|[^\w\s]+"),
                0,
            )
        ).alias("word")
    )
    wc = words.groupBy("word").agg(F.count("*").alias("count"))
    if min_frequency > 1:
        wc = wc.filter(F.col("count") >= min_frequency)
    if max_words is not None:
        wc = wc.orderBy(F.desc("count"), F.asc("word")).limit(max_words)
    return wc


def _logsumexp(values) -> float:
    import math

    m = max(values)
    if m == float("-inf"):
        return m
    return m + math.log(sum(math.exp(v - m) for v in values))


def _unigram_e_step(
    words: list[tuple[str, int]],
    logp: dict[str, float],
    max_len: int,
) -> tuple[dict[str, float], float]:
    """One E-step: forward-backward over every word's segmentation
    lattice (log-space), returning posterior expected piece counts
    and the total corpus log-likelihood (the EM-monotonicity
    invariant the tests assert)."""
    import math

    expected: dict[str, float] = {}
    total_ll = 0.0
    for w, c in words:
        n = len(w)
        alpha = [float("-inf")] * (n + 1)
        alpha[0] = 0.0
        for e in range(1, n + 1):
            cands = []
            for s in range(max(0, e - max_len), e):
                lp = logp.get(w[s:e])
                if lp is not None and alpha[s] != float("-inf"):
                    cands.append(alpha[s] + lp)
            if cands:
                alpha[e] = _logsumexp(cands)
        z = alpha[n]
        if z == float("-inf"):
            # unsegmentable word (a required char was pruned —
            # impossible by construction; fail loud, never silent)
            raise RuntimeError(f"unsegmentable word {w!r} in E-step")
        beta = [float("-inf")] * (n + 1)
        beta[n] = 0.0
        for s in range(n - 1, -1, -1):
            cands = []
            for e in range(s + 1, min(n, s + max_len) + 1):
                lp = logp.get(w[s:e])
                if lp is not None and beta[e] != float("-inf"):
                    cands.append(lp + beta[e])
            if cands:
                beta[s] = _logsumexp(cands)
        total_ll += c * z
        for s in range(n):
            if alpha[s] == float("-inf"):
                continue
            for e in range(s + 1, min(n, s + max_len) + 1):
                lp = logp.get(w[s:e])
                if lp is None or beta[e] == float("-inf"):
                    continue
                post = math.exp(alpha[s] + lp + beta[e] - z)
                if post > 0.0:
                    p = w[s:e]
                    expected[p] = expected.get(p, 0.0) + c * post
    return expected, total_ll


def _viterbi_alt_score(piece: str, logp: dict[str, float], max_len: int) -> float:
    """Best segmentation log-prob of ``piece``'s own string EXCLUDING
    the single-piece path — the alternative cost sentencepiece's
    pruner charges a piece's removal with."""
    n = len(piece)
    best = [float("-inf")] * (n + 1)
    best[0] = 0.0
    for e in range(1, n + 1):
        for s in range(max(0, e - max_len), e):
            if s == 0 and e == n:
                continue  # the piece itself
            lp = logp.get(piece[s:e])
            if lp is not None and best[s] != float("-inf"):
                cand = best[s] + lp
                if cand > best[e]:
                    best[e] = cand
    return best[n]


def learn_unigram_from_counts(
    counts,
    vocab_size: int,
    *,
    special_tokens: tuple[str, ...] = ("<unk>",),
    unk_token: str = "<unk>",
    max_piece_len: int = 8,
    seed_size: int | None = None,
    shrink_factor: float = 0.75,
    em_iters: int = 2,
    ll_trace: list | None = None,
) -> list[tuple[str, float]]:
    """The Unigram LM trainer (Kudo 2018, as implemented by
    sentencepiece's unigram trainer): seed a large candidate vocab
    from frequent substrings, alternate EM over the segmentation
    lattices (E: forward-backward posterior counts; M: re-estimated
    piece probabilities) with pruning rounds that drop the pieces
    whose removal costs the least likelihood — loss(v) =
    E[count(v)] * (logp(v) − best alternative segmentation of v) —
    until the target size, single characters always retained (the
    coverage floor).  Returns [(piece, log_prob)] sorted by
    descending probability.

    Documented simplifications vs sentencepiece (the parity contract
    is for INTERPRETING artifacts, not trainer bit-parity): seed
    candidates are scored count×len over explicit substring
    enumeration rather than a suffix-array ESA, and the M-step is
    plain MLE rather than the Bayesianized digamma form.  Ties break
    lexicographically everywhere, so training is deterministic;
    ``ll_trace`` (if passed) collects per-E-step corpus
    log-likelihoods — non-decreasing within each fixed-vocab EM run,
    the invariant the tests assert."""
    import math

    if unk_token not in special_tokens:
        raise ValueError(
            f"unk_token {unk_token!r} must be among special_tokens"
        )
    # merge duplicate words first; a single pass so one-shot
    # iterators (accepted by the other learners) work here too
    merged: dict[str, int] = {}
    for w, c in counts:
        if w:
            merged[w] = merged.get(w, 0) + int(c)
    words = sorted(merged.items())
    required = sorted({ch for w, _ in words for ch in w})
    target = vocab_size - len(special_tokens)
    if target < len(required):
        raise ValueError(
            f"vocab_size {vocab_size} below the "
            f"{len(required) + len(special_tokens)}-entry "
            "specials+alphabet floor"
        )
    if seed_size is None:
        seed_size = max(4 * target, target + 64)

    char_counts: Counter[str] = Counter()
    sub_counts: dict[str, int] = {}
    for w, c in words:
        n = len(w)
        for ch in w:
            char_counts[ch] += c
        for ln in range(2, min(max_piece_len, n) + 1):
            for s in range(0, n - ln + 1):
                sub = w[s : s + ln]
                sub_counts[sub] = sub_counts.get(sub, 0) + c
    logp = _unigram_seed_logp(
        char_counts, sub_counts, required, seed_size
    )
    return _unigram_em_prune(
        lambda lp, ml: _unigram_e_step(words, lp, ml),
        logp, required, target,
        shrink_factor=shrink_factor, em_iters=em_iters,
        ll_trace=ll_trace,
    )


def _unigram_seed_logp(
    char_counts, sub_counts, required, seed_size
) -> dict[str, float]:
    """Seed log-probs from (char, substring) count tables — shared by
    the driver learner (Python count loop) and the distributed
    learner (JVM substring aggregation): integer counts are exact
    either way, and this one function fixes the candidate ordering
    and float evaluation order, so both paths seed BIT-IDENTICALLY."""
    import math

    cands = sorted(
        sub_counts.items(), key=lambda kv: (-kv[1] * len(kv[0]), kv[0])
    )[: max(0, seed_size - len(required))]
    scores: dict[str, float] = {
        ch: float(char_counts[ch]) for ch in required
    }
    for sub, cnt in cands:
        scores[sub] = float(cnt * len(sub))
    total = sum(scores.values())
    return {p: math.log(s / total) for p, s in scores.items()}


def _unigram_em_prune(
    e_step,
    logp: dict[str, float],
    required,
    target: int,
    *,
    shrink_factor: float = 0.75,
    em_iters: int = 2,
    ll_trace: list | None = None,
    timings: dict | None = None,
) -> list[tuple[str, float]]:
    """The EM + prune loop of the Unigram trainer, shared by the
    driver and distributed learners — only the E-step (``e_step(logp,
    max_len) -> (expected, ll)``) differs between them; the M-step,
    the coverage floor, and the loss-ranked pruning are ONE
    implementation so the two paths cannot drift.

    ``timings`` (optional dict) accumulates ``e_step`` vs ``driver``
    wall seconds — the split the scale rehearsal records: for the
    distributed learner the driver bucket is ONLY the vocab-sized
    M-step + pruning, the structural reason its word cap is not
    driver-bound."""
    import math
    import time as _time

    def _stamp(key, t0):
        if timings is not None:
            timings[key] = timings.get(key, 0.0) + (_time.time() - t0)
        return _time.time()

    while True:
        t_drv = _time.time()
        max_len = max(len(p) for p in logp)
        expected: dict[str, float] = {}
        for _ in range(em_iters):
            t0 = _stamp("driver", t_drv)
            expected, ll = e_step(logp, max_len)
            t_drv = _stamp("e_step", t0)
            if ll_trace is not None:
                ll_trace.append(ll)
            tot = sum(expected.values())
            log_tot = math.log(tot)
            logp = {
                p: math.log(c) - log_tot
                for p, c in expected.items()
                if c > 0.0
            }
            for ch in required:  # coverage floor survives zero counts
                if ch not in logp:
                    logp[ch] = math.log(1e-12)
        if len(logp) <= target:
            _stamp("driver", t_drv)
            break
        keep_n = max(target, int(len(logp) * shrink_factor))
        losses: list[tuple[float, str]] = []
        for p in logp:
            if len(p) == 1:
                continue
            alt = _viterbi_alt_score(p, logp, max_len)
            losses.append(
                (expected.get(p, 0.0) * (logp[p] - alt), p)
            )
        losses.sort(key=lambda t: (-t[0], t[1]))
        kept = {p for p in logp if len(p) == 1}
        for _, p in losses:
            if len(kept) >= keep_n:
                break
            kept.add(p)
        mass = sum(math.exp(logp[p]) for p in kept)
        logp = {p: logp[p] - math.log(mass) for p in kept}
        _stamp("driver", t_drv)
    return sorted(logp.items(), key=lambda kv: (-kv[1], kv[0]))


def _unigram_e_step_distributed(words_df: DataFrame, max_piece_len: int):
    """Build the DISTRIBUTED E-step over a (word, count) DataFrame:
    the per-word forward-backward lattices are independent, so
    posterior counting maps over word batches (``mapInPandas`` with a
    per-batch partial-sum combine — the WordPiece-counting shape) and
    ONE hash-aggregate sums the partials; only the (piece, expected)
    relation — bounded by the candidate vocab, KBs — ever reaches the
    driver.  Each batch runs the SAME ``_unigram_e_step`` the driver
    learner runs (one lattice implementation, zero drift).

    Numerics: partial float sums re-associate across partitions, so
    expected counts match the driver E-step to ~1e-12 relative (the
    M-step normalization absorbs it; pruning margins sit orders of
    magnitude above it) — the documented deviation from the driver
    learner's bit-determinism, in exchange for lifting the word cap
    to the BPE trainer's.  The corpus log-likelihood rides the same
    aggregate under the empty-string key (never a valid piece)."""
    import pandas as pd

    spark = words_df.sparkSession

    def e_step(logp: dict[str, float], max_len: int):
        b_logp = spark.sparkContext.broadcast(logp)

        def _mapper(batches):
            lp = b_logp.value
            for pdf in batches:
                expected, ll = _unigram_e_step(
                    list(zip(pdf["word"], (int(c) for c in pdf["count"]))),
                    lp, max_len,
                )
                yield pd.DataFrame(
                    {
                        "piece": list(expected.keys()) + [""],
                        "expected": list(expected.values()) + [ll],
                    }
                )

        agg = (
            words_df.mapInPandas(_mapper, "piece string, expected double")
            .groupBy("piece")
            .agg(F.sum("expected").alias("e"))
            .collect()
        )
        b_logp.destroy()
        expected: dict[str, float] = {}
        ll = 0.0
        for r in agg:
            if r["piece"] == "":
                ll = float(r["e"])
            else:
                expected[r["piece"]] = float(r["e"])
        return expected, ll

    return e_step


def learn_unigram_distributed(
    words_df: DataFrame,
    vocab_size: int,
    *,
    special_tokens: tuple[str, ...] = ("<unk>",),
    unk_token: str = "<unk>",
    max_piece_len: int = 8,
    seed_size: int | None = None,
    shrink_factor: float = 0.75,
    em_iters: int = 2,
    ll_trace: list | None = None,
    timings: dict | None = None,
) -> list[tuple[str, float]]:
    """``learn_unigram_from_counts`` with every corpus-sized phase
    distributed: seed counting is a JVM substring aggregation
    (posexplode over start positions — exact integer counts, so the
    seed is BIT-IDENTICAL to the driver learner's), and each EM
    iteration's posterior counting fans out over word batches
    (``_unigram_e_step_distributed``).  Driver-side work is the
    M-step, the pruning, and the vocab-sized seed ordering — bounded
    by the candidate vocab, never the corpus, which is what lifts the
    Unigram ``max_words`` cap to the BPE trainer's."""
    from collections import Counter

    if unk_token not in special_tokens:
        raise ValueError(
            f"unk_token {unk_token!r} must be among special_tokens"
        )
    words_df = (
        words_df.filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.sum("count").alias("count"))
        .transform(caching.waist, eager=True)  # every EM pass re-reads it
    )
    # substring counts (lengths 1..max_piece_len), ONE JVM pass:
    # explode every (start, len) window — length-1 rows are the char
    # counts / coverage floor, longer rows the seed candidates.  The
    # unified sequence(1, least(...)) never descends (sequence(2, 1)
    # would — Spark generates DESCENDING sequences when start > stop,
    # which would double-count single-char words).  Exact integer
    # sums, so the seed is bit-identical to the driver learner's.
    subs_rel = (
        words_df.select(
            F.posexplode(
                F.expr(
                    "flatten(transform(sequence(1, "
                    f"least({int(max_piece_len)}, length(word))), "
                    "ln -> transform(sequence(1, length(word) - ln + 1), "
                    "s -> substring(word, s, ln))))"
                )
            ).alias("_i", "sub"),
            "count",
        )
        .groupBy("sub")
        .agg(F.sum("count").alias("c"))
        .transform(caching.waist)  # two consumers below
    )
    char_counts = Counter(
        {
            r["sub"]: int(r["c"])
            for r in subs_rel.filter(F.length("sub") == 1).collect()
        }
    )
    required = sorted(char_counts)
    target = vocab_size - len(special_tokens)
    if target < len(required):
        raise ValueError(
            f"vocab_size {vocab_size} below the "
            f"{len(required) + len(special_tokens)}-entry "
            "specials+alphabet floor"
        )
    if seed_size is None:
        seed_size = max(4 * target, target + 64)
    # the top-(seed_size) collect is a TakeOrderedAndProject in the
    # exact count*len candidate order the driver learner uses
    subs = (
        subs_rel.filter(F.length("sub") >= 2)
        .orderBy(F.desc(F.col("c") * F.length("sub")), F.asc("sub"))
        .limit(max(0, seed_size - len(required)))
        .collect()
    )
    sub_counts = {r["sub"]: int(r["c"]) for r in subs}
    logp = _unigram_seed_logp(char_counts, sub_counts, required, seed_size)
    return _unigram_em_prune(
        _unigram_e_step_distributed(words_df, max_piece_len),
        logp, required, target,
        shrink_factor=shrink_factor, em_iters=em_iters,
        ll_trace=ll_trace, timings=timings,
    )


def unigram_tokenizer_spec(
    entries: list[tuple[str, float]],
    *,
    special_tokens: tuple[str, ...] = ("<unk>",),
    unk_token: str = "<unk>",
) -> dict:
    """Serialize a trained Unigram as the T5/SentencePiece-family
    tokenizer.json: Metaspace pre-tokenizer (prepend always) +
    Unigram model with specials at the head (score 0.0, the HF
    export convention) and ``unk_id`` pointing at the unk special."""
    if unk_token not in special_tokens:
        raise ValueError(
            f"unk_token {unk_token!r} must be among special_tokens"
        )
    vocab = [[tok, 0.0] for tok in special_tokens] + [
        [p, lp] for p, lp in entries
    ]
    return {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": _added_token_entries(
            (t, i) for i, t in enumerate(special_tokens)
        ),
        "normalizer": None,
        "pre_tokenizer": {
            "type": "Metaspace",
            "replacement": METASPACE,
            "prepend_scheme": "always",
            "split": True,
        },
        "post_processor": None,
        "decoder": {
            "type": "Metaspace",
            "replacement": METASPACE,
            "prepend_scheme": "always",
            "split": True,
        },
        "model": {
            "type": "Unigram",
            "unk_id": list(special_tokens).index(unk_token),
            "vocab": vocab,
            "byte_fallback": False,
        },
    }


# sentinel: "pick the cap for the execution mode" (None already means
# uncapped, so a third value is needed)
_AUTO_MAX_WORDS = object()


def train_unigram(
    docs: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int,
    special_tokens: tuple[str, ...] = ("<unk>",),
    unk_token: str = "<unk>",
    min_frequency: int = 1,
    max_piece_len: int = 8,
    max_words=_AUTO_MAX_WORDS,
    distributed_e_step: bool = False,
    stats: dict | None = None,
) -> dict:
    """Train a SentencePiece-style Unigram on a corpus and return the
    tokenizer.json spec dict.  Distributed Metaspace word counting;
    see ``learn_unigram_from_counts``.

    ``distributed_e_step=False`` (default): driver-side EM+prune —
    bit-deterministic, and ``max_words`` defaults LOWER than the BPE
    trainer's cap (200k vs 1M) because each EM iteration is
    O(unique_words × word_len × max_piece_len) of pure driver work.
    ``distributed_e_step=True``: the corpus-sized phases (seed
    substring counting, per-EM-iteration posterior counting) fan out
    over the cluster (``learn_unigram_distributed``), the driver
    keeps only the vocab-sized M-step/pruning, and ``max_words``
    defaults to the BPE trainer's 1M — the r11 cap asymmetry removed.
    Same seed bit-exactly; expected counts match the driver E-step to
    float re-association (~1e-12 relative), which the normalization
    absorbs.  Pass ``max_words`` explicitly to override either
    default (None = uncapped)."""
    if max_words is _AUTO_MAX_WORDS:
        max_words = 1_000_000 if distributed_e_step else 200_000
    wc = metaspace_word_counts(
        docs, text_col, min_frequency=min_frequency, max_words=max_words
    )
    if distributed_e_step:
        n_words = wc.count()
        entries = learn_unigram_distributed(
            wc,
            vocab_size,
            special_tokens=special_tokens,
            unk_token=unk_token,
            max_piece_len=max_piece_len,
        )
    else:
        rows = [(r["word"], r["count"]) for r in wc.collect()]
        n_words = len(rows)
        entries = learn_unigram_from_counts(
            rows,
            vocab_size,
            special_tokens=special_tokens,
            unk_token=unk_token,
            max_piece_len=max_piece_len,
        )
    if stats is not None:
        stats.update(
            n_words=n_words,
            words_capped=(max_words is not None and n_words == max_words),
            n_merges=0,
            vocab_size=len(entries) + len(special_tokens),
            distributed_e_step=distributed_e_step,
        )
    return unigram_tokenizer_spec(
        entries, special_tokens=special_tokens, unk_token=unk_token
    )


def learn_wordlevel_from_counts(
    counts,
    vocab_size: int,
    *,
    special_tokens: tuple[str, ...] = ("<unk>",),
) -> dict[str, int]:
    """WordLevel 'training' is vocabulary selection: specials first,
    then the top words by count (ties lexicographic) up to
    vocab_size."""
    merged: dict[str, int] = {}
    for w, c in counts:
        if w:
            merged[w] = merged.get(w, 0) + int(c)
    vocab: dict[str, int] = {}
    for tok in special_tokens:
        if tok in vocab:
            raise ValueError(f"duplicate special token {tok!r}")
        vocab[tok] = len(vocab)
    for w, _ in sorted(merged.items(), key=lambda kv: (-kv[1], kv[0])):
        if len(vocab) >= vocab_size:
            break
        if w not in vocab:
            vocab[w] = len(vocab)
    return vocab


def wordlevel_tokenizer_spec(
    vocab: dict[str, int],
    *,
    special_tokens: tuple[str, ...] = (),
    unk_token: str = "<unk>",
) -> dict:
    if unk_token not in vocab:
        raise ValueError(f"unk_token {unk_token!r} not in trained vocab")
    return {
        "version": "1.0",
        "truncation": None,
        "padding": None,
        "added_tokens": _added_token_entries(
            (t, vocab[t]) for t in special_tokens
        ),
        "normalizer": None,
        "pre_tokenizer": {"type": "Whitespace"},
        "post_processor": None,
        "decoder": None,
        "model": {
            "type": "WordLevel",
            "vocab": dict(vocab),
            "unk_token": unk_token,
        },
    }


def train_wordlevel(
    docs: DataFrame,
    text_col: str = "text",
    *,
    vocab_size: int,
    special_tokens: tuple[str, ...] = ("<unk>",),
    unk_token: str = "<unk>",
    min_frequency: int = 1,
    max_words: int | None = 1_000_000,
    stats: dict | None = None,
) -> dict:
    """Select a WordLevel vocabulary from the corpus and return the
    tokenizer.json spec dict (Whitespace pre-tokenizer, unk for
    everything out-of-vocab)."""
    if unk_token not in special_tokens:
        raise ValueError(
            f"unk_token {unk_token!r} must be among special_tokens"
        )
    wc = whitespace_word_counts(
        docs, text_col, min_frequency=min_frequency, max_words=max_words
    )
    rows = [(r["word"], r["count"]) for r in wc.collect()]
    vocab = learn_wordlevel_from_counts(
        rows, vocab_size, special_tokens=special_tokens
    )
    if stats is not None:
        stats.update(
            n_words=len(rows),
            words_capped=(max_words is not None and len(rows) == max_words),
            n_merges=0,
            vocab_size=len(vocab),
        )
    return wordlevel_tokenizer_spec(
        vocab, special_tokens=special_tokens, unk_token=unk_token
    )
