"""Text-analysis operators for training-data pipelines over `documents`.

All Catalyst column expressions where possible (token counting, quality
scoring); Python only where a model/counting loop is genuinely needed
(langid rides the features UDF; fingerprints are numpy in a pandas UDF).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# A BPE-ish pre-tokenizer regex (GPT-2 style word/number/punct splitting,
# ASCII approximation) — used to approximate LLM token counts JVM-side.
BPE_ISH_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def whitespace_token_count(text) -> Column:
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text) -> Column:
    """Approximate LLM token count via regexp_count with a GPT-2-style
    pre-tokenizer pattern — pure Catalyst, no Python."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


def stopword_ratio(text) -> Column:
    """Fraction of words that are common English stopwords — a classic
    quality-scoring signal (C4/Gopher rules use the same idea)."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    words = F.split(F.trim(F.lower(c)), r"\s+")
    stops = F.array(*[F.lit(w) for w in (
        "the", "a", "an", "and", "or", "of", "to", "in", "is", "was",
        "for", "on", "with", "as", "at", "by", "it", "that", "this")])
    n = F.size(words)
    return F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(words, stops)) / n
    )


def mean_word_length(text) -> Column:
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    t = F.trim(c)
    words = F.split(t, r"\s+")
    return F.when(t == "", F.lit(0.0)).otherwise(
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
        / F.size(words)
    )


def quality_score(text) -> Column:
    """Composite heuristic quality score in [0,1] — Catalyst-only blend
    of stopword ratio, word-length sanity, and alpha density."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    n = F.length(c)
    alpha_density = F.when(n == 0, F.lit(0.0)).otherwise(
        F.regexp_count(c, F.lit("[A-Za-z]")) / n
    )
    swr = stopword_ratio(c)
    mwl = mean_word_length(c)
    word_len_sanity = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    return F.round(
        0.4 * alpha_density + 0.4 * F.least(swr * F.lit(2.5), F.lit(1.0))
        + 0.2 * word_len_sanity,
        6,
    )


# Java regex \s is ASCII-only by default; Python str.split() (the MinHash
# kernel normalization, dedup.py) splits on UNICODE whitespace plus the
# \x1c-\x1f separators.  (?U) turns on UNICODE_CHARACTER_CLASS so \s =
# \p{IsWhite_Space}; the explicit \x1c-\x1f class covers the four control
# separators Python treats as whitespace but Unicode does not.  Without
# this, 'foo' and 'foo ' (or 'foo\n' vs trim) got different
# fingerprints while MinHash called them identical (est_jaccard 1.0).
_UNICODE_WS = r"(?U)[\s\x1c-\x1f]+"


def normalized_text_col(text) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text — the canonical
    form for content identity.  Mirrors the numpy normalization the
    MinHash/Jaccard kernels apply batch-side
    (``" ".join(t.lower().split())``) including UNICODE whitespace."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    return F.lower(F.trim(F.regexp_replace(c, _UNICODE_WS, " ")))


def fingerprint_col(text) -> Column:
    """64-bit content fingerprint: pure-Catalyst ``xxhash64`` over
    normalized text — no Python anywhere in the fingerprint path, so
    exact dedup / fingerprint grouping / streaming dedup hash at JVM
    whole-stage-codegen speed (the previous per-byte Python FNV loop
    was the slowest possible way to hash a 100 TB corpus).  Stable
    across partitions, retries, and cluster sizes: xxhash64 with
    Spark's fixed default seed is a deterministic function of the
    bytes.

    STATE-BREAKING NOTE: the fingerprint changed twice — FNV-1a → r2's
    xxhash64, and r3 widened normalization to Unicode whitespace (texts
    differing only in Unicode/trailing whitespace now share one
    fingerprint, matching the MinHash kernel).  Streaming-dedup state
    stores and persisted fingerprint columns from earlier versions are
    NOT comparable; rebuild them."""
    return F.xxhash64(normalized_text_col(text))


# C0 (keeping \t \n) + DEL + C1.  \x0d is included: CRLF is rewritten to
# LF BEFORE this strip runs, so any CR still standing here is a lone
# classic-Mac/stray CR that would otherwise keep byte-identical texts
# apart.
CONTROL_CHARS_PATTERN = r"[\x00-\x08\x0b-\x1f\x7f-\x9f]"


def with_clean_text(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Unicode canonicalization — the cleaning stage that runs BEFORE
    dedup/fingerprinting so byte-different spellings of the same text
    (decomposed accents, CRLF line endings, stray control characters)
    collapse to one canonical form instead of defeating every
    content-identity operator downstream:

      1. CRLF → LF, then any remaining lone CR → LF (classic-Mac
         line endings are newlines, not noise to delete),
      2. strip C0/C1 control characters + DEL (keeping ``\\n``/``\\t``),
      3. Unicode NFC normalization (UAX #15).

    Arrow-vectorized pandas string ops (``Series.str`` — no per-row
    Python loop); NULL passes through NULL.  Replaces ``text_col`` in
    place unless ``out_col`` names a new column.  Map-only: no shuffle,
    runs at scan speed at any scale."""
    out_col = out_col or text_col

    @F.pandas_udf("string")
    def _clean(s):
        return (
            s.str.replace("\r\n", "\n", regex=False)
            .str.replace("\r", "\n", regex=False)
            .str.replace(CONTROL_CHARS_PATTERN, "", regex=True)
            .str.normalize("NFC")
        )

    return df.withColumn(out_col, _clean(F.col(text_col)))


def collapse_repeated_lines(
    df: DataFrame, text_col: str = "text", out_col: str | None = None
) -> DataFrame:
    """Within-document repetition removal — drop every line after its
    first occurrence in the SAME document (MassiveText/Gopher-style
    preprocessing: boilerplate nav bars, cookie banners, and scraper
    echo repeat verbatim inside one page and would otherwise dominate
    the n-gram mass of the kept text).  Line order is preserved; the
    kept text is the first-seen subsequence re-joined with ``\\n``.

    Pure Catalyst, zero Python, zero shuffle: split on newline, then a
    higher-order ``filter((x, i) -> array_position(slice(lines, 1, i),
    x) == 0)`` keeps index i only when no earlier line equals it.  The
    per-document cost is O(lines²) comparisons inside whole-stage
    codegen — trivial for web documents (10²-10³ lines); a corpus of
    pathological million-line rows should split first
    (cross-document line dedup at that scale is ``dedup_lines``, the
    shuffle-based operator).  NULL text passes through NULL; empty
    lines dedup like any other line (a run of blank lines collapses to
    one).  Map-only → runs at scan speed at any corpus size."""
    out_col = out_col or text_col
    # materialize the split ONCE: a higher-order lambda re-evaluates
    # captured sub-expressions per element, so inlining the split here
    # would re-tokenize the document O(lines) times (O(lines³) total)
    tmp = "_crl_lines"
    lines = F.col(tmp)
    kept = F.filter(
        lines,
        lambda x, i: F.array_position(F.slice(lines, F.lit(1), i), x) == 0,
    )
    return (
        df.withColumn(tmp, F.split(F.col(text_col), "\n", -1))
        .withColumn(out_col, F.array_join(kept, "\n"))
        .drop(tmp)
    )


def words_col(text) -> Column:
    """Lowercased whitespace tokens as an array (empties filtered)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(
        F.split(F.lower(F.coalesce(c, F.lit(""))), r"\s+", -1),
        lambda x: x != F.lit(""),
    )


def ngrams_from_words(words: Column, n: int = 1) -> Column:
    """Word n-grams (space-joined) from an ALREADY-MATERIALIZED words
    array column.  Pass an attribute reference (a projected column),
    not a raw expression: a Catalyst higher-order lambda re-evaluates
    every sub-expression it captures once PER ELEMENT, so an inlined
    split would re-tokenize the document O(words) times — materializing
    the array first makes that a single evaluation per row."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if n == 1:
        return words
    starts = F.slice(
        words, 1, F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    )
    return F.transform(
        starts, lambda x, i: F.array_join(F.slice(words, i + 1, n), " ")
    )


def top_terms(
    df: DataFrame, text_col: str = "text", k: int = 100, n: int = 1
) -> DataFrame:
    """Corpus-wide top-k n-gram vocabulary → (term, n) — the frequency
    table a BPE/vocab-training or stopword-induction step starts from.

    The scale path is exactly what Catalyst picks for this plan: the
    words array is materialized ONCE per row (higher-order lambdas
    re-evaluate captured expressions per element, so the tokenizer must
    not ride inside them); the n-gram explode is map-side;
    ``groupBy(term).count()`` does partial (map-side combine)
    aggregation so the shuffle carries one (term, partial-count) per
    term per mapper, never token instances; and ``orderBy(...).limit(k)``
    compiles to TakeOrderedAndProject — a per-partition heap of k rows
    merged on the driver, NO global sort materialization.  Ties are
    total-ordered (count desc, term asc) so the result is deterministic
    at any partitioning."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    words = df.select(words_col(text_col).alias("_words"))
    return (
        words.select(
            F.explode(ngrams_from_words(F.col("_words"), n)).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(k)
    )


def with_text_analysis(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumns(
        {
            "ws_tokens": whitespace_token_count(text_col),
            "bpe_tokens": bpe_ish_token_count(text_col),
            "stopword_ratio": F.round(stopword_ratio(text_col), 6),
            "mean_word_len": F.round(mean_word_length(text_col), 6),
            "quality_score": quality_score(text_col),
            "fingerprint": fingerprint_col(text_col),
        }
    )


def with_oov_rate(
    df: DataFrame,
    text_col: str = "transcript",
    lexicon=None,
    id_col: str = "clip_id",
    out_col: str = "oov_rate",
    max_literal: int = 512,
) -> DataFrame:
    """Append ``oov_rate`` — the fraction of whitespace tokens NOT in a
    reference lexicon.  An ASR transcript whose words are mostly
    out-of-vocabulary is decoder garbage (wrong language, hallucinated
    segments, byte noise rendered as text), and it slips past
    perplexity when the n-gram table was fit on the same garbage —
    a lexicon gate is the independent check speech-data curation runs
    before trusting transcripts (tokens lowercased; empty transcript →
    NULL, the length gate owns that case).

    Two shapes by lexicon size:

    - ``len(lexicon) <= max_literal``: the lexicon ships as ONE literal
      array constant inside the plan; per-token membership is a
      Catalyst ``filter(words, w -> !array_contains(lex, w))`` —
      codegen'd, zero shuffles, zero Python.  O(tokens x L) per row is
      the right trade below a few hundred terms (stopword/function-word
      scale).
    - larger: lexicon becomes a DataFrame joined BROADCAST against the
      exploded tokens, re-aggregated on the 8-byte id — one shuffle on
      ``id_col``, still no Python; at 10^12 rows the explode stays
      map-side and only (id, flag) longs move.

    ``lexicon`` is an iterable of lowercase terms, or an existing
    single-column DataFrame for the join path.
    """
    if lexicon is None:
        raise ValueError("lexicon is required (iterable of terms or DataFrame)")
    src = F.col(text_col)
    tmp = "__words_oov"
    if not isinstance(lexicon, DataFrame):
        # materialize ONCE: a generator argument would be exhausted by
        # the length probe and silently read as an empty lexicon
        lexicon = list(lexicon)
    small = not isinstance(lexicon, DataFrame) and len(lexicon) <= max_literal
    if small:
        terms = sorted({str(t).lower() for t in lexicon})
        lex = F.array(*[F.lit(t) for t in terms])
        with_words = df.withColumn(tmp, words_col(src))
        n = F.size(F.col(tmp))
        oov = F.size(
            F.filter(F.col(tmp), lambda w: ~F.array_contains(lex, w))
        )
        return with_words.withColumn(
            out_col,
            F.when(n > 0, oov.cast("double") / n.cast("double")),
        ).drop(tmp)
    # join path: broadcast the lexicon against exploded tokens
    from pyspark.sql.functions import broadcast

    if isinstance(lexicon, DataFrame):
        lex_df = lexicon.toDF("__term").select(
            F.lower(F.col("__term")).alias("__term")
        ).distinct()
    else:
        spark = df.sparkSession
        terms = sorted({str(t).lower() for t in lexicon})
        lex_df = spark.createDataFrame([(t,) for t in terms], ["__term"])
    toks = (
        df.select(F.col(id_col), F.explode(words_col(src)).alias("__term"))
        .join(broadcast(lex_df.withColumn("__in", F.lit(1))), "__term", "left")
    )
    rates = toks.groupBy(id_col).agg(
        (
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias(out_col)
    )
    # rows whose transcript tokenized to nothing never reach the
    # explode; the left join re-attaches them with a NULL rate
    return df.join(rates, id_col, "left")


def oov_reason_col(max_oov: float = 0.3, col: str = "oov_rate") -> Column:
    """Gate column over :func:`with_oov_rate`: ``oov`` when the rate
    exceeds ``max_oov``, NULL (keep) otherwise — NULL rates (empty
    transcript) keep, the length gate owns those.  Codegen'd CASE."""
    return F.when(F.col(col) > F.lit(float(max_oov)), F.lit("oov"))


def with_compression_ratio(
    df: DataFrame,
    text_col: str = "transcript",
    out_col: str = "comp_ratio",
    level: int = 6,
) -> DataFrame:
    """Append ``comp_ratio`` = len(zlib(utf8)) / len(utf8) — the
    classic compressibility quality signal (MassiveText/Gopher-era
    repetition rules are its descendants): machine-generated spam and
    template farms compress far below natural language, while byte
    noise rendered as text barely compresses at all.  One number
    separates three failure regimes the word-level signals each miss.

    Arrow-batched pandas UDF; the per-string zlib call is C-bound
    (same posture as the codec kernels' per-clip encode).  NULL/empty
    text → NULL ratio (the length gate owns empties).  Short strings
    carry ~11 bytes of zlib header — thresholds are calibrated for
    document-scale text, not tweets; callers gating short transcripts
    should lower ``min_ratio`` accordingly."""
    import zlib

    @pandas_udf(T.DoubleType())
    def ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts.tolist():
            if not t:
                out.append(None)
                continue
            b = t.encode("utf-8")
            out.append(len(zlib.compress(b, level)) / len(b))
        return pd.Series(out, dtype="float64")

    return df.withColumn(out_col, ratio(F.col(text_col)))


def compression_reason_col(
    min_ratio: float = 0.1,
    max_ratio: float = 0.6,
    col: str = "comp_ratio",
) -> Column:
    """Gate column over :func:`with_compression_ratio`:
    ``repetitive`` below ``min_ratio`` (template/spam regime),
    ``incompressible`` above ``max_ratio`` (byte-noise regime), NULL
    (keep) otherwise — NULL ratios keep, the length gate owns empties.
    Codegen'd CASE."""
    c = F.col(col)
    return F.when(c < F.lit(float(min_ratio)), F.lit("repetitive")).when(
        c > F.lit(float(max_ratio)), F.lit("incompressible")
    )


def chunk_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_chars: int = 2048,
    overlap_chars: int = 0,
) -> DataFrame:
    """Sliding-window document chunking — the text twin of audio
    ``chunked_clips`` (q47): long documents split into training-window
    chunks of at most ``max_chars`` with ``overlap_chars`` of context
    carried across the boundary (stride = max - overlap), so a span
    that straddles a cut still appears whole in one chunk.  Empty/NULL
    documents pass through as one empty chunk (row count is preserved
    per document — nothing silently vanishes).

    Pure Catalyst: ``explode(sequence(0, n_chunks-1))`` +
    ``substring`` — zero Python, no Exchange (plan-asserted in tests);
    at 10^12 docs the chunker is a map-only projection.
    Emits (id_col, chunk_idx, chunk_text)."""
    if max_chars < 1:
        raise ValueError(f"max_chars must be >= 1, got {max_chars}")
    if not 0 <= overlap_chars < max_chars:
        raise ValueError(
            f"overlap_chars must be in [0, max_chars), got {overlap_chars}"
        )
    stride = max_chars - overlap_chars
    n = F.length(F.coalesce(F.col(text_col), F.lit("")))
    n_chunks = F.when(n <= max_chars, F.lit(1)).otherwise(
        F.lit(1) + F.ceil((n - max_chars) / F.lit(stride)).cast("int")
    )
    idx = F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx")
    return (
        df.select(F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias("__t"), idx)
        .select(
            id_col,
            "chunk_idx",
            F.substring(
                F.col("__t"), F.col("chunk_idx") * stride + 1, max_chars
            ).alias("chunk_text"),
        )
    )


SPOKEN_FORM_MAP = (
    ("0", "zero"), ("1", "one"), ("2", "two"), ("3", "three"),
    ("4", "four"), ("5", "five"), ("6", "six"), ("7", "seven"),
    ("8", "eight"), ("9", "nine"),
    ("%", "percent"), ("&", "and"), ("+", "plus"), ("@", "at"),
)


def spoken_form_col(text) -> Column:
    """Spoken-form normalization for ASR training text: every digit and
    common symbol becomes its spoken word, digit-by-digit readout
    ("42%" → "four two percent") — the cheap deterministic convention
    when a full inverse-text-normalization model is unavailable.
    Written text must match what the audio actually SAYS or the CTC/
    attention alignment trains against noise; readout is the safe
    default (it never invents a pronunciation the speaker may not have
    used, unlike "forty-two").

    Pure Catalyst: one codegen'd ``regexp_replace`` per mapped char
    (padded with spaces) + one whitespace collapse + trim.  Zero
    Python; the whole chain folds into the projection."""
    c = F.coalesce(F.col(text) if isinstance(text, str) else text, F.lit(""))
    for ch, word in SPOKEN_FORM_MAP:
        c = F.regexp_replace(c, re.escape(ch), f" {word} ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def with_spoken_form(
    df: DataFrame, text_col: str = "transcript", out_col: str = "spoken"
) -> DataFrame:
    """Append the spoken-form normalization of ``text_col`` (see
    :func:`spoken_form_col`)."""
    return df.withColumn(out_col, spoken_form_col(text_col))
