"""Text-analysis operators over the documents table: language-ID, quality
scoring, token counting, document fingerprinting.  All pure built-in
column expressions (whole-stage codegen; SQL-oracle-checkable) except the
rolling fingerprint, which is a numpy Arrow UDF.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# tiny stopword lists for the n-gram/stopword language heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour"],
    "es": ["el", "la", "los", "que", "es", "una", "por", "con"],
}


def _word_set(text_col: Column) -> Column:
    return F.split(F.lower(text_col), "[^a-zA-Zà-ÿÀ-ß]+")


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-marker language heuristic: count marker hits per language,
    argmax with 'und' (undetermined) fallback when no marker appears."""
    words = _word_set(F.col(text_col))
    scores = [
        F.size(F.array_intersect(F.array_distinct(words), F.array(*[F.lit(w) for w in ws])))
        .alias(f"score_{lang}")
        for lang, ws in _LANG_MARKERS.items()
    ]
    scored = docs.select("*", *scores)
    langs = list(_LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in langs])
    pred = F.lit("und")
    # reversed so earlier languages win ties (deterministic)
    for lg in reversed(langs):
        pred = F.when(F.col(f"score_{lg}") == best, F.lit(lg)).otherwise(pred)
    pred = F.when(best <= 0, F.lit("und")).otherwise(pred)
    return scored.withColumn("lang_pred", pred).drop(*[f"score_{lg}" for lg in langs])


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a composite
    score in [0,1] — the classic pre-training quality gate."""
    text = F.col(text_col)
    n_chars = F.length(text)
    words = F.filter(F.split(text, "\\s+"), lambda w: F.length(w) > 0)
    n_words = F.size(words)
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    punct = n_chars - F.length(F.regexp_replace(text, "[!?.,;:\"'()\\[\\]{}]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop = F.array(*[F.lit(w) for w in _LANG_MARKERS["en"]])
    stop_hits = F.size(F.filter(F.transform(words, F.lower), lambda w: F.array_contains(stop, w)))
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    upper = n_chars - F.length(F.regexp_replace(text, "[A-Z]", ""))
    upper_ratio = F.when(n_chars > 0, upper / n_chars).otherwise(F.lit(0.0))

    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.3
        + F.when((mean_word_len >= 3) & (mean_word_len <= 12), 0.2).otherwise(0.0)
        + F.least(stop_ratio * F.lit(4.0), F.lit(1.0)) * 0.3
        + F.when(punct_ratio <= 0.2, 0.1).otherwise(0.0)
        + F.when(upper_ratio <= 0.3, 0.1).otherwise(0.0)
    )
    return docs.select(
        "*",
        n_words.alias("n_words"),
        mean_word_len.cast("double").alias("mean_word_len"),
        punct_ratio.cast("double").alias("punct_ratio"),
        stop_ratio.cast("double").alias("stop_ratio"),
        upper_ratio.cast("double").alias("upper_ratio"),
        score.cast("double").alias("quality_score"),
    )


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + a BPE-ish subword estimate (regex pieces: runs of
    letters / digits / single punctuation, ≈GPT-2 pre-tokenizer)."""
    text = F.col(text_col)
    ws_tokens = F.size(F.filter(F.split(text, "\\s+"), lambda w: F.length(w) > 0))
    bpe_pieces = F.size(
        F.filter(
            F.split(text, r"(?<=[^a-zA-Z0-9])|(?=[^a-zA-Z0-9])"),
            lambda w: (F.length(w) > 0) & (w != " "),
        )
    )
    # long words split into ~4-char subwords, BPE-style length scaling
    subword_est = F.aggregate(
        F.filter(F.split(text, "\\s+"), lambda w: F.length(w) > 0),
        F.lit(0),
        lambda acc, w: acc + F.ceil(F.length(w) / 4).cast("int"),
    )
    return docs.select(
        "*",
        ws_tokens.alias("ws_tokens"),
        bpe_pieces.alias("regex_pieces"),
        subword_est.alias("subword_est"),
    )


def doc_fingerprint(docs: DataFrame, text_col: str = "text", window: int = 8) -> DataFrame:
    """Winnowing-style rolling-hash fingerprint: min rolling hash per window
    over word hashes → a compact int64 sketch (numpy Arrow UDF)."""

    @F.arrow_udf(T.LongType())
    def fp(texts: pa.Array) -> pa.Array:
        out = np.empty(len(texts), dtype=np.int64)
        with np.errstate(over="ignore"):
            for i, t in enumerate(texts.to_pylist()):
                words = (t or "").lower().split()
                if not words:
                    out[i] = 0
                    continue
                hs = np.fromiter(
                    (hashsum(w) for w in words), dtype=np.uint64, count=len(words)
                )
                if len(hs) >= window:
                    mins = np.lib.stride_tricks.sliding_window_view(hs, window).min(axis=1)
                else:
                    mins = hs
                acc = np.uint64(1469598103934665603)
                for m in np.unique(mins):
                    acc ^= m
                    acc *= np.uint64(1099511628211)
                out[i] = int(acc.view(np.int64) if hasattr(acc, "view") else acc)
        return pa.array(out, pa.int64())

    def hashsum(w: str) -> int:
        h = 14695981039346656037
        for b in w.encode("utf-8"):
            h = ((h ^ b) * 1099511628211) & 0xFFFFFFFFFFFFFFFF
        return h

    # same under-split guard as the dedup signature kernels — but the
    # LIGHT-kernel variant: this kernel is ~84 µs/doc, so sub-32 MB
    # inputs run un-spread (the r6 measurement showed the unconditional
    # small-input shuffle cost more than it protected at gate/bench
    # scale); a big single-row-group file still spreads
    from ..operators.dedup import _spread_for_compute

    return _spread_for_compute(docs, always_spread_small=False).withColumn(
        "fingerprint", fp(F.col(text_col))
    )
