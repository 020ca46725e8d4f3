"""Text-analysis operators for large-scale training-data pipelines.

All pure ``pyspark.sql.functions`` column expressions — JVM-side, no
Python in the hot path; the stopword count's ``filter`` lambda is a
``CodegenFallback``, interpreted inside its codegen stage. Each operator has an
exactly-matching ANSI-SQL oracle (see __spark_entry__.oracle_sql), which
is the correctness gate: token counting, quality scoring, language-ID
and fingerprinting must produce byte-identical results in DuckDB.

Works over any (id, text) table; the driver's ``documents`` table is the
reference input.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword families for the n-gram/stopword heuristic;
# deterministic and oracle-expressible (CASE in SQL)
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu"),
    "fr": ("le", "la", "de", "et", "un", "une", "est"),
}

TOKEN_SPLIT = r"\s+"


def tokens_col(text: str | Column = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), TOKEN_SPLIT)


def _stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    wl = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter(_tokens, t -> t in ({wl})))")


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_tokens, n_chars, subword_est, avg_token_len)."""
    t = tokens_col(text_col)
    return df.select(
        F.col(id_col),
        F.size(t).alias("n_tokens"),
        F.length(text_col).alias("n_chars_measured"),
        F.ceil(F.length(text_col) / F.lit(4)).cast("long").alias("subword_est"),
        F.round(F.length(text_col) / F.size(t), 4).alias("avg_token_len"),
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword quality heuristics (rounded for the
    cross-engine oracle hash)."""
    out = df.withColumn("_tokens", tokens_col(text_col))
    n_tokens = F.size("_tokens")
    stop_hits = _stopword_hits(F.col("_tokens"), STOPWORDS["en"])
    n_punct = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), r"[\.,;:!\?]", "")
    )
    score = (
        F.least(n_tokens / F.lit(200.0), F.lit(1.0)) * 0.4
        + F.least(stop_hits / F.greatest(n_tokens, F.lit(1)) * F.lit(5.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(n_punct / F.greatest(n_tokens, F.lit(1)), F.lit(1.0))) * 0.2
    )
    return out.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stopword_hits"),
        n_punct.alias("punct_chars"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-family language ID: argmax of per-language hit counts,
    deterministic tie-break by language code, 'und' when all zero."""
    out = df.withColumn("_tokens", tokens_col(text_col))
    hits = {lang: _stopword_hits(F.col("_tokens"), words) for lang, words in STOPWORDS.items()}
    # deterministic argmax: iterate langs in sorted order, strict greater
    langs = sorted(STOPWORDS)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in langs:
        take = hits[lang] > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits[lang]).otherwise(best_hits)
    return out.select(
        F.col(id_col),
        *[hits[lang].alias(f"hits_{lang}") for lang in langs],
        best_lang.alias("lang_pred"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over whitespace-normalized lowercase text
    (the canonical-form content hash used for exact dedup)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), TOKEN_SPLIT, " ")
    return df.select(F.col(id_col), F.md5(norm).alias("fingerprint"))
