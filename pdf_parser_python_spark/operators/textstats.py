"""Text-analysis operators for training-data pipelines.

All native Column expressions (JVM-side, whole-stage codegen) — no
UDFs: language-ID (stopword-hit heuristic), quality scoring, token
counting (whitespace + BPE-ish subword estimate), and document
fingerprinting (polynomial rolling hash over shingles).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the n-gram/stopword heuristic.
#: Deliberately small & deterministic: language ID here is a relative
#: scorer, not a classifier product.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "for", "with"],
    "es": ["el", "la", "de", "que", "los", "una", "por", "con", "para"],
    "fr": ["le", "la", "les", "des", "est", "dans", "pour", "que", "une"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "zu"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokens (empty input → empty array)."""
    t = F.split(F.trim(col), r"\s+")
    return F.filter(t, lambda x: x != "")


def tokens_sql(expr: str) -> str:
    """:func:`tokens` of the SQL expression ``expr``, as SQL text."""
    return f"filter(split(trim({expr}), '\\\\s+'), x -> x != '')"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def subword_estimate(col: Column) -> Column:
    """BPE-ish token estimate: word-piece segments + digit/punct runs
    (a cheap deterministic proxy for a real tokenizer's length)."""
    # regexp_count (r8): same non-overlapping match count as
    # size(regexp_extract_all(...)), no match-array materialization
    return F.regexp_count(
        col, F.lit(r"[A-Za-z]{1,4}|\d+|[^\sA-Za-z\d]")
    )


def lang_scores(col: Column) -> Column:
    """map<lang, hits>: stopword hits per language over the token set."""
    toks = F.transform(tokens(F.lower(col)), lambda x: x)
    entries = [
        F.struct(
            F.lit(lang).alias("lang"),
            F.size(
                F.filter(toks, lambda t: t.isin(*STOPWORDS[lang]))
            ).alias("hits"),
        )
        for lang in sorted(STOPWORDS)
    ]
    return F.map_from_entries(F.array(*entries))


def lang_guess(col: Column) -> Column:
    """argmax of lang_scores with deterministic tie-break (lang asc);
    'und' when nothing hits."""
    entries = [
        F.struct(
            F.size(
                F.filter(
                    tokens(F.lower(col)), lambda t: t.isin(*STOPWORDS[lang])
                )
            ).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(STOPWORDS, reverse=True)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(col: Column) -> Column:
    """0-100 heuristic quality score: length band + alpha ratio +
    sentence-mark presence − punctuation-flood penalty.

    Deterministic integer arithmetic only (oracle-friendly)."""
    n = F.length(col)
    n_alpha = F.length(F.regexp_replace(col, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    n_marks = F.regexp_count(col, F.lit(r"[.!?]"))
    nt = token_count(col)

    len_band = (
        F.when(n >= 200, 40)
        .when(n >= 50, 25)
        .when(n >= 10, 10)
        .otherwise(0)
    )
    alpha_pts = F.when(n > 0, (n_alpha * 30 / n).cast("int")).otherwise(0)
    mark_pts = F.when(n_marks > 0, 15).otherwise(0)
    tok_pts = F.when(nt >= 20, 15).when(nt >= 5, 8).otherwise(0)
    flood_pen = F.when((n > 0) & (n_punct * 3 > n), -20).otherwise(0)
    return F.greatest(
        F.lit(0), F.least(F.lit(100), len_band + alpha_pts + mark_pts + tok_pts + flood_pen)
    )


def shingles(col: Column, k: int = 3) -> Column:
    """k-word shingles as strings (ordered, deduplicated)."""
    toks = tokens(F.lower(col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.transform(
        idx,
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(n >= k, F.array_distinct(sh)).otherwise(
        F.array(F.concat_ws(" ", toks))
    )


def fingerprint(col: Column, hasher=None) -> Column:
    """64-bit document fingerprint: XOR fold of shingle hashes.

    XOR is overflow-free (ANSI-safe), order-insensitive, and shingles
    are deduplicated upstream so pairs can't cancel; stable across
    partitioning and cluster size. ``hasher`` is pluggable
    (functions/hashing.py) — the md5 variant makes the value
    reproducible in a DuckDB oracle."""
    from ..functions.hashing import xx64

    hasher = hasher or xx64
    return F.aggregate(
        shingles(col),
        F.lit(0).cast("long"),
        lambda acc, s: acc.bitwiseXOR(hasher(s, 0)),
    )


def text_profile(
    documents: DataFrame, text_col: str = "text", hasher=None
) -> DataFrame:
    """One row per doc: the full text-analysis profile."""
    c = F.col(text_col)
    return documents.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        subword_estimate(c).alias("n_subwords"),
        F.length(c).alias("n_chars"),
        lang_guess(c).alias("lang_guess"),
        quality_score(c).alias("quality"),
        fingerprint(c, hasher).alias("fingerprint"),
    )


def corpus_token_freq(
    documents: DataFrame, text_col: str = "text", top_k: int = 65536
) -> DataFrame:
    """Corpus unigram frequency table, capped to the ``top_k`` most
    frequent tokens (count desc, token asc — deterministic cap).

    Scale shape: one explode → hash-aggregate with map-side combine
    (tokens of a 100-TB corpus collapse per task before the shuffle;
    the grouped key space is the vocabulary, orders of magnitude
    smaller than the corpus) → TakeOrderedAndProject for the cap.
    The result is broadcast-sized by construction."""
    toks = F.explode(
        tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    ).alias("token")
    freq = (
        documents.select(toks)
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    return freq.orderBy(F.col("freq").desc(), F.col("token")).limit(top_k)


def rarity_scores(
    documents: DataFrame,
    freq: DataFrame,
    text_col: str = "text",
    scale: int = 1_000_000,
) -> DataFrame:
    """CCNet-style perplexity PROXY with exact-integer cross-engine
    parity: each token contributes ``floor(scale / corpus_freq)``
    (out-of-vocabulary tokens count as frequency 1 — maximally rare),
    and a document's rarity is the integer mean contribution. High =
    rare/unusual vocabulary (gibberish, ids, OCR noise), low = stock
    prose — the standard LM-perplexity quality signal, computed with
    floor division only so a DuckDB oracle reproduces it bit-for-bit
    (true log-prob scoring needs an external LM; libm log differs
    across engines in the last ulp, so the proxy stays rational).

    Scale shape: explode → broadcast join against the capped
    vocabulary → one doc_id hash-aggregate. The corpus shuffles once
    (by doc_id, map-side combined); the vocabulary never shuffles."""
    toks = tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    e = documents.select(
        "doc_id", F.size(toks).cast("bigint").alias("n_tokens"),
        F.explode_outer(toks).alias("token"),
    )
    j = e.join(F.broadcast(freq), "token", "left")
    contrib = F.when(
        F.col("token").isNull(), F.lit(0)
    ).otherwise(
        F.floor(scale / F.coalesce(F.col("freq"), F.lit(1)))
    ).cast("bigint")
    return (
        j.groupBy("doc_id", "n_tokens")
        .agg(F.sum(contrib).alias("_raw"))
        .select(
            "doc_id",
            "n_tokens",
            F.when(
                F.col("n_tokens") > 0,
                F.floor(F.col("_raw") / F.col("n_tokens")),
            ).otherwise(F.lit(0)).cast("bigint").alias("rarity"),
        )
    )
