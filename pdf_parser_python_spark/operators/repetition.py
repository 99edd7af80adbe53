"""Gopher-style repetition filters for training-data curation.

Per-document repetition metrics (Rae et al. 2021, "Scaling Language
Models: ... Gopher", §A1.1 repetition rules) computed entirely with
native Column expressions and higher-order functions — the whole
profile is MAP-ONLY (zero Exchange): every metric is a per-row array
computation, so the stage scales linearly with executor count and
never shuffles the corpus. Reference scope: the reference engine has
no corpus-curation stage (its pipeline is per-PDF,
``/root/reference/parser/engine.py``); these operators extend the
training-data family (dedup/similarity/textstats) that a 100-TB
deployment of this engine needs.

Definitions (documented because the literature has variants):

- ``dup_line_frac``     = 1 − |distinct lines| / |lines|  — the
  fraction of line OCCURRENCES removed by per-document line-dedup.
- ``dup_line_char_frac`` = chars in all occurrences of lines that
  appear more than once / chars in all lines.
- ``top_ngram_char_frac`` = count(most frequent word n-gram) ×
  len(that n-gram) / len(text). Ties broken by (count desc, gram
  desc) so the result is deterministic across partitionings.
- ``dup_ngram_frac``    = 1 − |distinct n-grams| / |n-grams| over
  the non-deduplicated n-gram sequence (a cheap, overlap-agnostic
  stand-in for Gopher's duplicated-n-gram character fraction).

Implementation note — expression-tree shape matters as much as
asymptotics here: an earlier draft indexed into the sorted array from
``F.transform``/``F.filter`` lambdas (``F.get(sorted, i ± 1)``), which
textually re-inlines the sort-of-ngrams subtree at every reference;
the nested-HOF tree grew combinatorially and Catalyst analysis alone
ran for minutes on a 500-row input. Both duplicate metrics are instead
single-pass ``F.aggregate`` run-length scans over the sorted array —
ONE reference per subtree, linear tree, O(L log L) per row (the sort
dominates), and the whole profile analyzes in milliseconds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..zipcache import drop_zip_finders
from .textstats import tokens


def word_ngrams(col: Column, n: int = 2) -> Column:
    """Ordered, NON-deduplicated word n-grams of the lowered text
    (contrast ``textstats.shingles``, which deduplicates for set
    semantics). Fewer than ``n`` tokens → empty array."""
    toks = tokens(F.lower(col))
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.when(cnt >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def chunked_lines(col: Column, width: int = 10) -> Column:
    """Deterministic pseudo-lines: the token stream re-chunked into
    ``width``-token lines. Used when a corpus stores text without
    newlines (the sf test tables) so line-level metrics stay
    meaningful; a real corpus passes its own ``\\n`` lines instead."""
    toks = tokens(col)
    cnt = F.size(toks)
    n_chunks = F.ceil(cnt / F.lit(width)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i * width + 1, width)),
    )
    return F.when(cnt > 0, chunks).otherwise(F.array().cast("array<string>"))


def _dup_char_scan(sorted_arr: Column) -> Column:
    """Total characters in all occurrences of values appearing more
    than once in ``sorted_arr`` — one run-length pass, no indexing
    back into the array. On the 2nd occurrence of a run the 1st is
    retro-credited (+2·len), later occurrences add +len."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: Column, x: Column) -> Column:
        same = (acc["run"] > 0) & (acc["prev"] == x)
        add = (
            F.when(same & (acc["run"] == 1), F.length(x) * 2)
            .when(same, F.length(x))
            .otherwise(F.lit(0))
        )
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            (acc["dup"] + add).alias("dup"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["dup"])


def _top_run_scan(sorted_arr: Column) -> Column:
    """``struct(cnt, gram)`` of the longest run in ``sorted_arr``
    (= the modal value), ties broken (cnt desc, gram desc) by struct
    comparison. The running max over per-prefix run lengths equals the
    max over complete runs because every full run's end point is
    visited. Empty array → (0, '')."""
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).alias("run"),
        F.struct(F.lit(0).alias("cnt"), F.lit("").alias("gram")).alias(
            "best"
        ),
    )

    def step(acc: Column, x: Column) -> Column:
        run2 = F.when(
            (acc["run"] > 0) & (acc["prev"] == x), acc["run"] + 1
        ).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.greatest(
                acc["best"], F.struct(run2.alias("cnt"), x.alias("gram"))
            ).alias("best"),
        )

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def line_repetition(lines: Column) -> dict[str, Column]:
    """``{n_lines, dup_line_frac, dup_line_char_frac}`` over a line
    array (empty/blank lines are the caller's business — filter them
    upstream if unwanted). Zero lines → fractions 0.0."""
    m = F.size(lines)
    dup_chars = _dup_char_scan(F.sort_array(lines))
    total_chars = F.aggregate(
        lines, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    zero = F.lit(0.0)
    return {
        "n_lines": m.cast("bigint"),
        "dup_line_frac": F.when(
            m > 0, F.round((m - F.size(F.array_distinct(lines))) / m, 4)
        ).otherwise(zero),
        "dup_line_char_frac": F.when(
            total_chars > 0, F.round(dup_chars / total_chars, 4)
        ).otherwise(zero),
    }


def ngram_repetition(
    col: Column, n: int = 2, grams: Column | None = None
) -> dict[str, Column]:
    """``{top_ngram, top_ngram_char_frac, dup_ngram_frac}`` for word
    n-grams of ``col``; pass a pre-staged ``grams`` column to avoid
    re-deriving the array per reference."""
    if grams is None:
        grams = word_ngrams(col, n)
    g_cnt = F.size(grams)
    top = _top_run_scan(F.sort_array(grams))
    n_chars = F.length(col)
    zero = F.lit(0.0)
    return {
        "top_ngram": F.when(g_cnt > 0, top["gram"]).otherwise(F.lit("")),
        "top_ngram_char_frac": F.when(
            (g_cnt > 0) & (n_chars > 0),
            F.round(top["cnt"] * F.length(top["gram"]) / n_chars, 4),
        ).otherwise(zero),
        "dup_ngram_frac": F.when(
            g_cnt > 0,
            F.round((g_cnt - F.size(F.array_distinct(grams))) / g_cnt, 4),
        ).otherwise(zero),
    }


#: Java-regex parity for the Arrow twin: Spark's ``\s`` is the ASCII
#: set [ \t\n\x0B\f\r] (Python re's \s is Unicode-aware and wider),
#: and Java String.trim() strips every codepoint ≤ U+0020.
_JAVA_WS = " \t\n\x0b\f\r"
_JAVA_TRIM = "".join(chr(i) for i in range(0x21))


def java_tokens(text: str, ws_re) -> list[str]:
    """Python mirror of ``textstats.tokens`` (Java ``trim`` + ASCII
    ``\\s+`` split) — the token-boundary contract every Arrow kernel
    in this module shares with the native engine and the SQL oracle."""
    stripped = text.strip(_JAVA_TRIM)
    return [t for t in ws_re.split(stripped) if t] if stripped else []


def _doc_repetition(
    text, n: int, line_width: int | None, ws_re
) -> tuple:
    """Per-doc repetition metrics (RAW fractions — callers round with
    native F.round so the value path matches the oracle bit-for-bit).
    Returns (n_lines, dup_line_frac, dup_line_char_frac, top_ngram,
    top_ngram_char_frac, dup_ngram_frac).

    r8: lines (chunked mode) and n-grams are counted as token TUPLES
    instead of joined strings — joining with " " is injective (tokens
    contain no whitespace), so equality classes, distinct counts and
    joined lengths (sum of token lengths + k−1 separators) are
    unchanged, and the dominant cost (building one string per line and
    per gram) disappears. Only the argmax gram is ever joined, and the
    (count desc, gram desc) TIE is still broken on the actual joined
    strings (tuple order can disagree with joined-string order when a
    token embeds sub-0x20 characters). The lowered token stream reuses
    the one tokenize pass: no character lowercases to or from a
    whitespace separator, so per-token lower() equals re-tokenizing
    text.lower() (Final_Sigma context is intra-token either way).

    r8, measured and REJECTED: a fully batch-vectorized twin
    (dictionary-encoded vocab, lexsort run-length counts, UTF-8-byte
    argmax ranking — bit-identical on a 1M-doc sweep) only wins on
    highly repetitive corpora; on ordinary 32-token docs the common
    all-counts-1 case makes every gram an argmax candidate and the
    batch machinery loses to this loop (pinned 1-core, 50k ordinary
    docs: 1.8 s here vs 2.6-3.2 s batched; through the bench gate at
    200k docs: 27 s vs 54 s). Shipping JVM token arrays instead of
    tokenizing here was also measured 2-3x slower — the Arrow→pandas
    list<string> conversion materializes every token as a Python
    object. ~36 µs/doc is this stage's floor at these doc sizes."""
    from collections import Counter

    text = text if isinstance(text, str) else ""
    toks = java_tokens(text, ws_re)
    if line_width is None:
        lines = [ln.strip(_JAVA_TRIM) for ln in text.split("\n")]
        lines = [ln for ln in lines if ln]
        line_len = len
    else:
        lines = [
            tuple(toks[i : i + line_width])
            for i in range(0, len(toks), line_width)
        ]

        def line_len(t):
            return sum(map(len, t)) + len(t) - 1

    m = len(lines)
    lc = Counter(lines)
    total = sum(map(line_len, lines))
    dupc = sum(line_len(x) for x in lines if lc[x] > 1)
    ltoks = [t.lower() for t in toks]
    n_grams = len(ltoks) - n + 1
    if n_grams > 0:
        gc = Counter(
            tuple(ltoks[i : i + n]) for i in range(n_grams)
        )
        bc = max(gc.values())
        bg = max(
            " ".join(g) for g, c in gc.items() if c == bc
        )
        tncf = bc * len(bg) / len(text) if text else 0.0
        dnf = (n_grams - len(gc)) / n_grams
    else:
        bg, tncf, dnf = "", 0.0, 0.0
    return (
        m,
        (m - len(lc)) / m if m else 0.0,
        dupc / total if total else 0.0,
        bg,
        tncf,
        dnf,
    )


def repetition_profile_arrow(
    documents: DataFrame,
    text_col: str = "text",
    n: int = 2,
    line_width: int | None = None,
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Arrow-batched twin of :func:`repetition_profile`: the same
    metrics computed in a ``mapInPandas`` kernel (tokenize + Counter
    per doc — tiny per-doc state, so plain Python beats the
    interpreted-HOF sort path — measured 10×: 3.6 s vs 35.9 s at 10⁶
    docs on local[32], BENCH.md; prefer this engine in the hot path,
    the native form remains the zero-Python declarative spec).
    ``line_width`` mirrors :func:`chunked_lines`; ``None`` = split on
    ``\\n``. Fractions are returned RAW from the kernel and rounded by
    native ``F.round`` outside it, so the value path through IEEE754 →
    HALF_UP is bit-identical to the native engine and the SQL oracle.
    Plan: one MapInPandas, zero Exchange.

    ``passthrough`` columns of ``documents`` are echoed through the
    kernel unchanged — the zero-shuffle way to combine these metrics
    with natively-computed ones (compute them BEFORE the kernel, carry
    them through) instead of a doc_id join afterwards."""
    import re as _re

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    ws_re = _re.compile(f"[{_re.escape(_JAVA_WS)}]+")
    passthrough = list(passthrough or [])
    out_schema = StructType(
        [
            StructField("doc_id", documents.schema["doc_id"].dataType),
            StructField("n_lines", LongType()),
            StructField("_dlf", DoubleType()),
            StructField("_dlcf", DoubleType()),
            StructField("top_ngram", StringType()),
            StructField("_tncf", DoubleType()),
            StructField("_dnf", DoubleType()),
            *[StructField(p, documents.schema[p].dataType)
              for p in passthrough],
        ]
    )

    def kernel(batches):
        drop_zip_finders()
        import pandas as pd

        for pdf in batches:
            out = {k: [] for k in
                   ("doc_id", "n_lines", "_dlf", "_dlcf", "top_ngram",
                    "_tncf", "_dnf")}
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                vals = _doc_repetition(text, n, line_width, ws_re)
                out["doc_id"].append(doc_id)
                for key, v in zip(
                    ("n_lines", "_dlf", "_dlcf", "top_ngram", "_tncf",
                     "_dnf"),
                    vals,
                ):
                    out[key].append(v)
            res = pd.DataFrame(out)
            for p in passthrough:
                res[p] = pdf[p].reset_index(drop=True)
            yield res

    raw = documents.select("doc_id", text_col, *passthrough).mapInPandas(
        kernel, out_schema
    )
    return raw.select(
        "doc_id",
        "n_lines",
        F.round("_dlf", 4).alias("dup_line_frac"),
        F.round("_dlcf", 4).alias("dup_line_char_frac"),
        "top_ngram",
        F.round("_tncf", 4).alias("top_ngram_char_frac"),
        F.round("_dnf", 4).alias("dup_ngram_frac"),
        *passthrough,
    )


def repetition_profile(
    documents: DataFrame,
    text_col: str = "text",
    n: int = 2,
    lines: Column | None = None,
) -> DataFrame:
    """One row per document with the full repetition profile.

    ``lines`` defaults to splitting ``text_col`` on ``\\n`` (blank
    lines dropped); pass :func:`chunked_lines` (or any array<string>
    Column) for corpora without newlines. Plan shape: map-only — a
    single projection over the scan, zero Exchange; safe to run as the
    first pass over a 100-TB corpus. The array expressions are staged
    through named intermediate columns so each is analyzed and (when
    codegen'd) evaluated once per row, not once per reference."""
    # null text ≡ empty doc (metrics 0.0, not null) — matches the SQL
    # oracle's coalesce semantics and keeps the profile total.
    c = F.coalesce(F.col(text_col), F.lit(""))
    if lines is None:
        lines = F.filter(
            F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
            lambda x: x != "",
        )
    staged = documents.select(
        "doc_id", c.alias("_text"), lines.alias("_lns"),
        word_ngrams(c, n).alias("_grams"),
    )
    lr = line_repetition(F.col("_lns"))
    nr = ngram_repetition(F.col("_text"), n, grams=F.col("_grams"))
    return staged.select(
        "doc_id",
        lr["n_lines"].alias("n_lines"),
        lr["dup_line_frac"].alias("dup_line_frac"),
        lr["dup_line_char_frac"].alias("dup_line_char_frac"),
        nr["top_ngram"].alias("top_ngram"),
        nr["top_ngram_char_frac"].alias("top_ngram_char_frac"),
        nr["dup_ngram_frac"].alias("dup_ngram_frac"),
    )


def corpus_top_ngrams(
    documents: DataFrame,
    text_col: str = "text",
    n: int = 3,
    k: int = 100,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-LEVEL most frequent word n-grams — the boilerplate
    discovery pass that feeds :func:`~..dedup.paragraph_dedup` and
    filter-rule authoring. Shape: explode → hash-aggregate (map-side
    partial combine absorbs the skew of a dominant boilerplate gram) →
    ``TakeOrderedAndProject`` for the global top-k (never a global
    sort). Ties broken (count desc, gram asc) for determinism."""
    c = F.coalesce(F.col(text_col), F.lit(""))
    grams = documents.select(
        F.explode(word_ngrams(c, n)).alias("gram")
    )
    counts = grams.groupBy("gram").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    return (
        counts.where(F.col("cnt") >= min_count)
        .orderBy(F.col("cnt").desc(), F.col("gram"))
        .limit(k)
    )
