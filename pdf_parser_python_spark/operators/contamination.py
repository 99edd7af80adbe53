"""Benchmark decontamination: flag training documents that share any
word n-gram with an evaluation/benchmark set.

The standard LLM-corpus hygiene pass (GPT-3 appendix C, PaLM §7,
Dolma): an n-gram (default n=8, the GPT-3 choice) from a benchmark
prompt appearing verbatim in a training document marks that document
contaminated. Reference scope: no counterpart in the reference engine
(per-PDF pipeline); this extends the training-data family the 100-TB
deployment needs.

Scale shape — built for an asymmetric join:

- the BENCHMARK side is small (eval suites are ~10³-10⁷ grams): its
  distinct gram hashes are explicitly ``F.broadcast`` — the corpus
  side never shuffles for the match;
- the CORPUS side is map-only up to the match (tokenize → n-grams →
  per-doc dedup → explode), then ONE aggregation exchange keyed by
  doc_id — and only over rows that actually matched, a tiny fraction
  of the corpus;
- the clean-set variant is a broadcast LEFT ANTI join: zero shuffle
  of the corpus at all.

Hashes are pluggable like the dedup family: ``xx64`` in production,
``md5_64`` in the driver-contract queries so a DuckDB oracle can
reproduce every value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import xx64
from .dedup import _reuse
from .repetition import word_ngrams

DEFAULT_N = 8

#: analyzed-plan markers of a Python-boundary stage — the "this input
#: is expensive to evaluate twice" signal for _reuse_expensive_input
_PY_NODES = ("MapInArrow", "MapInPandas", "ArrowEvalPython",
             "BatchEvalPython", "FlatMapGroupsInPandas")


def _reuse_expensive_input(documents: DataFrame) -> DataFrame:
    """``decontaminated`` evaluates its corpus twice by design (once to
    find contaminated ids, once to emit survivors) — the price of never
    shuffling the corpus. For a plain scan that re-read is cheap and
    cutting it would copy the whole raw corpus into executor storage.
    But when the input plan already crosses the Python boundary (a
    curation-gate kernel, an extraction pass), re-evaluating it doubles
    the most expensive stage of a composed pipeline — so cut it with
    :func:`.dedup._reuse` exactly when the analyzed plan carries a
    Python-eval node. The blocks are freed with the returned frame; a
    map-only input (the curation gate's) runs no job at plan build."""
    try:
        plan = documents._jdf.queryExecution().analyzed().toString()
    except Exception:  # non-JVM edge (mocks): behave as before
        return documents
    if any(t in plan for t in _PY_NODES):
        return _reuse(documents)
    return documents


def _lane_hashing(hasher) -> bool:
    """True when gram hashing should run on fixed-width hash LANES
    (hash each token once, fold n consecutive token hashes with the
    multi-lane combiner) instead of materializing gram strings. Only a
    win for xx64, whose combiner is a single string-free XxHash64 fold
    — the md5 combiner builds a longer string than the gram itself, and
    md5 is the oracle-checked path, so it keeps the exact string form.
    Both join sides must agree on the scheme (benchmark_grams mirrors
    this choice), so matching is unchanged either way."""
    return hasher is xx64


def _gram_hashes(col: Column, n: int, hasher) -> Column:
    """Distinct hashed word n-grams of ``col`` (set semantics — one
    doc matching one benchmark gram k times counts once)."""
    return F.transform(
        F.array_distinct(word_ngrams(col, n)), lambda g: hasher(g, 0)
    )


def _doc_gram_rows(
    documents: DataFrame, text_col: str, n: int, hasher
) -> DataFrame:
    """(doc_id, gram_hash) rows — one per distinct gram per document.

    On the xx64 path the grams are HASH-LANE n-grams (the r6 minhash
    hash-shingling rework, applied here in r8): each token is hashed
    once into a STAGED column, and a gram's hash folds n consecutive
    token hashes with the string-free XxHash64 combiner — the corpus
    side never materializes gram strings. The token-hash array is
    staged through a named column deliberately: referencing the
    transform inline from the n lane positions re-inlines (and
    re-evaluates) the whole tokenize+hash subtree per lane — measured
    3× SLOWER than the string path at 10⁶ docs, the exact trap
    operators/repetition.py documents."""
    if not _lane_hashing(hasher):
        return documents.select(
            "doc_id",
            F.explode(
                _gram_hashes(F.col(text_col), n, hasher)
            ).alias("gram_hash"),
        )
    from ..functions.hashing import xx64_combine
    from .textstats import tokens

    staged = documents.select(
        "doc_id",
        F.transform(
            tokens(F.lower(F.col(text_col))), lambda t: hasher(t, 0)
        ).alias("_th"),
    )
    th = F.col("_th")
    n_t = F.size(th)
    idx = F.sequence(F.lit(0), F.greatest(n_t - n, F.lit(0)))
    lanes = F.transform(
        idx,
        # NB: one-arg lambda — a second parameter would bind the index
        lambda i: xx64_combine([F.get(th, i + j) for j in range(n)], 0),
    )
    grams = F.when(n_t >= n, F.array_distinct(lanes)).otherwise(
        F.array().cast("array<long>")
    )
    return staged.select("doc_id", F.explode(grams).alias("gram_hash"))


def benchmark_grams(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = DEFAULT_N,
    hasher=xx64,
) -> DataFrame:
    """Distinct ``(gram_hash, gram)`` rows over the benchmark set —
    the small side of the contamination join."""
    g = benchmark.select(
        F.explode(F.array_distinct(word_ngrams(F.col(text_col), n))).alias(
            "gram"
        )
    )
    if _lane_hashing(hasher):
        # mirror the corpus side's hash-lane scheme (a gram string has
        # exactly n tokens; hashing them through the same combiner
        # reproduces the corpus side's lane value for that gram)
        from ..functions.hashing import xx64_combine
        from .textstats import tokens

        th = F.transform(tokens(F.col("gram")), lambda t: hasher(t, 0))
        gram_hash = xx64_combine([F.get(th, F.lit(j)) for j in range(n)], 0)
    else:
        gram_hash = hasher(F.col("gram"), 0)
    return (
        g.select(gram_hash.alias("gram_hash"), "gram")
        # min() not dropDuplicates: on a (vanishingly unlikely) hash
        # collision the surviving gram is still deterministic, so the
        # report is reproducible across partitionings and in the oracle.
        .groupBy("gram_hash")
        .agg(F.min("gram").alias("gram"))
    )


def contamination_report(
    documents: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = DEFAULT_N,
    hasher=xx64,
) -> DataFrame:
    """Contaminated documents only: ``(doc_id, n_matched_grams,
    sample_gram)`` where ``sample_gram`` is the lexicographically
    smallest matching benchmark gram (deterministic evidence row).

    One broadcast hash join + one aggregation over matched rows; the
    corpus itself is never shuffled."""
    bg = F.broadcast(benchmark_grams(benchmark, bench_text_col, n, hasher))
    doc_grams = _doc_gram_rows(documents, text_col, n, hasher)
    return (
        doc_grams.join(bg, "gram_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_matched_grams"),
            F.min("gram").alias("sample_gram"),
        )
    )


def decontaminated(
    documents: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = DEFAULT_N,
    hasher=xx64,
) -> DataFrame:
    """The clean corpus: documents sharing NO n-gram with the
    benchmark. Both joins broadcast (benchmark grams, then the matched
    doc_id set — contaminated ids are a tiny fraction of the corpus),
    so the corpus itself is never shuffled; output schema = input
    schema."""
    documents = _reuse_expensive_input(documents)
    bg = F.broadcast(
        benchmark_grams(benchmark, bench_text_col, n, hasher).select(
            "gram_hash"
        )
    )
    contaminated_ids = (
        _doc_gram_rows(documents, text_col, n, hasher)
        .join(bg, "gram_hash")
        .select("doc_id")
        .distinct()
    )
    return documents.join(F.broadcast(contaminated_ids), "doc_id", "left_anti")
