"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical inputs, and the program under test only ever sees
the materialized parquet tables.

- exam corpora take a disjoint doc-index range per seed and reuse the
  package's public grammar (``sources.spans.generate_doc_spans``);
- the text corpus is ``sources.textgen.dedup_bench_corpus`` slices
  (mega cluster, planted 5-member clusters, background) with a seeded
  affine doc-id bijection, so the planted layout stays checkable;
- the giant document is built natively (no driver materialization) as
  five spans per planted question; the seed picks its question count,
  stems and answers.
"""

from __future__ import annotations

import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.sources import spans as spans_src
from pdf_parser_python_spark.sources import textgen

#: doc-index stride between seeds; corpora never exceed it, so the
#: ranges of two seeds are disjoint
SEED_STRIDE = 1_000_000

#: prime modulus of the text-corpus doc-id bijection (> every id used)
ID_PRIME = 2_147_483_647


def exam_range(seed: int, n_docs: int, lane: int) -> tuple[int, int]:
    """Disjoint doc-index range ``[start, start + n_docs)`` for a seed;
    ``lane`` separates corpora of different workloads."""
    if n_docs > SEED_STRIDE // 4:
        raise ValueError(f"n_docs {n_docs} exceeds the per-seed stride")
    start = seed * SEED_STRIDE + lane * (SEED_STRIDE // 4)
    return start, start + n_docs


def _exam_batches(mean_q: int):
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i in b["id"]:
                sp = spans_src.generate_doc_spans(int(i), mean_q)
                rows.append((f"syn-{int(i):010d}", sp, len(sp)))
            yield pd.DataFrame(rows, columns=["doc_id", "spans", "n_spans"])

    return gen


def exam_corpus(spark: SparkSession, seed: int, n_docs: int, lane: int,
                partitions: int, mean_q: int = 12) -> DataFrame:
    """documents(doc_id, spans[], n_spans) over the seed's doc range."""
    start, end = exam_range(seed, n_docs, lane)
    out_schema = StructType(
        list(schema.DOCUMENT_SPANS_EXT.fields)
        + [StructField("n_spans", IntegerType(), False)]
    )
    return spark.range(start, end, numPartitions=partitions).mapInPandas(
        _exam_batches(mean_q), schema=out_schema
    )


def text_layout(scale: float) -> dict:
    """Slice sizes of the planted text corpus (ids in textgen's own
    numbering): ``mega`` members of the mega cluster, ``clusters``
    planted 5-member clusters, ``background`` unique docs."""
    return {
        "mega": max(8, int(100 * scale)),
        "clusters": max(20, int(300 * scale)),
        "background": max(40, int(1500 * scale)),
    }


def relabel_params(seed: int) -> tuple[int, int]:
    """Seeded affine bijection ``id -> (a*id + b) mod ID_PRIME``."""
    rng = random.Random(0x7E47 ^ seed)
    return rng.randrange(1, ID_PRIME), rng.randrange(0, ID_PRIME)


def original_id(new_id: int, seed: int) -> int:
    a, b = relabel_params(seed)
    return ((new_id - b) * pow(a, -1, ID_PRIME)) % ID_PRIME


def text_corpus(spark: SparkSession, seed: int, layout: dict,
                partitions: int) -> DataFrame:
    """documents(doc_id long, text string): three textgen slices with
    planted structure, doc ids relabeled by the seed's bijection."""
    m, c, bg = layout["mega"], layout["clusters"], layout["background"]
    parts = [
        textgen.dedup_bench_corpus(spark, m, partitions, start=textgen.MEGA - m),
        textgen.dedup_bench_corpus(
            spark, c * textgen.SMALL_SIZE, partitions, start=textgen.SMALL_START
        ),
        textgen.dedup_bench_corpus(spark, bg, partitions, start=textgen.SMALL_END),
    ]
    a, b = relabel_params(seed)
    docs = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return docs.select(
        ((F.col("doc_id") * F.lit(a) + F.lit(b)) % F.lit(ID_PRIME))
        .cast("long").alias("doc_id"),
        "text",
    )


def planted_pairs(layout: dict) -> int:
    """In-cluster pairs of the planted 5-member clusters."""
    s = textgen.SMALL_SIZE
    return layout["clusters"] * s * (s - 1) // 2


def planted_cluster(orig: int) -> int | None:
    """Planted cluster index of an original textgen id, else None."""
    if textgen.SMALL_START <= orig < textgen.SMALL_END:
        return (orig - textgen.SMALL_START) // textgen.SMALL_SIZE
    return None


#: planted questions of the full-size giant document (5 spans each)
GIANT_QUESTIONS = 5_000

GIANT_STEMS = (
    "Which statement applies to this giant document?",
    "Which option names the configured retention policy?",
    "What should the administrator enable first?",
    "Which setting keeps the report refresh incremental?",
)


def giant_questions(seed: int, scale: float) -> int:
    """Planted question count of the seed's giant document."""
    jitter = random.Random(0x61A7 ^ seed).randrange(50)
    return max(50, int(GIANT_QUESTIONS * scale)) + jitter


def _giant_span(seed: int, i):
    """Span ``i`` of the seed's giant document: question anchor, stem,
    two options, answer, five spans per question."""
    q = (i / F.lit(5)).cast("int") + 1
    m = i % 5
    stems = F.array(*[F.lit(s) for s in GIANT_STEMS])
    pick = (q * F.lit(7) + F.lit(seed)) % F.lit(len(GIANT_STEMS))
    text = (
        F.when(m == 0, F.concat(F.lit("Question: "), q.cast("string")))
        .when(m == 1, F.element_at(stems, (pick + 1).cast("int")))
        .when(m == 2, F.lit("A. alpha"))
        .when(m == 3, F.lit("B. beta"))
        .otherwise(F.when((q + F.lit(seed)) % 2 == 0, F.lit("Answer: A"))
                   .otherwise(F.lit("Answer: B")))
    )
    return F.struct(
        F.lit("text").alias("kind"),
        text.alias("text"),
        F.lit("").alias("media_ref"),
        i.cast("int").alias("offset"),
        (q / F.lit(40)).cast("int").alias("page"),
    )


def giant_id(seed: int) -> str:
    return f"giant-{seed:06d}"


def giant_doc(spark: SparkSession, seed: int, n_questions: int) -> DataFrame:
    """documents(doc_id, spans[], n_spans): ONE document of
    ``5 * n_questions`` spans, generated inside one Spark task."""
    n_spans = 5 * n_questions
    ix = F.sequence(F.lit(0), F.lit(n_spans - 1))
    return spark.range(1).select(
        F.lit(giant_id(seed)).alias("doc_id"),
        F.transform(ix, lambda i: _giant_span(seed, i)).alias("spans"),
        F.lit(n_spans).alias("n_spans"),
    )


def giant_span_rows(spark: SparkSession, seed: int, n_questions: int,
                    partitions: int) -> DataFrame:
    """The same document span-grained, one row per span (doc_id, kind,
    text, media_ref, offset, page), generated in parallel."""
    s = _giant_span(seed, F.col("id"))
    return spark.range(0, 5 * n_questions, numPartitions=partitions).select(
        F.lit(giant_id(seed)).alias("doc_id"), s["kind"].alias("kind"),
        s["text"].alias("text"), s["media_ref"].alias("media_ref"),
        s["offset"].alias("offset"), s["page"].alias("page"))
