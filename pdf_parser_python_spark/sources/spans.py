"""Sources for the interleaved-document spans table.

Three ways to obtain ``documents(doc_id, spans[])`` (BASELINE.json
input_hint shape):

1. :func:`load_fixture` — the reference's own golden snapshot dirs
   (``*_raw_blocks.json``, serialized ContentBlocks,
   /root/reference/parser/engine.py:278-286) → one-row spans table;
2. :func:`exam_spans_from_documents` — derive a deterministic exam-dump
   style spans corpus from the driver-provided ``documents.parquet``
   (doc_id, text, ...) using only native Column functions — this is the
   canonical test/bench input (no external data, reproducible);
3. :func:`synthetic_corpus` — distributed seeded generator with fault
   injection + a giant-doc skew tail, for differential tests against
   the live reference FSM and for scale benchmarks.
"""

from __future__ import annotations

import json
import os
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schema
from ..zipcache import drop_zip_finders


# ── 1. reference fixture loader ──────────────────────────────────────────

def load_fixture_blocks(fixture_dir: str) -> tuple[str, list[dict]]:
    """Read a reference snapshot dir's ``*_raw_blocks.json``."""
    raw = [f for f in os.listdir(fixture_dir) if f.endswith("_raw_blocks.json")]
    if not raw:
        raise FileNotFoundError(f"no *_raw_blocks.json under {fixture_dir}")
    doc_id = raw[0][: -len("_raw_blocks.json")]
    with open(os.path.join(fixture_dir, raw[0])) as fh:
        return doc_id, json.load(fh)


def load_fixture(spark: SparkSession, fixture_dir: str) -> DataFrame:
    """One reference snapshot dir → one-row DOCUMENT_SPANS_EXT table."""
    doc_id, blocks = load_fixture_blocks(fixture_dir)
    spans = [
        {
            "kind": b["type"],
            "text": b["content"] if b["type"] == "text" else "",
            "media_ref": b["content"] if b["type"] == "image" else "",
            "offset": int(b["order_index"]),
            "page": int(b.get("page_number") or 1),
        }
        for b in blocks
    ]
    return spark.createDataFrame(
        [(doc_id, spans)], schema=schema.DOCUMENT_SPANS_EXT
    )


# ── 2. native derivation from testdata documents.parquet ────────────────

#: bump when the synthesis expression OR the cache's file layout
#: changes — cached derivations (/tmp parquet materializations) are
#: keyed on it. v4 (r8): same rows, written as ~2×cores files instead
#: of one so the packed-kernel scan parallelizes (guide §6).
EXAM_SPANS_VERSION = 4


def exam_spans_from_documents(docs: DataFrame, questions_per_doc: int = 8) -> DataFrame:
    """Deterministically re-shape ``documents(doc_id,text,...)`` into the
    input_hint spans table, entirely with native Column expressions.

    Each source document becomes one exam-dump style PDF document:
    header noise, a cover code line, then ``questions_per_doc``
    questions whose bodies/options/explanations are substrings of the
    source text, with images interleaved on a deterministic schedule.
    Pure function of (doc_id, text) — no rand(), no UDF.
    """
    q = questions_per_doc
    txt = F.coalesce(F.col("text"), F.lit("")).cast("string")
    # pad so substring windows are always non-empty
    padded = F.rpad(txt, 64 * (q + 2), "lorem ipsum dolor sit amet ")
    did = F.col("doc_id").cast("string")
    # md5-derived doc number: reproducible in DuckDB for the oracle SQL
    # (('0x'||substr(md5(doc_id),1,6))::INT % 99991); 6 hex digits keep
    # conv()'s string result inside int range in both engines
    dnum = (
        F.conv(F.substring(F.md5(did), 1, 6), 16, 10).cast("int") % 99991
    )

    def chunk(i, ln):  # substring window i of width ln
        return F.trim(F.substring(padded, (i % 40) * 13 + 1, ln))

    def t(text_col):  # text span (offset filled later)
        return F.struct(
            F.lit("text").alias("kind"),
            text_col.alias("text"),
            F.lit("").alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    def img(ref):  # image span
        return F.struct(
            F.lit("image").alias("kind"),
            F.lit("").alias("text"),
            ref.alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    def one_question(n):  # n: 1-based question index Column
        letter = F.element_at(
            F.array(F.lit("A"), F.lit("B"), F.lit("C"), F.lit("D")),
            ((dnum + n) % 4) + 1,
        )
        has_img = ((dnum + n) % 3) == 0
        img_ref = F.concat(F.lit("img://"), did, F.lit("/"), n.cast("string"))
        return F.concat(
            F.array(
                t(F.concat(F.lit("Question: "), n.cast("string"))),
                t(chunk(n, 160)),
                t(F.concat(F.lit("A. "), chunk(n + 1, 40))),
                t(F.concat(F.lit("B. "), chunk(n + 2, 40))),
                t(F.concat(F.lit("C. "), chunk(n + 3, 40))),
                t(F.concat(F.lit("D. "), chunk(n + 4, 40))),
            ),
            F.when(has_img, F.array(img(img_ref))).otherwise(
                F.array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")
            ),
            F.array(
                t(F.concat(F.lit("Answer: "), letter)),
                t(F.concat(F.lit("Explanation: "), chunk(n + 5, 120))),
            ),
        )

    body = F.flatten(F.transform(F.sequence(F.lit(1), F.lit(q)), one_question))
    header = F.array(
        t(F.concat(F.lit("Questions and Answers PDF\n1/"), F.lit(q).cast("string"))),
        t(F.concat(F.lit("EXAM-"), did)),  # cover-code noise line
        t(F.lit("https://example-dumps.invalid/set")),  # lone-URL noise
    )
    spans = F.concat(header, body)
    spans = F.transform(
        spans,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    # n_spans: scalar doc-size column so consumers (the giant-document
    # dispatch probe, pipeline._doc_size) can filter on parquet
    # row-group min/max stats without reading the spans column
    return docs.select(
        did.alias("doc_id"),
        spans.alias("spans"),
        F.size(spans).alias("n_spans"),
    )


# ── 3. distributed seeded generator (differential / skew testing) ───────

GRAMMAR_VERSION = 2


def generate_doc_spans(doc_index: int, mean_questions: int = 12,
                       giant_every: int = 0) -> list[dict]:
    """Deterministic per-document span list in the Dumpsgate grammar,
    with fault injection (FIXTURES.md §5). Pure function of doc_index."""
    rng = random.Random(0xD0C5EED ^ (doc_index * 2654435761 % 2**32))
    nq = max(1, int(rng.gauss(mean_questions, mean_questions / 4)))
    if giant_every and doc_index % giant_every == giant_every - 1:
        nq *= 100  # skew tail
    spans: list[dict] = []
    page = 1

    def text(s: str) -> None:
        spans.append({"kind": "text", "text": s, "media_ref": "",
                      "offset": len(spans), "page": page})

    def image(ref: str) -> None:
        spans.append({"kind": "image", "text": "", "media_ref": ref,
                      "offset": len(spans), "page": page})

    # cover page
    text("Questions and Answers PDF\n1/999")
    text(f"Thank you for choosing us for your EXAM-{doc_index} preparation!")
    text(f"SYN-{doc_index % 97}")
    text(str(1000 + doc_index % 9000))
    text("https://dumpsgate.com/syn")

    qnum = 0
    for k in range(nq):
        page += rng.random() < 0.4
        qnum += 1
        if rng.random() < 0.05:
            qnum += 1  # gap
        use_num = qnum - 1 if (rng.random() < 0.04 and qnum > 1) else qnum  # duplicate
        hotspot = rng.random() < 0.06
        if rng.random() < 0.03:
            text(f"Question {use_num}")  # solo artifact — must be ignored
        colon = ":" if rng.random() < 0.9 else ""
        inline = f" What about resource {rng.randrange(100)}?" if rng.random() < 0.3 else ""
        # unicode-whitespace torture: NBSP/tab/CR edges like real PDFs
        pad = rng.choice(["", "\t", " ", "   "]) if rng.random() < 0.15 else ""
        text(f"{pad}Question{colon} {use_num}{inline}{pad}\r" if pad else
             f"Question{colon} {use_num}{inline}")
        if not colon and not inline:
            # "Question N" alone would be a solo artifact; add body line
            text(f"Body for {use_num} synthesized clause {rng.randrange(1000)}.")
        if hotspot:
            text("HOTSPOT")
        for _ in range(rng.randrange(1, 4)):
            text(f"Scenario sentence {rng.randrange(10_000)} with details about "
                 f"service {rng.randrange(500)} and constraint {rng.randrange(50)}.")
        if rng.random() < 0.15:
            text("12/999")  # mid-doc page-counter noise
        n_opt = 0 if hotspot and rng.random() < 0.7 else rng.randrange(2, 7)
        keys = [chr(65 + i) for i in range(n_opt)]
        for key in keys:
            sep = rng.choice([". ", ") ", ": ", " - "])
            fmt = rng.choice(["{k}{s}{t}", "({k}) {t}"])
            text(fmt.format(k=key, s=sep, t=f"option body {rng.randrange(10_000)}"))
            if rng.random() < 0.08:
                image(f"img://syn/{doc_index}/{k}/{len(spans)}")
        if rng.random() < 0.1:
            image(f"img://syn/{doc_index}/q{len(spans)}")
        missing_answer = rng.random() < 0.07 and not hotspot
        if not missing_answer and not (hotspot and n_opt == 0):
            if keys and rng.random() < 0.8:
                n_ans = rng.randrange(1, min(3, len(keys)) + 1)
                chosen = sorted(rng.sample(keys, n_ans))
                form = rng.choice([", ".join(chosen), ",".join(chosen), "".join(chosen)])
            else:
                form = rng.choice(["B", "AC", "A, D"])
            prefix = rng.choice(["Answer:", "Answer", "Ans:", "Correct Answer:"])
            text(f"{prefix} {form}")
            if rng.random() < 0.1:
                image(f"img://syn/{doc_index}/ans{len(spans)}")
        if rng.random() < 0.75:
            word = rng.choice(["Explanation:", "Reference:", "Solution:", "Rationale:"])
            text(f"{word} rationale text {rng.randrange(10_000)}.")
            if rng.random() < 0.3:
                text(f"Continued rationale {rng.randrange(10_000)}.")
            if rng.random() < 0.08:
                image(f"img://syn/{doc_index}/exp{len(spans)}")
        if rng.random() < 0.1:
            text("https://dumpsgate.com/page")  # footer noise
    return spans


def synthetic_corpus(spark: SparkSession, n_docs: int,
                     mean_questions: int = 12, giant_every: int = 0,
                     partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: ``spark.range`` + mapInPandas.

    Each task generates its own documents from the per-doc seed, so the
    result is identical regardless of partitioning (safe for the
    two-parallelism scaling benchmark).
    """
    base = spark.range(0, n_docs, numPartitions=partitions or spark.sparkContext.defaultParallelism)
    mq, ge = mean_questions, giant_every

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for b in batches:
            rows = [
                (f"syn-{int(i):08d}", generate_doc_spans(int(i), mq, ge))
                for i in b["id"]
            ]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return base.mapInPandas(gen, schema=schema.DOCUMENT_SPANS_EXT)
