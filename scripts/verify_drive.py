#!/usr/bin/env python3
"""End-to-end drive of the engine per .claude/skills/verify: golden
fixture, hand-written anchor doc, degenerate-input probes, plan check,
driver-contract smoke. Run: PYTHONPATH=/root/repo python3 scripts/verify_drive.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pdf_parser_python_spark import schema
    from pdf_parser_python_spark.functions import anchors as A
    from pdf_parser_python_spark.plans import pipeline
    from pdf_parser_python_spark.sources import spans as sources

    # 1. golden fixture through the full pipeline
    docs = sources.load_fixture(spark, "/root/reference/test_soa_v5_final")
    flat = pipeline.extract_flat_spans(docs).collect()
    imgs = sorted({r.question_number for r in flat if r.kind == "image"})
    assert len(flat) == 55 and imgs == [13, 16, 17], (len(flat), imgs)
    print("1. fixture: 55 flat spans, image questions [13,16,17]  OK")

    # 2. hand-written doc hitting every anchor class
    doc = [("d1", [
        {"kind": "text", "text": "Question 7", "media_ref": "", "offset": 0, "page": 1},
        {"kind": "text", "text": "Question: 1 What is X?", "media_ref": "", "offset": 1, "page": 1},
        {"kind": "text", "text": "HOTSPOT", "media_ref": "", "offset": 2, "page": 1},
        {"kind": "text", "text": "A. first", "media_ref": "", "offset": 3, "page": 1},
        {"kind": "image", "text": "", "media_ref": "img://a", "offset": 4, "page": 1},
        {"kind": "text", "text": "Answer: A", "media_ref": "", "offset": 5, "page": 2},
        {"kind": "text", "text": "Explanation: because", "media_ref": "", "offset": 6, "page": 2},
        {"kind": "text", "text": "Question: 3000000000 big", "media_ref": "", "offset": 7, "page": 2},
        {"kind": "text", "text": "Answer: B", "media_ref": "", "offset": 8, "page": 2},
    ])]
    d = spark.createDataFrame(doc, schema=schema.DOCUMENT_SPANS_EXT)
    qs = pipeline.extract_questions(d).orderBy("seq").collect()
    assert qs[0].question_number == 1 and qs[0].question_type == "hotspot"
    assert qs[1].question_number == 3000000000
    print("2. hand doc: hotspot + int64 question number  OK")

    # 3. degenerate-input probes
    empty = spark.createDataFrame([("e", [])], schema=schema.DOCUMENT_SPANS_EXT)
    assert pipeline.extract_questions(empty).count() == 0
    noanchor = spark.createDataFrame(
        [("n", [{"kind": "text", "text": "hello", "media_ref": "", "offset": 0,
                 "page": 1}])], schema=schema.DOCUMENT_SPANS_EXT)
    assert pipeline.extract_questions(noanchor).count() == 0
    pageless = spark.createDataFrame(
        [("p", [{"kind": "text", "text": "Question: 2 t", "media_ref": "",
                 "offset": 0}])], schema=schema.DOCUMENT_SPANS)
    assert pipeline.extract_questions(pageless).first().page_start == 1
    print("3. probes: empty / anchorless / pageless  OK")

    # 4. plan checks
    plan = pipeline.extract_questions(d)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("MapInArrow") == 1 and "Exchange" not in plan
    print("4. plan: 1 vectorized kernel, no Exchange  OK")
    assert A.QNUM_CAP == 10**18 - 1

    # 5. driver contract smoke
    import __spark_entry__ as entry

    df = entry.entry(spark)
    n = df.count()
    assert n > 0 and len(df.schema.fields) == 9
    print(f"5. entry(): {n} rows, stable 9-col schema  OK")
    spark.stop()
    print("VERIFY OK")


if __name__ == "__main__":
    main()
