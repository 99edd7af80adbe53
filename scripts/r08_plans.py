#!/usr/bin/env python3
"""Capture .explain("formatted") for round-8 optimization targets.

Usage: python scripts/r08_plans.py before|after [name ...]

Writes plans/r08/<name>_<tag>.txt for each target. Declared queries
come from __spark_entry__.queries(); bench-shape operators (the family
walls timed by bench.py over the /tmp corpora) are built here with the
exact bench arguments so the plan matches what the bench times.
"""
from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2:])

SF = os.environ.get("R08_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(REPO, "plans", "r08")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("r08-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    entry._ensure_shipped(spark)
    q = entry.queries()

    targets: dict[str, object] = {}

    # — declared headline queries —
    for name in (
        "extract_questions", "extract_flat_spans", "extract_validation",
        "a1_duplicates", "a3_conditional", "j1_join_revenue", "j3_anti",
        "w8_ordered_flatten", "w9_topk", "dedup_exact", "text_stats",
        "sim_topk",
    ):
        targets[name] = lambda n=name: q[n](spark, SF)

    # — declared dedup/ANN queries (oracled; internals may change) —
    for name in (
        "dedup_minhash", "dedup_simhash", "dedup_simhash_vec",
        "dedup_clusters", "dedup_embedding", "dedup_embedding_vec",
        "dedup_jaccard",
    ):
        targets[name] = lambda n=name: q[n](spark, SF)

    # — bench family shapes (the exact forms bench.py times) —
    def bench_minhash_pairs():
        from pdf_parser_python_spark.operators import dedup

        docs = spark.read.parquet("/tmp/bench_dedup_docs_1000000.parquet")
        return dedup.minhash_lsh_pairs(docs)

    def bench_simhash_vec():
        from pdf_parser_python_spark.operators import dedup

        docs = spark.read.parquet("/tmp/bench_dedup_docs_1000000.parquet")
        return dedup.simhash_near_dups(docs, vectorized=True)

    def bench_embedding_vec():
        from pdf_parser_python_spark.operators import dedup

        emb = spark.read.parquet("/tmp/bench_dedup_emb_1000000.parquet")
        return dedup.embedding_near_dups(
            emb, threshold=0.99, id_col="vec_id", vec_col="embedding",
            vectorized=True,
        )

    def bench_minhash_clusters():
        from pdf_parser_python_spark.operators import dedup

        docs = spark.read.parquet("/tmp/bench_dedup_docs_1000000.parquet")
        return dedup.minhash_dedup_clusters(docs)

    # the signature STAGE plan (the pairs/clusters plans root at the
    # localCheckpoint, so the signature pipeline — where the r8 Arrow
    # kernel vs HOF fold difference lives — is invisible there);
    # "before" captures the HOF fold: the kernel entry is swapped for
    # dedup._minhash_sig_hof
    def bench_minhash_sig():
        from pdf_parser_python_spark.functions.hashing import xx64_combine
        from pdf_parser_python_spark.operators import dedup

        if TAG == "before":
            dedup._minhash_sig_arrow = (
                lambda d, k, shingle_k:
                dedup._minhash_sig_hof(d, k, shingle_k, xx64_combine))
        docs = spark.read.parquet("/tmp/bench_dedup_docs_1000000.parquet")
        return dedup.minhash_signatures(docs)

    def bench_simhash_sig():
        from pdf_parser_python_spark.functions.hashing import xx64
        from pdf_parser_python_spark.operators import dedup

        docs = spark.read.parquet("/tmp/bench_dedup_docs_1000000.parquet")
        if TAG == "before":
            return dedup._simhash_sig_hof(docs, "text", xx64)
        return dedup._simhash_sig_arrow(docs, "text")

    targets["bench_minhash_sig"] = bench_minhash_sig
    targets["bench_simhash_sig"] = bench_simhash_sig
    targets["bench_minhash_pairs"] = bench_minhash_pairs
    targets["bench_simhash_vec"] = bench_simhash_vec
    targets["bench_embedding_vec"] = bench_embedding_vec
    targets["bench_minhash_clusters"] = bench_minhash_clusters

    os.makedirs(OUT, exist_ok=True)
    for name, fn in targets.items():
        if ONLY and name not in ONLY:
            continue
        try:
            df = fn()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            plan = f"ERROR building plan: {type(exc).__name__}: {exc}"
        path = os.path.join(OUT, f"{name}_{TAG}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
