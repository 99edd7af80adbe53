"""Post-parse validation — reference ValidationEngine re-expressed as
native aggregations (/root/reference/parser/validator.py:39-158).

One output row per document (the per-exam ValidationReport), built
from three relational passes over the finalized question table:

- A1 duplicate numbers: groupBy(doc, qnum).count > 1;
- J4 gaps: array_except(sequence(min, max), collect_set(qnum));
- A3 conditional lists/counts in question order (seq-sorted collect).

All pure Column API — one shuffle per pass on doc_id, map-side
partial aggregation throughout; no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ordered_qnums(cond) -> F.Column:
    """Question numbers satisfying ``cond`` in question (seq) order."""
    return F.transform(
        F.filter(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("seq").alias("seq"),
                        F.when(cond, F.col("question_number")).alias("q"),
                    )
                )
            ),
            lambda x: x["q"].isNotNull(),
        ),
        lambda x: x["q"],
    )


def validation_report(questions: DataFrame) -> DataFrame:
    """Finalized questions → one ValidationReport row per doc_id."""
    has_q = F.col("has_question_text")
    has_a = F.col("has_answer")
    has_e = F.col("has_explanation")
    structured = has_q & has_a

    base = questions.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("total_questions_detected"),
        F.sum(structured.cast("int")).cast("int").alias("structured_successfully"),
        _ordered_qnums(~has_a).alias("questions_missing_answer"),
        _ordered_qnums(~has_e).alias("questions_missing_explanation"),
        _ordered_qnums(~structured).alias("failed_to_structure"),
        F.sum(
            F.exists("anomalies", lambda a: a["type"] == "orphan_image").cast("int")
        ).cast("int").alias("orphan_images"),
        F.min("question_number").alias("_mn"),
        F.max("question_number").alias("_mx"),
        F.collect_set("question_number").alias("_actual"),
        F.collect_list("question_number").alias("_all_nums"),
        F.flatten(F.collect_list(F.transform("anomalies", lambda a: a["type"])))
        .alias("_anomaly_types"),
    )

    # gaps in the detected number sequence (validator.py:69-75).
    # Range guard: a garbage anchor like "Question: 999999999999" would
    # make sequence() allocate the whole range and kill the job (the
    # reference's set(range(mn, mx+1)) would OOM identically); docs
    # whose detected range exceeds 1e6 report no gap list instead of
    # failing — never-fail beats faithful-crash here.
    sane = (F.col("_mx") - F.col("_mn")) <= 1_000_000
    base = base.withColumn(
        "missing_question_numbers",
        F.when(
            sane,
            F.array_sort(
                F.array_except(F.sequence("_mn", "_mx"), F.col("_actual"))
            ),
        )
        # suppressed ranges report NULL, not [] — an empty array would
        # be indistinguishable from a genuinely gap-free document
        .otherwise(F.lit(None))
        .cast("array<bigint>"),
    ).withColumn("gap_list_suppressed", ~sane)

    # duplicates (validator.py:61-67): numbers appearing more than once.
    # Derived from the already-collected per-doc number list instead of
    # a second groupBy + join — saves two shuffles and a join at scale
    # (the list is per-document, at most a few thousand entries).
    out = base.withColumn(
        "duplicate_question_numbers",
        F.array_sort(
            F.array_distinct(
                F.filter(
                    "_all_nums",
                    lambda q: F.size(
                        F.filter("_all_nums", lambda x: x == q)
                    )
                    > 1,
                )
            )
        ),
    )

    # anomaly_breakdown: map type → count (validator.py:102-105)
    out = out.withColumn(
        "anomaly_breakdown",
        F.map_from_entries(
            F.transform(
                F.array_sort(F.array_distinct("_anomaly_types")),
                lambda t: F.struct(
                    t.alias("type"),
                    F.size(F.filter("_anomaly_types", lambda x: x == t)).alias(
                        "count"
                    ),
                ),
            )
        ),
    )

    out = out.withColumn(
        "success_rate",
        F.when(
            F.col("total_questions_detected") > 0,
            F.round(
                F.col("structured_successfully")
                / F.col("total_questions_detected")
                * 100,
                2,
            ),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop("_mn", "_mx", "_actual", "_all_nums", "_anomaly_types")


def page_metrics(lines: DataFrame) -> DataFrame:
    """A9: per-(doc, page) block counts — the reference logs blocks and
    questions per page at each checkpoint (background_worker.py:209-232);
    here it's one map-side-combining aggregation over tokenized lines."""
    return lines.groupBy("doc_id", "page").agg(
        F.count("*").alias("n_blocks"),
        F.sum((F.col("kind") == "image").cast("int")).alias("n_images"),
        F.sum((F.col("kind") == "text").cast("int")).alias("n_text_lines"),
    )

