"""Raw-rescan diagnostics: why did an anchor in the raw text not become
a parsed question?

Reference: the background worker re-scans the WHOLE raw document for
question anchors (/root/reference/parser/background_worker.py:417-435),
anti-joins the detected numbers against structured output (:503-515),
attaches a first-seen page and a diagnosis (:566-593), and folds
sequence gaps over raw ∪ parsed (:517-525) into the validation JSON.

Here the rescan is a native regexp_extract_all over the ORIGINAL span
text (pre-tokenize, pre-noise — the reference scans raw page text), the
anti-join is a left_anti on (doc_id, question_number), and the summary
is one aggregation. No UDFs, two shuffles (rescan groupBy + join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import anchors as A


def raw_scan_questions(documents: DataFrame) -> DataFrame:
    """Per (doc_id, question_number): first page where the anchor text
    appears in the raw span stream (reference keeps the FIRST page seen,
    iterating in document order)."""
    has_page = "page" in documents.schema["spans"].dataType.elementType.names
    s = F.explode("spans").alias("s")
    base = documents.select("doc_id", s).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.offset").alias("offset"),
        (F.col("s.page") if has_page else F.lit(1)).cast("int").alias("page"),
    )
    hits = base.where(
        (F.col("kind") == "text") & F.col("text").rlike(A.J_RAW_QUESTION)
    ).select(
        "doc_id",
        "offset",
        "page",
        F.explode(
            F.regexp_extract_all("text", F.lit(A.J_RAW_QUESTION), 1)
        ).alias("qnum_s"),
    )
    qn = F.when(
        # value-based clamp (leading zeros stripped) — mirrors the
        # engines' min(int(qnum), QNUM_CAP) semantics
        F.length(F.regexp_replace(F.col("qnum_s"), "^0+", "")) > 18,
        F.lit(A.QNUM_CAP),
    ).otherwise(F.col("qnum_s").cast("long"))
    return (
        hits.select("doc_id", qn.alias("question_number"), "offset", "page")
        .groupBy("doc_id", "question_number")
        .agg(
            F.min(F.struct("offset", "page"))["page"].alias("page_detected")
        )
    )


def missing_questions(documents: DataFrame, parsed: DataFrame) -> DataFrame:
    """Raw-detected ∖ parsed, with page + diagnosis
    (background_worker.py:503-515, 566-593)."""
    raw = raw_scan_questions(documents)
    missing = raw.join(
        parsed.select("doc_id", "question_number"),
        ["doc_id", "question_number"],
        "left_anti",
    )
    # same-page sibling count over the raw detections (the reference's
    # _diagnose_missing_question looks at other raw hits on that page)
    sibs = raw.groupBy("doc_id", F.col("page_detected").alias("_pg")).agg(
        F.count("*").alias("_n_on_page")
    )
    out = missing.join(
        sibs,
        (missing.doc_id == sibs.doc_id)
        & (missing.page_detected == sibs._pg),
        "left",
    ).select(
        missing.doc_id,
        "question_number",
        "page_detected",
        (F.coalesce("_n_on_page", F.lit(1)) - 1).alias("same_page_others"),
    )
    generic = (
        "Question anchor detected in raw text but state machine could not "
        "build a complete question structure — likely malformed layout, "
        "split across page boundaries, or header/footer noise"
    )
    sole = "Sole question on page — may have non-standard formatting"
    return out.withColumn(
        "reason",
        F.when(
            F.col("same_page_others") == 0,
            F.lit(sole + "; " + generic),
        ).otherwise(F.lit(generic)),
    )


def rescan_summary(documents: DataFrame, parsed: DataFrame) -> DataFrame:
    """Per-doc summary row (background_worker.py:539-556): raw count,
    parsed count, missing count, sequence gaps over raw ∪ parsed,
    duplicate parsed numbers."""
    raw = raw_scan_questions(documents).select(
        "doc_id", "question_number", F.lit(1).alias("in_raw"),
        F.lit(0).alias("n_parsed"),
    )
    par = parsed.select(
        "doc_id", "question_number", F.lit(0).alias("in_raw"),
        F.lit(1).alias("n_parsed"),
    )
    both = raw.unionByName(par)
    per_num = both.groupBy("doc_id", "question_number").agg(
        F.max("in_raw").alias("in_raw"),
        F.sum("n_parsed").alias("n_parsed"),
    )
    agg = per_num.groupBy("doc_id").agg(
        F.sum("in_raw").cast("int").alias("raw_detected_count"),
        # parsed_count = parsed ENTITY count (duplicates included),
        # background_worker.py:541
        F.sum("n_parsed").cast("int").alias("parsed_count"),
        F.sum(
            ((F.col("in_raw") == 1) & (F.col("n_parsed") == 0)).cast("int")
        ).cast("int").alias("missing_lost_count"),
        F.sum((F.col("n_parsed") > 1).cast("int")).cast("int")
        .alias("duplicate_count"),
        F.min("question_number").alias("_mn"),
        F.max("question_number").alias("_mx"),
        F.collect_set("question_number").alias("_all"),
    )
    sane = (F.col("_mx") - F.col("_mn")) <= 1_000_000
    gaps = F.when(
        sane,
        F.size(F.array_except(F.sequence("_mn", "_mx"), F.col("_all"))),
    ).otherwise(F.lit(0))
    return agg.withColumn(
        "sequence_gap_count", gaps.cast("int")
    ).drop("_mn", "_mx", "_all")
