"""ParseResult envelope metadata — the exam-level record the reference
wraps around every parse run.

Reference: ``ExamMetadata`` + ``ParseVersion``
(/root/reference/parser/models.py:196-215, engine.py:227-257):
sanitized exam id, SHA-256 source hash, source size, parser version,
raw block count, structured question count. Differences, deliberate:

- the source hash is over a CANONICAL serialization of the span array
  (kind/text/media_ref joined with unit separators, in offset order)
  instead of PDF file bytes — the spans table IS the source here, and
  the hash stays stable across storage layouts;
- ``parse_timestamp`` is an explicit parameter (nullable), not
  ``datetime.now()`` — wall-clock output is banned for determinism
  (engines must agree across retries/partitionings); a real deployment
  passes the job submission time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dkernel import SPANS_BY_OFFSET

PARSER_VERSION = "1.0.0"  # reference models.py:210

#: canonical span serialization separators (unit / record)
_US, _RS = "\x1f", "\x1e"


def canonical_source(documents: DataFrame):
    """sha256 + byte size of the offset-ordered span serialization."""
    spans = F.expr(SPANS_BY_OFFSET)
    canon = F.array_join(
        F.transform(
            spans,
            lambda s: F.concat_ws(
                _US,
                s["kind"],
                F.coalesce(s["text"], F.lit("")),
                F.coalesce(s["media_ref"], F.lit("")),
            ),
        ),
        _RS,
    )
    return F.sha2(canon, 256), F.octet_length(canon)


def exam_envelope(
    documents: DataFrame,
    questions: DataFrame,
    parse_timestamp: str | None = None,
) -> DataFrame:
    """One envelope row per document."""
    sha, size = canonical_source(documents)
    base = documents.select(
        F.col("doc_id"),
        # engine.py:249-257 id sanitization: alnum or -_ else _, max 50
        F.substring(
            F.regexp_replace(F.col("doc_id"), "[^A-Za-z0-9_-]", "_"), 1, 50
        ).alias("exam_id"),
        sha.alias("source_sha256"),
        size.cast("bigint").alias("source_bytes"),
        F.size("spans").cast("int").alias("raw_block_count"),
    )
    structured = questions.groupBy("doc_id").agg(
        F.sum(
            (
                (F.trim("question_text") != "") & (F.trim("answer_text") != "")
            ).cast("int")
        ).cast("int").alias("structured_question_count")
    )
    out = base.join(structured, "doc_id", "left").fillna(
        {"structured_question_count": 0}
    )
    return out.select(
        "doc_id", "exam_id", "source_sha256", "source_bytes",
        "raw_block_count", "structured_question_count",
        F.lit(PARSER_VERSION).alias("parser_version"),
        F.lit(parse_timestamp).cast("string").alias("parse_timestamp"),
    )
