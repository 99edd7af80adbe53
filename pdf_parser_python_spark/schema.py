"""Fixed StructType schemas used end-to-end.

The reference validates shapes with pydantic models
(/root/reference/parser/models.py); here the same contracts are Spark
schemas so every stage is Arrow/Catalyst-typed with no Python objects
on the hot path.

This module is the single declaration of every kernel output: the
vectorized kernel (operators/vkernel.py) derives each Arrow schema it
emits from these types, and the pandas kernel (operators/dkernel.py)
names its columns by them.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ── input side ────────────────────────────────────────────────────────────

#: One interleaved content span (reference ContentBlock, models.py:67-90,
#: minus layout fields which are never structure-driving).
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),  # "text" | "image"
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

#: The BASELINE.json input_hint table: one row per document.
DOCUMENT_SPANS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN), False),
    ]
)

#: Extended span used by tests/raw extraction — adds page metadata
#: (reference ContentBlock.page_number). ``page`` defaults to 1 when the
#: source table has no layout info.
SPAN_EXT = T.StructType(
    SPAN.fields + [T.StructField("page", T.IntegerType(), True)]
)

DOCUMENT_SPANS_EXT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_EXT), False),
    ]
)

# ── exploded, line-level working schema ──────────────────────────────────

#: After explode(spans) + line tokenization: one row per text LINE or per
#: image. ``line_no`` preserves intra-block order (reference splits block
#: content on '\n': state_machine.py:193-198).
LINE = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("line_no", T.IntegerType(), False),
        T.StructField("page", T.IntegerType(), True),
    ]
)

# ── parsed question (kernel output, pre-finalize) ────────────────────────

OPTION = T.StructType(
    [
        T.StructField("key", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("is_correct", T.BooleanType(), False),
        T.StructField("images", T.ArrayType(T.StringType()), False),
    ]
)

#: Raw parsed question emitted by the native segmentation stage
#: (pipeline.parse_raw) — before the native finalize stage (ghost-option
#: filter, explanation scrub, answer marking, anomaly stamping). Mirrors
#: reference ParsedQuestion (models.py:135-191) minus computed fields.
QUESTION_RAW = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),  # order within doc
        # LongType: the reference parses the anchor's \d+ as an
        # unbounded Python int (no upper bound in any fixture); int32
        # overflowed at the Arrow boundary on e.g. "Question: 3000000000".
        # Kernels clamp >18-digit numbers to QNUM_CAP so the job can
        # never fail on pathological input (north rule: never-fail).
        T.StructField("question_number", T.LongType(), False),
        T.StructField("question_type", T.StringType(), False),  # mcq|hotspot
        T.StructField("question_text", T.StringType(), False),
        T.StructField("question_images", T.ArrayType(T.StringType()), False),
        T.StructField("options", T.ArrayType(OPTION), False),
        T.StructField("answer_text", T.StringType(), False),
        T.StructField("answer_images", T.ArrayType(T.StringType()), False),
        T.StructField("explanation_text", T.StringType(), False),
        T.StructField("explanation_images", T.ArrayType(T.StringType()), False),
        T.StructField("page_start", T.IntegerType(), False),
        T.StructField("page_end", T.IntegerType(), False),
    ]
)

ANOMALY = T.StructType(
    [
        T.StructField("type", T.StringType(), False),
        T.StructField("severity", T.IntegerType(), False),
        T.StructField("message", T.StringType(), False),
        # reference Anomaly.context (models.py:118): free-form dict —
        # e.g. orphan_image carries {"section": "question"}
        # (state_machine.py:408-413)
        T.StructField(
            "context", T.MapType(T.StringType(), T.StringType()), True
        ),
    ]
)

#: Finalized question entity — finalize_questions() output (and the
#: fused packed kernels'): QUESTION_RAW plus the anomaly list and
#: computed fields (reference models.py:162-191).
QUESTION_FINAL = T.StructType(
    QUESTION_RAW.fields
    + [
        T.StructField("anomalies", T.ArrayType(ANOMALY), False),
        T.StructField("anomaly_score", T.IntegerType(), False),
        T.StructField("has_question_text", T.BooleanType(), False),
        T.StructField("has_answer", T.BooleanType(), False),
        T.StructField("has_explanation", T.BooleanType(), False),
        T.StructField("image_count", T.IntegerType(), False),
    ]
)

#: Canonical flattened output span (the correctness contract, §1.4 of
#: SURVEY.md; reference crud.py:633-726 `_question_to_blocks`) plus the
#: within-doc question seq: the flat_spans() output row and the schema
#: of both fused packed→flat kernels.
FLAT_SPAN_SEQ = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("question_number", T.LongType(), False),
        T.StructField("section", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)

#: Bucket-commit batch (operators/vkernel.py parse_docs_commit_arrow):
#: both committed outputs of ONE parse in one union shape. ``output``
#: is the partition a row is written to ("questions" or "flat_spans");
#: every column the row's output lacks is null.
EXTRACTION_COMMIT = T.StructType(
    [T.StructField(f.name, f.dataType, True) for f in QUESTION_FINAL.fields]
    + [
        T.StructField(f.name, f.dataType, True)
        for f in FLAT_SPAN_SEQ.fields
        if f.name not in QUESTION_FINAL.names
    ]
    + [T.StructField("output", T.StringType(), False)]
)

#: Per-document reassembled text (exam_reassemble / the e2e pipeline's
#: stage-1 boundary) — output of the vectorized kernel's
#: doc_text_arrow (operators/vkernel.py): text-kind flat spans joined
#: in (seq, order) sequence, aggregated inside the kernel (zero
#: Exchange).
DOC_TEXT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("n_text_spans", T.LongType(), False),
    ]
)

#: Scalar projection of QUESTION_FINAL (the flagship-query columns) —
#: output of the vectorized kernel's question_scalars_arrow
#: (operators/vkernel.py), which skips nested options/images/anomalies.
QUESTION_SCALARS = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("seq", T.IntegerType(), False),
        T.StructField("question_number", T.LongType(), False),
        T.StructField("question_type", T.StringType(), False),
        T.StructField("question_text", T.StringType(), False),
        T.StructField("answer_text", T.StringType(), False),
        T.StructField("anomaly_score", T.IntegerType(), False),
    ]
)

#: Per-document ValidationReport (reference validator.py:39-158) — the
#: output of operators/validate.validation_report AND of the fused
#: packed kernel's validate_docs (dkernel), which computes it in the
#: same pass as the parse so validation never re-runs the FSM.
VALIDATION_REPORT = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("total_questions_detected", T.IntegerType(), False),
        T.StructField("structured_successfully", T.IntegerType(), False),
        T.StructField(
            "questions_missing_answer", T.ArrayType(T.LongType()), False
        ),
        T.StructField(
            "questions_missing_explanation", T.ArrayType(T.LongType()), False
        ),
        T.StructField(
            "failed_to_structure", T.ArrayType(T.LongType()), False
        ),
        T.StructField("orphan_images", T.IntegerType(), False),
        T.StructField(
            "missing_question_numbers", T.ArrayType(T.LongType()), True
        ),
        T.StructField("gap_list_suppressed", T.BooleanType(), False),
        T.StructField(
            "duplicate_question_numbers", T.ArrayType(T.LongType()), False
        ),
        T.StructField(
            "anomaly_breakdown",
            T.MapType(T.StringType(), T.IntegerType()),
            False,
        ),
        T.StructField("success_rate", T.DoubleType(), False),
    ]
)
