"""Native question-finalization stage (no Python on this path).

Everything the reference does in ``_finalize_question`` /
``_mark_correct_options`` (/root/reference/parser/state_machine.py:368-459)
is a pure function of the raw question row, so it runs as Catalyst
Column expressions (higher-order array functions), keeping the work
inside whole-stage codegen. This is the ``native`` engine's finalize;
the packed kernels fuse a row-equal twin into their pass
(vkernel, dkernel._finalize_row):

- F8 ghost-option filter (:373-377) → ``filter()`` HOF;
- F9 explanation boilerplate scrub (:379-384) → ``regexp_like`` + when;
- J5 correct-option marking (:418-459) → regexp_extract_all +
  array_intersect + transform;
- anomaly stamping (:386-414) → conditional array concat;
- computed fields anomaly_score / has_* / image_count
  (models.py:162-191) → aggregate()/size() expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import anchors as A


def _is_noise(col: Column) -> Column:
    return col.rlike(A.J_NOISE_CI) | col.rlike(A.J_NOISE_CS)


def _answer_keys(answer: Column) -> Column:
    """Extract answer letters per the reference's two strategies
    (state_machine.py:437-452): comma-split with word-bounded single
    letters per part, else every uppercase letter."""
    up = F.upper(F.trim(answer))
    comma = F.flatten(
        F.transform(
            F.split(up, ","),
            lambda p: F.regexp_extract_all(p, F.lit(A.ANSWER_LETTER), 1),
        )
    )
    plain = F.regexp_extract_all(up, F.lit(A.LETTER), 1)
    return F.array_distinct(F.when(up.contains(","), comma).otherwise(plain))


def finalize_questions(raw: DataFrame) -> DataFrame:
    """Raw kernel rows → finalized questions with anomalies.

    Input schema: schema.QUESTION_RAW. Output (schema.QUESTION_FINAL)
    adds ``anomalies``, ``anomaly_score``,
    ``has_question_text/answer/explanation`` and ``image_count``.
    """
    # F8: drop options with no text and no images
    df = raw.withColumn(
        "options",
        F.filter(
            "options",
            lambda o: (F.trim(o["text"]) != "") | (F.size(o["images"]) > 0),
        ),
    )

    # F9: explanation that is pure boilerplate is blanked
    df = df.withColumn(
        "explanation_text",
        F.when(_is_noise(F.trim("explanation_text")), F.lit("")).otherwise(
            F.col("explanation_text")
        ),
    )

    has_qtext = F.trim("question_text") != ""
    has_answer = F.trim("answer_text") != ""
    is_hotspot = F.col("question_type") == "hotspot"

    # J5: mark correct options (skipped for hotspot / missing answer,
    # state_machine.py:396-405)
    keys = _answer_keys(F.col("answer_text"))
    valid = F.transform("options", lambda o: F.upper(o["key"]))
    final_keys = F.when(F.size("options") > 0, F.array_intersect(keys, valid)).otherwise(
        keys
    )
    df = df.withColumn(
        "options",
        F.when(
            is_hotspot | ~has_answer,
            F.col("options"),
        ).otherwise(
            F.transform(
                "options",
                lambda o: F.struct(
                    o["key"].alias("key"),
                    o["text"].alias("text"),
                    F.array_contains(final_keys, F.upper(o["key"])).alias(
                        "is_correct"
                    ),
                    o["images"].alias("images"),
                ),
            )
        ),
    )

    # anomaly stamping, in the reference's emit order (:386-414);
    # context map per models.py:118 (only orphan_image carries one,
    # {"section": "question"} — state_machine.py:408-413)
    _ANOM_T = (
        "array<struct<type:string,severity:int,message:string,"
        "context:map<string,string>>>"
    )

    def anomaly(typ: str, sev: int, msg: str, ctx: Column | None = None) -> Column:
        return F.struct(
            F.lit(typ).alias("type"),
            F.lit(sev).alias("severity"),
            F.lit(msg).alias("message"),
            (
                ctx if ctx is not None
                else F.lit(None).cast("map<string,string>")
            ).alias("context"),
        )

    anomalies = F.concat(
        F.when(~has_qtext, F.array(anomaly(
            "missing_question_text", 80, "Question has no text content"
        ))).otherwise(F.array().cast(_ANOM_T)),
        F.when(~is_hotspot & ~has_answer, F.array(anomaly(
            "missing_answer", 60, "Question has no answer section"
        ))).otherwise(F.array().cast(_ANOM_T)),
        F.when(~has_qtext & (F.size("question_images") > 0), F.array(anomaly(
            "orphan_image", 30, "Question body contains only images",
            F.create_map(F.lit("section"), F.lit("question")),
        ))).otherwise(F.array().cast(_ANOM_T)),
    )
    df = df.withColumn("anomalies", anomalies)

    # computed fields (models.py:162-191)
    df = (
        df.withColumn(
            "anomaly_score",
            F.least(
                F.lit(100),
                F.aggregate(
                    "anomalies", F.lit(0), lambda acc, a: acc + a["severity"]
                ),
            ),
        )
        .withColumn("has_question_text", has_qtext)
        .withColumn("has_answer", has_answer)
        .withColumn("has_explanation", F.trim("explanation_text") != "")
        .withColumn(
            "image_count",
            F.size("question_images")
            + F.size("answer_images")
            + F.size("explanation_images")
            + F.aggregate(
                "options", F.lit(0), lambda acc, o: acc + F.size(o["images"])
            ),
        )
    )
    return df
