"""Fully-native FSM: the segmentation expressed as Catalyst windows +
higher-order array functions — zero Python anywhere.

The reference's 5-state machine (state_machine.py:133-366) decomposes
relationally because state only ever *advances* within a question:

- question segmentation  = cumulative count of effective question
  anchors over the ordered line stream (classic sessionization);
- option-anchor validity = "no ANSWER/EXPLANATION anchor earlier in
  this segment" (a strictly-before running sum — state can never
  return to QUESTION_BODY/OPTION once it leaves);
- HOTSPOT validity       = same, plus no prior valid option anchor;
- section of any row     = last anchor at-or-before it (last_value
  ignoreNulls);
- cover-page noise       = only before the first effective anchor,
  where an anchor is effective iff it is not itself cover-noise —
  self-consistent because cover-filtered anchors before the first
  clean anchor would be dropped either way;
- per-question assembly  = sort_array(collect_list(...)) + HOF
  filters/transforms (the explode-sort-collect_list pipeline).

This is the "prove the built-ins could do it" engine: one shuffle
(hash by doc_id for the windows + the final groupBy reuses the same
partitioning), whole-stage codegen for classification, interpreted
HOFs only at assembly. The Arrow kernels (vkernel/dkernel) remain the
default because a linear scan in compiled-regex Python beats four
window passes — but the semantics are identical and tests assert it.
There is no giant-document path here: a document is one window
partition. The packed engines' giant-doc dispatch (operators/chunked.py)
is the intra-document parallel path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import schema
from ..functions import anchors as A


def _strip_anchor(text, pattern: str):
    """The line after its anchor, stripped as ``str.strip()`` strips."""
    return F.regexp_replace(F.regexp_replace(text, pattern, ""),
                            A.J_PY_STRIP, "")


def parse_native(lines: DataFrame) -> DataFrame:
    """Tokenized (noise-filtered) lines → QUESTION_RAW rows, natively."""
    t = F.col("text")
    is_img = F.col("kind") == "image"

    # ── per-line classification (codegen'd regex Column ops) ────────
    # the number in ASCII digits, as Python's int() reads any digits
    qnum_s = F.translate(F.regexp_extract(t, A.J_QUESTION, 1),
                         *A.py_digits())
    is_q_hit = ~is_img & (qnum_s != "")
    is_solo = t.rlike(A.J_SOLO_QUESTION) & ~t.contains(":")
    is_q = is_q_hit & ~is_solo
    is_cover = t.rlike(A.J_COVER_NOISE)
    okey = F.regexp_extract(t, A.J_OPTION, 1)
    is_opt_c = ~is_img & ~is_q_hit & (okey != "") & ~t.rlike(A.J_HOTSPOT)
    is_hot_c = ~is_img & ~is_q_hit & t.rlike(A.J_HOTSPOT)
    is_ans = ~is_img & ~is_q_hit & ~is_opt_c & ~is_hot_c & t.rlike(A.J_ANSWER)
    is_exp = (
        ~is_img & ~is_q_hit & ~is_opt_c & ~is_hot_c & ~is_ans
        & t.rlike(A.J_EXPLANATION)
    )

    df = (
        lines.where(~(~is_img & is_q_hit & is_solo))  # F10 solo artifacts
        .withColumn("_q", is_q)
        .withColumn(
            "_qn",
            F.when(
                is_q,
                # value-based clamp: strip leading zeros before the
                # >18-digit test (reference uses plain int(), so
                # '0...05' is 5 — state_machine.py:217)
                F.when(
                    F.length(F.regexp_replace(qnum_s, "^0+", "")) > 18,
                    F.lit(A.QNUM_CAP),
                ).otherwise(qnum_s.cast("long")),
            ),
        )
        .withColumn("_cover", ~is_img & is_cover)
        .withColumn("_okey", F.when(is_opt_c, F.upper(okey)))
        .withColumn("_hot", is_hot_c)
        .withColumn("_ans", is_ans)
        .withColumn("_exp", is_exp)
    )

    ordkey = F.struct(F.col("offset"), F.col("line_no"))
    wdoc = Window.partitionBy("doc_id").orderBy("offset", "line_no")
    wdoc_all = wdoc.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing)

    # first effective anchor: earliest question anchor that is not
    # cover-noise (state_machine.py:276-280 + 231-234)
    df = df.withColumn(
        "_first_eff",
        F.min(F.when(F.col("_q") & ~F.col("_cover"), ordkey)).over(wdoc_all),
    )
    df = df.where(
        F.col("_first_eff").isNotNull() & (ordkey >= F.col("_first_eff"))
    )

    # segment id = running count of question anchors (all question
    # anchors from the first effective one on are real anchors)
    df = df.withColumn(
        "_seg",
        F.sum(F.col("_q").cast("int")).over(
            wdoc.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    wseg = Window.partitionBy("doc_id", "_seg").orderBy("offset", "line_no")
    before = wseg.rowsBetween(Window.unboundedPreceding, -1)
    upto = wseg.rowsBetween(Window.unboundedPreceding, 0)

    left_body = F.coalesce(
        F.sum((F.col("_ans") | F.col("_exp")).cast("int")).over(before),
        F.lit(0),
    )
    df = df.withColumn("_opt_valid", F.col("_okey").isNotNull() & (left_body == 0))
    df = df.withColumn(
        "_prior_opts",
        F.coalesce(F.sum(F.col("_opt_valid").cast("int")).over(before), F.lit(0)),
    )
    df = df.withColumn(
        "_hot_valid",
        F.col("_hot") & (left_body == 0) & (F.col("_prior_opts") == 0),
    )

    sec_anchor = (
        F.when(F.col("_q"), "question")
        .when(F.col("_opt_valid"), "options")
        .when(F.col("_ans"), "answer")
        .when(F.col("_exp"), "explanation")
    )
    df = df.withColumn(
        "_sec", F.last(sec_anchor, ignorenulls=True).over(upto)
    ).withColumn("_opt_idx", F.sum(F.col("_opt_valid").cast("int")).over(upto))

    # per-row text contribution (anchor remainders; invalid anchors in
    # ANSWER/EXPLANATION state fall through as plain text)
    frag = (
        F.when(is_img, F.lit(None).cast("string"))
        .when(F.col("_q"), _strip_anchor(t, A.J_QUESTION))
        .when(F.col("_opt_valid"), _strip_anchor(t, A.J_OPTION))
        .when(F.col("_hot_valid"), F.lit(None).cast("string"))
        .when(F.col("_ans"), _strip_anchor(t, A.J_ANSWER))
        .when(F.col("_exp"), _strip_anchor(t, A.J_EXPLANATION))
        .otherwise(t)
    )
    df = df.withColumn("_frag", frag)

    # ── per-question assembly: sort_array(collect_list) + HOFs ──────
    row = F.struct(
        F.col("offset").alias("o"),
        F.col("line_no").alias("l"),
        F.col("_sec").alias("sec"),
        F.coalesce("_opt_idx", F.lit(0)).cast("int").alias("oi"),
        is_img.alias("img"),
        F.col("_frag").alias("frag"),
        F.col("media_ref").alias("media"),
        F.col("_okey").alias("okey"),
        F.col("_opt_valid").alias("oanchor"),
        F.col("_hot_valid").alias("hot"),
        F.col("_qn").alias("qn"),
        F.col("page").alias("page"),
    )
    g = (
        df.select("doc_id", "_seg", row.alias("r"))
        .groupBy("doc_id", "_seg")
        .agg(F.array_sort(F.collect_list("r")).alias("arr"))
    )

    arr = F.col("arr")

    def sec_text(name):
        return F.array_join(
            F.transform(
                F.filter(
                    arr,
                    lambda x: (x["sec"] == name)
                    & ~x["img"]
                    & x["frag"].isNotNull()
                    & (x["frag"] != ""),
                ),
                lambda x: x["frag"],
            ),
            " ",
        )

    def sec_imgs(name):
        return F.transform(
            F.filter(arr, lambda x: (x["sec"] == name) & x["img"]),
            lambda x: x["media"],
        )

    nopt = F.aggregate(
        arr, F.lit(0), lambda acc, x: F.greatest(acc, x["oi"])
    )

    def one_option(i):
        key = F.element_at(
            F.transform(
                F.filter(arr, lambda x: x["oanchor"] & (x["oi"] == i)),
                lambda x: x["okey"],
            ),
            1,
        )
        text = F.array_join(
            F.transform(
                F.filter(
                    arr,
                    lambda x: (x["sec"] == "options") & (x["oi"] == i)
                    & ~x["img"] & x["frag"].isNotNull() & (x["frag"] != ""),
                ),
                lambda x: x["frag"],
            ),
            " ",
        )
        imgs = F.transform(
            F.filter(
                arr,
                lambda x: (x["sec"] == "options") & (x["oi"] == i) & x["img"],
            ),
            lambda x: x["media"],
        )
        return F.struct(
            key.alias("key"),
            text.alias("text"),
            F.lit(False).alias("is_correct"),
            imgs.alias("images"),
        )

    anchor_page = F.element_at(arr, 1)["page"]
    img_pages = F.transform(
        F.filter(arr, lambda x: x["img"]), lambda x: x["page"]
    )
    page_end = F.greatest(
        anchor_page,
        F.coalesce(F.array_max(img_pages), anchor_page),
    )

    out = g.select(
        "doc_id",
        (F.col("_seg").cast("int") - 1).alias("seq"),
        F.element_at(arr, 1)["qn"].alias("question_number"),
        F.when(
            F.exists(arr, lambda x: x["hot"]), F.lit("hotspot")
        ).otherwise("mcq").alias("question_type"),
        sec_text("question").alias("question_text"),
        sec_imgs("question").alias("question_images"),
        # guard nopt==0: sequence(1,0) would count DOWN in Spark
        F.when(
            nopt > 0,
            F.transform(F.sequence(F.lit(1), nopt), one_option),
        )
        .otherwise(
            F.array().cast(schema.QUESTION_RAW["options"].dataType)
        )
        .alias("options"),
        sec_text("answer").alias("answer_text"),
        sec_imgs("answer").alias("answer_images"),
        sec_text("explanation").alias("explanation_text"),
        sec_imgs("explanation").alias("explanation_images"),
        F.coalesce(anchor_page, F.lit(1)).cast("int").alias("page_start"),
        F.coalesce(page_end, F.lit(1)).cast("int").alias("page_end"),
    )
    return out
