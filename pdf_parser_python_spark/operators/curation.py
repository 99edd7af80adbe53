"""Composite corpus-curation filter: Gopher-style keep/drop rules.

Composes the quality score (``textstats.quality_score``), the
stopword language guess (``textstats.lang_guess``), token counts, and
the repetition profile (``operators/repetition.py``) into one
keep/drop decision with machine-readable reasons — the standard final
gate of an LLM training-data pipeline (Gopher §A1.1, C4, Dolma all
ship a variant). Reference scope: no counterpart in the reference
engine; extends the training-data family.

The whole filter is ONE map-only projection (zero Exchange): every
rule is a per-row expression over per-row metrics, so the gate runs
at corpus-scan speed and the corpus is never shuffled. ``reasons`` is
a comma-joined string in fixed rule order (deterministic across
engines and partitionings; empty string = keep).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..zipcache import drop_zip_finders
from .repetition import line_repetition, ngram_repetition, word_ngrams
from .textstats import lang_guess, quality_score, token_count

#: rule names in evaluation order (part of the output contract).
RULES = ("low_quality", "lang", "dup_lines", "repetitive_ngram", "too_short")


def _gate_metrics_arrow(staged: DataFrame, n: int, line_width: int | None,
                        passthrough: tuple[str, ...] = ()):
    """All five gate metrics in ONE mapInPandas kernel. Python mirrors
    of the native expressions, exact by construction: quality's
    character classes are pure ASCII (identical in Java regex, RE2 and
    Python re — the one dialect trap, Java's ASCII ``\\s`` inside
    ``[A-Za-z0-9\\s]``, is spelled out as the explicit char set),
    integer points use the same truncating division, token boundaries
    come from :func:`repetition.java_tokens`, and the language argmax
    is tuple-max = the native struct array_max. Raw fractions are
    rounded with native F.round outside the kernel."""
    import re as _re

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from .repetition import _JAVA_TRIM, _JAVA_WS, _doc_repetition
    from .textstats import STOPWORDS

    ws_re = _re.compile(f"[{_re.escape(_JAVA_WS)}]+")
    sw = {lang: frozenset(ws) for lang, ws in STOPWORDS.items()}
    langs_sorted = sorted(sw)

    out_schema = StructType(
        [
            StructField("doc_id", staged.schema["doc_id"].dataType),
            StructField("quality", LongType()),
            StructField("lang_guess", StringType()),
            StructField("n_tokens", LongType()),
            StructField("_dlf", DoubleType()),
            StructField("_tncf", DoubleType()),
        ]
        + [StructField(p, staged.schema[p].dataType) for p in passthrough]
    )

    ws_esc = _re.escape(_JAVA_WS)
    # per-language token-equality counter: a match is a maximal
    # non-ws run equal to a stopword — (start|ws) lookbehind +
    # (ws|end) lookahead reproduce java_tokens' boundaries exactly
    lang_pats = {
        lg: _re.compile(
            f"(?:^|(?<=[{ws_esc}]))"
            f"(?:{'|'.join(sorted(sw[lg]))})"
            f"(?=[{ws_esc}]|$)"
        )
        for lg in langs_sorted
    }

    def kernel(batches):
        drop_zip_finders()
        import numpy as np
        import pandas as pd

        for pdf in batches:
            # r8 (guide §4.2): quality / language / token counting run
            # as pandas .str (C regex) + numpy passes over the whole
            # batch — the per-row Python loop remains only for the
            # repetition Counters, which need per-doc token streams.
            # Every formula mirrors the native Column path exactly:
            # same ASCII classes, trunc division, tie rules.
            s = pdf["_text"].map(
                lambda t: t if isinstance(t, str) else ""
            )
            nc = s.str.len().to_numpy(np.int64)
            n_alpha = s.str.count(r"[A-Za-z]").to_numpy(np.int64)
            n_punct = s.str.count(
                rf"[^A-Za-z0-9{ws_esc}]"
            ).to_numpy(np.int64)
            n_marks = s.str.count(r"[.!?]").to_numpy(np.int64)
            stripped = s.str.strip(_JAVA_TRIM)
            nt = stripped.str.count(rf"[^{ws_esc}]+").to_numpy(np.int64)
            pts = np.select(
                [nc >= 200, nc >= 50, nc >= 10], [40, 25, 10], 0
            ).astype(np.int64)
            with np.errstate(divide="ignore", invalid="ignore"):
                alpha_pts = np.where(
                    nc > 0, n_alpha * 30 / np.maximum(nc, 1), 0.0
                ).astype(np.int64)  # trunc toward zero == int()
            pts += alpha_pts
            pts += np.where(n_marks > 0, 15, 0)
            pts += np.select([nt >= 20, nt >= 5], [15, 8], 0)
            pts += np.where((nc > 0) & (n_punct * 3 > nc), -20, 0)
            quality = np.clip(pts, 0, 100)
            low = stripped.str.lower()
            hits = np.stack(
                [
                    low.str.count(lang_pats[lg]).to_numpy(np.int64)
                    for lg in langs_sorted
                ],
                axis=1,
            )
            # ties pick the LARGER language code, exactly like the
            # native max(struct(hits, lang)): reversed argmax
            best_idx = hits.shape[1] - 1 - np.argmax(
                hits[:, ::-1], axis=1
            )
            max_hits = hits[np.arange(len(s)), best_idx]
            langs_arr = np.array(langs_sorted)
            guess = np.where(
                max_hits > 0, langs_arr[best_idx], "und"
            )
            dlf, tncf = [], []
            for text in s:
                rep = _doc_repetition(text, n, line_width, ws_re)
                dlf.append(rep[1])
                tncf.append(rep[4])
            res = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].reset_index(drop=True),
                    "quality": quality,
                    "lang_guess": guess,
                    "n_tokens": nt,
                    "_dlf": dlf,
                    "_tncf": tncf,
                }
            )
            for p in passthrough:
                res[p] = pdf[p].reset_index(drop=True)
            yield res

    return staged.mapInPandas(kernel, out_schema).select(
        "doc_id",
        "quality",
        "lang_guess",
        "n_tokens",
        F.round("_dlf", 4).alias("dup_line_frac"),
        F.round("_tncf", 4).alias("top_ngram_char_frac"),
        *[F.col(p) for p in passthrough],
    )


def curation_filter(
    documents: DataFrame,
    text_col: str = "text",
    min_quality: int = 70,
    langs: tuple[str, ...] = ("en",),
    max_dup_line_frac: float = 0.2,
    max_top_ngram_char_frac: float = 0.12,
    min_tokens: int = 20,
    n: int = 2,
    lines: Column | None = None,
    engine: str = "native",
    line_width: int | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc curation verdict: metrics, failed-rule ``reasons``
    (comma-joined, fixed order), and a ``keep`` flag.

    Defaults are tuned on the sf test corpus so each rule fires on a
    real slice; production thresholds are corpus decisions — pass your
    own. ``lines`` as in :func:`repetition.repetition_profile`
    (native engine only).

    ``engine="arrow"`` computes EVERY gate metric inside one
    ``mapInPandas`` kernel — repetition AND quality/lang/tokens (all
    their regexes are pure-ASCII classes, mirrored exactly; the
    measured decomposition at 10⁶ docs put quality_score's three
    native regex passes at 29.7 s of the native gate's 44 s, so
    leaving it native wastes the kernel). Fractions come back raw and
    are rounded by native ``F.round``, integer points use the same
    truncating arithmetic — differential-tested equal to the native
    engine. Still one MapInPandas, zero Exchange. ``line_width``
    selects chunked pseudo-lines for the arrow engine (None = split on
    newlines).

    ``passthrough`` names input columns to carry through the verdict
    unchanged, so a downstream stage can ``.where("keep")`` and keep
    going WITHOUT re-joining the corpus: at 100 TB the gate→filter
    semi-join shuffles the whole corpus on doc_id, while passthrough
    keeps the composition map-only (on the arrow engine the columns
    ride through the kernel batch — extra Arrow transfer, still zero
    Exchange; bench's compose_pack measures the trade). Passthrough
    names must be disjoint from the operator's own output columns —
    a collision would silently shadow a kernel output (and corrupt
    the arrow kernel's column accumulators), so it raises."""
    reserved = {"doc_id", "quality", "lang_guess", "n_tokens",
                "dup_line_frac", "top_ngram_char_frac", "keep",
                "reasons", "_text", "_lns", "_grams", "_dlf", "_tncf"}
    bad = reserved.intersection(passthrough)
    if bad:
        raise ValueError(
            f"passthrough columns collide with gate outputs: "
            f"{sorted(bad)}"
        )
    c = F.coalesce(F.col(text_col), F.lit(""))
    if engine == "arrow":
        m = _gate_metrics_arrow(
            documents.select(
                "doc_id", c.alias("_text"),
                *[F.col(p) for p in passthrough],
            ),
            n, line_width, passthrough,
        )
    else:
        if lines is None:
            lines = F.filter(
                F.transform(F.split(c, "\n"), lambda x: F.trim(x)),
                lambda x: x != "",
            )
        staged = documents.select(
            "doc_id",
            c.alias("_text"),
            lines.alias("_lns"),
            word_ngrams(c, n).alias("_grams"),
            *[F.col(p) for p in passthrough],
        )
        lr = line_repetition(F.col("_lns"))
        nr = ngram_repetition(F.col("_text"), n, grams=F.col("_grams"))
        t = F.col("_text")
        m = staged.select(
            "doc_id",
            quality_score(t).cast("bigint").alias("quality"),
            lang_guess(t).alias("lang_guess"),
            token_count(t).cast("bigint").alias("n_tokens"),
            lr["dup_line_frac"].alias("dup_line_frac"),
            nr["top_ngram_char_frac"].alias("top_ngram_char_frac"),
            *[F.col(p) for p in passthrough],
        )
    checks = [
        (F.col("quality") < min_quality, "low_quality"),
        (~F.col("lang_guess").isin(*langs), "lang"),
        (F.col("dup_line_frac") > max_dup_line_frac, "dup_lines"),
        (
            F.col("top_ngram_char_frac") > max_top_ngram_char_frac,
            "repetitive_ngram",
        ),
        (F.col("n_tokens") < min_tokens, "too_short"),
    ]
    reasons = F.concat_ws(
        ",",
        *[F.when(cond, F.lit(name)) for cond, name in checks],
    )
    return m.select(
        "*",
        reasons.alias("reasons"),
        (reasons == "").alias("keep"),
    )
