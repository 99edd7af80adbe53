"""Data-mixture planning and deterministic sampling: the stage between
curation and packing that turns per-source mixture WEIGHTS (the
"40% web, 30% code, ..." recipe every LLM training run starts from)
into an executable per-source sampling plan, then materializes the
sampled corpus reproducibly at any cluster size.

Two operators:

- :func:`mixture_plan` — per-source token inventory (one tiny
  aggregate over the corpus, filtered to the recipe's sources, with
  each source's weight looked up from a literal ``map``) →
  ``tokens_target``, whole-corpus repeat count ``n_epochs`` and the
  fractional remainder as an integer ``residual_ppm`` (parts per
  million). Integer ppm instead of a float rate keeps the plan
  hash-identical across engines and avoids float-compare drift in the
  sampler.
- :func:`mixture_sample` — executes a plan: every document is kept
  ``n_epochs`` times plus one more iff its 60-bit content hash lands
  under ``residual_ppm`` (md5-derived, so the SAME docs are chosen on
  any partitioning, any cluster size, and in the DuckDB oracle).
  Upsampling is an ``explode(sequence(...))`` — map-only, no shuffle,
  no ``rand()`` (rand is partition-order-dependent and breaks resume).

Scale shape: the plan aggregate is one shuffle over #sources groups
(map-side combined); the sampler reads the #sources-row plan once, as
a scalar subquery folded into one ``map``, and looks each document's
source up in it followed by an explode — no join and zero wide
exchanges over the corpus itself, so it composes with the curation
gate and packing stages without adding a corpus shuffle. Neither
operator builds a table from Python rows: ``createDataFrame`` of the
recipe would run a Python-RDD job, on a Python worker pool of its own
beside the kernels'.

Reference scope: no counterpart in the reference engine (its sampling
is ``random.sample`` in laravel_bridge.py:108-128, nondeterministic);
extends the training-data family like operators/packing.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_64_sql
from .textstats import sql_str, tokens_sql

PPM = 1_000_000


def mixture_plan(
    documents: DataFrame,
    weights: dict[str, float],
    target_tokens: int,
    source_col: str = "source",
    text_col: str = "text",
    n_tokens: Column | None = None,
) -> DataFrame:
    """Per-source sampling plan for a target mixture.

    ``weights`` are relative (normalized internally, so they must sum
    to more than 0); each listed source gets ``tokens_target =
    floor(weight / sum(weights) * target_tokens)`` and the plan
    expresses how to hit it from the ``tokens_avail`` actually present:
    repeat the whole source ``n_epochs`` times, then keep a
    deterministic ``residual_ppm`` fraction of one more pass. Sources
    absent from ``weights`` are excluded (rate 0); empty ``weights``
    plan nothing. The recipe enters the plan as literals — a filter on
    the listed sources and a ``map`` lookup of each one's weight — so
    the plan holds no table of its own and no join. Pass ``n_tokens``
    to plan with a real tokenizer's counts instead of whitespace
    tokens."""
    wsum = float(sum(weights.values()))
    if weights and not wsum > 0:
        raise ValueError(f"weights must sum to more than 0, got {weights}")
    if n_tokens is None:
        text = f"coalesce(`{text_col}`, '')"
        n_tokens = F.expr(f"size({tokens_sql(text)})")
    src = f"`{source_col}`"
    if weights:
        recipe = sorted(weights.items())
        listed = ", ".join(sql_str(s) for s, _ in recipe)
        lookup = ", ".join(f"{sql_str(s)}, {float(w)!r}D" for s, w in recipe)
        keep = f"{src} IN ({listed})"
        target = (f"floor(element_at(map({lookup}), {src})"
                  f" * {target_tokens} / {wsum!r}D)")
    else:
        keep, target = "false", "NULL"
    inv = documents.select(
        source_col, n_tokens.cast("long").alias("_nt")
    ).groupBy(source_col).agg(
        F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
        F.expr("CAST(sum(_nt) AS BIGINT) AS tokens_avail"),
    )
    plan = inv.where(keep).selectExpr(
        src, "n_docs", "tokens_avail",
        f"CAST({target} AS BIGINT) AS tokens_target",
    )
    # a weighted source whose docs are all empty (tokens_avail 0) plans
    # zero copies instead of tripping ANSI divide-by-zero mid-job.
    # residual_ppm divides BEFORE multiplying, in double: the naive
    # (rem * PPM) wraps BIGINT once tokens_avail ≳ 9.2e12 (plausible at
    # 100-TB corpora). rem/avail ∈ [0,1) so the double path is exact to
    # ~1e-10 ppm; the oracle SQL uses the identical IEEE association
    # order for parity.
    return plan.selectExpr(
        src, "n_docs", "tokens_avail", "tokens_target",
        "CAST(CASE WHEN tokens_avail > 0"
        " THEN floor(tokens_target / tokens_avail) ELSE 0 END AS BIGINT)"
        " AS n_epochs",
        "CAST(CASE WHEN tokens_avail > 0"
        " THEN floor(CAST(tokens_target % tokens_avail AS DOUBLE)"
        f" / CAST(tokens_avail AS DOUBLE) * {PPM}) ELSE 0 END AS BIGINT)"
        " AS residual_ppm",
    )


def mixture_sample(
    documents: DataFrame,
    plan: DataFrame,
    source_col: str = "source",
    seed: int = 0,
) -> DataFrame:
    """Materialize a :func:`mixture_plan`: each document of a planned
    source appears ``n_epochs`` times plus once more iff its hash draw
    is below ``residual_ppm``; output carries ``epoch`` (1-based) so
    repeated copies stay distinguishable downstream (packing treats
    each copy as a new document). Documents of sources the plan does
    not list drop.

    The plan (one row per source, sources unique) is read as a scalar
    subquery — one ``map`` from source to its row — and looked up per
    document, so no join is planned. The draw is the 60-bit md5 hash
    of the doc id taken modulo ``PPM``: content-derived, so identical
    on every engine, partitioning and cluster size."""
    src = f"`{source_col}`"
    # coalesce(1): the #sources plan rows meet in one task without a
    # shuffle, so folding them into the map needs no exchange (and no
    # job) of its own
    recipe = plan.where(f"{src} IS NOT NULL").coalesce(1).selectExpr(
        f"map_from_entries(collect_list(struct({src},"
        " struct(n_epochs, residual_ppm))))"
    ).scalar()
    looked = documents.select(
        "*", F.element_at(recipe, F.col(source_col)).alias("_plan")
    )
    u = f"pmod({md5_64_sql('CAST(doc_id AS STRING)', seed)}, {PPM})"
    n_copies = (f"CAST(_plan.n_epochs + CASE WHEN {u} < _plan.residual_ppm"
                " THEN 1 ELSE 0 END AS INT)")
    # sequence(1, 0) in Spark DESCENDS ([1, 0]) instead of returning
    # empty — gate on n_copies >= 1 and let explode drop empty arrays
    # (an unlisted source looks up NULL and has no copies)
    epochs = (f"CASE WHEN {n_copies} >= 1 THEN sequence(1, {n_copies})"
              " ELSE CAST(array() AS ARRAY<INT>) END")
    return looked.selectExpr(
        *[f"`{c}`" for c in documents.columns], f"explode({epochs}) AS epoch"
    )
