"""Sequence packing: assign documents to fixed-token-budget training
packs (the tokenize-and-pack stage between curation and training).

Every document is placed at its exact offset in the corpus-wide token
stream (deterministic global order = ``doc_id`` ascending) and assigned
to the pack containing its FIRST token: ``pack_id = floor(start /
seq_len)`` — the GPT-style contiguous-stream packing where documents
may straddle pack boundaries (the trainer masks attention across the
boundary; the assignment here is by start offset so it is exact,
deterministic, and reproducible at any cluster size).

Scale shape — the naive formulation is ``sum(n_tokens) OVER (ORDER BY
doc_id)``, and Spark executes an un-partitioned ordered window ON A
SINGLE PARTITION: the whole corpus funnels through one task. This
operator instead runs the same two-phase prefix sum the extraction
engine's chunked native FSM uses (``operators/native.py``):

1. bucket by ``floor(doc_id / bucket_width)`` → per-bucket running
   sum (window partitioned by bucket — parallel);
2. per-bucket totals (one tiny aggregate of the token counts, rows =
   #buckets, taken from the bucketed rows BEFORE the window, so the
   in-bucket window runs once) → running bucket offsets, broadcast
   back.

Exact same prefix sums, no single-task stage. Reference scope: no
counterpart in the reference engine; extends the training-data family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import tokens_sql


#: u-space bucket shift for shuffled packing: md5-derived order keys
#: are 60-bit, so dropping the low 44 bits yields ≤2^16 hash-uniform
#: buckets — the per-bucket totals stay driver-scale by construction.
_SHUFFLE_BUCKET_SHIFT = 44


def pack_sequences(
    documents: DataFrame,
    seq_len: int = 2048,
    text_col: str = "text",
    n_tokens: Column | None = None,
    bucket_width: int = 65536,
    shuffle_seed: int | None = None,
) -> DataFrame:
    """Per-doc pack assignment: ``doc_id, n_tokens, start, pack_id,
    pack_offset``. ``documents.doc_id`` must be numeric (it is the
    deterministic global order) and UNIQUE — ties in the window order
    would make ``start`` partition-order dependent. When the input
    carries an ``epoch`` column (mixture_sample's upsampled copies),
    it is used as the tiebreaker so ``(doc_id, epoch)`` ordering keeps
    the assignment deterministic without re-keying; otherwise re-key
    duplicated ids first (bench's e2e phase uses ``doc_id*K + epoch``).
    Pass ``n_tokens`` to use a real tokenizer's counts instead of
    whitespace tokens (counts must not be negative). ``seq_len`` and
    ``bucket_width`` must be positive; anything else raises
    ``ValueError`` when the plan is built.

    ``shuffle_seed`` switches the global order from ``doc_id``
    ascending to a seeded pseudo-random permutation — the order key
    becomes the 60-bit md5 hash of the full order identity (``doc_id``
    alone, or ``doc_id:epoch`` when an epoch column is present, so
    upsampled copies land at independent stream positions; ``(doc_id,
    epoch)`` tiebreak), so adjacent documents in the token stream are
    decorrelated from crawl/source order, the standard requirement for
    GPT-style training packs. Same two-phase prefix sum, with hash-uniform u-space
    buckets replacing id-range buckets; still deterministic at any
    partitioning and cluster size, and reproducible per seed."""
    from ..functions.hashing import md5_64_sql

    _check_seq_len(seq_len)
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    if n_tokens is None:
        text = f"coalesce(`{text_col}`, '')"
        n_tokens = F.expr(f"CAST(size({tokens_sql(text)}) AS BIGINT)")
    has_epoch = "epoch" in documents.columns
    order_cols = ["doc_id"] + (["epoch"] if has_epoch else [])
    if shuffle_seed is None:
        sort_cols = list(order_cols)
        bucket = f"floor(doc_id / {bucket_width})"
        extra: list = []
    else:
        # hash the FULL order identity: when the input carries an
        # epoch column (mixture_sample's upsampled copies), each copy
        # must land at an independent stream position — hashing
        # doc_id alone would give all epochs of a doc one _u and pack
        # the duplicates back-to-back, defeating the decorrelation
        # the seed exists for
        key = (
            "concat_ws(':', CAST(doc_id AS STRING), CAST(epoch AS STRING))"
            if has_epoch else "CAST(doc_id AS STRING)"
        )
        sort_cols = ["_u"] + order_cols
        bucket = f"shiftright(_u, {_SHUFFLE_BUCKET_SHIFT})"
        extra = [F.expr(f"{md5_64_sql(key, shuffle_seed)} AS _u")]
    d = documents.select(
        *order_cols,
        *extra,
        n_tokens.alias("n_tokens"),
    ).withColumn("_b", F.expr(bucket))
    # a bucket's total is its plain token sum (= the max of its running
    # sum for non-negative counts), taken from the frame BEFORE the
    # window so the in-bucket window runs once, feeding only the join
    totals = d.groupBy("_b").agg(F.expr("sum(n_tokens) AS _tot"))
    d = d.withColumn("_cum_in_b", F.expr(
        f"sum(n_tokens) OVER (PARTITION BY _b ORDER BY {', '.join(sort_cols)}"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    ))
    # the un-partitioned window here is over #buckets rows (corpus
    # size / bucket_width), not the corpus — driver-scale, by design
    offsets = totals.selectExpr(
        "_b",
        "sum(_tot) OVER (ORDER BY _b ROWS BETWEEN UNBOUNDED PRECEDING"
        " AND CURRENT ROW) - _tot AS _off",
    )
    out = d.join(F.broadcast(offsets), "_b").selectExpr(
        *order_cols, "n_tokens", "_off + _cum_in_b - n_tokens AS start"
    )
    return out.selectExpr(
        *order_cols,
        "n_tokens",
        "start",
        f"CAST(floor(start / {seq_len}) AS BIGINT) AS pack_id",
        f"CAST(start % {seq_len} AS BIGINT) AS pack_offset",
    )


def _check_seq_len(seq_len: int) -> None:
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")


def pack_manifest(packed: DataFrame, seq_len: int = 2048) -> DataFrame:
    """Trainer-facing manifest of :func:`pack_sequences` output: for
    every pack, the ordered document SEGMENTS that fill it —
    ``doc_id:offset_in_pack:length`` — including carry-over from docs
    that straddle pack boundaries (where the trainer masks attention).

    Each doc explodes into the packs its token range intersects
    (``1 + n_tokens/seq_len`` rows — linear, a 10⁹-token giant emits
    ~500k segment rows, never a cross join), then one shuffle groups
    by pack. Every pack except the stream's last holds exactly
    ``seq_len`` manifest tokens by construction — asserted in tests,
    and the string encoding makes the result engine-hashable."""
    _check_seq_len(seq_len)
    L = seq_len
    e = packed.where("n_tokens > 0").selectExpr(
        "doc_id", "start", "n_tokens",
        f"explode(sequence(floor(start / {L}),"
        f" floor((start + n_tokens - 1) / {L}))) AS pack_id",
    )
    seg_start = f"greatest(start, pack_id * {L})"
    seg_end = f"least(start + n_tokens, (pack_id + 1) * {L})"
    segs = e.selectExpr(
        "pack_id",
        "doc_id",
        f"CAST({seg_start} - pack_id * {L} AS BIGINT) AS off",
        f"CAST({seg_end} - {seg_start} AS BIGINT) AS len",
    )
    return segs.groupBy("pack_id").agg(*[F.expr(e) for e in (
        "CAST(count(*) AS BIGINT) AS n_segments",
        "CAST(sum(len) AS BIGINT) AS n_tokens",
        "array_join(transform(array_sort(collect_list(struct(off, doc_id,"
        " len))), s -> concat_ws(':', CAST(s.doc_id AS STRING),"
        " CAST(s.off AS STRING), CAST(s.len AS STRING))), ',') AS segments",
    )])


def pack_stats(packed: DataFrame, seq_len: int = 2048) -> DataFrame:
    """Per-pack rollup of :func:`pack_sequences` output: docs starting
    in the pack, their token sum, and the pack's start-fill fraction
    (tokens that BEGIN in this pack / seq_len — >1 means carry-over
    into later packs, the straddle case)."""
    _check_seq_len(seq_len)
    return packed.groupBy("pack_id").agg(*[F.expr(e) for e in (
        "CAST(count(*) AS BIGINT) AS n_docs",
        "CAST(sum(n_tokens) AS BIGINT) AS n_tokens",
        f"round(sum(n_tokens) / {seq_len}, 4) AS fill_ratio",
    )])
