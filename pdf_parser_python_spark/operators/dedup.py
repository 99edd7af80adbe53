"""Deduplication operators for training-data pipelines.

Four tiers, all shuffle-aware:

- exact: hash-groupBy on a content digest (one shuffle on the digest);
- minhash + LSH: shingle → K minhashes → B bands → band-bucket
  self-join → candidate pairs above Jaccard threshold. The band-bucket
  join is the scale trick: candidates come from equi-joins on small
  bucket keys instead of an O(n²) cross join;
- simhash: 64-bit near-dup signature (Hamming-ball grouping via
  rotated prefix buckets);
- n-gram Jaccard: exact verification of candidate pairs;
- embedding-cosine: hyperplane-bucketed near-dup pairs over an
  embedding column, exact cosine only inside candidate sets.

Hash functions are pluggable (functions/hashing.py): xxhash64 with
fixed seeds is the production default; the md5-derived variant is
reproducible in DuckDB so the driver contract can hash-check these
operators against a SQL oracle. Both are deterministic across
partitioning and cluster size.

Round-8 plan-shape note: every pair operator here self-joins a
signature frame, and Spark does not share subtrees across join sides —
the round-7 physical plans recomputed the full signature pipeline
(tokenize → shingle → K hashed mins, the measured dominant cost of the
family) 2-4× per query, plus the skew-cap count-Window once per side.
The signature/bucket frames are now cut with a LAZY
``localCheckpoint`` (:func:`_reuse`) so each is computed exactly once
per run and every join side reads the materialized blocks. This is
within-query reuse of a deterministic intermediate, and the package's
only reuse point: no operator calls ``persist()`` or ``cache()``, so
nothing is registered in the session's CacheManager and nothing
outlives the frame that made it (each call builds a fresh checkpoint;
results are recomputed from the parquet inputs every run).

Join strategy is Spark's: no operator here hints a broadcast or counts
rows to size one. Under AQE each join stage re-plans from the runtime
size of its materialized inputs, so a signature or vector table under
``spark.sql.adaptive.autoBroadcastJoinThreshold`` is broadcast and a
larger one stays a shuffled join. Building a pair plan runs no Spark
job (``embedding_near_dups`` probes the vector width, and counts rows
only when it must derive ``n_planes``).
"""

from __future__ import annotations

import functools
import operator
from typing import Callable

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import xx64
from ..zipcache import drop_zip_finders
from .textstats import shingles

Hasher = Callable[[Column, int], Column]


def _reuse(df: DataFrame) -> DataFrame:
    """Cut ``df`` with a lazy local checkpoint so a plan that references
    it from several join sides computes it ONCE (materialized into
    executor block storage on first use, MEMORY_AND_DISK) instead of
    re-evaluating the whole subtree per side. This is the package's only
    reuse primitive: it registers nothing in the session's CacheManager,
    and its blocks are freed with the returned frame (the ContextCleaner
    drops them once the frame is garbage-collected). Per-DataFrame-
    instance, so nothing is shared across separate invocations — every
    run still computes from its inputs. Streaming frames pass through
    unchanged (checkpointing needs a batch RDD).

    Lazy only when no exchange lies below the cut: creating the
    checkpoint plans the subtree, and under AQE planning runs every
    shuffle stage below it. Cut map-only subtrees in plan-building code;
    an eager operator (``minhash_dedup_clusters``) may cut anywhere.

    Production note (100 TB): local checkpoints live on executor
    storage and are lost with the executor — the upstream lineage is
    truncated, so a lost block fails the job and the RETRY recomputes
    from scratch. For long multi-hour runs prefer committing the
    signature store to a table (plans/lineage.py DedupJob does exactly
    that); inside a single query this trade (recompute-on-loss vs
    guaranteed 2-4× recompute every run) is the right default."""
    if df.isStreaming:
        return df
    return df.localCheckpoint(eager=False)


def _drop_over_cap(df: DataFrame, keys: list[str], max_bucket: int,
                   count_col: str = "_n") -> DataFrame:
    """Skew cap: drop every row whose ``keys`` group holds more than
    ``max_bucket`` rows. Formulated as a tiny over-cap key aggregate +
    LEFT ANTI join instead of a ``count() OVER (PARTITION BY keys)``
    window: the window shuffles AND sorts the whole frame just to drop
    a handful of mega-duplicate groups, while the aggregate is map-side
    combined and the over-cap key set is bounded by rows/max_bucket
    (AQE broadcasts it when tiny — the common case — and falls back to
    a shuffled anti join, with skew-join splitting on the left side,
    when a pathological corpus makes it large)."""
    over = (
        df.groupBy(*keys)
        .agg(F.count("*").alias(count_col))
        .where(F.col(count_col) > max_bucket)
        .select(*keys)
    )
    return df.join(over, keys, "left_anti")


# ── round 8: vectorized minhash fold ────────────────────────────────────
# Bit-exact numpy replica of the XXH64 primitives Spark's `xxhash64`
# expression applies to int64 lanes (XXH64.hashLong / hashInt in
# catalyst; the open xxHash spec). The HOF formulation in
# `minhash_signatures` evaluates `xxhash64(h, lit(s))` =
# hashInt(s, hashLong(h, 42)) once per (shingle, seed) — K interpreted
# expression evals per shingle, each redoing the seed-independent
# hashLong. The Arrow kernel computes hashLong(h, 42) ONCE per shingle
# and runs the K seeded hashInt passes as vectorized uint64 arithmetic.
# Exactness is asserted by tests/test_dedup_kernel.py (differential vs
# the HOF path, including empty/short/duplicate-shingle docs).

_XXP1 = np.uint64(0x9E3779B185EBCA87)
_XXP2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XXP3 = np.uint64(0x165667B19E3779F9)
_XXP4 = np.uint64(0x85EBCA77C2B2AE63)
_XXP5 = np.uint64(0x27D4EB2F165667C5)


def _xxh_rotl(x, r: int):
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _xxh_fmix(h):
    h = h ^ (h >> np.uint64(33))
    h = h * _XXP2
    h = h ^ (h >> np.uint64(29))
    h = h * _XXP3
    h = h ^ (h >> np.uint64(32))
    return h


def _xxh_long(x, seed):
    """XXH64 of one 8-byte (int64) lane — XXH64.hashLong."""
    h = seed + (_XXP5 + np.uint64(8))
    h = h ^ (_xxh_rotl(x * _XXP2, 31) * _XXP1)
    h = _xxh_rotl(h, 27) * _XXP1 + _XXP4
    return _xxh_fmix(h)


def _xxh_int(i: int, seed):
    """XXH64 of one 4-byte (int32) lane — XXH64.hashInt; ``i`` is a
    plan-time constant (the minhash seed / trailing 0 literal)."""
    c = np.uint64(((i & 0xFFFFFFFF) * 0x9E3779B185EBCA87) % (1 << 64))
    h = seed + (_XXP5 + np.uint64(4))
    h = h ^ c
    h = _xxh_rotl(h, 23) * _XXP2 + _XXP3
    return _xxh_fmix(h)


def _minhash_sig_kernel(k: int, shingle_k: int):
    """mapInArrow kernel: (doc_id, th: array<long>) → (doc_id,
    signature: array<long> of K). Reproduces the HOF fold bit-exactly:
    shingle base hash = hashInt(0, chained hashLong over `shingle_k`
    consecutive token hashes) (= ``xxhash64(h_i.., lit(0))``), short
    docs chain over the tokens they have (xxhash64's skip-null fold),
    and signature[s] = signed min over shingles of
    hashInt(s, hashLong(base, 42)) (= ``xxhash64(base, lit(s))``).
    array_distinct is deliberately skipped — a min over the multiset
    equals the min over the set."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches):
        drop_zip_finders()
        # uint64 wraparound is the algorithm; numpy warns on scalar
        # overflow (the n=0 constant chain) — silence locally
        with np.errstate(over="ignore"):
            yield from _fn(batches)

    def _fn(batches):
        for batch in batches:
            names = batch.schema.names
            arr = batch.column(names.index("th"))
            n_rows = len(arr)
            if n_rows == 0:
                continue
            lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
            lens = np.nan_to_num(lens, nan=0).astype(np.int64)
            flat = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
            flat = flat.astype(np.int64, copy=False).view(np.uint64)
            off = np.concatenate(([0], np.cumsum(lens)))

            # per-doc base-hash counts: sliding windows, floor 1
            m = np.maximum(lens - shingle_k + 1, 1)
            bstart = np.concatenate(([0], np.cumsum(m)))
            base = np.empty(int(bstart[-1]), dtype=np.uint64)

            reg = lens >= shingle_k
            if reg.any():
                mr = m[reg]
                src0 = np.repeat(off[:-1][reg], mr)
                dst0 = np.repeat(bstart[:-1][reg], mr)
                within = np.arange(mr.sum()) - np.repeat(
                    np.cumsum(mr) - mr, mr
                )
                chain = np.uint64(42)
                for j in range(shingle_k):
                    chain = _xxh_long(flat[src0 + within + j], chain)
                base[dst0 + within] = _xxh_int(0, chain)
            for n_short in range(shingle_k):
                sel = lens == n_short
                if not sel.any():
                    continue
                chain = np.uint64(42)
                for j in range(n_short):
                    chain = _xxh_long(flat[off[:-1][sel] + j], chain)
                base[bstart[:-1][sel]] = _xxh_int(0, chain)

            hl = _xxh_long(base, np.uint64(42))
            seg = bstart[:-1]
            sig = np.empty((n_rows, k), dtype=np.int64)
            # in-place hashInt over two reused buffers: the seed loop
            # dominates the kernel's memory traffic (k passes over all
            # shingles), so avoid allocating ~10 temporaries per pass
            h = np.empty_like(hl)
            t = np.empty_like(hl)
            p5_4 = np.uint64(0x27D4EB2F165667C9)  # PRIME64_5 + 4
            for s in range(k):
                c = np.uint64(((s & 0xFFFFFFFF) * 0x9E3779B185EBCA87)
                              % (1 << 64))
                # h = rotl((hl + P5+4) ^ s·P1, 23) * P2 + P3; fmix(h)
                np.add(hl, p5_4, out=h)
                np.bitwise_xor(h, c, out=h)
                np.left_shift(h, np.uint64(23), out=t)
                np.right_shift(h, np.uint64(41), out=h)
                np.bitwise_or(h, t, out=h)
                np.multiply(h, _XXP2, out=h)
                np.add(h, _XXP3, out=h)
                np.right_shift(h, np.uint64(33), out=t)
                np.bitwise_xor(h, t, out=h)
                np.multiply(h, _XXP2, out=h)
                np.right_shift(h, np.uint64(29), out=t)
                np.bitwise_xor(h, t, out=h)
                np.multiply(h, _XXP3, out=h)
                np.right_shift(h, np.uint64(32), out=t)
                np.bitwise_xor(h, t, out=h)
                sig[:, s] = np.minimum.reduceat(h.view(np.int64), seg)
            sig_col = pa.ListArray.from_arrays(
                pa.array(np.arange(n_rows + 1, dtype=np.int32) * k),
                pa.array(sig.reshape(-1)),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(names.index("doc_id")), sig_col],
                names=["doc_id", "signature"],
            )

    return fn


def _minhash_sig_arrow(d: DataFrame, k: int, shingle_k: int) -> DataFrame:
    """Apply :func:`_minhash_sig_kernel` to a (doc_id, th) frame."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    schema = StructType([
        d.schema["doc_id"],
        StructField("signature", ArrayType(LongType(), True), True),
    ])
    return d.mapInArrow(_minhash_sig_kernel(k, shingle_k), schema)


# ── round 8: fused simhash signature kernel ─────────────────────────────
# The vectorized simhash path built every shingle STRING in JVM
# expressions (concat_ws over slices + array_distinct + per-shingle
# xxhash64) and then shipped the hash arrays to the majority-vote
# pandas UDF. The decomposition at 1M docs: 16 of the 24 s was the
# string construction, ~8 s the second Arrow crossing — the hashing
# itself was free. This kernel ships the TOKEN arrays once and does
# everything else vectorized: shingle bytes via one gather, exact
# per-doc distinct on (doc, len, bytes), a bit-exact numpy replica of
# XXH64 over variable-length byte rows (stripe/word/4-byte/tail
# phases, matching catalyst's XXH64.hashUnsafeBytes + the trailing
# hashInt(0) for the seed literal), and the 64-bit majority vote —
# one Python crossing, no shingle strings ever materialized JVM-side.
# Exactness: tests/test_dedup_kernel.py differential vs the HOF-built
# hashes + _simhash_majority_udf path across length classes.


def _xxh_bytes_rows(mat: np.ndarray, lens: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized XXH64 over variable-length byte rows.

    ``mat`` is (M, W8) uint8, zero-padded, W8 a multiple of 8;
    ``lens`` the true byte length per row. Returns uint64 hashes —
    bit-exact with catalyst XXH64.hashUnsafeBytes(row, seed)."""
    m_rows = len(lens)
    words = np.ascontiguousarray(mat).view("<u8")  # (M, W8//8)
    u4 = mat.view("<u4")                           # (M, W8//4)
    ncols_w = words.shape[1]
    ncols_4 = u4.shape[1]
    wflat = words.reshape(-1)
    u4flat = u4.reshape(-1)
    bflat = mat.reshape(-1)
    ncols_b = mat.shape[1]
    rows = np.arange(m_rows)
    seed = np.uint64(seed)

    lens = lens.astype(np.int64)
    nstripes = np.where(lens >= 32, lens // 32, 0)
    h = np.full(m_rows, seed + _XXP5, dtype=np.uint64)
    long_rows = nstripes > 0
    if long_rows.any():
        def _round(acc, lane):
            return _xxh_rotl(acc + lane * _XXP2, 31) * _XXP1

        v = [np.full(m_rows, s, dtype=np.uint64) for s in (
            seed + _XXP1 + _XXP2, seed + _XXP2, seed,
            seed - _XXP1)]
        for t in range(int(nstripes.max())):
            msk = nstripes > t
            r = rows[msk]
            base_w = r * ncols_w + 4 * t  # int64 index math
            for lane in range(4):
                v[lane][msk] = _round(
                    v[lane][msk], wflat[base_w + lane]
                )
        acc = (_xxh_rotl(v[0], 1) + _xxh_rotl(v[1], 7)
               + _xxh_rotl(v[2], 12) + _xxh_rotl(v[3], 18))
        for lane in range(4):
            acc = (acc ^ _round(np.uint64(0), v[lane])) * _XXP1 + _XXP4
        h[long_rows] = acc[long_rows]
    h = h + lens.view(np.uint64).astype(np.uint64)

    rem = lens - 32 * nstripes
    nw = rem // 8
    wstart = 4 * nstripes
    for w in range(int(nw.max()) if m_rows else 0):
        msk = nw > w
        r = rows[msk]
        k1 = wflat[(wstart[msk] + w + r * ncols_w).astype(np.int64)]
        hh = h[msk]
        hh = hh ^ (_xxh_rotl(k1 * _XXP2, 31) * _XXP1)
        h[msk] = _xxh_rotl(hh, 27) * _XXP1 + _XXP4
    rem4 = rem - 8 * nw
    has4 = rem4 >= 4
    if has4.any():
        r = rows[has4]
        off4 = (32 * nstripes[has4] + 8 * nw[has4]) // 4 + r * ncols_4
        lane4 = u4flat[off4.astype(np.int64)].astype(np.uint64)
        hh = h[has4]
        hh = hh ^ (lane4 * _XXP1)
        h[has4] = _xxh_rotl(hh, 23) * _XXP2 + _XXP3
    tail = rem4 - 4 * has4
    toff = 32 * nstripes + 8 * nw + 4 * has4
    for b in range(3):
        msk = tail > b
        if not msk.any():
            continue
        r = rows[msk]
        byte = bflat[(toff[msk] + b + r * ncols_b).astype(np.int64)]
        hh = h[msk]
        hh = hh ^ (byte.astype(np.uint64) * _XXP5)
        h[msk] = _xxh_rotl(hh, 11) * _XXP1
    return _xxh_fmix(h)


def _string_array_parts(tb):
    """(starts, lens, data-with-one-space-appended, space_pos) for an
    arrow String/LargeString array of non-null elements."""
    import pyarrow as pa

    odt = np.int64 if pa.types.is_large_string(tb.type) else np.int32
    bufs = tb.buffers()
    offs = np.frombuffer(bufs[1], dtype=odt)[tb.offset: tb.offset + len(tb) + 1]
    offs = offs.astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8)
            if bufs[2] is not None else np.empty(0, np.uint8))
    data2 = np.concatenate([data, np.frombuffer(b" ", dtype=np.uint8)])
    return offs[:-1], np.diff(offs), data2, len(data)


def _simhash_sig_kernel(shingle_k: int = 3):
    """mapInArrow kernel: (doc_id, toks: array<string>) → (doc_id,
    sig: long). sig = 64-bit SimHash majority over the DISTINCT
    k-word shingles' ``xxhash64(shingle, lit(0))`` — bit-identical to
    the shingles()+HOF-hash+_simhash_majority_udf pipeline (same
    2·ones ≥ n rule, i=63 sign bit, short docs one all-token shingle).
    Null text maps to the empty-shingle signature, exactly like
    ``shingles(null)`` → ``[""]`` (concat_ws skips a null array)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches):
        drop_zip_finders()
        with np.errstate(over="ignore"):
            yield from _fn(batches)

    def _fn(batches):
        for batch in batches:
            names = batch.schema.names
            arr = batch.column(names.index("toks"))
            n_rows = len(arr)
            if n_rows == 0:
                continue
            # null token arrays become n=0 docs → the empty-string
            # shingle, matching shingles(null) = [""] on the HOF path
            lens = pc.list_value_length(arr).to_numpy(zero_copy_only=False)
            lens = np.nan_to_num(lens, nan=0).astype(np.int64)
            tb = pc.list_flatten(arr)
            tstart, tlen, data2, space_pos = _string_array_parts(tb)
            dstart = np.concatenate(([0], np.cumsum(lens)))

            # shingle spine: first-token index A + token count tc
            sk = shingle_k
            m = np.where(lens >= sk, lens - sk + 1, 1)
            bstart = np.concatenate(([0], np.cumsum(m)))
            M = int(bstart[-1])
            docof = np.repeat(np.arange(n_rows), m)
            within = np.arange(M) - np.repeat(bstart[:-1], m)
            A = dstart[docof] + within
            tc = np.where(lens[docof] >= sk, sk, lens[docof])

            # shingle byte lengths: window token bytes + separators
            slen = np.maximum(tc - 1, 0)
            for r in range(sk):
                sel = tc > r
                slen[sel] += tlen[A[sel] + r]

            # segment table: token, space, token, ... per shingle
            ns = np.maximum(2 * tc - 1, 0)
            sstart = np.concatenate(([0], np.cumsum(ns)))
            S = int(sstart[-1])
            shof = np.repeat(np.arange(M), ns)
            wq = np.arange(S) - np.repeat(sstart[:-1], ns)
            tok_abs = A[shof] + wq // 2
            is_tok = (wq % 2) == 0
            seg_src = np.where(is_tok, tstart[tok_abs], space_pos)
            seg_len = np.where(is_tok, tlen[tok_abs], 1)

            # one gather builds every shingle's bytes
            total = int(seg_len.sum())
            gsrc = np.repeat(seg_src, seg_len)
            gwith = np.arange(total) - np.repeat(
                np.cumsum(seg_len) - seg_len, seg_len
            )
            content = data2[gsrc + gwith]

            w8 = max(int(-(-max(int(slen.max()), 1) // 8) * 8), 8)
            mat = np.zeros((M, w8), dtype=np.uint8)
            rowidx = np.repeat(np.arange(M), slen)
            colidx = np.arange(total) - np.repeat(
                np.cumsum(slen) - slen, slen
            )
            mat[rowidx, colidx] = content

            # exact per-doc distinct on (doc, len, padded bytes) —
            # zero padding cannot collide because len is in the key;
            # one contiguous blob per row, compared bytewise
            blob = np.empty((M, 16 + w8), dtype=np.uint8)
            blob[:, :8] = docof.astype("<i8").view(np.uint8).reshape(M, 8)
            blob[:, 8:16] = slen.astype("<i8").view(np.uint8).reshape(M, 8)
            blob[:, 16:] = mat
            key = np.ascontiguousarray(blob).view(
                np.dtype((np.void, 16 + w8)))[:, 0]
            _, keep = np.unique(key, return_index=True)
            keep.sort()
            docof, slen, mat = docof[keep], slen[keep], mat[keep]

            hashes = _xxh_int(0, _xxh_bytes_rows(mat, slen, 42))

            # majority vote per doc (rows stay doc-contiguous) —
            # unpack/pack the 64 bit lanes as uint8 instead of a
            # (M, 64) int64 matrix: little-endian byte view + bitorder
            # "little" makes column c exactly bit c of the uint64
            bounds = np.searchsorted(docof, np.arange(n_rows))
            nsh = np.diff(np.concatenate((bounds, [len(docof)])))
            bits = np.unpackbits(
                hashes.view(np.uint8).reshape(-1, 8)
                if hashes.dtype.byteorder in ("=", "<", "|")
                else hashes.astype("<u8").view(np.uint8).reshape(-1, 8),
                axis=1, bitorder="little",
            )
            counts = np.add.reduceat(bits, bounds, axis=0,
                                     dtype=np.int64)
            maj = counts * 2 >= nsh[:, None]
            sig = np.packbits(
                maj, axis=1, bitorder="little"
            ).view("<u8").reshape(-1).view(np.int64)

            sig_col = pa.array(sig)
            yield pa.RecordBatch.from_arrays(
                [batch.column(names.index("doc_id")), sig_col],
                names=["doc_id", "sig"],
            )

    return fn


def _simhash_sig_arrow(documents: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, sig) via :func:`_simhash_sig_kernel` — tokens come from
    the JVM (lower + split parity), everything after crosses once."""
    from pyspark.sql.types import LongType, StructField, StructType

    from .textstats import tokens

    d = documents.select(
        "doc_id", tokens(F.lower(F.col(text_col))).alias("toks")
    )
    schema = StructType([
        d.schema["doc_id"],
        StructField("sig", LongType(), True),
    ])
    return d.mapInArrow(_simhash_sig_kernel(), schema)


def _simhash_sig_hof(documents: DataFrame, text_col: str,
                     hasher: Hasher) -> DataFrame:
    """(doc_id, sig) from JVM-built shingle-string hashes and the
    :func:`_simhash_majority_udf` vote — the reference that
    :func:`_simhash_sig_kernel` reproduces bit-exactly for xx64."""
    hashes = F.transform(shingles(F.col(text_col)), lambda s: hasher(s, 0))
    return documents.select(
        "doc_id", _simhash_majority_udf()(hashes).alias("sig")
    )


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Digest-grouped duplicate clusters; keeper = min doc_id."""
    d = documents.select("doc_id", F.sha2(F.col(text_col), 256).alias("digest"))
    return (
        d.groupBy("digest")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.array_sort(F.collect_list("doc_id")).alias("members"),
        )
    )


def minhash_signatures(
    documents: DataFrame, text_col: str = "text", k: int = 32,
    shingle_k: int = 3, hasher: Hasher = xx64,
) -> DataFrame:
    """doc_id → array of K minhash values.

    Shingles are HASH-SHINGLED, never materialized as strings: each
    token is hashed once, a shingle's base hash combines the
    ``shingle_k`` consecutive token hashes (fixed 8-byte lanes —
    ``xxhash64(h_i, h_i+1, h_i+2, seed)`` on the production path), and
    the K seeded minhash variants re-hash the single base long. The
    round-5 formulation hashed a materialized ``concat_ws`` string
    K times per shingle; that made the stage memory-bandwidth-bound
    (1→4-core step efficiency 0.58-0.78, BENCH_r05 dedup_core_probe)
    — hash lanes keep the per-shingle working set at 8 bytes and the
    K-seed pass string-free.

    Degenerate docs (fewer than ``shingle_k`` tokens) take one shingle
    over all tokens; null lanes are skipped by both combiners, so the
    construction is well-defined down to empty text.
    """
    from ..functions.hashing import combiner_for
    from .textstats import tokens

    toks = tokens(F.lower(F.col(text_col)))
    d = documents.select(
        "doc_id", F.transform(toks, lambda t: hasher(t, 0)).alias("th")
    )
    # r8: on the production xx64 path the shingle-combine + K-seed
    # min-fold runs as a vectorized Arrow kernel — bit-exact with the
    # HOF fold (see _minhash_sig_kernel), ~K× less hashing work
    # because the seed-independent hashLong is computed once per
    # shingle. The md5/generic hashers (the DuckDB-oracled queries)
    # and streaming input keep the HOF fold.
    if hasher is xx64 and not documents.isStreaming:
        return _minhash_sig_arrow(d, k, shingle_k)
    return _minhash_sig_hof(d, k, shingle_k, combiner_for(hasher))


def _minhash_sig_hof(d: DataFrame, k: int, shingle_k: int,
                     combine) -> DataFrame:
    """(doc_id, th) → (doc_id, signature) as JVM higher-order functions:
    ``combine`` chains ``shingle_k`` consecutive token hashes into a
    distinct base hash per shingle, and signature[s] is the min over
    the bases of ``combine([base], s)``. The reference that
    :func:`_minhash_sig_kernel` reproduces bit-exactly for xx64."""
    th = F.col("th")
    n = F.size(th)
    idx = F.sequence(F.lit(0), F.greatest(n - shingle_k, F.lit(0)))
    base = F.transform(
        idx,
        # NB: one-arg lambda — a second parameter would bind the index
        lambda i: combine(
            [F.get(th, i + j) for j in range(shingle_k)], 0
        ),
    )
    short = F.array(combine([F.get(th, F.lit(j)) for j in range(shingle_k)], 0))
    d = d.select(
        "doc_id",
        F.when(n >= shingle_k, F.array_distinct(base))
        .otherwise(short)
        .alias("bh"),
    )
    def seeded(s: int):
        # NB: must return a ONE-arg lambda — a default-arg trick
        # (lambda h, s=s) gives the function two parameters and the
        # HOF machinery then binds the second to the element INDEX
        return lambda h: combine([h], s)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("bh"), seeded(s)))
            for s in range(k)
        ]
    )
    return d.select("doc_id", sig.alias("signature"))


def minhash_band_buckets(
    documents: DataFrame | None = None,
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hasher: Hasher = xx64,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, signature, band, bucket) — the banded-LSH bucketing the
    pair self-join runs on. Exposed so skew diagnostics (bucket-size
    histograms, cap-engagement checks) share the exact hashing with
    :func:`minhash_lsh_pairs` instead of re-deriving it. Pass a
    precomputed ``sigs`` (doc_id, signature) to reuse one signature
    subtree across several consumers."""
    from ..functions.hashing import combiner_for

    rows_per_band = k // bands
    combine = combiner_for(hasher)
    if sigs is None:
        sigs = minhash_signatures(documents, text_col, k, shingle_k, hasher)

    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                combine(
                    [
                        F.col("signature")[b * rows_per_band + r]
                        for r in range(rows_per_band)
                    ],
                    0,
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select(
        "doc_id", "signature", F.explode(band_structs).alias("bb")
    ).select("doc_id", "signature", F.col("bb.band"), F.col("bb.bucket"))


def minhash_lsh_pairs(
    documents: DataFrame,
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    shingle_k: int = 3,
    hasher: Hasher = xx64,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Near-duplicate pairs via banded LSH + signature-similarity check.

    Returns (doc_a, doc_b, sig_similarity) with doc_a < doc_b and
    estimated Jaccard (= fraction of matching minhashes) ≥ threshold.

    Scale shape: the bucket self-join ships ONLY (doc_id, band, bucket)
    — 16 bytes/row — and the K-long signatures are joined back onto the
    deduplicated candidate pairs afterwards. Measured at 100k docs with
    a planted 10⁵ mega-cluster (45M candidate pairs): shuffling both
    signatures through the join + dropDuplicates costs ~25 GB; the slim
    join brings it under 1 GB. For mass-duplicate corpora prefer
    :func:`minhash_dedup_clusters`, whose output is linear.
    """
    # checkpoint the signatures: the frame feeds BOTH bucket-join sides
    # and BOTH signature join-backs — without the cut the plan computes
    # the tokenize→shingle→K-minhash pipeline 4× (r7 plan audit)
    sigs = _reuse(
        minhash_signatures(documents, text_col, k, shingle_k, hasher)
    )
    buckets = minhash_band_buckets(k=k, bands=bands, hasher=hasher, sigs=sigs)
    slim = buckets.select("doc_id", "band", "bucket")

    # skew guard: a mega-cluster of identical docs puts m docs in one
    # band bucket → O(m²) pairs inside the self-join. Buckets beyond the
    # cap are dropped (mass-duplicates belong to exact_dedup, which runs
    # in one linear shuffle); re-deriving slim per join side is a cheap
    # explode + band hash over the checkpointed signatures.
    return _lsh_pairs(slim, ["band", "bucket"], sigs, k, threshold,
                      max_bucket)


def _lsh_pairs(slim: DataFrame, keys: list[str], sigs: DataFrame, k: int,
               threshold: float, max_bucket: int | None) -> DataFrame:
    """The candidate and verify half of banded LSH, shared by
    :func:`minhash_lsh_pairs` and the per-band commits of
    ``plans.lineage.DedupJob``: pairs ``doc_a < doc_b`` of ``slim``
    rows (doc_id + ``keys``) that share every key, with keys held by
    more than ``max_bucket`` rows dropped (:func:`_drop_over_cap`),
    whose ``sigs`` signatures (doc_id, signature) agree on at least
    ``threshold`` of their ``k`` minhashes. Returns (doc_a, doc_b,
    sig_similarity)."""
    if max_bucket is not None:
        slim = _drop_over_cap(slim, keys, max_bucket)
    a = slim.alias("a")
    b = slim.alias("b")
    on = functools.reduce(
        operator.and_,
        [F.col(f"a.{key}") == F.col(f"b.{key}") for key in keys]
        + [F.col("a.doc_id") < F.col("b.doc_id")],
    )
    cand = (
        a.join(b, on)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # NOTE (r8): forcing SHUFFLE_HASH on these join-backs (build side =
    # signature table) was A/B-measured at parity-to-worse vs the
    # planner's sort-merge (smj best 24.0 s vs shj 24.6 s interleaved).
    # The strategy is left to AQE: it re-plans each join from the
    # signature table's runtime size, so a table under the adaptive
    # broadcast threshold is broadcast and the candidate pair stream is
    # not shuffled for the re-attachment; a larger one keeps the
    # shuffled join.
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")
    )
    sim = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(k)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("sig_similarity", F.round(sim, 4))
        .where(F.col("sig_similarity") >= threshold)
        .select("doc_a", "doc_b", "sig_similarity")
    )


def minhash_dedup_clusters(
    documents: DataFrame,
    text_col: str = "text",
    k: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    hasher: Hasher = xx64,
) -> DataFrame:
    """Scalable near-dup CLUSTER ASSIGNMENT — the linear-output
    alternative to pair listing for mass-duplicate corpora.

    A mega-cluster of m mutually-near-dup documents has O(m²) true
    pairs; :func:`minhash_lsh_pairs` bounds the join with max_bucket
    but the honest pair listing is still O(m·cap). Cluster assignment
    needs only O(m·bands) star edges: every doc links to the MIN
    doc_id of each band bucket it lands in (a groupBy-min — linear, no
    self-join, so NO bucket cap is needed), then pointer-jumping
    rounds (label ← label[label], each round SQUARING the resolved
    chain length) collapse transitive chains onto one representative.
    Deterministic at any partitioning; labels only ever decrease, so
    extra iterations are idempotent at the fixpoint.

    Iterates until the labels stop changing — a guaranteed fixpoint
    (labels strictly decrease while any row changes; ≤ log2(longest
    chain) squarings). Each round is cut with :func:`_reuse` and checked
    with one ``count()``, so building the result runs jobs; every
    round's blocks are freed with its frame.

    Returns (doc_id, cluster_rep) for every document sharing at least
    one band bucket with another document (singletons are excluded —
    at corpus scale nearly every doc is a singleton and emitting them
    would dwarf the real output).
    """
    # checkpoint the bucket keys: the frame feeds both the per-bucket
    # min aggregate AND the star-edge join — without the cut each side
    # recomputes the whole signature pipeline (r7 plan audit)
    buckets = _reuse(
        minhash_band_buckets(
            documents, text_col, k, bands, shingle_k, hasher
        ).select("doc_id", "band", "bucket")
    )
    bmin = (
        buckets.groupBy("band", "bucket")
        .agg(F.min("doc_id").alias("bmin"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .drop("n")
    )
    labels = (
        buckets.join(bmin, ["band", "bucket"])
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("rep"))
    )

    def hop_once(lab: DataFrame) -> DataFrame:
        # rep's own label exists (rep sits in its own >1 bucket) and is
        # ≤ rep, so the join is inner and labels decrease monotonically
        hop = lab.select(
            F.col("doc_id").alias("rep"), F.col("rep").alias("rep2")
        )
        return lab.join(hop, "rep").select(
            "doc_id", F.col("rep").alias("_old"),
            F.col("rep2").alias("rep"),
        )

    # converge: squaring halves the unresolved chain every round, so
    # 20 rounds covers chains of 2^20 hops — far beyond any bucket-star
    # graph; the cap only guards against a logic bug looping forever.
    # Each hop references `labels` twice (the frame and its flipped
    # copy), so every round is cut: the plan never nests earlier hops.
    labels = _reuse(labels)
    for _ in range(20):
        nxt = _reuse(hop_once(labels))
        converged = nxt.where(F.col("rep") != F.col("_old")).count() == 0
        labels = nxt.drop("_old")
        if converged:
            break
    return labels.select("doc_id", F.col("rep").alias("cluster_rep"))


def simhash(col: Column, bits: int = 64, hasher: Hasher = xx64) -> Column:
    """64-bit SimHash over shingle hashes, as a signed long.

    Bit i of the signature = majority vote of bit i across shingle
    hashes — expressed with native bit ops + aggregate."""
    sh = shingles(col)
    hashes = F.transform(sh, lambda s: hasher(s, 0))
    n = F.size(hashes)

    def bit_set(i: int):
        return lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1

    bit_cols = []
    for i in range(bits):
        ones = F.size(F.filter(hashes, bit_set(i)))
        bit_cols.append(
            F.when(ones * 2 >= n, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63)))
            .otherwise(F.lit(0).cast("long"))
        )
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out + c
    return out


def _simhash_majority_udf():
    """Vectorized SimHash majority vote: shingle hashes stay JVM-side
    (exact xx64/md5 parity with the native path), only the 64-way bit
    popcount moves to numpy. The native Column expression runs 64
    interpreted higher-order filters per row (~2,000 lambda evals/doc)
    — measured at 100k docs it is the dominant cost of
    simhash_near_dups; this Arrow-batched kernel computes all 64
    counts in one reduceat. Bit-identical to :func:`simhash` (same
    2·ones ≥ n rule, same i=63 sign bit, all-ones for empty input,
    null in → null signature out exactly like the native Column)."""
    @F.pandas_udf("long")
    def sig(hashes: pd.Series) -> pd.Series:
        drop_zip_finders()
        arrs = hashes.to_numpy()
        n = len(arrs)
        # null text → null hash array: propagate a NULL signature to
        # match the native Column path instead of raising on len(None)
        isnull = np.fromiter((a is None for a in arrs), dtype=bool, count=n)
        lens = np.fromiter(
            (0 if a is None else len(a) for a in arrs),
            dtype=np.int64, count=n,
        )
        out_u = np.full(n, np.uint64(0xFFFFFFFFFFFFFFFF))  # empty → all ones
        nz = np.flatnonzero(lens > 0)
        if len(nz):
            flat = np.concatenate(
                [np.asarray(arrs[i], dtype=np.int64) for i in nz]
            ).view(np.uint64)
            shifts = np.arange(64, dtype=np.uint64)
            bits = ((flat[:, None] >> shifts[None, :])
                    & np.uint64(1)).astype(np.int64)
            offsets = np.zeros(len(nz), dtype=np.int64)
            offsets[1:] = np.cumsum(lens[nz])[:-1]
            counts = np.add.reduceat(bits, offsets, axis=0)
            maj = (counts * 2 >= lens[nz][:, None])
            weights = np.uint64(1) << shifts
            out_u[nz] = (maj.astype(np.uint64) * weights[None, :]).sum(
                axis=1, dtype=np.uint64
            )
        res = pd.Series(out_u.view(np.int64))
        if isnull.any():
            res = res.astype("Int64")
            res[isnull] = pd.NA
        return res

    return sig


def max_hamming_for(jaccard: float, bits: int = 64) -> int:
    """Expected SimHash Hamming distance (rounded up) of a pair whose
    shingle sets have the given Jaccard similarity — the knob that
    turns a similarity TARGET into a ``max_hamming`` setting.

    Derivation: for same-size shingle sets, Jaccard J ≈ indicator
    cosine 2J/(1+J); each signature bit flips independently with
    probability θ/π (θ = arccos of that cosine), so a J-similar pair
    sits at expected Hamming ≈ bits·θ/π. Setting ``max_hamming`` below
    this loses ≈ half the pairs at exactly J and nearly all looser
    ones — the r4 bench measured planted recall ≈ 0.007 for
    1-token-in-32 edits (J ≈ 0.82, expected Hamming ≈ 10) under the
    default ``max_hamming=3`` (≈ J ≥ 0.97). Rule of thumb: SimHash is
    the TIGHT-duplicate operator; for bands much below J ≈ 0.95,
    expected Hamming grows past what pigeonhole blocking can probe
    cheaply (max_hamming 10 → 16 blocks of 4 bits → huge buckets), so
    use :func:`minhash_lsh_pairs`, whose band threshold tunes to any
    J.

    >>> max_hamming_for(0.97)   # the default operating point
    4
    >>> max_hamming_for(0.82)   # 1-token-in-32 edits: not simhash turf
    10
    """
    import math

    if not 0.0 < jaccard <= 1.0:
        raise ValueError(f"jaccard must be in (0, 1], got {jaccard}")
    cos = min(1.0, 2.0 * jaccard / (1.0 + jaccard))
    return min(bits, math.ceil(bits * math.acos(cos) / math.pi))


def simhash_blocks(max_hamming: int) -> int:
    """Smallest power-of-two block count with a pigeonhole recall
    guarantee: a pair within Hamming distance h differs in ≤ h blocks,
    so with blocks ≥ h+1 at least one block (prefix) matches exactly.
    Round 1 accepted any max_hamming with 4 fixed blocks, silently
    voiding the guarantee for h > 3."""
    for b in (2, 4, 8, 16, 32, 64):
        if b >= max_hamming + 1:
            return b
    return 64


def simhash_near_dups(
    documents: DataFrame, text_col: str = "text", prefix_bits: int | None = None,
    max_hamming: int = 3, hasher: Hasher = xx64,
    max_bucket: int | None = 4096,
    vectorized: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket on rotated prefixes (any pair
    within Hamming distance ≤ max_hamming shares at least one of the
    rotated prefixes — pigeonhole over ≥ max_hamming+1 blocks, derived
    by :func:`simhash_blocks` unless ``prefix_bits`` is forced), then
    verify exact Hamming distance natively via bit_count(xor).

    OPERATING POINT — read before picking ``max_hamming``: Hamming
    distance maps to shingle-Jaccard via :func:`max_hamming_for`; the
    default 3 means ≈ Jaccard ≥ 0.97 (near-identical documents ONLY).
    A looser band (e.g. one-token edits at J ≈ 0.8, expected Hamming
    ≈ 13) will be silently missed — measured planted recall 0.007 in
    BENCH_r04 — so for loose bands use :func:`minhash_lsh_pairs` and
    keep SimHash for tight duplicates where its single-long signature
    is the cheapest possible state.

    ``max_bucket`` mirrors minhash_lsh_pairs' skew guard: a mega-cluster
    of near-identical documents shares block prefixes, making the block
    self-join O(m²); prefix buckets beyond the cap are dropped (mass
    duplicates belong to exact_dedup's linear shuffle). The cap is
    mirrored in the DuckDB oracle (functions/oracle.py:dedup_simhash_sql).

    ``vectorized=True`` swaps the 64 interpreted majority-vote HOFs for
    the Arrow-batched numpy kernel (:func:`_simhash_majority_udf`) —
    bit-identical signatures (tests assert equality), ~an order of
    magnitude faster at corpus scale. The native path stays the default
    because it is the zero-Python, DuckDB-oracled form."""
    if vectorized:
        if hasher is xx64 and not documents.isStreaming:
            # r8: fused tokens→signature Arrow kernel — no JVM shingle
            # strings, one Python crossing (see _simhash_sig_kernel);
            # bit-identical signatures, differential-tested. md5 (the
            # oracled queries) keeps the HOF-hash + majority-UDF path.
            d = _simhash_sig_arrow(documents, text_col)
        else:
            d = _simhash_sig_hof(documents, text_col, hasher)
    else:
        d = documents.select(
            "doc_id", simhash(F.col(text_col), hasher=hasher).alias("sig")
        )
    if prefix_bits is None:
        prefix_bits = 64 // simhash_blocks(max_hamming)
    blocks = 64 // prefix_bits
    rot = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("block"),
                    F.shiftrightunsigned(
                        F.col("sig"), i * prefix_bits
                    ).bitwiseAND(F.lit((1 << prefix_bits) - 1)).alias("prefix"),
                )
                for i in range(blocks)
            ]
        )
    )
    # checkpoint the signatures: both self-join sides (and the cap
    # aggregate) re-derive from the materialized (doc_id, sig) rows —
    # otherwise the signature (64 interpreted HOF filters, or the
    # Arrow kernel, over freshly re-materialized shingle strings) runs
    # once per side
    d = _reuse(d)
    keyed = d.select("doc_id", "sig", rot.alias("r")).select(
        "doc_id", "sig", "r.block", "r.prefix"
    )
    if max_bucket is not None:
        # skew cap via over-cap-key anti join — no whole-frame count
        # window (see _drop_over_cap)
        keyed = _drop_over_cap(keyed, ["block", "prefix"], max_bucket)
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.prefix") == F.col("b.prefix"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        # verify BEFORE the pair-dedup shuffle: hamming is a pure
        # function of the pair, so filter∘dropDuplicates ≡
        # dropDuplicates∘filter — and candidates from near-identical
        # prefix buckets mostly fail the exact check, so the dedup
        # exchange ships a fraction of the rows
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs


def ngram_jaccard(
    documents: DataFrame, pairs: DataFrame, text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact Jaccard verification of candidate (doc_a, doc_b) pairs —
    two broadcast-friendly joins + array_intersect/union."""
    sh = documents.select(
        "doc_id", shingles(F.col(text_col), shingle_k).alias("sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a")
                     .withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b")
                .withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return j.select(
        "doc_a",
        "doc_b",
        F.round(inter / F.greatest(union, F.lit(1)), 4).alias("jaccard"),
    )


def near_dup_planes_for(n_rows: int) -> int:
    """Plane count for near-dup PAIR LISTING: target ~O(1) average
    bucket occupancy (planes ≈ log2(n) + 2, clamped to [8, 30]) so the
    bucket self-join emits candidates in proportion to true near-dup
    density, not corpus size. :func:`lsh_planes_for`'s ~2⁸-per-bucket
    target is the right shape for query-time top-k probing (candidates
    per probe) but quadratic-prone for an all-pairs self-join."""
    import math

    return min(30, max(8, math.ceil(math.log2(max(n_rows, 2))) + 2))


def lsh_planes_for(n_rows: int) -> int:
    """Corpus-scaled plane count: round 1's fixed 8 planes = 256
    buckets total, which degenerates to quadratic bucket self-joins at
    real corpus sizes (10⁹ vectors → ~4M per bucket). Scale so the
    average bucket holds ~2⁸ vectors, floor 8, cap 30 (signatures stay
    inside int64 and 1-bit multi-probe stays cheap)."""
    import math

    return min(30, max(8, math.ceil(math.log2(max(n_rows, 2))) - 8))


def embedding_near_dups(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 4096,
    vectorized: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    Scale shape mirrors minhash-LSH: random-hyperplane signatures
    bucket the vectors (near-identical embeddings share sign bits with
    high probability), candidate pairs come from bucket equi-joins on
    the signature and all its 1-bit flips, and the exact cosine runs
    only inside candidate sets — never the O(n²) cross join.
    ``n_planes`` defaults to a corpus-scaled count (:func:`lsh_planes_for`);
    signature buckets larger than ``max_bucket`` are dropped (exact
    mass-duplicates belong to exact_dedup).
    Returns (vec_a, vec_b, cosine) with vec_a < vec_b, cosine ≥
    threshold, rounded to 4 decimals.

    ``vectorized=True`` computes the signature and the candidate
    cosine in Arrow-batched numpy (similarity._lsh_signature_udf /
    _cosine_pair_udf) — the scale path: the interpreted HOF folds
    dominate wall-clock at ≥10⁵ vectors. Native stays the default
    (zero-Python, DuckDB-oracled).
    """
    from .similarity import (
        _cosine_pair_udf,
        _lsh_signature_udf,
        cosine,
        hyperplanes,
        lsh_signature,
    )

    dim = int(embeddings.select(F.size(vec_col).alias("d")).first()["d"])
    if n_planes is None:
        n_planes = near_dup_planes_for(embeddings.count())
    planes = hyperplanes(dim, n_planes)
    sig_expr = (
        _lsh_signature_udf(planes)(F.col(vec_col))
        if vectorized
        else lsh_signature(F.col(vec_col), planes)
    )
    # slim signature frame: (vid, sig) only — the vectors re-attach to
    # DEDUPLICATED candidate pairs from the base table, so the probe
    # explode and the self-join never carry the dim-wide arrays
    # checkpoint the signatures: probe side, bucket side and the cap
    # aggregate all read the materialized 16-byte rows — otherwise the
    # signature kernel runs once per join side (r7 plan audit)
    sigs = _reuse(
        embeddings.select(
            F.col(id_col).alias("vid"),
            sig_expr.alias("sig"),
        )
    )
    if max_bucket is not None:
        # skew cap via over-cap-key anti join — no whole-frame count
        # window (see _drop_over_cap)
        sigs = _drop_over_cap(sigs, ["sig"], max_bucket)
    # each vector lands in its own bucket + every 1-bit flip, so any
    # pair within Hamming distance 1 of signatures meets in ≥1 bucket
    probes = F.array_union(
        F.array(F.col("sig")),
        F.array(*[F.col("sig").bitwiseXOR(F.lit(1 << p))
                  for p in range(n_planes)]),
    )
    # slim candidate join (same rework as minhash_lsh_pairs): the
    # self-join and pair dedup ship only (vid, bucket/sig) — the dim-
    # wide vectors re-attach to deduplicated pairs afterwards
    exploded = sigs.select("vid", F.explode(probes).alias("bucket"))
    # build side of the bucket join: the slim (vid, sig) table, 16
    # payload bytes/row, against the (n_planes+1)-way explode. AQE
    # broadcasts it from its runtime size when it fits, keeping the
    # exploded probe stream map-side (no exchange, no sort of n·(P+1)
    # rows); past the threshold the join stays shuffled.
    a, b = exploded.alias("a"), sigs.alias("b")
    pairs = (
        a.join(b, (F.col("a.bucket") == F.col("b.sig"))
               & (F.col("a.vid") < F.col("b.vid")))
        .select(
            F.col("a.vid").alias("vec_a"),
            F.col("b.vid").alias("vec_b"),
        )
    )
    # no pair dedup needed (unlike the multi-band minhash/simhash
    # joins): a's probes are sig plus every 1-bit flip — n_planes+1
    # DISTINCT values (array_union dedups, and two flips / a flip and
    # the identity always differ in ≥1 bit) — while b contributes its
    # single sig, so a given (vec_a, vec_b) matches in AT MOST ONE
    # bucket, and vec_a < vec_b excludes the mirrored orientation.
    # The dropDuplicates this replaces was a full exchange + hash
    # aggregate over every candidate pair (72.5M rows at 10⁶ vectors)
    # for zero removed rows.
    # NOTE (r8): a task-side vector-gather rerank (scratch parquet +
    # searchsorted inside the cosine kernel, guide §8) was built and
    # A/B-measured here against the join-back shape: values identical,
    # walls parity-to-worse (gather 35.4 s best vs join 24.9 s best at
    # 10⁶ vectors / 72.5M candidates) — AQE's handling of the dim-wide
    # joins is already competitive on this data, so the simpler join
    # shape stays. The re-attachment sides are the embedding table
    # projected to (id, vec); AQE broadcasts them from their runtime
    # size when they fit, so the candidate pair stream flows map-side
    # through both attachments, and shuffles both joins past the
    # threshold.
    cand = pairs.join(
        embeddings.select(F.col(id_col).alias("vec_a"),
                          F.col(vec_col).alias("va")),
        "vec_a",
    ).join(
        embeddings.select(F.col(id_col).alias("vec_b"),
                          F.col(vec_col).alias("vb")),
        "vec_b",
    )
    # the threshold filter references a UDF-derived column; Catalyst
    # pushes the filter below the projection and EVALUATES THE UDF
    # TWICE (once under the filter, once in the project — guide §4.4).
    # Marking the kernel non-deterministic pins a single evaluation
    # with the filter above it; the values are unchanged.
    cos = (
        _cosine_pair_udf().asNondeterministic()(F.col("va"), F.col("vb"))
        if vectorized
        else cosine(F.col("va"), F.col("vb"))
    )
    return (
        cand.withColumn("cosine", F.round(cos, 4))
        .where(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


def paragraph_dedup(
    documents: DataFrame,
    text_col: str = "text",
    sep: str = "\n\n",
    paragraphs: Column | None = None,
    hasher: Hasher = xx64,
    out_sep: str | None = None,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Corpus-WIDE paragraph dedup (the MassiveText/Dolma boilerplate
    pass): every later occurrence of a paragraph already seen anywhere
    in the corpus is dropped; the first occurrence — ordered by
    (doc_id, position) — survives, and each document is reassembled
    from its surviving paragraphs in original order.

    ``paragraphs`` overrides the default ``sep`` split with any
    array<string> Column (e.g. chunked pseudo-paragraphs for corpora
    without separators); ``out_sep`` defaults to ``sep``.
    ``passthrough`` names per-document input columns (e.g. ``source``)
    carried through the reassembly via ``first(...)`` — so downstream
    composition never re-joins the corpus on doc_id just to recover
    metadata the operator had in hand (that re-join cost compose_e2e a
    full corpus×corpus Exchange pair before round 7).

    Scale shape — deliberately NOT a row_number window over the
    paragraph hash: the motivating input is one boilerplate paragraph
    duplicated 10⁸-10⁹ times, and a window would ship every copy to a
    single partition. The input is scanned ONCE, and the plan has two
    exchanges and no join:

    - each document explodes to a head row (pos 0, null paragraph, so
      documents with zero paragraphs survive) plus one row per
      paragraph;
    - one aggregation keyed by the paragraph hash keeps the
      ``min_by(…, struct(doc_id, pos))`` row of each hash — partially
      aggregated map-side, so the mega-duplicate collapses to one row
      per map task before the shuffle; a null paragraph is keyed by its
      own (doc_id, pos), so every head row survives;
    - one groupBy(doc_id) reassembles each document from its head row
      and the winners it owns.

    Nothing is cached: the single scan leaves no subtree to share.

    Returns ``doc_id, n_paras, n_kept, text_deduped, *passthrough``
    (documents with zero paragraphs survive with empty text)."""
    reserved = {"doc_id", "n_paras", "n_kept", "text_deduped",
                "pos", "para", "ph", "_solo"}
    bad = reserved.intersection(passthrough)
    if bad:
        raise ValueError(
            f"passthrough columns collide with operator outputs: "
            f"{sorted(bad)}"
        )
    if out_sep is None:
        out_sep = sep
    c = F.coalesce(F.col(text_col), F.lit(""))
    if paragraphs is None:
        paragraphs = F.filter(
            F.transform(F.split(c, F.lit(sep), -1), lambda x: F.trim(x)),
            lambda x: x != "",
        )
    rows = documents.select(
        "doc_id",
        *passthrough,
        F.size(paragraphs).cast("bigint").alias("n_paras"),
        F.posexplode(
            F.concat(F.array(F.lit(None)), F.coalesce(paragraphs, F.array()))
        ).alias("pos", "para"),
    )
    para = F.col("para")
    winners = rows.select(
        "*",
        F.when(para.isNotNull(), hasher(para, 0)).alias("ph"),
        F.when(para.isNull(), F.struct("doc_id", "pos")).alias("_solo"),
    ).groupBy("ph", "_solo").agg(
        F.min_by(
            F.struct("doc_id", "pos", "para", "n_paras", *passthrough),
            F.struct("doc_id", "pos"),
        ).alias("w")
    )
    return winners.select("w.*").groupBy("doc_id").agg(
        F.first("n_paras").alias("n_paras"),
        F.count_if(para.isNotNull()).alias("n_kept"),
        F.concat_ws(
            out_sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(para.isNotNull(), F.struct("pos", "para"))
                    )
                ),
                lambda s: s["para"],
            ),
        ).alias("text_deduped"),
        *[F.first(p).alias(p) for p in passthrough],
    )
