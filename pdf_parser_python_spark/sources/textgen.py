"""Seeded million-row text + embedding corpora with PLANTED near-dup
structure, for benchmarking the dedup/ANN family at scale
(VERDICT r3 item 1: convert the 100-TB skew-cap claims from design
review into measurements).

Layout of ``dedup_bench_corpus(n_docs)`` (deterministic in doc id, so
identical at any partitioning / cluster size):

- ids ``[0, MEGA)``                 — ONE mega-cluster: every doc is the
  same 32-token base text with a single id-derived token substituted.
  All members collide in the same LSH band buckets → the ``max_bucket``
  skew cap must engage or the self-join goes O(MEGA²).
- ids ``[MEGA, MEGA + 5*N_SMALL)``  — N_SMALL planted clusters of 5
  near-identical docs (cluster-seeded base, one token mutated per
  member). These are the RECALL probes: every in-cluster pair is a true
  near-dup the pipeline must find.
- remaining ids                     — unique background text.

``dedup_bench_embeddings(n_vecs, dim)`` mirrors the shape for vectors:
a near-identical mega-direction cluster ``[0, MEGA_VECS)`` (engages
embedding_near_dups' bucket cap), ``N_PAIR`` planted near-dup pairs
``(PAIR_BASE + i, PAIR_BASE + i + PAIR_OFFSET)`` at cosine ≈ 1, and
random background. All generation is vectorized numpy inside
mapInPandas — no per-row Python, no driver materialization.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..zipcache import drop_zip_finders

# ── text corpus layout ──────────────────────────────────────────────────
MEGA = 100_000          #: mega-cluster size (ids [0, MEGA))
N_SMALL = 10_000        #: planted 5-member clusters
SMALL_SIZE = 5
SMALL_START = MEGA
SMALL_END = MEGA + N_SMALL * SMALL_SIZE

N_TOKENS = 32
VOCAB = 4096

# ── embedding corpus layout ─────────────────────────────────────────────
MEGA_VECS = 50_000      #: near-identical direction cluster (ids [0, MEGA_VECS))
N_PAIR = 1_000          #: planted near-dup pairs
PAIR_BASE = MEGA_VECS
PAIR_OFFSET = 200_000   #: partner id distance (keeps ids well separated)

_P1, _P2, _P3 = 2654435761, 40503, 2246822519  # Knuth/xx multiplicative mixes


def _mix(a: np.ndarray, b) -> np.ndarray:
    """Cheap vectorized integer hash → [0, 2^31)."""
    x = (a.astype(np.uint64) * _P1 + np.uint64(b) * np.uint64(_P2)) & np.uint64(
        0xFFFFFFFF
    )
    x ^= x >> np.uint64(15)
    x = (x * np.uint64(_P3)) & np.uint64(0xFFFFFFFF)
    x ^= x >> np.uint64(13)
    return (x & np.uint64(0x7FFFFFFF)).astype(np.int64)


def _token_matrix(ids: np.ndarray) -> np.ndarray:
    """(n, N_TOKENS) int token indices with the planted cluster layout."""
    n = len(ids)
    # seed per doc: cluster members share the cluster seed
    seed = ids.copy()
    mega = ids < MEGA
    small = (ids >= SMALL_START) & (ids < SMALL_END)
    seed[mega] = -1  # one shared seed
    seed[small] = 10_000_000 + (ids[small] - SMALL_START) // SMALL_SIZE
    cols = np.arange(N_TOKENS, dtype=np.int64)
    mat = _mix(seed[:, None] * np.int64(31) + cols[None, :] * np.int64(7),
               0xC0FFEE) % VOCAB
    # one id-derived token substitution for cluster members (the "edit")
    clustered = mega | small
    if clustered.any():
        rows = np.flatnonzero(clustered)
        pos = (ids[rows] % N_TOKENS).astype(np.int64)
        mat[rows, pos] = _mix(ids[rows], 0xED17) % VOCAB
    return mat


def _texts(ids: np.ndarray) -> list[str]:
    vocab = np.array([f"tok{i:04x}" for i in range(VOCAB)])
    words = vocab[_token_matrix(ids)]
    return [" ".join(row) for row in words]


def dedup_bench_corpus(spark: SparkSession, n_docs: int,
                       partitions: int | None = None,
                       start: int = 0) -> DataFrame:
    """documents(doc_id: long, text: string) with planted near-dups.
    ``start`` shifts the id range (texts are a pure function of id, so
    a shifted slice is exactly the corresponding corpus slice)."""
    base = spark.range(
        start, start + n_docs,
        numPartitions=partitions or spark.sparkContext.defaultParallelism,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for b in batches:
            ids = b["id"].to_numpy()
            yield pd.DataFrame({"doc_id": ids, "text": _texts(ids)})

    return base.mapInPandas(gen, schema="doc_id long, text string")


def _base_vecs(ids: np.ndarray, dim: int) -> np.ndarray:
    d = np.arange(dim, dtype=np.int64)
    r = _mix(ids[:, None] * np.int64(131) + d[None, :] * np.int64(17), 0xE9BED)
    return (r / 2**31 - 0.5).astype(np.float64)


def _vec_matrix(ids: np.ndarray, dim: int) -> np.ndarray:
    vecs = _base_vecs(ids, dim)
    mega = ids < MEGA_VECS
    if mega.any():
        u = _base_vecs(np.array([-7]), dim)[0]
        vecs[mega] = u[None, :] + 1e-3 * vecs[mega]
    partner = (ids >= PAIR_BASE + PAIR_OFFSET) & (
        ids < PAIR_BASE + PAIR_OFFSET + N_PAIR
    )
    if partner.any():
        src = ids[partner] - PAIR_OFFSET
        vecs[partner] = _base_vecs(src, dim) + 5e-4 * _base_vecs(
            ids[partner] + 900_000_000, dim
        )
    return vecs


def dedup_bench_embeddings(spark: SparkSession, n_vecs: int, dim: int = 16,
                           partitions: int | None = None) -> DataFrame:
    """embeddings(vec_id: long, embedding: array<double>)."""
    base = spark.range(
        0, n_vecs,
        numPartitions=partitions or spark.sparkContext.defaultParallelism,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for b in batches:
            ids = b["id"].to_numpy()
            vecs = _vec_matrix(ids, dim)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(vecs)}
            )

    return base.mapInPandas(gen, schema="vec_id long, embedding array<double>")
