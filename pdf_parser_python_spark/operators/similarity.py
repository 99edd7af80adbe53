"""Similarity search over embedding columns (array<float>).

Three paths:

- :func:`cosine_topk` — exact brute force: broadcast the query vector,
  one narrow pass, global top-k via window. The baseline and the
  verifier for the approximate path.
- :func:`lsh_bucket_topk` — random-hyperplane LSH: vectors are bucketed
  by a P-bit sign signature against deterministic pseudo-random
  hyperplanes; the query probes its own bucket plus all 1-bit-flip
  buckets (multi-probe), then ranks candidates exactly. At cluster
  scale the bucket join replaces the full scan: candidates ≈ n / 2^P
  per probe instead of n;
- :func:`ivf_topk` — inverted-file ANN: deterministic centroid cells,
  n_probe nearest cells scanned, exact rerank — at scale the
  assignment table is partitioned by cell so probes partition-prune.

All dot products run as native zip_with/aggregate over doubles — no
UDF, no Python in the scoring loop. Hyperplanes are seeded-hash
deterministic: identical across partitioning and cluster size.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..zipcache import drop_zip_finders


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity with a zero-norm guard: 0/0 would yield NaN,
    and Spark orders NaN ABOVE every double — an all-zero embedding
    would top every ranking and pass every >= threshold filter. Zero-
    norm pairs score -1.0 (below any real cosine) instead."""
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    denom = _norm(ad) * _norm(bd)
    return F.when(denom > 0, _dot(ad, bd) / denom).otherwise(F.lit(-1.0))


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """Scale-safe global top-k: ``orderBy().limit(k)`` compiles to
    TakeOrderedAndProject (per-partition heaps + driver merge) instead
    of a global row_number window, which would funnel EVERY scored row
    through a single partition. The rank window afterwards only ever
    sees k rows."""
    take = scored.orderBy(F.col("score").desc(), F.col("vec_id")).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col("vec_id"))
    return take.withColumn("rank", F.row_number().over(w)).select(
        "rank", "vec_id", F.round("score", 4).alias("score")
    )


def cosine_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors of one stored vector (excluding itself)."""
    qv = embeddings.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    )
    scored = (
        embeddings.where(F.col(id_col) != query_vec_id)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col(id_col).alias("vec_id"),
            cosine(F.col(vec_col), F.col("qvec")).alias("score"),
        )
    )
    return _topk(scored, k)


def _lsh_signature_udf(planes: list[list[float]]):
    """Arrow-batched signature kernel: one numpy matmul replaces
    n_planes interpreted aggregate/zip_with folds per row. Same sign
    rule (dot ≥ 0 → bit set) and plane set as :func:`lsh_signature`;
    float summation order differs (pairwise vs fold-left), which can
    flip a bit only when a dot product sits within rounding error of
    exactly 0 — measure-zero for real embeddings, and the vectorized
    path is opt-in (the native form stays the DuckDB-oracled default)."""
    P = np.asarray(planes, dtype=np.float64).T  # (dim, n_planes)
    weights = np.uint64(1) << np.arange(P.shape[1], dtype=np.uint64)

    @F.pandas_udf("long")
    def sig(vecs: pd.Series) -> pd.Series:
        drop_zip_finders()
        M = np.stack(
            [np.asarray(v, dtype=np.float64) for v in vecs.to_numpy()]
        )
        bits = (M @ P) >= 0
        return pd.Series(
            (bits.astype(np.uint64) * weights[None, :])
            .sum(axis=1, dtype=np.uint64).view(np.int64)
        )

    return sig


def _cosine_pair_udf():
    """Vectorized exact cosine over two array columns (candidate
    rerank): einsum + norms, zero-norm pairs score -1.0 like
    :func:`cosine`."""
    @F.pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        drop_zip_finders()
        A = np.stack([np.asarray(v, dtype=np.float64) for v in va.to_numpy()])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in vb.to_numpy()])
        num = np.einsum("ij,ij->i", A, B)
        den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(
            np.where(den > 0, num / np.where(den > 0, den, 1.0), -1.0)
        )

    return cos


def _cosine_query_udf(qvec: list[float]):
    """Vectorized cosine against one fixed query vector."""
    q = np.asarray(qvec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @F.pandas_udf("double")
    def cos(vs: pd.Series) -> pd.Series:
        drop_zip_finders()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs.to_numpy()])
        den = np.linalg.norm(M, axis=1) * qn
        num = M @ q
        return pd.Series(
            np.where(den > 0, num / np.where(den > 0, den, 1.0), -1.0)
        )

    return cos


def hyperplanes(dim: int, n_planes: int, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic pseudo-random unit-free hyperplanes."""
    rng = random.Random(seed)
    return [
        [rng.uniform(-1.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of a vector against the plane set → int."""
    bits = [
        F.when(
            _dot(
                vec.cast("array<double>"),
                F.array(*[F.lit(w) for w in plane]),
            )
            >= 0,
            F.lit(1 << p).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        for p, plane in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")  # long: corpus-scaled plane counts pass 31 bits


#: seed base for LSH tables: table li uses hyperplanes(dim, P, SEED+li),
#: so table 0 is exactly the classic single-table plane set
_LSH_SEED = 0x5EED


def _probe_array(
    qsig: Column, qvec: Column, planes: list[list[float]], probe_t: int
) -> Column:
    """Probe-bucket array for one LSH table, as a native Column:
    the query's own bucket, every 1-bit flip (radius-1 — covers any
    single sign error), and, when ``probe_t`` > 0, ALL 2^t sign
    combinations of the t planes whose |query·plane| is smallest
    (query-directed multi-probe, Lv et al.: a neighbor's differing
    bits are overwhelmingly the near-zero dots, so flipping exactly
    those buys multi-bit recall at a tiny probe budget)."""
    n_planes = len(planes)
    base = F.array_union(
        F.array(qsig),
        F.array(*[qsig.bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)]),
    )
    if not probe_t:
        return base
    ranked = F.array_sort(
        F.array(*[
            F.struct(
                F.abs(
                    _dot(
                        qvec.cast("array<double>"),
                        F.array(*[F.lit(w) for w in plane]),
                    )
                ).alias("a"),
                F.lit(p).alias("p"),
            )
            for p, plane in enumerate(planes)
        ])
    )
    sel = F.slice(F.transform(ranked, lambda x: x["p"]), 1, probe_t)
    # 1 << p with a Column shift amount (shiftleft needs a literal):
    # pow is exact in doubles for p < 53, and plane counts cap at 30
    selbits = F.transform(
        sel, lambda p: F.pow(F.lit(2.0), p).cast("long")
    )

    def combo(mask: Column) -> Column:
        acc = qsig
        for j in range(probe_t):
            acc = acc.bitwiseXOR(
                F.when(
                    mask.bitwiseAND(F.lit(1 << j)) != 0,
                    F.element_at(selbits, j + 1),
                ).otherwise(F.lit(0).cast("long"))
            )
        return acc

    combos = F.transform(
        F.sequence(F.lit(0), F.lit(2 ** probe_t - 1)), combo
    )
    return F.array_union(base, combos)


def lsh_bucket_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_planes: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = False,
    n_tables: int = 1,
    probe_t: int = 0,
) -> DataFrame:
    """Approximate top-k: signature buckets + multi-probe, exact rerank
    inside the candidate set. ``vectorized=True`` computes signatures
    and the rerank cosine in Arrow-batched numpy (the scale path: the
    native HOF folds are interpreted per element); the probe set then
    becomes a literal isin filter — no join at all.

    Recall knobs (r5 — single-table radius-1 measured recall@10 = 0.6
    at 10⁶ vectors, BENCH_r04):

    - ``n_tables``: L independent plane sets (seeds ``_LSH_SEED+li``);
      a neighbor is found if ANY table buckets it near the query —
      recall compounds as 1-(1-r)^L for ~L× probe cost;
    - ``probe_t``: per table, additionally probe all 2^t sign combos
      of the t planes nearest the query (smallest |dot| — where a true
      neighbor's bits actually differ).

    ``n_tables=2, probe_t=4`` measures recall@10 = 1.0 on the 10⁶
    planted corpus at ~2.4× the radius-1 candidate count (BENCH_r05);
    the defaults keep the classic single-table radius-1 contract."""
    if dim is None:
        first = embeddings.select(F.size(vec_col).alias("d")).first()
        dim = int(first["d"])
    tables = [
        hyperplanes(dim, n_planes, _LSH_SEED + li) for li in range(n_tables)
    ]

    if vectorized:
        import numpy as np

        qrow = embeddings.where(F.col(id_col) == query_vec_id).select(
            F.col(vec_col).alias("qvec")
        ).first()
        qv = [float(x) for x in qrow["qvec"]]
        probe_sets = []
        for planes in tables:
            P = np.asarray(planes, dtype=np.float64)
            qd = P @ np.asarray(qv)
            qsig = int(sum(1 << p for p in range(n_planes) if qd[p] >= 0))
            ps = {qsig} | {qsig ^ (1 << p) for p in range(n_planes)}
            if probe_t:
                # ties on |dot| break by plane index — same (a, p)
                # lexicographic rule as the native array_sort path
                sel = sorted(range(n_planes),
                             key=lambda p: (abs(qd[p]), p))[:probe_t]
                for mask in range(1 << probe_t):
                    s = qsig
                    for j in range(probe_t):
                        if mask >> j & 1:
                            s ^= 1 << sel[j]
                    ps.add(s)
            probe_sets.append(sorted(ps))
        base = embeddings.where(F.col(id_col) != query_vec_id).select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            *[
                _lsh_signature_udf(tables[li])(F.col(vec_col))
                .alias(f"sig{li}")
                for li in range(n_tables)
            ],
        )
        hit = F.col("sig0").isin(probe_sets[0])
        for li in range(1, n_tables):
            hit = hit | F.col(f"sig{li}").isin(probe_sets[li])
        scored = base.where(hit).select(
            "vec_id", _cosine_query_udf(qv)(F.col("vec")).alias("score")
        )
        return _topk(scored, k)

    sigs = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        *[
            lsh_signature(F.col(vec_col), tables[li]).alias(f"sig{li}")
            for li in range(n_tables)
        ],
    )
    q = sigs.where(F.col("vec_id") == query_vec_id).select(
        F.col("vec").alias("qvec"),
        *[F.col(f"sig{li}").alias(f"qsig{li}") for li in range(n_tables)],
    )
    # one probe row per (table, bucket); candidates come from the
    # (tbl, sig) equi-join — the shape that partition-prunes against a
    # pre-bucketed signature table at corpus scale
    probe_df = None
    for li in range(n_tables):
        p_li = q.select(
            "qvec",
            F.lit(li).alias("tbl"),
            F.explode(
                _probe_array(
                    F.col(f"qsig{li}"), F.col("qvec"), tables[li], probe_t
                )
            ).alias("sig"),
        )
        probe_df = p_li if probe_df is None else probe_df.unionByName(p_li)

    keyed = sigs.where(F.col("vec_id") != query_vec_id).select(
        "vec_id",
        "vec",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(li).alias("tbl"), F.col(f"sig{li}").alias("sig")
                )
                for li in range(n_tables)
            ])
        ).alias("ts"),
    ).select("vec_id", "vec", F.col("ts.tbl"), F.col("ts.sig"))

    cand = (
        keyed.join(F.broadcast(probe_df), ["tbl", "sig"])
        .dropDuplicates(["vec_id"])  # a vector may hit in several tables
    )
    scored = cand.select(
        "vec_id", cosine(F.col("vec"), F.col("qvec")).alias("score")
    )
    return _topk(scored, k)


# ── IVF (inverted-file) ANN ──────────────────────────────────────────────

def ivf_assignments(
    embeddings: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hasher=None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Partition vectors into cells around deterministic centroids.

    Centroids are the ``n_cells`` vectors with the smallest
    ``hasher(vec_id)`` (default xxhash64) — a seedless, partitioning-
    independent sample (no k-means iterations: at corpus scale the IVF
    list structure matters more than centroid quality, and determinism
    is a gate requirement). Assignment = argmin centroid distance,
    computed as a native expression per row.
    """
    from ..functions.hashing import xx64

    hasher = hasher or xx64
    seeds = (
        embeddings.select(id_col, vec_col)
        .withColumn("_h", hasher(F.col(id_col).cast("string"), 0))
        .orderBy("_h", id_col)
        .limit(n_cells)
        .collect()
    )
    centroids = [(int(r[id_col]), [float(x) for x in r[vec_col]]) for r in seeds]

    def dist2(c_vec: list[float]) -> Column:
        c = F.array(*[F.lit(x) for x in c_vec])
        return F.aggregate(
            F.zip_with(
                F.col(vec_col).cast("array<double>"), c,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    best = F.struct(dist2(centroids[0][1]).alias("d"), F.lit(0).alias("cell"))
    for i, (_, cv) in enumerate(centroids[1:], start=1):
        cand = F.struct(dist2(cv).alias("d"), F.lit(i).alias("cell"))
        best = F.when(cand["d"] < best["d"], cand).otherwise(best)

    assigned = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("vec"),
        best["cell"].alias("cell"),
    )
    return assigned, centroids


def _ivf_assign_udf(centroids: list[tuple[int, list[float]]]):
    """Vectorized cell assignment: one (n, dim)×(dim, cells) matmul
    per Arrow batch instead of n_cells interpreted fold expressions
    per row. Same argmin-with-first-index tie rule as the native fold."""
    C = np.stack([np.asarray(cv, dtype=np.float64) for _, cv in centroids])
    c2 = (C * C).sum(axis=1)

    @F.pandas_udf("int")
    def cell(vs: pd.Series) -> pd.Series:
        drop_zip_finders()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in vs.to_numpy()])
        d2 = (M * M).sum(axis=1)[:, None] - 2.0 * (M @ C.T) + c2[None, :]
        return pd.Series(np.argmin(d2, axis=1).astype(np.int32))

    return cell


def ivf_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hasher=None,
    vectorized: bool = False,
) -> DataFrame:
    """IVF ANN: search only the ``n_probe`` cells nearest the query,
    exact cosine rerank inside them. At cluster scale the assignment
    table is written partitioned by cell, so a probe is a partition-
    pruned scan of ~n_probe/n_cells of the corpus. ``vectorized=True``
    moves cell assignment and the rerank cosine to Arrow-batched numpy
    (matmul) — the scale path for wide corpora."""
    if vectorized:
        from ..functions.hashing import xx64 as _xx64

        h = hasher or _xx64
        seeds = (
            embeddings.select(id_col, vec_col)
            .withColumn("_h", h(F.col(id_col).cast("string"), 0))
            .orderBy("_h", id_col)
            .limit(n_cells)
            .collect()
        )
        centroids = [
            (int(r[id_col]), [float(x) for x in r[vec_col]]) for r in seeds
        ]
        assigned = embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("vec"),
            _ivf_assign_udf(centroids)(F.col(vec_col)).alias("cell"),
        )
    else:
        assigned, centroids = ivf_assignments(
            embeddings, n_cells, id_col, vec_col, hasher
        )

    qrow = embeddings.where(F.col(id_col) == query_vec_id).select(
        F.col(vec_col).alias("qvec")
    ).first()
    qv = [float(x) for x in qrow["qvec"]]
    ranked = sorted(
        range(len(centroids)),
        key=lambda i: sum((a - b) ** 2 for a, b in zip(qv, centroids[i][1])),
    )
    probe = ranked[:n_probe]

    # the query vector is already on the driver (cell ranking above) —
    # embed it as a literal instead of re-scanning + broadcast-joining
    # it, saving one job (cosine casts both sides to double anyway)
    cand = assigned.where(
        F.col("cell").isin(probe) & (F.col("vec_id") != query_vec_id)
    )
    if vectorized:
        score = _cosine_query_udf(qv)(F.col("vec"))
    else:
        q_lit = F.array(*[F.lit(x) for x in qv])
        score = cosine(F.col("vec"), q_lit)
    scored = cand.select("vec_id", score.alias("score"))
    return _topk(scored, k)
