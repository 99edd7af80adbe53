"""Mixture planning + deterministic sampling: python brute-force
parity, partitioning invariance, epoch semantics."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark.operators.mixture import (
    PPM,
    mixture_plan,
    mixture_sample,
)


def _py_u_ppm(doc_id, seed=0) -> int:
    h = hashlib.md5(f"{seed}:{doc_id}".encode()).hexdigest()
    return int(h[:15], 16) % PPM


def _corpus(spark):
    rows = [
        (i, f"s{i % 3}", " ".join("w" for _ in range(5 + (i % 7))))
        for i in range(90)
    ]
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )


def test_plan_matches_brute_force(spark):
    docs = _corpus(spark)
    weights = {"s0": 2.0, "s1": 1.0}  # s2 unplanned -> excluded
    target = 1000
    got = {r["source"]: r for r in
           mixture_plan(docs, weights, target).collect()}
    assert set(got) == {"s0", "s1"}

    rows = docs.collect()
    for s, w in weights.items():
        toks = [len(r["text"].split()) for r in rows if r["source"] == s]
        avail = sum(toks)
        tgt = math.floor(w / 3.0 * target)
        r = got[s]
        assert r["n_docs"] == len(toks)
        assert r["tokens_avail"] == avail
        assert r["tokens_target"] == tgt
        assert r["n_epochs"] == tgt // avail
        assert r["residual_ppm"] == (tgt % avail) * PPM // avail


def test_sample_matches_hash_mirror_and_partitioning(spark):
    docs = _corpus(spark)
    plan = mixture_plan(docs, {"s0": 2.0, "s1": 1.0}, 1000)
    plan_rows = {r["source"]: r for r in plan.collect()}

    def expected(doc_id, source):
        p = plan_rows.get(source)
        if p is None:
            return 0
        return p["n_epochs"] + (
            1 if _py_u_ppm(doc_id) < p["residual_ppm"] else 0
        )

    for npart in (1, 7):
        out = mixture_sample(docs.repartition(npart), plan).collect()
        counts = {}
        for r in out:
            counts[r["doc_id"]] = counts.get(r["doc_id"], 0) + 1
            assert r["epoch"] >= 1
        for d in docs.collect():
            assert counts.get(d["doc_id"], 0) == expected(
                d["doc_id"], d["source"]
            ), d["doc_id"]


def test_sample_epochs_distinguishable_and_zero_rate(spark):
    docs = _corpus(spark)
    # n_epochs=2, residual 0 -> exactly 2 copies of every s0 doc
    plan = spark.createDataFrame(
        [("s0", 2, 0)], "source string, n_epochs long, residual_ppm long"
    )
    out = mixture_sample(docs, plan).collect()
    per_doc = {}
    for r in out:
        per_doc.setdefault(r["doc_id"], []).append(r["epoch"])
    assert all(sorted(v) == [1, 2] for v in per_doc.values())
    assert len(per_doc) == 30  # only s0

    # zero plan -> empty
    zplan = spark.createDataFrame(
        [("s0", 0, 0)], "source string, n_epochs long, residual_ppm long"
    )
    assert mixture_sample(docs, zplan).count() == 0


def test_sampled_token_total_approaches_target(spark):
    # residual sampling is hash-Bernoulli: realized tokens land within
    # a loose band of the target (deterministic given the fixed corpus)
    docs = _corpus(spark)
    weights = {"s0": 1.0, "s1": 1.0, "s2": 1.0}
    target = 500
    plan = mixture_plan(docs, weights, target)
    out = mixture_sample(docs, plan)
    total = out.select(
        F.sum(F.size(F.split(F.trim("text"), r"\s+")))
    ).first()[0]
    assert abs(total - target) / target < 0.35


def test_plan_is_single_tiny_aggregate(spark):
    docs = _corpus(spark)
    plan = mixture_sample(
        docs, mixture_plan(docs, {"s0": 1.0}, 100)
    )._jdf.queryExecution().executedPlan().toString()
    # the corpus is neither shuffled nor joined: the #sources-row plan is
    # read once as a scalar subquery (the lines marked ':', which hold
    # the plan's own tiny aggregate) and looked up per document
    corpus_side = [line for line in plan.splitlines()
                   if not line.lstrip().startswith(":")]
    assert "Subquery" in plan
    assert not any("Exchange" in line or "Join" in line
                   for line in corpus_side)
    assert "SortMergeJoin" not in plan


# — property: plan arithmetic + sampler count law over random corpora —
from hypothesis import given, settings, strategies as st  # noqa: E402


@settings(max_examples=12, deadline=None)
@given(
    st.lists(  # (source idx 0-3, token count) per doc
        st.tuples(st.integers(0, 3), st.integers(1, 50)),
        min_size=4, max_size=40,
    ),
    st.dictionaries(
        st.integers(0, 3), st.floats(0.1, 5.0), min_size=1, max_size=4
    ),
    st.integers(10, 5000),
)
def test_plan_and_sampler_laws(spark, docs_spec, wspec, target):
    rows = [
        (i, f"s{s}", " ".join("w" for _ in range(nt)))
        for i, (s, nt) in enumerate(docs_spec)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    weights = {f"s{k}": v for k, v in wspec.items()}
    wsum = sum(weights.values())
    plan_rows = mixture_plan(df, weights, target).collect()
    avail = {}
    for i, (s, nt) in enumerate(docs_spec):
        avail[f"s{s}"] = avail.get(f"s{s}", 0) + nt
    for r in plan_rows:
        a, tgt = avail[r["source"]], r["tokens_target"]
        assert tgt == math.floor(
            weights[r["source"]] * target / wsum
        )
        # decomposition law: epochs*avail + residual-expected ~ target
        assert 0 <= r["residual_ppm"] < PPM
        expected = r["n_epochs"] * a + r["residual_ppm"] * a / PPM
        assert tgt - a / PPM - 1 <= expected <= tgt
    # sampler count law: every planned doc appears n_epochs or +1 times
    # explicit schema: hypothesis can produce a weight recipe naming
    # only sources absent from the corpus → empty plan (inner join),
    # and createDataFrame cannot infer a schema from zero rows
    plan_df = spark.createDataFrame(
        plan_rows,
        "source string, n_docs bigint, tokens_avail bigint, "
        "tokens_target bigint, n_epochs bigint, residual_ppm bigint",
    )
    out = mixture_sample(df, plan_df).groupBy("doc_id", "source").count()
    prow = {r["source"]: r for r in plan_rows}
    for r in out.collect():
        assert r["count"] - prow[r["source"]]["n_epochs"] in (0, 1)


def test_weighted_source_with_zero_corpus_tokens(spark):
    """r6 (VERDICT item 8): a source that appears in the weight recipe
    AND in the corpus but whose docs are all empty (tokens_avail = 0)
    must not divide by zero or emit a phantom plan row the sampler
    would explode on."""
    rows = [(0, "s0", "a b c d e"), (1, "s1", ""), (2, "s1", "   ")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    plan = mixture_plan(df, {"s0": 1.0, "s1": 1.0}, 100)
    got = {r["source"]: r for r in plan.collect()}
    assert got["s0"]["tokens_target"] == 50
    # s1: tokens_avail 0 → epochs/residual must be well-defined (null
    # from x/0 is acceptable only if the sampler then keeps 0 copies)
    out = mixture_sample(df, plan).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert 1 not in ids and 2 not in ids  # nothing sampled from s1
    assert ids.count(0) == got["s0"]["n_epochs"] + (
        1 if ids.count(0) > got["s0"]["n_epochs"] else 0
    )


def test_weight_for_source_absent_from_corpus(spark):
    """A recipe entry with no corpus rows simply yields no plan row
    (inner join) — and the sampler output carries only planned docs."""
    df = spark.createDataFrame(
        [(0, "s0", "a b"), (1, "s0", "c d")],
        "doc_id long, source string, text string",
    )
    plan = mixture_plan(df, {"s0": 1.0, "ghost": 9.0}, 40)
    assert {r["source"] for r in plan.collect()} == {"s0"}
    out = mixture_sample(df, plan)
    assert out.where(F.col("source") != "s0").count() == 0


def test_residual_ppm_no_bigint_wrap(spark):
    """ADVICE r5: tokens_avail beyond 9.2e12 wrapped the old
    (rem * 1e6) BIGINT product negative, silently zeroing residual
    sampling. The double divide-first path must stay in [0, PPM)."""
    df = spark.createDataFrame(
        [(i, "s", "x") for i in range(3)],
        "doc_id long, source string, text string",
    )
    plan = mixture_plan(
        df, {"s": 1.0}, 10**16,
        n_tokens=F.lit(4 * 10**12).cast("long"),
    ).collect()[0]
    assert 0 <= plan["residual_ppm"] < PPM
    assert plan["residual_ppm"] == 333333  # 1e16/3 = .33e12 rem over 1.2e13


def test_plan_rejects_weights_that_sum_to_nothing(spark):
    """A recipe whose weights sum to 0 or less has no mixture to plan:
    building the plan raises, instead of the job failing on a division
    by zero. No weights at all plan nothing, as before."""
    docs = _corpus(spark)
    for weights in ({"s0": 0.0}, {"s0": 0.0, "s1": 0.0},
                    {"s0": 1.0, "s1": -2.0}):
        with pytest.raises(ValueError, match="weights"):
            mixture_plan(docs, weights, 100)
    empty = mixture_plan(docs, {}, 100)
    assert empty.count() == 0
    assert mixture_sample(docs, empty).count() == 0


def test_plan_and_sample_hold_no_table_and_no_join(spark):
    """The recipe enters mixture_plan as literals and the plan enters
    mixture_sample as a scalar-subquery lookup: neither analyzed plan
    holds a Python-made table (LogicalRDD, a job of its own on a second
    Python worker pool) or a Join."""
    docs = spark.range(40).selectExpr(
        "id AS doc_id", "concat('s', CAST(id % 3 AS STRING)) AS source",
        "repeat('w ', CAST(id % 5 AS INT)) AS text")
    plan = mixture_plan(docs, {"s0": 2.0, "s1": 1.0}, 50)
    sample = mixture_sample(docs, plan)
    for df in (plan, sample):
        tree = df._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" not in tree
        assert "Join" not in tree
    assert {r["source"] for r in plan.collect()} == {"s0", "s1"}
    assert sample.count() > 0
