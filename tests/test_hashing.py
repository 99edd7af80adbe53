"""Each Spark-SQL form in ``functions/hashing.py`` gives the value of
its Column form, row for row: the scalar hashers over null, empty,
whitespace-only, Unicode and long strings, and the multi-lane
combiners over long arrays with null lanes. Operators build their
static expressions as SQL text, so these forms are what the dedup,
contamination, mixture and packing outputs hash with. The SQL-text
helpers of ``textstats`` (``tokens_sql``, ``sql_str``) are checked the
same way."""

import pytest
from pyspark.sql import functions as F

from pdf_parser_python_spark.functions import hashing
from pdf_parser_python_spark.operators.textstats import (
    sql_str,
    tokens,
    tokens_sql,
)

STRINGS = [
    None, "", " ", "  \t\n\r ", "　 ", "héllo wörld", "日本語 テキスト",
    "emoji 🙂 text", "İstanbul ıi ſ K", "a'b\\c\"d", "x" * 20_000,
    " ".join(f"tok{i}" for i in range(3_000)),
]
SEEDS = (0, 1, 31, 12345)


@pytest.fixture(scope="module")
def strings(spark):
    return spark.createDataFrame(list(enumerate(STRINGS)), "i int, s string")


@pytest.mark.parametrize("name", ["xx64", "md5_64"])
def test_scalar_sql_form_equals_column_form(spark, strings, name):
    col_form = getattr(hashing, name)
    sql_form = getattr(hashing, f"{name}_sql")
    rows = strings.select(
        "i", "s",
        *[col_form(F.col("s"), s).alias(f"c{s}") for s in SEEDS],
        *[F.expr(sql_form("s", s)).alias(f"q{s}") for s in SEEDS],
    ).collect()
    assert len(rows) == len(STRINGS)
    for r in rows:
        for s in SEEDS:
            assert r[f"c{s}"] == r[f"q{s}"], (name, r["i"], s)
            assert (r[f"c{s}"] is None) == (
                name == "md5_64" and r["s"] is None)


def _lane_rows(spark):
    n = 96
    return spark.createDataFrame(
        [
            (0, []),
            (1, [None]),
            (2, [None] * n),
            (3, list(range(-n // 2, n // 2))),
            (4, [None if j % 3 == 0 else j * 7919 - 2**62 for j in range(n)]),
            (5, [2**63 - 1, -(2**63), 0, None, 1]),
        ],
        "i int, a array<bigint>",
    ), n


def test_combiner_sql_forms_equal_column_forms(spark):
    """The combiners' Column construction — ``xxhash64`` over the lanes
    plus a seed lane, and ``md5_64`` over the ':'-joined decimal lanes
    (nulls skipped) — against the SQL forms the operators use, over
    every lane count up to a long array."""
    df, n = _lane_rows(spark)
    widths = (1, 2, 3, 4, 8, n)
    for seed in (0, 5):
        cols, sqls = [], []
        for w in widths:
            lanes = [F.get(F.col("a"), F.lit(j)) for j in range(w)]
            exprs = [f"get(a, {j})" for j in range(w)]
            cols += [
                F.xxhash64(*lanes, F.lit(seed)).alias(f"cx{w}"),
                hashing.md5_64(
                    F.concat_ws(":", *[c.cast("string") for c in lanes]),
                    seed,
                ).alias(f"cm{w}"),
            ]
            sqls += [
                F.expr(hashing.xx64_combine_sql(exprs, seed)).alias(f"qx{w}"),
                F.expr(hashing.md5_64_combine_sql(exprs, seed))
                .alias(f"qm{w}"),
            ]
        for r in df.select("i", *cols, *sqls).collect():
            for w in widths:
                assert r[f"cx{w}"] == r[f"qx{w}"], ("xx64", r["i"], w, seed)
                assert r[f"cm{w}"] == r[f"qm{w}"], ("md5", r["i"], w, seed)
                assert r[f"qx{w}"] is not None and r[f"qm{w}"] is not None


def test_sql_forms_of_unknown_hasher_raise():
    assert hashing.sql_forms(hashing.xx64) == (
        hashing.xx64_sql, hashing.xx64_combine_sql)
    assert hashing.sql_forms(hashing.md5_64) == (
        hashing.md5_64_sql, hashing.md5_64_combine_sql)
    with pytest.raises(ValueError, match="hasher"):
        hashing.sql_forms(lambda col, seed=0: F.hash(col))


def test_tokens_sql_equals_tokens(spark, strings):
    rows = strings.select(
        "i",
        tokens(F.col("s")).alias("c"),
        F.expr(tokens_sql("s")).alias("q"),
        tokens(F.lower(F.coalesce(F.col("s"), F.lit("")))).alias("cl"),
        F.expr(tokens_sql("lower(coalesce(s, ''))")).alias("ql"),
    ).collect()
    for r in rows:
        assert r["c"] == r["q"], r["i"]
        assert r["cl"] == r["ql"], r["i"]


def test_sql_str_round_trips(spark):
    texts = ["", "plain", "it's", "back\\slash", "\\'", "\n\n", "'\\n'",
             "ünï 🙂", "\\\\s+"]
    row = spark.range(1).select(
        *[F.expr(sql_str(t)).alias(f"t{i}") for i, t in enumerate(texts)]
    ).first()
    assert [row[f"t{i}"] for i in range(len(texts))] == texts
