"""Physical-plan property tests: the scale guarantees are asserted,
not just documented — regressions that add shuffles or lift filters
above the Python barrier fail CI."""

import re

from pdf_parser_python_spark import schema
from pdf_parser_python_spark.operators.validate import validation_report
from pdf_parser_python_spark.plans import pipeline
from pdf_parser_python_spark.sources.spans import generate_doc_spans


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.createDataFrame(
        [(f"pl-{i}", generate_doc_spans(100 + i, mean_questions=3))
         for i in range(4)],
        schema=schema.DOCUMENT_SPANS_EXT,
    )


def test_packed_engine_zero_shuffle(spark):
    # dispatch disabled: the packed small-doc path itself must stay
    # scan → mapInPandas with no exchange
    p = _plan(pipeline.extract_questions(_docs(spark),
                                         giant_doc_spans=None))
    assert p.count("Exchange") == 0
    assert p.count("MapInArrow") == 1 and p.count("MapInPandas") == 0
    assert "FlatMapGroupsInPandas" not in p


def test_default_dispatch_probe_and_forced_union(spark):
    """Default (auto) dispatch: a giant-free corpus gets the pure
    packed plan (probe says no outliers → no union overhead); a forced
    threshold builds the union with the anchor-chunked vectorized
    branch keyed on (doc_id, chunk). Holds for all five packed entry
    points on every engine each one takes."""
    d = _docs(spark)
    calls = [
        (entry, {"engine": e})
        for entry in ("extract_questions", "extract_flat_spans",
                      "extract_validation")
        for e in ("packed", "packed-pandas")
    ] + [("extract_doc_text", {}), ("extract_question_scalars", {})]
    for entry, kw in calls:
        fn = getattr(pipeline, entry)
        pandas = kw.get("engine") == "packed-pandas"
        p_auto = _plan(fn(d, **kw))
        assert (p_auto.count("MapInArrow"), p_auto.count("MapInPandas")) == (
            (0, 1) if pandas else (1, 0)), (entry, kw)
        assert "Exchange" not in p_auto and "Union" not in p_auto, (
            entry, kw)
        p = _plan(fn(d, giant_doc_spans=10, **kw))
        assert "Union" in p, (entry, kw)
        # the giant branch re-packs pseudo-docs on (doc_id, chunk)
        parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
        assert any("doc_id" in x and "chunk" in x for x in parts), (
            entry, kw, parts)
        # ... and runs the SAME vectorized kernel (a second MapInArrow
        # in the union), not the window-cascade native engine
        assert (p.count("MapInArrow"), p.count("MapInPandas")) == (
            (1, 1) if pandas else (2, 0)), (entry, kw)


def test_validation_single_shuffle(spark):
    p = _plan(validation_report(pipeline.extract_questions(
        _docs(spark), giant_doc_spans=None)))
    assert p.count("Exchange") == 1


def test_native_engine_no_python(spark):
    p = _plan(pipeline.parse_raw(_docs(spark)))
    assert "MapInPandas" not in p and "FlatMapGroupsInPandas" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_parquet_scan_pruned(spark, tmp_path):
    d = _docs(spark)
    path = str(tmp_path / "docs.parquet")
    d.write.parquet(path)
    read = spark.read.parquet(path)
    p = _plan(pipeline.extract_questions(read))
    m = re.search(r"ReadSchema: (\S+)", p)
    assert m and "doc_id" in m.group(1) and "spans" in m.group(1)


def test_paragraph_dedup_passthrough_no_rejoin(spark):
    """r7 (VERDICT r6 item 1): metadata rides THROUGH the dedup
    reassembly — no join in the plan (the winners are one aggregate
    over the single scan), where the recover-by-re-join formulation
    pays a corpus-on-doc_id join."""
    from pyspark.sql import functions as F

    from pdf_parser_python_spark.operators.dedup import paragraph_dedup

    d = spark.createDataFrame(
        [(1, "a b c", "s0"), (2, "a b d", "s1"), (3, "", "s0")],
        "doc_id long, text string, source string",
    )

    def joins(df):
        p = _plan(df)
        return sum(
            p.count(t)
            for t in ("SortMergeJoin", "ShuffledHashJoin",
                      "BroadcastHashJoin")
        )

    pass_through = paragraph_dedup(d, sep=" ", passthrough=("source",))
    rejoined = paragraph_dedup(d, sep=" ").join(
        d.select("doc_id", "source"), "doc_id"
    )
    assert joins(pass_through) == 0
    assert joins(rejoined) == 1
    rows = {r["doc_id"]: r for r in pass_through.collect()}
    # winner doc keeps all paras; loser keeps only its novel one;
    # empty doc survives with empty text; source carried everywhere
    assert rows[1]["text_deduped"] == "a b c" and rows[1]["n_kept"] == 3
    assert rows[2]["text_deduped"] == "d" and rows[2]["n_paras"] == 3
    assert rows[3]["n_kept"] == 0 and rows[3]["text_deduped"] == ""
    assert [rows[i]["source"] for i in (1, 2, 3)] == ["s0", "s1", "s0"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        paragraph_dedup(d, passthrough=("text_deduped",))


def test_compose_e2e_no_corpus_self_join(spark):
    """The composed curate-to-pack plan must carry `source` through
    the dedup aggregate, never recover it with a corpus self-join:
    no plain `Join Inner (doc_id = doc_id)` may appear anywhere in
    the analyzed plan (remaining doc_id joins are the decontamination
    LeftAnti — required semantics)."""
    import __spark_entry__ as entry

    df = entry.queries()["compose_e2e"](spark, "/root/testdata/sf0.001")
    ana = df._jdf.queryExecution().analyzed().toString()
    self_joins = re.findall(
        r"Join Inner, \(doc_id#\d+L? = doc_id#\d+L?\)", ana
    )
    assert not self_joins, self_joins


def test_doc_text_zero_exchange(spark):
    """r7 (VERDICT r6 item 2): exam reassembly aggregates inside the
    kernel — pruned scan → one MapInArrow, NO Exchange (the old
    groupBy(collect_list) re-shuffled rows the kernel had colocated).
    Forced-giant dispatch keeps the union branch's shuffle confined
    to the outlier docs."""
    p = _plan(pipeline.extract_doc_text(_docs(spark)))
    assert p.count("Exchange") == 0
    assert p.count("MapInArrow") == 1 and "Union" not in p

    p_giant = _plan(pipeline.extract_doc_text(_docs(spark),
                                              giant_doc_spans=10))
    assert "Union" in p_giant and p_giant.count("MapInArrow") >= 1


def test_round7_query_plan_shapes(spark):
    """Plan-lock the round-7 batch surfaces' documented shapes:
    - corpus_rollup: grouping sets via ONE Expand + partial agg
      (one shuffle), never a union of per-set scans;
    - lang_pivot: pinned values ⇒ no eager collect-distinct job, two
      map-side-combined aggregate shuffles at most;
    - source_quartile_band: cutoffs come back via BROADCAST join
      (no rank window, no row-shuffle of the probe side beyond the
      20-row aggregate);
    - salted_join: the salted key join partitions on (source, salt).
    """
    import __spark_entry__ as entry

    q = entry.queries()
    sf = "/root/testdata/sf0.001"

    p = _plan(q["corpus_rollup"](spark, sf))
    assert "Expand" in p and p.count("Exchange") == 1 and "Union" not in p

    p = _plan(q["lang_pivot"](spark, sf))
    assert p.count("Exchange") <= 2 and "Window" not in p

    p = _plan(q["source_quartile_band"](spark, sf))
    assert "BroadcastHashJoin" in p and "Window" not in p
    assert "SortMergeJoin" not in p

    # the dim side is broadcastable here, so Catalyst broadcasts it —
    # the salted shuffle (the pattern under test) shows once the dim
    # side is "too big to broadcast":
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = _plan(q["salted_join"](spark, sf))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "hashpartitioning(source" in p and "salt" in p.split(
        "hashpartitioning(source", 1
    )[1][:80]
