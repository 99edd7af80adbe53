"""The curation lane keeps nothing past the frames that made it: no
operator registers a plan in the session's CacheManager, the blocks of
every reuse point are freed once its frame is garbage-collected, and
building a lane operator runs no Spark job. The lane is the perfbench
``curate_dedup`` one (curation gate → decontamination → paragraph dedup
→ mixture → packing), over a generated corpus whose every row crosses
the Python boundary."""

import gc
import time

from pyspark.sql import functions as F

from pdf_parser_python_spark.operators.contamination import decontaminated
from pdf_parser_python_spark.operators.curation import curation_filter
from pdf_parser_python_spark.operators.dedup import (
    minhash_dedup_clusters,
    paragraph_dedup,
)
from pdf_parser_python_spark.operators.mixture import (
    mixture_plan,
    mixture_sample,
)
from pdf_parser_python_spark.operators.packing import (
    pack_sequences,
    pack_stats,
)
from pdf_parser_python_spark.operators.repetition import chunked_lines
from pdf_parser_python_spark.operators.textstats import tokens
from pdf_parser_python_spark.sources import textgen

SEQ_LEN = 256


def _lane(docs, built=None):
    """The lane's pack totals frame; ``built(name)`` runs after each
    operator's plan is built."""
    built = built or (lambda name: None)
    pick = F.abs(F.xxhash64("text"))
    prompts = docs.where(pick % 50 == 0).select(
        F.concat_ws(" ", F.slice(tokens(F.col("text")), 1, 12)).alias("text")
    )
    kept = curation_filter(
        docs, engine="arrow", line_width=10, min_quality=0,
        langs=("en", "und"), passthrough=("text",),
    ).where("keep").select("doc_id", "text")
    built("curation_filter")
    clean = decontaminated(kept, prompts)
    built("decontaminated")
    deduped = paragraph_dedup(clean, paragraphs=chunked_lines(F.col("text"), 15))
    built("paragraph_dedup")
    srcd = deduped.where(F.col("n_kept") > 0).select(
        "doc_id", F.col("text_deduped").alias("text"),
        F.concat(F.lit("s"), (pick % 4).cast("string")).alias("source"),
    )
    weights = {f"s{i}": float(1 + i % 3) for i in range(4)}
    mixed = mixture_sample(srcd, mixture_plan(srcd, weights, 20_000))
    built("mixture_sample")
    packed = pack_sequences(
        mixed.select((F.col("doc_id") * 128 + F.col("epoch")).alias("doc_id"),
                     "text"),
        seq_len=SEQ_LEN,
    )
    stats = pack_stats(packed, SEQ_LEN).agg(
        F.count(F.lit(1)).alias("n_packs"), F.sum("n_tokens").alias("tokens")
    )
    built("pack_sequences")
    return stats


def _persistent_rdd_ids(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keySet())


def test_lane_builds_without_jobs(spark):
    tracker = spark.sparkContext.statusTracker()
    docs = textgen.dedup_bench_corpus(spark, 300)
    seen = set(tracker.getJobIdsForGroup())
    ran = {}

    def built(name):
        now = set(tracker.getJobIdsForGroup())
        ran[name] = len(now - seen)
        seen.update(now)

    _lane(docs, built)
    assert ran == dict.fromkeys(
        ["curation_filter", "decontaminated", "paragraph_dedup",
         "mixture_sample", "pack_sequences"], 0)


def test_lane_and_clusters_leave_no_cache(spark):
    """Over three distinct corpora: after each sink the CacheManager
    holds what it held before, and once the frames are dropped every
    RDD the run persisted is unpersisted again."""
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache.numCachedEntries()
    before = _persistent_rdd_ids(sc)
    for k in range(3):
        docs = textgen.dedup_bench_corpus(spark, 300, start=10_000 * k)
        stats = _lane(docs).first()
        assert stats["n_packs"] > 0 and stats["tokens"] > 0
        assert cache.numCachedEntries() == n_cached
        assert minhash_dedup_clusters(docs).count() > 0
        assert cache.numCachedEntries() == n_cached
        del docs
        left = _persistent_rdd_ids(sc) - before
        deadline = time.time() + 120
        while left and time.time() < deadline:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.5)
            left = _persistent_rdd_ids(sc) - before
        assert left == set(), f"corpus {k}: persisted RDDs {sorted(left)}"
