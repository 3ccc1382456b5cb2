"""Hot-bucket cap boundedness: a flood of identical documents (the
web-scale failure mode — parked domains / error pages that share every
LSH band key) must produce O(cap^2) candidate pairs, never O(n^2).

Reference shape being guarded: ocr_service has no dedup tier at all;
this is the 100-TB scale contract for the q34/q19/q100 family
(operators/dedup.py::_cap_bucket).
"""

from __future__ import annotations

import pytest

from ocr_service_spark.operators.dedup import (
    LSH_BUCKET_CAP,
    q34_minhash_neardup_pairs,
    q100_split_leakage_guard,
)
from ocr_service_spark.operators.similarity import q19_embedding_neardup_pairs

N_FLOOD = 1000
MAX_PAIRS = LSH_BUCKET_CAP * (LSH_BUCKET_CAP - 1) // 2  # C(cap, 2)
FLOOD_TEXT = (
    "this domain is parked free courtesy of the registrar "
    "buy this domain contact the owner for details today"
)


def _flood_docs_dir(spark, tmp_path) -> str:
    sf_dir = str(tmp_path / "sf")
    rows = [(i, FLOOD_TEXT) for i in range(N_FLOOD)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf_dir}/documents.parquet"
    )
    return sf_dir


def test_q34_flood_is_cap_bounded(spark, tmp_path):
    # 1000 byte-identical docs share all 4 band keys. Uncapped, that is
    # C(1000,2) = 499,500 pairs from one corpus; capped, every band
    # keeps the same lowest-64 ids, so the distinct pair set is exactly
    # C(64,2) = 2,016 — and every pair is a true near-dup (jaccard 1.0).
    out = q34_minhash_neardup_pairs(spark, _flood_docs_dir(spark, tmp_path))
    rows = out.collect()
    assert len(rows) == MAX_PAIRS
    assert all(r.jaccard == 1.0 for r in rows)
    assert all(r.doc_a < LSH_BUCKET_CAP and r.doc_b < LSH_BUCKET_CAP for r in rows)


def test_q34_cap_is_mapside_window_group_limit(spark, tmp_path):
    # The cap must plan as WindowGroupLimit (rank-limit pushdown), which
    # pre-limits each map task's slice of a hot bucket BEFORE the
    # shuffle — the property that keeps a 10^6-id bucket off a single
    # reducer. A plain Window+Filter would still be correct but would
    # ship the whole bucket to one task first.
    df = q34_minhash_neardup_pairs(spark, _flood_docs_dir(spark, tmp_path))
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "WindowGroupLimit" in plan


def test_q19_flood_is_cap_bounded(spark, tmp_path):
    # Same flood through the embedding path: identical vectors land in
    # the same bucket of every SRP band.
    sf_dir = str(tmp_path / "sf")
    vec = [0.25 * ((i % 7) - 3.0) for i in range(32)]
    rows = [(i, vec, 0) for i in range(300)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf_dir}/embeddings.parquet")
    out = q19_embedding_neardup_pairs(spark, sf_dir).collect()
    assert len(out) == MAX_PAIRS  # not C(300,2) = 44,850
    assert all(r.cosine == 1.0 for r in out)


def test_q100_flood_match_counts_are_cap_bounded(spark, tmp_path):
    # Across the split boundary each surviving val doc can match at
    # most the capped train posting list (the same lowest-64 train ids
    # in every band), never the whole train side of the flood.
    out = q100_split_leakage_guard(spark, _flood_docs_dir(spark, tmp_path))
    agg = out.groupBy().max("n_leak_matches").collect()[0][0]
    assert 1 <= agg <= LSH_BUCKET_CAP
    # and leaks were still detected despite the cap (recall holds for
    # the docs that matter: survivors link the flood cluster)
    assert out.filter("leak").count() >= 1


def test_q14_q124_posting_cap_is_mapside_window_group_limit(spark, tmp_path):
    # The inverted-index df cap (q14/q124 family) must ALSO pre-limit
    # map-side: without the WindowGroupLimit, collect_list builds a hot
    # chrome token's full posting list transiently on one reducer
    # before the size filter discards it — the same single-task failure
    # mode _cap_bucket fixes for band buckets.
    from ocr_service_spark.operators.dedup import (
        q14_jaccard_pairs,
        q124_containment_pairs,
    )

    # q14/q124 now park the capped posting aggregation behind a lazy
    # localCheckpoint (it has two consumers), which hides its plan from
    # the query-level explain — so pin the building block they both
    # feed through _df_cap_prelimit instead: the rank-limit window must
    # plan as a map-side WindowGroupLimit (partial, before the
    # exchange) plus the final one, exactly like _cap_bucket's.
    from pyspark.sql import functions as F

    from ocr_service_spark.operators.dedup import _df_cap_prelimit, _shingles
    from ocr_service_spark.plans.parallelism import documents

    sf_dir = _flood_docs_dir(spark, tmp_path)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    toks = _shingles(documents(spark, sf_dir)).select(
        "doc_id", F.xxhash64("tok").alias("tok")
    )
    plan = (
        _df_cap_prelimit(toks)._jdf.queryExecution().explainString(mode)
    )
    assert plan.count("WindowGroupLimit") >= 2, plan
    # and the checkpointed queries still reach it: their only leaves
    # are checkpoint scans, never a second parquet scan of documents
    for fn in (q14_jaccard_pairs, q124_containment_pairs):
        qplan = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        assert "CartesianProduct" not in qplan, fn.__name__


def test_q14_flood_produces_zero_uncapped_postings(spark, tmp_path):
    # 1000 identical docs: every shingle has df = 1000 > cap, so the
    # posting stage must yield NOTHING (semantics: over-cap tokens are
    # dropped, same as before the pre-limit) — and must do so without
    # any reducer ever holding more than cap + 1 ids per token.
    from ocr_service_spark.operators.dedup import q14_jaccard_pairs

    out = q14_jaccard_pairs(spark, _flood_docs_dir(spark, tmp_path))
    assert out.count() == 0
