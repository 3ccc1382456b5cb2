"""Physical-plan regression tests: the optimizations we rely on at
100 TB must be visible in the plan, not assumed — column pruning to
the parquet scan, predicate pushdown, broadcast joins for dims and
the resume anti-join."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from ocr_service_spark.plans.job import run_extraction
from ocr_service_spark.plans.manifest import completed_parts, resume_filter, with_part_hash
from ocr_service_spark.operators.relational import q02_revenue_by_region
from ocr_service_spark.sources.pages import REFERENCE_DOCS, generate_pages

SF_DIR = "/root/testdata/sf0.001"


def _formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    generate_pages(spark, 200, seed=13).write.parquet(path)
    return path


def test_extraction_scan_prunes_columns(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    plan = _formatted_plan(run_extraction(pages))
    read_schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schemas, plan
    for line in read_schemas:
        # only the key + payload reach the scan; warc_ts/text/lang pruned
        assert "url:string,html:binary" in line.replace(" ", "")
        assert "warc_ts" not in line and "lang" not in line


def test_filter_pushdown_reaches_scan(spark, pages_path):
    pages = spark.read.parquet(pages_path).filter(F.col("lang") == "en")
    plan = _formatted_plan(pages.select("url"))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed
    assert any("EqualTo(lang,en)" in ln for ln in pushed)


def test_size_col_router_predicate_is_pushed_down(spark, tmp_path):
    """With a byte-size metadata column, the salted branch's size test
    must land in PushedFilters so the second scan prunes row groups at
    scale — and the routed results must be identical to the
    octet_length router's."""
    path = str(tmp_path / "pages_sized")
    generate_pages(spark, 200, seed=13).withColumn(
        "payload_bytes", F.octet_length("html").cast("bigint")
    ).write.parquet(path)
    pages = spark.read.parquet(path)

    sized = run_extraction(pages, size_col="payload_bytes")
    pushed = [ln for ln in _formatted_plan(sized).splitlines() if "PushedFilters" in ln]
    assert any("GreaterThan(payload_bytes" in ln for ln in pushed), pushed

    default = run_extraction(pages)
    key = lambda df: sorted(
        df.select("url", F.length(F.coalesce("extracted_text", F.lit(""))).alias("n"))
        .collect()
    )
    assert key(sized) == key(default)


def test_salted_scan_stays_wide(spark, pages_path):
    """The salted branch must NOT coalesce the scan itself — at 100 TB
    that would serialize the second read. The plan therefore contains
    no Coalesce over a scan; the post-filter shuffle (AQE-coalescible)
    provides the dense partitions for the explode stage."""
    pages = spark.read.parquet(pages_path)
    plan = _formatted_plan(run_extraction(pages))
    assert "Coalesce" not in plan, plan


_SALTED_PAGES = "url string, html binary, footer map<string,string>"
_SALTED_GIANTS = ["empty.pdf", "giant20.pdf", "giant41.pdf", "giant70.pdf", "junk.pdf"]


def _salted_corpus() -> tuple[list[tuple[str, bytes, dict | None]], int]:
    """Three giant PDFs (one with fewer page buckets than slices), a %PDF
    junk payload and an empty page tree above a lowered salt threshold,
    junk and empty pages at a .docx and an .ODT url (whose office text
    fallback keeps them single-pass), plus HTML pages and a small PDF
    below it: (docs as (url, payload, footer), salt_min_bytes)."""
    from ocr_service_spark.sources.pages import write_text_pdf

    pad = lambda payload: payload + b"%" + b"x" * 3000 + b"\n"
    docs = [
        (f"https://salted.test/giant{n}.pdf",
         write_text_pdf([f"giant {n} page {i} says hello" for i in range(n)]))
        for n in (70, 41, 20)
    ]
    docs += [
        ("https://salted.test/junk.pdf", pad(b"%PDF-1.4 not really a pdf")),
        ("https://salted.test/empty.pdf", pad(write_text_pdf([]))),
        ("https://salted.test/j.docx", pad(b"%PDF-1.4 not really a pdf")),
        ("https://salted.test/e.ODT", pad(write_text_pdf(["", "", ""]))),
        ("https://salted.test/small.pdf", write_text_pdf(["below the threshold"])),
    ]
    docs += [
        (f"https://salted.test/{i}.html",
         f"<html><body><p>page {i} of the salted corpus</p></body></html>".encode())
        for i in range(12)
    ]
    # the footer is echoed verbatim on both paths; giant20 carries none
    footer = lambda url: None if "giant20" in url else {"doc": url.rsplit("/", 1)[1]}
    return [(url, payload, footer(url)) for url, payload in docs], 2000


def test_salted_path_matches_extract_document(spark):
    """The salted slices reassemble to ``extract_document``'s row on
    every result field but ``elapsed_ms``, for giants, junk and an empty
    page tree; the same failures at .docx/.odt urls stay single-pass."""
    from ocr_service_spark.extraction.pipeline import extract_document
    from ocr_service_spark.operators.extract import RESULT_SCHEMA
    from ocr_service_spark.plans.job import is_big_pdf

    docs, salt_min_bytes = _salted_corpus()
    assert sum(len(p) > salt_min_bytes and p[:4] == b"%PDF" for _, p, _ in docs) == 7
    pages = spark.createDataFrame(docs, _SALTED_PAGES)
    routed = pages.filter(is_big_pdf(salt_min_bytes=salt_min_bytes)).select("url").collect()
    assert sorted(r.url.rsplit("/", 1)[1] for r in routed) == _SALTED_GIANTS

    rows = run_extraction(pages, salt_min_bytes=salt_min_bytes).collect()
    assert sorted(r.url for r in rows) == sorted(url for url, _, _ in docs)
    got = {r.url: r.asDict() for r in rows}
    fields = [f for f in RESULT_SCHEMA.fieldNames() if f != "elapsed_ms"]
    for url, payload, footer in docs:
        want = {**extract_document(payload, url, "NO_OCR"), "footer": footer}
        assert {f: got[url][f] for f in fields} == {f: want[f] for f in fields}, url
        assert got[url]["elapsed_ms"] > 0, url
    assert got["https://salted.test/j.docx"]["fallback_reason"] == "converted_pdf_handling_failed"
    assert got["https://salted.test/e.ODT"]["fallback_reason"] == "converted_pdf_handling_failed"


def test_salted_documents_are_counted_in_the_metrics(spark):
    """The extraction accumulators count the salted giants as the
    single-pass branch counts its documents: one doc per row, every
    payload byte once, and the slices' time as the giants' latency."""
    from ocr_service_spark.operators.metrics import ExtractionMetrics

    docs, salt_min_bytes = _salted_corpus()
    metrics = ExtractionMetrics.create(spark)
    pages = spark.createDataFrame(docs, _SALTED_PAGES)
    rows = run_extraction(pages, salt_min_bytes=salt_min_bytes, metrics=metrics).collect()
    snap = metrics.snapshot()
    assert snap["docs"] == len(rows) == len(docs)
    assert snap["bytes_in"] == sum(len(p) for _, p, _ in docs)
    assert snap["empty_text"] == sum(not r.extracted_text for r in rows)
    # elapsed_ms is rounded to the microsecond per row
    assert snap["wall_ms"] == pytest.approx(sum(r.elapsed_ms for r in rows), abs=1e-3 * len(rows))


def test_salted_lone_surrogate_matches_extract_document(spark):
    """A ToUnicode bfrange into D800-DFFF decodes to a lone surrogate:
    the salted row gets ``extract_document``'s UTF-8 replace, not an
    Arrow encode failure in the slice stage."""
    from ocr_service_spark.extraction.pipeline import extract_document
    from ocr_service_spark.sources.pages import pdf_stream, write_text_pdf

    cmap = b"begincmap\n1 beginbfrange\n<41> <41> <D800>\nendbfrange\nendcmap"
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica /ToUnicode 8 0 R >>"
    pdf = write_text_pdf(["ABC", "xyz"], font=font, extra_objs=(pdf_stream(cmap),))
    pages = spark.createDataFrame([("u.pdf", pdf)], "url string, html binary")
    (row,) = run_extraction(pages, salt_min_bytes=10).collect()
    want = extract_document(pdf, "u.pdf", "NO_OCR")
    assert want["extracted_text"] == "?BCxyz"
    assert (row["extracted_text"], row["pages"], row["success"]) == ("?BCxyz", 2, True)


def test_salted_branch_explodes_in_the_jvm(spark):
    """The salted branch explodes JVM-side and deals the slices
    round-robin: two MapInPandas nodes (single-pass, slice stage), no
    Python explode."""
    docs, salt_min_bytes = _salted_corpus()
    pages = spark.createDataFrame(docs, _SALTED_PAGES)
    plan = _formatted_plan(run_extraction(pages, salt_min_bytes=salt_min_bytes))
    assert re.search(r"\) Generate\nInput .*\nArguments: explode\(", plan), plan
    assert "Arguments: RoundRobinPartitioning(" in plan, plan
    assert len(re.findall(r"(?m)^\(\d+\) MapInPandas$", plan)) == 2, plan


def test_dim_joins_are_broadcast(spark):
    plan = _formatted_plan(q02_revenue_by_region(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_bucketed_join_has_no_exchange(spark, pages_path):
    from ocr_service_spark.operators.multimodal import extract_media_features
    from ocr_service_spark.plans.bucketing import colocated_join, write_bucketed

    pages = spark.read.parquet(pages_path)
    results = run_extraction(pages).select("url", "doc_class", "success")
    media = extract_media_features(pages.filter(F.col("html").isNotNull())).select(
        "url", "media_type", "feature_hash"
    )
    write_bucketed(results, "results_bucketed", buckets=8)
    write_bucketed(media, "media_bucketed", buckets=8)
    # disable broadcast so the planner must consider the bucket layout
    # (tiny test tables would otherwise broadcast; at scale SMJ is the
    # strategy bucketing exists for)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = colocated_join(spark, "results_bucketed", "media_bucketed")
        plan = _formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_size_range_repartition_appears_in_plan(spark, pages_path):
    """repartition_by_size must plan a RANGE exchange keyed on payload
    byte-size (north-star skew handling), and results stay complete."""
    pages = spark.read.parquet(pages_path)
    df = run_extraction(pages, repartition=8, repartition_by_size=True)
    plan = _formatted_plan(df)
    assert "rangepartitioning(octet_length" in plan.replace(" ", "").lower(), plan
    assert df.count() == 200


def test_resume_antijoin_is_broadcast(spark, pages_path):
    pages = spark.read.parquet(pages_path)
    manifest_path = pages_path + "_manifest"
    # seed a manifest so the anti-join actually appears in the plan
    from ocr_service_spark.plans.manifest import manifest_from_results
    results = with_part_hash(
        pages.selectExpr(
            "url", "'x' as extracted_text", "cast(1.0 as double) as confidence"
        ),
        8,
    ).limit(50)
    manifest_from_results(results, "snap").write.mode("overwrite").parquet(manifest_path)
    todo = resume_filter(pages, completed_parts(spark, manifest_path, "snap"), 8)
    plan = _formatted_plan(todo)
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


def test_topk_plans_are_take_ordered_not_global_window(spark):
    """q07/q20 must plan TakeOrderedAndProject; a Window.orderBy with no
    partitionBy (single-partition global sort) is banned in hot paths."""
    from ocr_service_spark.operators.relational import q07_top_purchasers
    from ocr_service_spark.operators.similarity import q20_cosine_topk

    for q in (q07_top_purchasers, q20_cosine_topk):
        plan = _formatted_plan(q(spark, SF_DIR))
        assert "TakeOrderedAndProject" in plan, plan


def test_q14_is_linear_no_joins_no_cache(spark):
    """q14 must stay one linear posting pipeline: the df-cap is applied
    inline on the single capped posting-list aggregation (checkpointed,
    so the expensive shingle explode is planned exactly once — 1
    parquet scan), the pair explode carries ids only, and the per-doc
    rare-counts are re-attached by metadata equi-joins — never a
    sort-merge of the pair table or a cartesian plan."""
    from ocr_service_spark.operators.dedup import q14_jaccard_pairs

    import re

    plan = _formatted_plan(q14_jaccard_pairs(spark, SF_DIR))
    assert "InMemoryRelation" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the single capped posting aggregation sits behind a lazy
    # localCheckpoint (its RDD scan is the only leaf the SQL plan
    # sees), so the shingle explode cannot be planned twice: every
    # leaf must be a checkpoint scan, none a second parquet scan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 0, plan
    assert len(re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M)) == 3, plan
    # exactly the two n_rare metadata attaches, as equi joins
    joins = re.findall(r"^\(\d+\) \w*Join", plan, re.M)
    assert len(joins) == 2, plan


def test_q19_uses_lsh_buckets_not_cross_join(spark):
    """The near-dup scale path: no cartesian/broadcast-nested-loop pair
    generation anywhere in the q19 plan."""
    from ocr_service_spark.operators.similarity import q19_embedding_neardup_pairs

    plan = _formatted_plan(q19_embedding_neardup_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_one_shuffle_no_join(spark):
    """q22's as-of join is the union trick: one hash shuffle on
    user_id, no join operator, no cartesian blow-up."""
    import re

    from ocr_service_spark.operators.temporal import q22_asof_attribution

    plan = _formatted_plan(q22_asof_attribution(spark, SF_DIR))
    assert "Join" not in plan, plan
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Window", plan, re.M)) == 1, plan


def test_conversion_pairs_is_equi_join_on_bands(spark):
    """q23's range join must be planned as an equi join on
    (user_id, band) — a shuffle-hash/sort-merge join, never a
    nested-loop over the time predicate."""
    from ocr_service_spark.operators.temporal import q23_conversion_pairs

    plan = _formatted_plan(q23_conversion_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_ivf_topk_prunes_via_broadcast_equi_join(spark):
    """q25 must prune the scan through a broadcast EQUI join on cell
    (the probe rows carry the query vector) and finish with
    TakeOrderedAndProject — no nested-loop join, no global window."""
    from ocr_service_spark.operators.similarity import q25_ivf_topk

    plan = _formatted_plan(q25_ivf_topk(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_aqe_splits_skewed_join_partition(spark):
    """North-rule skew handling, runtime half: with the session's AQE
    skew-join setting, a join whose shuffle has one hot key is split at
    RUNTIME — the final adaptive plan shows SortMergeJoin(skew=true)
    over a 'coalesced and skewed' AQEShuffleRead. Thresholds are scaled
    to test data size (64KB stands in for the production 256MB); the
    flags under test are exactly the ones build_session enables."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = (
            spark.range(200_000)
            .select(F.lit(0).alias("k"), F.rand(7).alias("x"))
            .unionAll(
                spark.range(20_000).select((F.col("id") % 200 + 1).alias("k"), F.rand(8).alias("x"))
            )
        )
        right = spark.range(201).select(F.col("id").alias("k"), F.lit("dim").alias("name"))
        joined = left.join(right, "k")
        assert len(joined.collect()) == 220_000
        plan = _formatted_plan(joined)  # post-execution: final adaptive plan
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
        assert "skewed" in plan, plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_plan_hygiene_all_driver_queries(spark):
    """No driver query may plan a CartesianProduct, and nested-loop
    broadcast joins are allowed only where a 1-row broadcast makes them
    the intended plan (q20's query-vector cross join)."""
    import __spark_entry__ as em

    # 1-row query-vector broadcasts: the nested loop IS the intended
    # plan (one probe row against every partition, no shuffle)
    nlj_allowed = {"q20_cosine_topk", "q46_hamming_topk",
                   # 1-row tercile-cutoff broadcast (CCNet bucketing)
                   "q81_lm_familiarity",
                   # 1-row totals + 1-row quantile-cutoff broadcasts
                   # (DSIR model normalization + top-quantile keep)
                   "q93_dsir_selection",
                   # 1-row totals crossJoin (mixture rate denominators)
                   "q99_corpus_mixture",
                   # 1-row N/M totals crossJoins (PMI denominators)
                   "q121_collocations",
                   # 1-row raw-sum normalizer crossJoins (HITS
                   # sum-normalization, 4 per two rounds)
                   "q141_hits_scores"}
    skip = set() if REFERENCE_DOCS.is_dir() else em.NEEDS_REFERENCE
    for name, fn in em.queries().items():
        if name in skip:
            continue
        plan = _formatted_plan(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        if name not in nlj_allowed:
            assert "BroadcastNestedLoopJoin" not in plan, name


def test_corpus_hygiene_join_strategies(spark):
    """q52's benchmark-gram probe is an EXPLICIT broadcast (a fixed
    benchmark is small by construction). q51's frequent-segment set and
    q53's vocabulary df table must NOT be hint-forced broadcasts — at
    web scale both can exceed executor memory, so the size decision
    belongs to AQE; any equi-join strategy is acceptable, but never a
    cartesian/nested-loop plan."""
    from ocr_service_spark.operators.corpus import (
        q51_boilerplate_segments,
        q52_contamination,
        q53_tfidf_top_terms,
    )

    plan = _formatted_plan(q52_contamination(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 1, "q52 gram probe"
    assert "SortMergeJoin" not in plan, "q52 gram probe"

    for fn in (q51_boilerplate_segments, q53_tfidf_top_terms):
        plan = _formatted_plan(fn(spark, SF_DIR))
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert ("SortMergeJoin" in plan) or ("HashJoin" in plan), fn.__name__


def test_quantize_is_pure_projection(spark):
    """q54 is a map-side projection: no exchange other than the
    explicit fan-out repartition, no join, no aggregate shuffle."""
    from ocr_service_spark.operators.corpus import q54_embedding_quantize

    plan = _formatted_plan(q54_embedding_quantize(spark, SF_DIR))
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_span_dedup_tokens_shuffle_once(spark):
    """q79's token stream must shuffle exactly ONCE (the doc_id
    coverage window, whose partitioning the final per-doc agg reuses —
    no exchange above the Window) and the duplicate-fingerprint set
    must join back as a broadcast hash join, never a sort-merge over
    the token stream; the dup-set aggregation itself shuffles 16-byte
    fingerprints only."""
    import re

    from ocr_service_spark.operators.dedup import q79_span_dedup

    plan = _formatted_plan(q79_span_dedup(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    doc_exchanges = re.findall(r"hashpartitioning\(doc_id", plan)
    assert len(doc_exchanges) == 1, plan


def test_generation_fanouts_repartition_before_python(spark):
    """The synthesize-then-parse metadata/media queries are
    compute-bound in their GENERATION mapInPandas stage, so their
    parallelism must come from an explicit round-robin repartition of
    the doc_id projection — not from the input's file count (one file
    at bench scale = one core of pure-Python encoding). Pin the
    Exchange RoundRobinPartitioning upstream of the Python fan-out."""
    import __spark_entry__ as em

    qs = em.queries()
    for name in (
        "q102_exif_metadata",
        "q103_pdf_metadata",
        "q104_avc1_streams",
        "q105_media_route",
        "q60_frame_sampling",
        "q61_mp4_frame_sampling",
    ):
        plan = _formatted_plan(qs[name](spark, SF_DIR))
        assert "RoundRobinPartitioning" in plan, name
        assert "ArrowEvalPython" in plan or "MapInPandas" in plan, name
