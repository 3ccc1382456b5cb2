"""Parallelism-floor guard (round-5 verdict task #2, generalizing the
q152/q102 lesson): a compute-bound builder must never inherit the input
table's file count as its task count. On the single-row-group test
tables a scan can NEVER exceed one task, so every query whose expensive
stage is scan-rooted (regex batteries, page/payload synthesis feeding a
real parser) must fan out its narrow projection to defaultParallelism
first — and the shard-keyed applyInPandas builders must use an
EXPLICIT-width repartition, because AQE coalesces their few-KB shuffle
input to one partition otherwise.

The pins below check the plan, not wall clock, so they are noise-free
and fail the moment someone drops a fan-out. Queries whose heavy stage
sits behind a lazy localCheckpoint are pinned via the builder helper
(checkpoint lineage is invisible to the SQL-level explain)."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


# query -> builder of the DataFrame whose plan must carry the fan-out.
# Each entry names the compute-bound stage it protects.
def _fanout_cases():
    from ocr_service_spark.operators import quality, roundtrip, weburl

    return [
        # four-filter regex battery over every doc (q164)
        ("q164_filter_ablation", lambda s: quality.q164_filter_ablation(s, SF_DIR)),
        # hreflang page synthesis + real-parser extraction (q136)
        ("_hreflang_pages", lambda s: weburl._hreflang_pages(s, SF_DIR)),
        # RSS/Atom feed synthesis + parse (q130/q134)
        ("_feed_pages", lambda s: weburl._feed_pages(s, SF_DIR)),
        # outlink page synthesis + parse (q67/q68/q69/q141)
        ("_link_pages", lambda s: weburl._link_pages(s, SF_DIR)),
        # WARC blob assembly per shard (q74/q76/q117/q87)
        ("_warc_shards", lambda s: roundtrip._warc_shards(s, SF_DIR)),
    ]


@pytest.mark.parametrize("name,mk", _fanout_cases(), ids=lambda c: c if isinstance(c, str) else "")
def test_compute_builders_fan_out(spark, name, mk):
    plan = _plan(mk(spark))
    # RoundRobin (keyless fan-out) or an explicit hash repartition
    # (shard-keyed builders); either way an Exchange must sit between
    # the scan and the expensive projection
    assert (
        "RoundRobinPartitioning" in plan or "REPARTITION_BY_NUM" in plan
        or "hashpartitioning" in plan
    ), f"{name} lost its fan-out:\n{plan}"


def test_warc_shards_width_is_explicit(spark):
    """The shard repartition must carry an explicit width (AQE leaves
    user-specified widths alone; an ENSURE_REQUIREMENTS shuffle over
    the few-KB doc_id input gets coalesced to one task)."""
    from ocr_service_spark.operators import roundtrip

    plan = _plan(roundtrip._warc_shards(spark, SF_DIR))
    assert "REPARTITION_BY_NUM" in plan, plan


def test_wet_assembly_width_is_explicit(spark):
    """q117's second build (WET assembly over extracted rows) has its
    own shard regroup and must keep its explicit width too."""
    from ocr_service_spark.operators.roundtrip import q117_wet_export

    plan = _plan(q117_wet_export(spark, SF_DIR))
    assert plan.count("REPARTITION_BY_NUM") >= 1, plan


def test_fan_out_plans_explicit_width(spark):
    """The helper itself: keyless fan_out is a round-robin exchange of
    width defaultParallelism, keyed fan_out a hash exchange of the same
    width, both REPARTITION_BY_NUM (user-sized, so AQE leaves them)."""
    import re

    from ocr_service_spark.plans.parallelism import fan_out

    n = spark.sparkContext.defaultParallelism
    df = spark.range(100).withColumnRenamed("id", "doc_id")
    keyless = _plan(fan_out(df))
    assert f"RoundRobinPartitioning({n}), REPARTITION_BY_NUM" in keyless, keyless
    keyed = _plan(fan_out(df, "doc_id"))
    assert re.search(rf"hashpartitioning\(doc_id#\d+L, {n}\), REPARTITION_BY_NUM", keyed), keyed


def test_no_hand_rolled_fan_out():
    """Builders fan out through plans/parallelism.py only: a
    defaultParallelism in an operator module or the entry file is a
    second copy of the rule."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    files = sorted((root / "ocr_service_spark" / "operators").glob("*.py"))
    files.append(root / "__spark_entry__.py")
    offenders = [
        f"{path.relative_to(root)}:{i}"
        for path in files
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "defaultParallelism" in line
    ]
    assert not offenders, offenders


def test_one_reference_path_and_one_pdf_writer():
    """The reference checkout's location and the classic-xref PDF
    assembly live in sources/pages.py only (perfbench/ is the
    benchmark's own code)."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    home = root / "ocr_service_spark" / "sources" / "pages.py"
    needles = ('Path("' + "/root/reference", "xref" + "\\n0 ")
    assert all(needle in home.read_text() for needle in needles)
    offenders = [
        f"{path.relative_to(root)}: {needle}"
        for path in sorted(root.rglob("*.py"))
        if path != home
        and path.relative_to(root).parts[0] != "perfbench"
        and not any(part.startswith(".") for part in path.relative_to(root).parts)
        for needle in needles
        if needle in path.read_text()
    ]
    assert not offenders, offenders
