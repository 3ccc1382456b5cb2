"""q131 per-paragraph language segmentation semantics + plan shape.

The oracle pins the fixture labels; here the parts the fixture leaves
unexercised are pinned: the majority tie-break (struct max -> largest
lang string), arbitrary-input behavior of the scorer composition, and
the ZERO-SHUFFLE plan claim (the whole query must be a single
exchange-free stage — split, scoring, election, and explode all on the
document row).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_service_spark.operators.text_stats import q131_paragraph_langs

SF_DIR = "/root/testdata/sf0.001"


def _seg(spark, text: str):
    """Run the q131 expression pipeline over one handwritten doc."""
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    # reuse the operator's internals by rebuilding its tail expressions
    from ocr_service_spark.operators.text_stats import _para_lang

    paras = F.split("text", "\n\n")
    para_langs = F.transform(paras, _para_lang)
    majority = F.array_max(
        F.transform(
            F.array_distinct(para_langs),
            lambda lang: F.named_struct(
                F.lit("cnt"), F.size(F.filter(para_langs, lambda x: x == lang)),
                F.lit("lang"), lang,
            ),
        )
    )["lang"]
    row = df.select(para_langs.alias("pl"), majority.alias("mj")).collect()[0]
    return list(row.pl), row.mj


def test_fixture_semantics_match_planting(spark):
    rows = q131_paragraph_langs(spark, SF_DIR).collect()
    langs = ("en", "es", "de", "fr")
    for r in rows:
        a = langs[r.doc_id % 4]
        expected = "und" if r.para_idx == 3 else (
            langs[(r.doc_id + 1) % 4] if r.para_idx == 2 else a
        )
        assert (r.para_lang, r.majority_lang, r.in_majority) == (
            expected, a, expected == a
        ), r


def test_majority_tie_breaks_to_largest_lang_string(spark):
    # one en paragraph, one es paragraph: tie at 1-1 -> struct max ->
    # 'es' beats 'en' lexicographically
    pl, mj = _seg(spark, "the and of value row\n\nel la de que los")
    assert pl == ["en", "es"] and mj == "es"
    # digits only -> everything und, majority und
    pl, mj = _seg(spark, "123 456\n\n789")
    assert pl == ["und", "und"] and mj == "und"


def test_plan_has_no_data_shuffle(spark):
    # the ONLY exchange allowed is documents()' round-robin fan-out
    # (fixture synthesis parallelism, pinned in test_plans.py) — the
    # operator itself must introduce no keyed shuffle: no hash/range
    # partitioning anywhere
    plan = q131_paragraph_langs(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1 and "RoundRobinPartitioning" in plan, plan
