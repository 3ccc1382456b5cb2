"""q132 public-suffix semantics + plan shape.

The oracle pins the fixture classes; here the PSL rules are pinned on
handwritten hosts (including ones the fixture doesn't synthesize, like
deep subdomain chains), and the zero-join/zero-shuffle plan claim is
machine-checked.
"""

from __future__ import annotations

from ocr_service_spark.operators.weburl import (
    q132_registrable_domains,
    with_registrable_domain,
)

SF_DIR = "/root/testdata/sf0.001"


def _resolve(spark, hosts: list[str]) -> dict[str, tuple[str, str | None]]:
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    return {
        r.host: (r.public_suffix, r.registrable)
        for r in with_registrable_domain(df).collect()
    }


def test_psl_rules_on_handwritten_hosts(spark):
    got = _resolve(
        spark,
        [
            "www.example.com",
            "a.b.c.example.co.uk",  # deep chain: registrable still eTLD+1
            "gist.github.io",
            "io",  # bare TLD: suffix only, nothing registrable
            "co.uk",
            "example.com",
            "host.weirdtld",  # implicit-* fallback
            "weirdtld",
        ],
    )
    assert got["www.example.com"] == ("com", "example.com")
    assert got["a.b.c.example.co.uk"] == ("co.uk", "example.co.uk")
    assert got["gist.github.io"] == ("github.io", "gist.github.io")
    assert got["io"] == ("io", None)
    assert got["co.uk"] == ("co.uk", None)
    assert got["example.com"] == ("com", "example.com")
    assert got["host.weirdtld"] == ("weirdtld", "host.weirdtld")
    assert got["weirdtld"] == ("weirdtld", None)


def test_private_suffix_beats_parent_tld(spark):
    got = _resolve(spark, ["x.github.io", "x.y.blogspot.com"])
    # io / com alone would make github.io / y.blogspot.com the
    # registrable; the PRIVATE entries must win the longest-match
    assert got["x.github.io"] == ("github.io", "x.github.io")
    assert got["x.y.blogspot.com"] == ("blogspot.com", "y.blogspot.com")


def test_plan_is_codegen_only_no_join_no_shuffle(spark):
    plan = (
        q132_registrable_domains(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan and "hashpartitioning" not in plan, plan
    # only documents()' round-robin fan-out may appear
    assert plan.count("Exchange") <= 1, plan
