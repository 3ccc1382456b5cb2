"""Bitext mining — paragraph alignment across hreflang-paired
language editions (the paracrawl/WMT corpus-construction shape).

Multilingual training corpora are built by (1) pairing the language
editions of a page (hreflang graph — q136 audits its reciprocity),
then (2) aligning the two editions' paragraphs into translation units
with a Gale & Church (1993)-style length-based dynamic program: a
translated paragraph has roughly the source's length, so minimizing
total length mismatch over {1-1 match, 2-1 / 1-2 merge, 1-0 / 0-1
skip} edit ops recovers the alignment without any dictionary. The
reference service (CogStack/ocr-service ``processor/processor.py``)
is monolingual per-request and has no notion of document pairing;
this tier is beyond-reference like the dedup/quality suites.

Pinned dialect (integer-exact, so the DuckDB oracle can replay the
planting):

- paragraphs are ``\\n\\n``-separated blocks, length = character
  count (a whitespace-robust proxy; Gale-Church's gaussian cost is
  replaced by the absolute length difference so every cost is an
  exact integer — same determinism move as the rational-BM25 q116);
- op costs: ``1-1`` -> |la - lb|; ``2-1``/``1-2`` -> |sum - other| +
  GC_MERGE; ``1-0``/``0-1`` -> GC_SKIP. Ties broken by fixed op
  order (1-1, 2-1, 1-2, 1-0, 0-1) so the alignment is deterministic;
- a ``2-1`` unit emits one row per source paragraph (both carrying
  the same b_idx); skips emit -1 for the missing side;
- editions are truncated to MAX_PARAS paragraphs before the DP: the
  O(n*m) table is bounded per pair regardless of page size (the same
  per-row explode cap discipline as links.py MAX_LINKS).

Scale shape: the edition pairing is ONE equi-join on the page key
(AQE-sized, never forced broadcast — the q51/q53 rule); the DP runs
inside one per-row ``map_rows`` stage whose output is capped by
MAX_PARAS per pair. No n^2 anything: candidate pairs come from the
hreflang key, never from content comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.plans.rows import map_rows
from ocr_service_spark.sources.tables import read_table

GC_SKIP = 60  # cost of leaving a paragraph unaligned (1-0 / 0-1)
GC_MERGE = 8  # surcharge for a 2-1 / 1-2 unit on top of the length residual
MAX_PARAS = 200  # per-edition paragraph cap: bounds the O(n*m) DP table

# fixed tie-break order: earlier wins on equal cost
_OPS = ("1-1", "2-1", "1-2", "1-0", "0-1")


def align_paragraph_lengths(
    la: list[int], lb: list[int]
) -> list[tuple[int, int, str]]:
    """Minimum-cost alignment of two paragraph-length sequences under
    the module's pinned op costs. Returns (a_idx, b_idx, op) rows in
    document order, -1 for the side an op skips; a 2-1 (or 1-2) unit
    yields one row per paragraph on its doubled side."""
    la, lb = la[:MAX_PARAS], lb[:MAX_PARAS]
    n, m = len(la), len(lb)
    INF = float("inf")
    # cost[i][j] = best cost aligning la[:i] with lb[:j]; back[i][j] = op
    cost = [[INF] * (m + 1) for _ in range(n + 1)]
    back: list[list[str | None]] = [[None] * (m + 1) for _ in range(n + 1)]
    cost[0][0] = 0
    for i in range(n + 1):
        for j in range(m + 1):
            base = cost[i][j]
            if base == INF:
                continue
            # candidate extensions, tried in _OPS order so the FIRST
            # strictly-better candidate wins and ties keep the earlier op
            if i < n and j < m:
                _relax(cost, back, i + 1, j + 1, base + abs(la[i] - lb[j]), "1-1")
            if i + 1 < n and j < m:
                _relax(
                    cost, back, i + 2, j + 1,
                    base + abs(la[i] + la[i + 1] - lb[j]) + GC_MERGE, "2-1",
                )
            if i < n and j + 1 < m:
                _relax(
                    cost, back, i + 1, j + 2,
                    base + abs(la[i] - (lb[j] + lb[j + 1])) + GC_MERGE, "1-2",
                )
            if i < n:
                _relax(cost, back, i + 1, j, base + GC_SKIP, "1-0")
            if j < m:
                _relax(cost, back, i, j + 1, base + GC_SKIP, "0-1")
    out: list[tuple[int, int, str]] = []
    i, j = n, m
    while i > 0 or j > 0:
        op = back[i][j]
        if op is None:  # only reachable when one side is empty
            break
        if op == "1-1":
            i, j = i - 1, j - 1
            out.append((i, j, op))
        elif op == "2-1":
            i, j = i - 2, j - 1
            out.append((i + 1, j, op))
            out.append((i, j, op))
        elif op == "1-2":
            i, j = i - 1, j - 2
            out.append((i, j + 1, op))
            out.append((i, j, op))
        elif op == "1-0":
            i -= 1
            out.append((i, -1, op))
        else:  # 0-1
            j -= 1
            out.append((-1, j, op))
    out.reverse()
    return out


def _relax(cost, back, i, j, c, op) -> None:
    # strict <: with candidates generated in _OPS order this keeps the
    # earliest op on ties, making the backtrace deterministic
    if c < cost[i][j]:
        cost[i][j] = c
        back[i][j] = op


ALIGN_SCHEMA = (
    "page_key string, a_idx int, b_idx int, op string, "
    "len_a int, len_b int"
)


def align_editions(
    pairs: DataFrame,
    key_col: str = "page_key",
    text_a_col: str = "text_a",
    text_b_col: str = "text_b",
) -> DataFrame:
    """pairs(key, text_a, text_b) -> one row per alignment unit side.
    len_a / len_b carry the aligned paragraphs' character counts (-1
    on the skipped side) so downstream filters can drop high-residual
    units without re-reading the text."""

    def align(key, ta, tb):
        la = [len(p) for p in (ta or "").split("\n\n")[:MAX_PARAS]]
        lb = [len(p) for p in (tb or "").split("\n\n")[:MAX_PARAS]]
        return [
            (key, ai, bi, op, la[ai] if ai >= 0 else -1, lb[bi] if bi >= 0 else -1)
            for ai, bi, op in align_paragraph_lengths(la, lb)
        ]

    narrowed = pairs.select(
        F.col(key_col).alias("page_key"),
        F.col(text_a_col).alias(text_a_col),
        F.col(text_b_col).alias(text_b_col),
    )
    return map_rows(narrowed, align, ALIGN_SCHEMA)


def _edition_paragraphs(ds, d, side: str):
    """Closed-form per-doc paragraph list for the q166 planting (Spark
    column expressions). Base: 4 paragraphs per edition with IDENTICAL
    lengths across editions (perfect 1-1, cost 0). Structural events:

    - doc_id % 4 == 0: edition B inserts a 100-char paragraph at
      index 1 that nothing matches cheaply -> the DP must 0-1 skip it;
    - doc_id % 5 == 0: edition A's first two paragraphs shrink to 12
      and 14 chars and edition B's first paragraph becomes their
      26-char concatenation-length twin while B drops one paragraph ->
      the DP must open with a 2-1 merge;
    - doc_id % 20 == 0: both events compose (merge, then skip).

    rpad both builds exact lengths and truncates long doc_id prefixes
    to them, so the planting is length-exact at every doc_id.
    """
    base = [
        F.rpad(F.format_string("%s0-%s.", F.lit(side), ds), 20 + ((d + 0) % 5).cast("int"), "x"),
        F.rpad(F.format_string("%s1-%s.", F.lit(side), ds), 21 + ((d + 1) % 5).cast("int"), "x"),
        F.rpad(F.format_string("%s2-%s.", F.lit(side), ds), 22 + ((d + 2) % 5).cast("int"), "x"),
        F.rpad(F.format_string("%s3-%s.", F.lit(side), ds), 23 + ((d + 3) % 5).cast("int"), "x"),
    ]
    mrg = d % 5 == 0
    ins = d % 4 == 0
    if side == "a":
        p0 = F.when(mrg, F.rpad(F.format_string("a0-%s.", ds), 12, "x")).otherwise(base[0])
        p1 = F.when(mrg, F.rpad(F.format_string("a1-%s.", ds), 14, "x")).otherwise(base[1])
        return F.concat_ws("\n\n", p0, p1, base[2], base[3])
    # side b: merged head when mrg, inserted long paragraph when ins
    head = F.when(mrg, F.rpad(F.format_string("b01-%s.", ds), 26, "x")).otherwise(base[0])
    long_p = F.rpad(F.lit("bz-"), 100, "z")
    tail = F.when(mrg, F.concat_ws("\n\n", base[2], base[3])).otherwise(
        F.concat_ws("\n\n", base[1], base[2], base[3])
    )
    return F.when(
        ins, F.concat_ws("\n\n", head, long_p, tail)
    ).otherwise(F.concat_ws("\n\n", head, tail))


def q166_bitext_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext units over closed-form hreflang-paired editions (see
    :func:`_edition_paragraphs` for the planting). The REAL pipeline
    runs end-to-end: editions are built as separate rows (one per
    (page, lang), the hreflang-graph shape), paired with ONE AQE-sized
    equi-join on the page key, then aligned by the integer-exact DP.
    The oracle replays the planting's expected alignment analytically.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    key = F.format_string("page-%s", ds)
    ed_a = docs.select(
        key.alias("page_key"), _edition_paragraphs(ds, d, "a").alias("text_a")
    )
    ed_b = docs.select(
        key.alias("page_key"), _edition_paragraphs(ds, d, "b").alias("text_b")
    )
    pairs = ed_a.join(ed_b, "page_key")
    out = align_editions(pairs)
    doc_id = F.regexp_extract("page_key", r"^page-(\d+)$", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "a_idx", "b_idx", "op", "len_a", "len_b"
    )


# The oracle replays the planting analytically: base 1-1 rows (with
# the merge docs' first two a-paragraphs consumed by the 2-1 unit and
# the insert docs' b indices shifted past the skipped long paragraph),
# plus the 2-1 rows, plus the 0-1 skip row.
_Q166_ORACLE = """
    WITH dd AS (
        SELECT doc_id, (doc_id % 4 = 0) AS ins, (doc_id % 5 = 0) AS mrg,
               CAST(doc_id AS VARCHAR) AS dstr
        FROM documents
    ),
    base AS (
        SELECT doc_id, CAST(k AS INT) AS a_idx,
               CAST((CASE WHEN mrg THEN k - 1 ELSE k END)
                    + (CASE WHEN ins AND k >= 1 THEN 1 ELSE 0 END) AS INT)
                   AS b_idx,
               '1-1' AS op,
               CAST(20 + k + ((doc_id + k) % 5) AS INT) AS len_a,
               CAST(20 + k + ((doc_id + k) % 5) AS INT) AS len_b
        FROM dd, range(4) t(k)
        WHERE k >= CASE WHEN mrg THEN 2 ELSE 0 END
    )
    SELECT doc_id, a_idx, b_idx, op, len_a, len_b FROM base
    UNION ALL
    SELECT doc_id, 0, 0, '2-1', 12, 26 FROM dd WHERE mrg
    UNION ALL
    SELECT doc_id, 1, 0, '2-1', 14, 26 FROM dd WHERE mrg
    UNION ALL
    SELECT doc_id, -1, 1, '0-1', -1, 100 FROM dd WHERE ins
"""

QUERIES = {
    "q166_bitext_align": q166_bitext_align,
}

ORACLES = {
    "q166_bitext_align": _Q166_ORACLE,
}
