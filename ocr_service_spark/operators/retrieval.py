"""Inverted-index retrieval over the documents corpus.

A corpus engine that can build training sets should also answer
queries over them (contamination triage, corpus exploration, nearest
exemplar lookup by keyword). Two pinned retrieval dialects, both pure
BIGINT so the DuckDB oracles replay them bit-identically:

- q115 — conjunctive (AND) search: postings are (term, doc_id, tf)
  from whitespace tokenization of the lowercased text; a document
  matches iff it contains EVERY query term; ranking is summed tf
  descending with doc_id ascending tie-break, top-k.
- q116 — rational-BM25 (log-free dialect): disjunctive (OR) ranking
  with the classic BM25 tf-saturation at k1 = 1.2 kept exactly
  rational — floor(11000*tf / (5*tf + 6)) is 1000 * tf*(k1+1)/(tf+k1)
  — and the idf surrogate floor(1000000 / (df+1)), monotone in the
  true log-idf. No floats anywhere, so cross-engine ranking ties are
  impossible to get wrong.

Scale shape: the postings build filters to the query terms BEFORE the
(doc_id, term) aggregation, so only matching tokens ever shuffle — at
10^12 documents the plan is scan -> filter -> partial agg -> one hash
shuffle sized by the query's posting lists, then a TakeOrderedAndProject
top-k (no global sort). The q116 document-frequency side is a
|query|-row aggregate joined back by broadcast. A standing index (the
unfiltered postings table, bucketed by term) is the amortized variant:
``build_postings`` is that table's builder.

Beyond-reference operator: the reference service (CogStack/ocr-service,
`processor/processor.py`) extracts text but has no query surface at
all; this is part of the corpus-analytics tier the brief's north rule
asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.sources.tables import read_table

RETRIEVAL_TERMS = ("table", "hash", "merge")
TOP_K = 10


def build_postings(docs: DataFrame, terms: tuple[str, ...] | None = None) -> DataFrame:
    """(doc_id, term, tf) postings from whitespace tokenization of the
    lowercased text; with ``terms`` set, the filter runs before the
    aggregation so only query-term tokens shuffle."""
    tok = F.explode(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"(\S+)"), 1)
    ).alias("term")
    out = docs.select("doc_id", tok)
    if terms:
        out = out.filter(F.col("term").isin(*terms))
    return out.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))


def _postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return build_postings(docs, RETRIEVAL_TERMS)


def q115_inverted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive keyword search: docs containing ALL of
    RETRIEVAL_TERMS, ranked by summed tf desc (doc_id asc tiebreak),
    top-k with per-term tf attribution columns."""
    p = _postings(spark, sf_dir)
    agg = [
        F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0)).alias(f"tf_{t}")
        for t in RETRIEVAL_TERMS
    ]
    return (
        p.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("tf").alias("score"), *agg)
        .filter(F.col("n_terms") == len(RETRIEVAL_TERMS))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(TOP_K)
        .select("doc_id", "score", *[f"tf_{t}" for t in RETRIEVAL_TERMS])
    )


def q116_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive rational-BM25 top-k: per-(doc, term) weight is
    sat(tf) * idf_m with sat(tf) = (11000*tf) div (5*tf + 6) and
    idf_m = 1000000 div (df + 1); docs ranked by summed weight desc,
    doc_id asc tie-break. df comes from a |query|-row aggregate joined
    back by broadcast."""
    p = _postings(spark, sf_dir)
    dfreq = p.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = p.join(F.broadcast(dfreq), "term").withColumn(
        "w",
        F.expr("((11000 * tf) DIV (5 * tf + 6)) * (1000000 DIV (df + 1))"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"), F.sum("w").alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(TOP_K)
        .select("doc_id", "n_terms", "score")
    )


_TERMS_IN = ", ".join(f"'{t}'" for t in RETRIEVAL_TERMS)

_POSTINGS_SQL = f"""
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '\\S+')) AS term
            FROM documents
        ) toks
        WHERE term IN ({_TERMS_IN})
        GROUP BY doc_id, term
"""

_TF_COLS = ",\n            ".join(
    f"CAST(sum(CASE WHEN term = '{t}' THEN tf ELSE 0 END) AS BIGINT) AS tf_{t}"
    for t in RETRIEVAL_TERMS
)

_Q115_ORACLE = f"""
    WITH p AS ({_POSTINGS_SQL})
    SELECT doc_id,
            CAST(sum(tf) AS BIGINT) AS score,
            {_TF_COLS}
    FROM p
    GROUP BY doc_id
    HAVING count(*) = {len(RETRIEVAL_TERMS)}
    ORDER BY score DESC, doc_id ASC
    LIMIT {TOP_K}
"""

_Q116_ORACLE = f"""
    WITH p AS ({_POSTINGS_SQL}),
    d AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY term
    ),
    s AS (
        SELECT doc_id,
               ((11000 * tf) // (5 * tf + 6)) * (1000000 // (df + 1)) AS w
        FROM p JOIN d USING (term)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           CAST(sum(w) AS BIGINT) AS score
    FROM s GROUP BY doc_id
    ORDER BY score DESC, doc_id ASC
    LIMIT {TOP_K}
"""

# -- q145: positional phrase search --------------------------------------------
#
# The retrieval upgrade conjunctive search can't express: "table part"
# as an exact ADJACENT sequence, not a bag of terms. Postings gain a
# position column (posexplode), still filtered to the phrase's terms
# before any shuffle; adjacency is one self-equi-join on the composite
# key (doc_id, pos + 1) — hash-partitioned on doc_id, no window over
# raw positions, no cartesian. A k-term phrase chains k-1 such joins.
PHRASE = ("table", "part")


def positional_postings(docs: DataFrame, terms: tuple[str, ...]) -> DataFrame:
    """(doc_id, pos, term) for the given terms only — the filter runs
    before the shuffle, so only phrase-term tokens move."""
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"(\S+)"), 1)
        ).alias("pos", "term"),
    )
    return toks.filter(F.col("term").isin(*terms))


def q145_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing the exact phrase ``PHRASE`` (adjacent tokens, in
    order), ranked by occurrence count desc (doc_id asc tie-break),
    top-k, with the first occurrence position for snippeting."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = positional_postings(docs, PHRASE)
    cur = p.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("start_pos"), F.col("pos").alias("pos")
    )
    for t in PHRASE[1:]:
        nxt = p.filter(F.col("term") == t).select(
            "doc_id", F.col("pos").alias("npos")
        )
        cur = (
            cur.withColumn("want", F.col("pos") + 1)
            .join(nxt, (cur["doc_id"] == nxt["doc_id"]) & (F.col("want") == nxt["npos"]))
            .select(cur["doc_id"], "start_pos", F.col("npos").alias("pos"))
        )
    return (
        cur.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("phrase_tf"),
            F.min("start_pos").alias("first_pos"),
        )
        .orderBy(F.col("phrase_tf").desc(), F.col("doc_id").asc())
        .limit(TOP_K)
        .select(
            "doc_id",
            F.col("phrase_tf").cast("bigint").alias("phrase_tf"),
            F.col("first_pos").cast("bigint").alias("first_pos"),
        )
    )


_PHRASE_JOINS = "\n        ".join(
    f"JOIN p t{i} ON t{i}.doc_id = t0.doc_id AND t{i}.term = '{t}'"
    f" AND t{i}.pos = t0.pos + {i}"
    for i, t in enumerate(PHRASE[1:], start=1)
)

_Q145_ORACLE = f"""
    WITH p AS (
        SELECT doc_id, pos - 1 AS pos, term FROM (
            SELECT doc_id,
                   unnest(regexp_extract_all(lower(text), '\\S+')) AS term,
                   generate_subscripts(regexp_extract_all(lower(text), '\\S+'), 1)
                       AS pos
            FROM documents
        ) WHERE term IN ({", ".join(f"'{t}'" for t in PHRASE)})
    ),
    m AS (
        SELECT t0.doc_id, t0.pos AS start_pos
        FROM p t0
        {_PHRASE_JOINS}
        WHERE t0.term = '{PHRASE[0]}'
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS phrase_tf,
           CAST(min(start_pos) AS BIGINT) AS first_pos
    FROM m GROUP BY doc_id
    ORDER BY phrase_tf DESC, doc_id ASC
    LIMIT {TOP_K}
"""

QUERIES = {
    "q115_inverted_search": q115_inverted_search,
    "q116_bm25_topk": q116_bm25_topk,
    "q145_phrase_search": q145_phrase_search,
}

ORACLES: dict[str, str] = {
    "q115_inverted_search": _Q115_ORACLE,
    "q116_bm25_topk": _Q116_ORACLE,
    "q145_phrase_search": _Q145_ORACLE,
}
