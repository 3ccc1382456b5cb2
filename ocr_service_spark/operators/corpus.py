"""Corpus-hygiene operators for a training-data pipeline: segment-level
boilerplate removal, benchmark-contamination detection, TF-IDF term
ranking, and embedding quantization.

These extend the reference's extraction surface (CogStack/ocr-service
produces the raw text this pipeline consumes) with the downstream
cleanup steps a 100 TB pretraining corpus needs. All hot paths are
JVM-side built-ins; every query has a DuckDB oracle. Rank orderings use
integer keys only (tf, df, counts) so no float last-ulp divergence can
flip an ordering across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_service_spark.functions.hashing import h32, h32_sql
from ocr_service_spark.plans.parallelism import documents, fan_out
from ocr_service_spark.sources.tables import read_table

TOKEN_RE = r"\s+"


# -- segment-level boilerplate dedup (CCNet/RefinedWeb line-dedup analog) -----
SEG_WORDS = 3  # non-overlapping segment width in tokens
BOILERPLATE_MIN_DOCS = 4  # a segment seen in >= this many docs is boilerplate


def q51_boilerplate_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate removal at segment granularity: chunk
    every document into non-overlapping SEG_WORDS-token segments, count
    how many distinct documents each segment appears in, and report per
    document how much of it is corpus-wide boilerplate (the line-dedup
    step of CCNet/RefinedWeb, with fixed-width segments standing in for
    lines since the synthetic corpus is single-line).

    Shape at 100 TB: explode -> count-distinct-docs per segment (two-
    phase partial agg on a high-cardinality key); only the >=K-doc
    frequent set joins back onto the exploded stream (never the full
    per-segment frequency table), and per-doc totals come straight
    from the source row, not from re-aggregating the join output. The
    join carries NO broadcast hint: at CC scale the >=K-doc segment set
    (every nav/footer/cookie banner on the web) can still be millions
    of rows, so the size decision is left to AQE — it broadcasts when
    the measured set fits, and falls back to a shuffle join keyed on
    ``seg`` (which the exploded side would need for the groupBy anyway)
    when it does not.
    """
    docs = documents(spark, sf_dir)
    t = F.split(F.trim("text"), TOKEN_RE)
    n_segs = (F.size(t) / SEG_WORDS).cast("int")  # floor division
    segs = F.when(
        n_segs >= 1,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.concat_ws(
                " ", F.slice(t, i * SEG_WORDS + 1, SEG_WORDS)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select("doc_id", F.explode(segs).alias("seg"))
    bp_set = (
        exploded.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("n_docs_with_seg"))
        .filter(F.col("n_docs_with_seg") >= BOILERPLATE_MIN_DOCS)
        .select("seg")
    )
    hits = (
        exploded.join(bp_set, "seg")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boilerplate"))
    )
    base = docs.select(
        "doc_id", F.size(segs).cast("bigint").alias("n_segments")
    ).filter(F.col("n_segments") >= 1)
    n_bp = F.coalesce("n_boilerplate", F.lit(0)).cast("bigint")
    return base.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_segments",
        n_bp.alias("n_boilerplate"),
        F.round(n_bp.cast("double") / F.col("n_segments"), 6).alias("bp_ratio"),
    )


# -- benchmark contamination (train/eval n-gram overlap) ----------------------
EVAL_MOD = 20  # docs with hash % EVAL_MOD == 0 form the held-out eval slice
CONTAM_NGRAM = 3  # word n-gram width probed for overlap
CONTAM_SALT = "eval"


def _word_ngrams(t, n: int):
    """Overlapping word n-grams of a split-token array (empty when the
    doc is shorter than n tokens — mirrors DuckDB range() semantics).

    Zips n staggered slices of ONE tokenization instead of slicing
    inside the transform lambda — an outer expression referenced in a
    higher-order-function lambda re-evaluates per element, so the old
    shape re-ran the regex split once per gram position (the
    dedup._shingle_array lesson)."""
    width = F.size(t) - (n - 1)
    zipped = F.arrays_zip(*[F.slice(t, k + 1, width) for k in range(n)])
    return F.when(
        F.size(t) >= n,
        F.transform(
            zipped,
            lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def q52_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-eval decontamination check: a deterministic hash slice of
    the corpus stands in for a held-out benchmark; count, per language,
    how many training documents share at least one word CONTAM_NGRAM-
    gram with the eval slice, and the total overlapping gram incidence.

    Shape at 100 TB: the eval gram set is small by construction (a
    fixed benchmark, not a corpus) -> distinct + broadcast; training
    docs stream through a broadcast semi-probe, no shuffle of the big
    side. That is exactly how PaLM/GPT-style decontamination sweeps
    run: benchmark n-grams in memory on every executor.
    """
    docs = documents(spark, sf_dir)
    is_eval = F.pmod(h32(F.col("doc_id").cast("string"), CONTAM_SALT), F.lit(EVAL_MOD)) == 0
    t = F.split(F.trim("text"), TOKEN_RE)
    grams = docs.select(
        "doc_id", "lang", is_eval.alias("is_eval"), F.explode(_word_ngrams(t, CONTAM_NGRAM)).alias("gram")
    )
    eval_grams = grams.filter("is_eval").select("gram").distinct()
    train = grams.filter(~F.col("is_eval"))
    hits = (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_doc = (
        train.groupBy("doc_id", "lang")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(hits.select("doc_id", "n_hits"), "doc_id", "left")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.sum(F.coalesce("n_hits", F.lit(0))).cast("bigint").alias("sum_hits"),
            F.sum("n_grams").cast("bigint").alias("sum_grams"),
        )
    )


# -- TF-IDF top terms per document --------------------------------------------
TFIDF_K = 3


def q53_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document characteristic terms: rank each document's tokens by
    (tf DESC, df ASC, term ASC) — the tf-idf ordering expressed with
    integer keys only, so the rank is bit-stable across engines (no
    log() whose last ulp could flip a tie). Emits tf and df so a
    consumer can apply any idf formula downstream.

    Shape at 100 TB: tf is a (doc, term) partial agg; df is a term
    partial agg joined back WITHOUT a broadcast hint — a web-scale
    vocabulary is heavy-tailed and its distinct-term table is billions
    of rows, so forcing a broadcast would OOM; AQE broadcasts at
    runtime iff the measured df side is actually small, and otherwise
    both sides are already hash-partitioned on ``term`` from their
    aggs, making the sort-merge join cheap. The top-k window partitions
    by doc_id, so no global sort.
    """
    docs = documents(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), TOKEN_RE)).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    scored = tf.join(df, "term")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TFIDF_K)
        .select("doc_id", "term", "tf", "df", "rank")
    )


# -- embedding int8 quantization ----------------------------------------------
QUANT_LEVELS = 255


def q54_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 scalar quantization — the standard compression
    step before shipping embeddings to an ANN index (4x smaller than
    float32, recall loss negligible at 8 bits). q_i = round((x_i - min)
    * 255 / (max - min)); emits the integer checksum and the first two
    codes per vector plus the rounded scale params. Pure map-side
    projection: no shuffle at any scale. Degenerate constant vectors
    (max == min) quantize to all-zero codes; a zero-length vector gets
    code_sum 0 in both engines (Spark's F.aggregate returns the init
    value over an empty array, the oracle coalesces DuckDB's NULL
    list_sum([]) to match) with NULL codes and scale params."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    v = F.transform("embedding", lambda x: x.cast("double"))
    mn = F.array_min(v)
    mx = F.array_max(v)
    scale = (mx - mn) / QUANT_LEVELS
    codes = F.when(
        mx > mn,
        F.transform(v, lambda x: F.round((x - mn) / scale).cast("bigint")),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("bigint")))
    return emb.select(
        "vec_id",
        F.aggregate(codes, F.lit(0).cast("bigint"), lambda a, x: a + x).alias(
            "code_sum"
        ),
        F.try_element_at(codes, F.lit(1)).alias("code1"),
        F.try_element_at(codes, F.lit(2)).alias("code2"),
        F.round(mn, 6).alias("q_min"),
        F.round(mx, 6).alias("q_max"),
    )


# -- composite corpus filter (the pipeline's end decision) --------------------
MIN_TOKENS = 40  # too-short floor
# repetition: top-bigram fraction > 0.2  <=>  5 * top_n > n_bigrams
# alpha: alphabetic-char fraction < 0.5  <=>  2 * alpha < n_chars


def q70_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep/drop decision a pretraining pipeline makes per document,
    composing the suite's signals into one verdict with a reason code:

        exact_dup > too_short > lang_other > repetitive > low_alpha > ok

    Every predicate is an INTEGER comparison (cross-multiplied
    thresholds, like q55/q69) so the oracle replays the whole decision
    tree with zero float drift. Shape at 100 TB: one projection for
    the per-doc counters, the q39 bigram double-groupBy, and one
    groupBy(md5) for canonical-copy election — all partial-aggregated
    hash shuffles keyed by doc/hash, no driver surface."""
    from ocr_service_spark.operators.text_stats import (
        LANG_MARKERS,
        _marker_pattern,
    )

    src = documents(spark, sf_dir, "doc_id", "text", "n_chars")
    # The natural corpus only trips too_short/lang_other, so closed-form
    # synthetic rows (mirrored verbatim by the oracle) exercise the
    # remaining branches: exact copies of docs 0-9 (exact_dup), pages of
    # one repeated bigram (repetitive), digit-soup pages (low_alpha).
    d = F.col("doc_id")
    dups = src.filter(d < 10).select(
        (d + 1_000_000).alias("doc_id"), "text", "n_chars"
    )
    rep_text = F.repeat(F.concat(F.lit("the row"), d.cast("string"), F.lit(" ")), 40)
    reps = src.filter(d < 10).select(
        (d + 2_000_000).alias("doc_id"),
        rep_text.alias("text"),
        F.length(rep_text).cast("bigint").alias("n_chars"),
    )
    low_text = F.concat(
        F.lit("n"), d.cast("string"), F.lit(" "),
        F.repeat(F.lit("1 2 3 4 5 6 7 8 9 0 the "), 8),
    )
    lows = src.filter(d < 10).select(
        (d + 3_000_000).alias("doc_id"),
        low_text.alias("text"),
        F.length(low_text).cast("bigint").alias("n_chars"),
    )
    docs = src.unionByName(dups).unionByName(reps).unionByName(lows)
    t = F.split(F.trim("text"), TOKEN_RE)
    hits = {
        lang: F.regexp_count(F.col("text"), F.lit(_marker_pattern(m)))
        for lang, m in LANG_MARKERS.items()
    }
    top = F.greatest(*hits.values())
    predicted = F.when(top == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        predicted = predicted.when(hits[lang] == top, F.lit(lang))
    base = docs.select(
        "doc_id",
        "n_chars",
        F.md5("text").alias("h"),
        F.size(t).alias("tokens"),
        predicted.alias("predicted_lang"),
        F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z]")).alias("alpha"),
    )

    # top-bigram count per doc (q39's two partial-agg groupBys)
    # zip two staggered slices of ONE tokenization: element_at(t, i)
    # inside the transform lambda re-evaluated the regex split per
    # position (outer refs in HOF lambdas re-run per element)
    nt = F.size(t)
    zt = F.arrays_zip(F.slice(t, 1, nt - 1), F.slice(t, 2, nt - 1))
    grams = F.when(
        nt >= 2,
        F.transform(zt, lambda s: F.concat(s["0"], F.lit(" "), s["1"])),
    ).otherwise(F.array().cast("array<string>"))
    per_gram = (
        docs.select("doc_id", F.explode_outer(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bigr = per_gram.groupBy("doc_id").agg(
        F.max(F.when(F.col("gram").isNotNull(), F.col("cnt"))).alias("top_n")
    )

    # canonical-copy election per exact-hash group
    canon = base.groupBy("h").agg(F.min("doc_id").alias("canon_id"))

    j = base.join(bigr, "doc_id").join(canon, "h")
    n_bigrams = F.greatest(F.col("tokens") - 1, F.lit(0))
    reason = (
        F.when(F.col("doc_id") != F.col("canon_id"), F.lit("exact_dup"))
        .when(F.col("tokens") < MIN_TOKENS, F.lit("too_short"))
        .when(F.col("predicted_lang") != "en", F.lit("lang_other"))
        .when(
            (n_bigrams > 0) & (5 * F.coalesce(F.col("top_n"), F.lit(0)) > n_bigrams),
            F.lit("repetitive"),
        )
        .when(2 * F.col("alpha") < F.col("n_chars"), F.lit("low_alpha"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        "doc_id",
        F.col("tokens").cast("bigint").alias("tokens"),
        "predicted_lang",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


# -- q82: training-sequence packing (concatenate-and-chunk) -------------------
# GPT-style pretraining data layout: documents are concatenated in a
# deterministic order and chunked into fixed-size token sequences; each
# doc's placement is (start sequence, offset, sequences spanned). The
# global concatenation is sharded so the running sum parallelizes: S
# independent per-shard cumsums (one window shuffle), not one global
# ordered partition — at 10^12 docs S is sized to cluster width and
# shard membership is a stable hash, so incremental appends extend each
# shard's tail without repacking history.
PACK_SHARDS = 8
PACK_SEQ_TOKENS = 256
PACK_SALT = "pack"


def q82_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document its place in the packed training layout:
    shard (stable hash), start_seq / seq_offset (where its first token
    lands in the shard's fixed-size sequence stream) and n_seqs (how
    many sequences it straddles). Integer-exact throughout: one
    running-sum window per shard, integral div/mod against the
    sequence budget — no floats, no collect."""
    docs = documents(spark, sf_dir, "doc_id", "text")
    t = docs.select(
        "doc_id",
        F.pmod(h32(F.col("doc_id").cast("string"), PACK_SALT), F.lit(PACK_SHARDS))
        .cast("bigint")
        .alias("shard"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    b = PACK_SEQ_TOKENS
    return (
        t.withColumn("cum", F.sum("n_tokens").over(w))
        .select(
            "doc_id",
            "shard",
            "n_tokens",
            F.expr(f"(cum - n_tokens) div {b}").alias("start_seq"),
            F.expr(f"(cum - n_tokens) % {b}").alias("seq_offset"),
            F.expr(
                f"((cum - 1) div {b}) - ((cum - n_tokens) div {b}) + 1"
            ).alias("n_seqs"),
        )
    )


ORACLES: dict[str, str] = {
    "q51_boilerplate_segments": f"""
        WITH tk AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        segs AS (
            SELECT doc_id,
                   unnest(list_transform(
                       range(0, len(t) // {SEG_WORDS}),
                       i -> array_to_string(t[i*{SEG_WORDS}+1 : i*{SEG_WORDS}+{SEG_WORDS}], ' ')
                   )) AS seg
            FROM tk
        ),
        seg_df AS (
            SELECT seg, count(DISTINCT doc_id) AS n_docs_with_seg
            FROM segs GROUP BY 1
        )
        SELECT s.doc_id,
               count(*) AS n_segments,
               CAST(sum(CASE WHEN d.n_docs_with_seg >= {BOILERPLATE_MIN_DOCS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_boilerplate,
               round(CAST(sum(CASE WHEN d.n_docs_with_seg >= {BOILERPLATE_MIN_DOCS}
                              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS bp_ratio
        FROM segs s JOIN seg_df d USING (seg)
        GROUP BY 1
    """,
    "q52_contamination": f"""
        WITH tk AS (
            SELECT doc_id, lang,
                   {h32_sql("CAST(doc_id AS VARCHAR)", CONTAM_SALT)} % {EVAL_MOD} = 0 AS is_eval,
                   regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        grams AS (
            SELECT doc_id, lang, is_eval,
                   unnest(list_transform(
                       range(1, len(t) - {CONTAM_NGRAM - 2}),
                       i -> array_to_string(t[i : i+{CONTAM_NGRAM - 1}], ' ')
                   )) AS gram
            FROM tk
        ),
        ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
        train AS (SELECT * FROM grams WHERE NOT is_eval),
        hits AS (
            SELECT doc_id, count(*) AS n_hits
            FROM train JOIN ev USING (gram) GROUP BY 1
        ),
        per_doc AS (
            SELECT t.doc_id, t.lang, count(*) AS n_grams, any_value(h.n_hits) AS n_hits
            FROM train t LEFT JOIN hits h ON t.doc_id = h.doc_id
            GROUP BY 1, 2
        )
        SELECT lang,
               count(*) AS n_train_docs,
               CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
               CAST(sum(coalesce(n_hits, 0)) AS BIGINT) AS sum_hits,
               CAST(sum(n_grams) AS BIGINT) AS sum_grams
        FROM per_doc GROUP BY 1
    """,
    "q53_tfidf_top_terms": f"""
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS term
            FROM documents
        ),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1)
        SELECT doc_id, term, tf, df, rank FROM (
            SELECT doc_id, term, tf, df,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY tf DESC, df ASC, term ASC
                   ) AS rank
            FROM tf JOIN df USING (term)
        ) WHERE rank <= {TFIDF_K}
    """,
    "q54_embedding_quantize": f"""
        WITH base AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        mm AS (
            SELECT vec_id, v,
                   list_aggregate(v, 'min') AS mn,
                   list_aggregate(v, 'max') AS mx
            FROM base
        ),
        q AS (
            SELECT vec_id, mn, mx,
                   CASE WHEN mx > mn
                        THEN list_transform(v, x -> CAST(round((x - mn) / ((mx - mn) / {QUANT_LEVELS})) AS BIGINT))
                        ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes
            FROM mm
        )
        SELECT vec_id,
               CAST(coalesce(list_sum(codes), 0) AS BIGINT) AS code_sum,
               codes[1] AS code1,
               codes[2] AS code2,
               round(mn, 6) AS q_min,
               round(mx, 6) AS q_max
        FROM q
    """,
}

def _q70_oracle() -> str:
    from ocr_service_spark.operators.text_stats import LANG_MARKERS, _marker_pattern

    hit_exprs = ", ".join(
        f"len(regexp_extract_all(text, '{_marker_pattern(m)}')) AS hits_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    top = "greatest(" + ", ".join(f"hits_{lang}" for lang in LANG_MARKERS) + ")"
    case = f"CASE WHEN {top} = 0 THEN 'und'"
    for lang in LANG_MARKERS:
        case += f" WHEN hits_{lang} = {top} THEN '{lang}'"
    case += " END"
    return f"""
        WITH aug AS (
            SELECT doc_id, text, n_chars FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text, n_chars
            FROM documents WHERE doc_id < 10
            UNION ALL
            SELECT doc_id + 2000000,
                   repeat('the row' || doc_id || ' ', 40),
                   CAST(length(repeat('the row' || doc_id || ' ', 40)) AS BIGINT)
            FROM documents WHERE doc_id < 10
            UNION ALL
            SELECT doc_id + 3000000,
                   'n' || doc_id || ' ' || repeat('1 2 3 4 5 6 7 8 9 0 the ', 8),
                   CAST(length('n' || doc_id || ' '
                        || repeat('1 2 3 4 5 6 7 8 9 0 the ', 8)) AS BIGINT)
            FROM documents WHERE doc_id < 10
        ),
        base AS (
            SELECT doc_id, n_chars, md5(text) AS h,
                   len(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS tokens,
                   {case} AS predicted_lang,
                   len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha
            FROM (SELECT doc_id, n_chars, text, {hit_exprs} FROM aug)
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
            FROM (SELECT doc_id, regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
                  FROM aug)
        ),
        pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        bigr AS (SELECT doc_id, max(cnt) AS top_n FROM pg GROUP BY 1),
        canon AS (SELECT h, min(doc_id) AS canon_id FROM base GROUP BY 1),
        j AS (
            SELECT b.*, coalesce(bg.top_n, 0) AS top_n, c.canon_id,
                   greatest(b.tokens - 1, 0) AS n_bigrams
            FROM base b LEFT JOIN bigr bg ON b.doc_id = bg.doc_id
            JOIN canon c ON b.h = c.h
        ),
        v AS (
            SELECT doc_id, tokens, predicted_lang,
                   CASE WHEN doc_id <> canon_id THEN 'exact_dup'
                        WHEN tokens < {MIN_TOKENS} THEN 'too_short'
                        WHEN predicted_lang <> 'en' THEN 'lang_other'
                        WHEN n_bigrams > 0 AND 5 * top_n > n_bigrams THEN 'repetitive'
                        WHEN 2 * alpha < n_chars THEN 'low_alpha'
                        ELSE 'ok' END AS reason
            FROM j
        )
        SELECT doc_id, CAST(tokens AS BIGINT) AS tokens, predicted_lang,
               reason, reason = 'ok' AS keep
        FROM v
    """


ORACLES["q70_corpus_filter"] = _q70_oracle()

ORACLES["q82_sequence_packing"] = f"""
    WITH t AS (
        SELECT doc_id,
               CAST({h32_sql("CAST(doc_id AS VARCHAR)", PACK_SALT)}
                    % {PACK_SHARDS} AS BIGINT) AS shard,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, shard, n_tokens,
           CAST((cum - n_tokens) // {PACK_SEQ_TOKENS} AS BIGINT) AS start_seq,
           CAST((cum - n_tokens) % {PACK_SEQ_TOKENS} AS BIGINT) AS seq_offset,
           CAST((cum - 1) // {PACK_SEQ_TOKENS}
                - (cum - n_tokens) // {PACK_SEQ_TOKENS} + 1 AS BIGINT) AS n_seqs
    FROM c
"""

# -- q98: sharded JSONL corpus export (the training-data sink) ----------------
# Pretraining corpora ship as hive-partitioned JSONL shards; this proves
# the sink END-TO-END: deterministic shard assignment, a real
# partitionBy JSONL write, a read-back of the written files, and
# per-shard integrity aggregates (count, id-sum, byte-sum, an
# order-free XOR fingerprint of every text hash) that the oracle
# recomputes from the SOURCE table — any doc lost, duplicated, or
# corrupted in the JSON round trip flips a fingerprint. At 10^12 docs
# the shard count scales with cluster width; assignment stays an
# embarrassingly parallel projection and the write is one shuffle-free
# pass (each task appends to its partition dirs).
EXPORT_SHARDS = 8
EXPORT_SALT = "export"


def export_jsonl_shards(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> DataFrame:
    """Write the documents table as hive-partitioned JSONL
    (``shard=K/part-*.json``) and return the READ-BACK DataFrame —
    callers aggregate over what actually landed on storage, never over
    the pre-write plan."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        "lang",
        (h32(F.col("doc_id").cast("string"), EXPORT_SALT) % EXPORT_SHARDS)
        .cast("int")
        .alias("shard"),
    )
    docs.write.partitionBy("shard").mode("overwrite").json(out_dir)
    return spark.read.schema("doc_id bigint, text string, lang string").json(
        out_dir
    )


def q98_corpus_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import shutil

    slug = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    out_dir = f"/tmp/ocr_spark_q98_{slug}_{os.getpid()}"
    shutil.rmtree(out_dir, ignore_errors=True)
    try:
        back = export_jsonl_shards(spark, sf_dir, out_dir)
        rows = (
            back.groupBy(F.col("shard").cast("bigint").alias("shard"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("docid_sum"),
                F.sum(F.length("text")).cast("bigint").alias("char_sum"),
                F.expr(
                    "bit_xor(cast(conv(substring(md5(concat('x', text)), 1, 8),"
                    " 16, 10) as bigint))"
                ).alias("text_fprint"),
                F.countDistinct("lang").alias("n_langs"),
            )
            .collect()
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "shard bigint, n_docs bigint, docid_sum bigint, char_sum bigint, "
        "text_fprint bigint, n_langs bigint",
    )


ORACLES["q98_corpus_export"] = rf"""
    SELECT
        CAST({h32_sql("CAST(doc_id AS VARCHAR)", EXPORT_SALT)}
             % {EXPORT_SHARDS} AS BIGINT) AS shard,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(doc_id) AS BIGINT) AS docid_sum,
        CAST(sum(length(text)) AS BIGINT) AS char_sum,
        bit_xor({h32_sql("text", "x")}) AS text_fprint,
        CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY 1
"""


# -- q99: corpus mixture sampling (Pile/DoReMi-style domain reweighting) ------
# A pretraining run rarely consumes sources at their natural sizes: each
# source gets a target WEIGHT and the pipeline downsamples overweight
# sources to hit it. Acceptance is a deterministic per-doc hash gate
# (basis points, integer-exact), so membership is stable across runs
# and incremental appends — the same property as q26's split. Shape at
# 100 TB: one tiny groupBy(source) agg (source cardinality is O(100)),
# a 1-row totals crossJoin broadcast, a broadcast rate join back to the
# scan, and the final per-source rollup — the doc-scan is touched
# exactly twice with zero wide shuffles.
MIX_BPS = 10_000
MIX_SALT = "mix"
MIX_WEIGHT_MOD = 4  # weight(srcN) = N % 4 + 1 — deterministic, varied


def q99_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir, "doc_id", "source", "n_chars")
    weight = (
        F.substring("source", 4, 10).cast("bigint") % MIX_WEIGHT_MOD + 1
    ).alias("weight")
    per = docs.groupBy("source").agg(
        F.sum("n_chars").cast("bigint").alias("actual_chars")
    ).select("source", "actual_chars", weight)
    totals = per.agg(
        F.sum("actual_chars").alias("total_chars"),
        F.sum("weight").alias("total_weight"),
    )
    rates = (
        per.crossJoin(F.broadcast(totals))
        .withColumn(
            "target_chars", F.expr("(total_chars * weight) div total_weight")
        )
        .withColumn(
            "rate_bps",
            F.least(
                F.lit(MIX_BPS).cast("bigint"),
                F.expr(f"(target_chars * {MIX_BPS}) div actual_chars"),
            ),
        )
        .select("source", "actual_chars", "weight", "target_chars", "rate_bps")
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "rate_bps")), "source")
        .filter(
            h32(F.col("doc_id").cast("string"), MIX_SALT) % MIX_BPS
            < F.col("rate_bps")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("kept_docs"),
            F.sum("n_chars").cast("bigint").alias("kept_chars"),
        )
    )
    return rates.join(kept, "source", "left").select(
        "source",
        "actual_chars",
        "weight",
        "target_chars",
        "rate_bps",
        F.coalesce("kept_docs", F.lit(0)).cast("bigint").alias("kept_docs"),
        F.coalesce("kept_chars", F.lit(0)).cast("bigint").alias("kept_chars"),
    )


ORACLES["q99_corpus_mixture"] = rf"""
    WITH per AS (
        SELECT source,
               CAST(sum(n_chars) AS BIGINT) AS actual_chars,
               CAST(CAST(substr(source, 4) AS BIGINT) % {MIX_WEIGHT_MOD} + 1
                    AS BIGINT) AS weight
        FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT sum(actual_chars) AS total_chars, sum(weight) AS total_weight
        FROM per
    ),
    r AS (
        SELECT source, actual_chars, weight,
               CAST((total_chars * weight) // total_weight AS BIGINT)
                   AS target_chars,
               CAST(least(
                   {MIX_BPS},
                   ((total_chars * weight) // total_weight * {MIX_BPS})
                       // actual_chars
               ) AS BIGINT) AS rate_bps
        FROM per CROSS JOIN tot
    ),
    k AS (
        SELECT d.source,
               CAST(count(*) AS BIGINT) AS kept_docs,
               CAST(sum(n_chars) AS BIGINT) AS kept_chars
        FROM documents d JOIN r ON d.source = r.source
        WHERE {h32_sql("CAST(doc_id AS VARCHAR)", MIX_SALT)} % {MIX_BPS}
                  < r.rate_bps
        GROUP BY 1
    )
    SELECT r.source, actual_chars, weight, target_chars, rate_bps,
           CAST(coalesce(kept_docs, 0) AS BIGINT) AS kept_docs,
           CAST(coalesce(kept_chars, 0) AS BIGINT) AS kept_chars
    FROM r LEFT JOIN k ON r.source = k.source
"""


# -- corpus-wide first-occurrence segment dedup (CCNet line dedup) ------------


def q107_line_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level duplicate-line removal with
    first-occurrence-wins keep semantics: every SEG_WORDS-token segment
    (the line stand-in — the synthetic corpus is single-line) is kept
    only at its globally FIRST occurrence, ordered by (doc_id,
    seg_idx); every later occurrence anywhere in the corpus is dropped.
    Output: per document, how many segments it has and how many survive
    the corpus-wide dedup. This is the keep/drop step q51 only counts
    frequencies for. Reference scope: CogStack/ocr-service produces the
    text (processor/processor.py extraction outputs); this is the
    downstream corpus-hygiene step a pretraining pipeline runs on it.

    Shape at 100 TB: min(struct(doc_id, seg_idx)) per segment is a
    two-phase hash agg — map-side partial combine absorbs hot
    boilerplate segments (the window-function twin row_number() OVER
    (PARTITION BY seg) would sort EVERY occurrence of a hot segment in
    one task; the agg never materializes more than one row per segment
    per map task). Winners join back on the same key, so the exchange
    from the agg is reusable and AQE picks broadcast only if the winner
    set measures small. Per-doc totals are a second narrow agg.
    """
    docs = documents(spark, sf_dir)
    t = F.split(F.trim("text"), TOKEN_RE)
    n_segs = (F.size(t) / SEG_WORDS).cast("int")
    segs = F.when(
        n_segs >= 1,
        F.transform(
            F.sequence(F.lit(0), n_segs - 1),
            lambda i: F.concat_ws(" ", F.slice(t, i * SEG_WORDS + 1, SEG_WORDS)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "seg")
    )
    winners = exploded.groupBy("seg").agg(
        F.min(F.struct("doc_id", "seg_idx")).alias("w")
    )
    flagged = exploded.join(winners, "seg").select(
        "doc_id",
        (
            (F.col("doc_id") == F.col("w.doc_id"))
            & (F.col("seg_idx") == F.col("w.seg_idx"))
        )
        .cast("bigint")
        .alias("is_first"),
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("is_first").alias("n_kept"),
        (F.count(F.lit(1)) - F.sum("is_first")).alias("n_dropped"),
    )


# -- sliding-window chunking with overlap (context-window prep) ---------------
CHUNK_W = 8  # window width in tokens
CHUNK_S = 4  # stride in tokens (W - S = overlap)


def q108_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap — the
    context-window prep step (RAG indexing / long-doc training): chunk
    i covers tokens [i*S, i*S+W); n<=W docs yield one chunk; otherwise
    ceil((n-W)/S)+1 chunks so the final chunk always reaches the last
    token. Emits (doc_id, chunk_idx, n_tokens, chunk_h) with a
    cross-engine md5-derived chunk hash.

    Shape at 100 TB: map-only projection — sequence/transform/
    posexplode/hash all run JVM-side with no UDF and no keyed shuffle;
    the only exchange is _docs' round-robin source rebalance. Output
    fan-out is bounded by ~n/S chunks per doc.
    """
    docs = documents(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    t = F.split(F.trim("text"), TOKEN_RE)
    n = F.size(t)
    n_chunks = F.when(n <= CHUNK_W, F.lit(1)).otherwise(
        F.floor((n - CHUNK_W + CHUNK_S - 1) / CHUNK_S).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(t, i * CHUNK_S + 1, CHUNK_W)),
    )
    ex = docs.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.size(F.split("chunk", " ")).cast("bigint").alias("n_tokens"),
        h32(F.col("chunk")).alias("chunk_h"),
    )


_N_CHUNKS_SQL = (
    f"CASE WHEN len(t) <= {CHUNK_W} THEN 1"
    f" ELSE (len(t) - {CHUNK_W} + {CHUNK_S} - 1) // {CHUNK_S} + 1 END"
)

ORACLES["q107_line_dedup_first"] = f"""
    WITH tk AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
        FROM documents
    ),
    segs AS (
        SELECT doc_id,
               unnest(range(0, len(t) // {SEG_WORDS})) AS seg_idx,
               unnest(list_transform(
                   range(0, len(t) // {SEG_WORDS}),
                   i -> array_to_string(t[i*{SEG_WORDS}+1 : i*{SEG_WORDS}+{SEG_WORDS}], ' ')
               )) AS seg
        FROM tk
    ),
    flagged AS (
        SELECT doc_id,
               CASE WHEN row_number() OVER (
                   PARTITION BY seg ORDER BY doc_id, seg_idx
               ) = 1 THEN 1 ELSE 0 END AS is_first
        FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segments,
           CAST(sum(is_first) AS BIGINT) AS n_kept,
           CAST(count(*) - sum(is_first) AS BIGINT) AS n_dropped
    FROM flagged GROUP BY doc_id
"""

ORACLES["q108_chunk_overlap"] = f"""
    WITH tk AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
        FROM documents
        WHERE len(trim(text)) > 0
    ),
    ch AS (
        SELECT doc_id,
               unnest(range(0, {_N_CHUNKS_SQL})) AS chunk_idx,
               unnest(list_transform(
                   range(0, {_N_CHUNKS_SQL}),
                   i -> array_to_string(t[i*{CHUNK_S}+1 : i*{CHUNK_S}+{CHUNK_W}], ' ')
               )) AS chunk
        FROM tk
    )
    SELECT doc_id,
           CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens,
           {h32_sql('chunk')} AS chunk_h
    FROM ch
"""

# -- q147: hashed linear classifier inference (fastText shape) ----------------
#
# Production quality filtering (FineWeb-Edu, fastText lang/quality
# models) is a LEARNED linear model applied at corpus scale: hash each
# n-gram into a fixed bucket space, look the bucket's weight up in the
# model table, sum per document, threshold. The weights here are a
# planted closed-form table (bucket*37 % 201 - 100) so the oracle can
# rebuild it; a real model would land as a parquet the broadcast join
# consumes unchanged — the PLAN is the point: explode bigrams
# map-side, one broadcast hash-join against the CLF_BUCKETS-row weight
# table, one per-doc partial-agg sum. DSIR (q93) is the unigram
# importance-ratio cousin; this is the supervised-classifier shape.
CLF_BUCKETS = 256
CLF_SALT = "clf"
CLF_BIAS = -40  # decision threshold folded in as a bias


def clf_weights(spark: SparkSession) -> DataFrame:
    """The planted weight table: (bucket, weight) with weight in
    [-100, 100]. A learned model is a drop-in replacement."""
    return spark.range(CLF_BUCKETS).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * 37) % 201 - 100).cast("bigint").alias("weight"),
    )


def q147_clf_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: bigram count, summed bucket weight, and the keep
    verdict at score + CLF_BIAS > 0."""
    docs = documents(spark, sf_dir, "doc_id", "text")
    t = F.split(F.trim("text"), TOKEN_RE)
    # zip-of-slices bigrams (outer refs in HOF lambdas re-run per
    # element — see q70's rewrite); empty for sub-2-token docs
    nt = F.size(t)
    zt = F.arrays_zip(F.slice(t, 1, nt - 1), F.slice(t, 2, nt - 1))
    grams = docs.select(
        "doc_id",
        F.explode(
            F.transform(zt, lambda s: F.concat_ws(" ", s["0"], s["1"]))
        ).alias("gram"),
    )
    hashed = grams.select("doc_id", F.pmod(h32(F.col("gram"), CLF_SALT), F.lit(CLF_BUCKETS)).alias("bucket"))
    scored = hashed.join(F.broadcast(clf_weights(spark)), "bucket")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("weight").alias("score"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("score").cast("bigint").alias("score"),
            (F.col("score") + CLF_BIAS > 0).alias("keep"),
        )
    )


ORACLES["q147_clf_inference"] = f"""
    WITH tk AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]))
                   AS gram
        FROM tk
    ),
    h AS (
        SELECT doc_id, {h32_sql("gram", CLF_SALT)} % {CLF_BUCKETS} AS bucket
        FROM g
    ),
    w AS (
        SELECT CAST(b AS BIGINT) AS bucket,
               CAST((b * 37) % 201 - 100 AS BIGINT) AS weight
        FROM (SELECT unnest(range({CLF_BUCKETS})) AS b)
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(weight) AS BIGINT) AS score,
           sum(weight) + {CLF_BIAS} > 0 AS keep
    FROM h JOIN w USING (bucket)
    GROUP BY doc_id
"""


# -- q148: rendezvous-hash reshard stability -----------------------------------
#
# Growing a sharded corpus store (16 -> 20 output shards) under plain
# modulo hashing reshuffles ~everything; rendezvous (highest-random-
# weight) hashing guarantees a document moves ONLY if one of the new
# shards wins its vote — expected movement is 4/20 of the corpus and
# every move lands IN a new shard. This query assigns both layouts and
# measures the property. Pure codegen: the per-doc argmax is an
# array_max over NEW_SHARDS inline structs (tie dialect: highest hash,
# then highest shard id), zero joins, one 16-row groupBy at the end.
RDV_OLD_SHARDS = 16
RDV_NEW_SHARDS = 20
RDV_SALT = "rdv"


def rendezvous_shard(doc_id, n_shards: int):
    """Winning shard for a doc under highest-random-weight hashing."""
    cands = F.array(
        *[
            F.struct(
                h32(F.concat(doc_id.cast("string"), F.lit(f"#{s}")), RDV_SALT).alias("h"),
                F.lit(s).cast("bigint").alias("s"),
            )
            for s in range(n_shards)
        ]
    )
    return F.array_max(cands)["s"]


def q148_reshard_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per old shard: doc count, docs that move under 16 -> 20, docs
    that move INTO a brand-new shard (the rendezvous property makes
    these equal — the oracle and the data both prove it), movement in
    basis points."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    assigned = docs.select(
        rendezvous_shard(d, RDV_OLD_SHARDS).alias("old_shard"),
        rendezvous_shard(d, RDV_NEW_SHARDS).alias("new_shard"),
    )
    moved = (F.col("new_shard") != F.col("old_shard")).cast("bigint")
    into_new = (
        (F.col("new_shard") >= RDV_OLD_SHARDS)
        & (F.col("new_shard") != F.col("old_shard"))
    ).cast("bigint")
    return (
        assigned.groupBy("old_shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(moved).alias("n_moved"),
            F.sum(into_new).alias("n_into_new"),
        )
        .select(
            "old_shard",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_moved").cast("bigint").alias("n_moved"),
            F.col("n_into_new").cast("bigint").alias("n_into_new"),
            F.expr("(n_moved * 10000) div n_docs").cast("bigint").alias("moved_bp"),
        )
    )


_RDV_H = (
    "CAST(('0x' || substr(md5('" + RDV_SALT + "' || CAST(doc_id AS VARCHAR) "
    "|| '#' || CAST(s AS VARCHAR)), 1, 8)) AS BIGINT)"
)

ORACLES["q148_reshard_stability"] = f"""
    WITH cand AS (
        SELECT doc_id, s, {_RDV_H} AS h
        FROM documents, LATERAL unnest(range({RDV_NEW_SHARDS})) AS t(s)
    ),
    old AS (
        SELECT doc_id, s AS old_shard FROM (
            SELECT doc_id, s,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, s DESC) AS rn
            FROM cand WHERE s < {RDV_OLD_SHARDS}
        ) WHERE rn = 1
    ),
    new AS (
        SELECT doc_id, s AS new_shard FROM (
            SELECT doc_id, s,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY h DESC, s DESC) AS rn
            FROM cand
        ) WHERE rn = 1
    )
    SELECT CAST(old_shard AS BIGINT) AS old_shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN new_shard != old_shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(sum(CASE WHEN new_shard >= {RDV_OLD_SHARDS}
                          AND new_shard != old_shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_into_new,
           CAST(sum(CASE WHEN new_shard != old_shard THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS moved_bp
    FROM old JOIN new USING (doc_id)
    GROUP BY old_shard
"""


# -- q155: fuzzy (edit-1) benchmark decontamination -----------------------------
#
# q52 catches EXACT n-gram overlap; real leakage survives a one-token
# paraphrase ("the cat sat on the mat" -> "the cat sat on a mat"), so
# production sweeps also run a fuzzy pass. Pinned dialect: two
# FUZZY_NGRAM-grams match when they agree at all but at most one
# position — implemented with DROP-ONE SIGNATURES: gram g1..g5 emits
# five (i, g-without-position-i) keys; grams differing only at
# position i share signature i, and identical grams share all five.
# The eval signature set is benchmark-sized -> distinct + broadcast;
# train docs stream through the probe and the per-instance dedup is a
# countDistinct on (doc, gram position). Fan-out is a fixed x5, inside
# codegen array expressions.
FUZZY_NGRAM = 5


def _drop_one_sigs(gram):
    """array<string> of the FUZZY_NGRAM drop-one signatures 'i|rest'.

    Unrolled as a plain array constructor (FUZZY_NGRAM is a constant):
    the old transform lambda re-split the gram once per signature
    (outer refs in HOF lambdas re-evaluate per element); here the
    split is one projection-level subexpression shared by every arm."""
    s = F.split(gram, " ")
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(str(i)),
                F.array_join(
                    F.concat(
                        F.slice(s, 1, i - 1),
                        F.slice(s, i + 1, FUZZY_NGRAM - i),
                    ),
                    " ",
                ),
            )
            for i in range(1, FUZZY_NGRAM + 1)
        ]
    )


def q155_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training doc: 5-gram count, exact benchmark hits, fuzzy
    (edit-1) hits, and the fuzzy-only excess the exact sweep misses.
    The eval slice is q52's deterministic hash slice.

    ONE pass over the train grams (the round-5 shape ran the expensive
    posexplode three times — base counts, exact probe, fuzzy probe —
    and joined the three back per doc_id): both probes are broadcast
    LEFT joins marking each gram instance in-stream, folded per
    (doc, gpos) and then per doc. Two narrow aggregations replace
    three explode passes plus two doc_id join-backs; at 100 TB the
    train side streams once instead of three times."""
    docs = documents(spark, sf_dir)
    is_eval = (
        F.pmod(h32(F.col("doc_id").cast("string"), CONTAM_SALT), F.lit(EVAL_MOD)) == 0
    )
    t = F.split(F.trim("text"), TOKEN_RE)
    grams = docs.select(
        "doc_id",
        is_eval.alias("is_eval"),
        F.posexplode(_word_ngrams(t, FUZZY_NGRAM)).alias("gpos", "gram"),
    )
    eval_sigs = (
        grams.filter("is_eval")
        .select(F.explode(_drop_one_sigs(F.col("gram"))).alias("sig"))
        .distinct()
        .withColumn("fhit", F.lit(1))
    )
    eval_grams = (
        grams.filter("is_eval")
        .select("gram")
        .distinct()
        .withColumn("xhit", F.lit(1))
    )
    train = grams.filter(~F.col("is_eval"))
    probed = (
        train.join(F.broadcast(eval_grams), "gram", "left")
        .select(
            "doc_id",
            "gpos",
            "xhit",
            F.explode(_drop_one_sigs(F.col("gram"))).alias("sig"),
        )
        .join(F.broadcast(eval_sigs), "sig", "left")
    )
    # the x5 sig fan-out folds straight back: one row per gram instance
    # with its exact/fuzzy verdicts (map-side partial agg shrinks the
    # shuffle to one row per (doc, gpos) before the exchange)
    per_pos = probed.groupBy("doc_id", "gpos").agg(
        F.max("xhit").alias("xhit"), F.max("fhit").alias("fhit")
    )
    n_exact = F.coalesce(F.sum("xhit"), F.lit(0)).cast("bigint")
    n_fuzzy = F.coalesce(F.sum("fhit"), F.lit(0)).cast("bigint")
    return per_pos.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        n_exact.alias("n_exact"),
        n_fuzzy.alias("n_fuzzy"),
        (n_fuzzy - n_exact).cast("bigint").alias("n_fuzzy_only"),
        (n_fuzzy > 0).alias("contaminated"),
    )


_SIG_LIST_SQL = (
    "list_transform(range(1, " + str(FUZZY_NGRAM + 1) + "), "
    "i -> CAST(i AS VARCHAR) || '|' || "
    "array_to_string(list_concat(g[1:i-1], g[i+1:" + str(FUZZY_NGRAM) + "]), ' '))"
)

ORACLES["q155_fuzzy_contamination"] = f"""
    WITH d AS (
        SELECT doc_id,
               ({h32_sql("CAST(doc_id AS VARCHAR)", CONTAM_SALT)} % {EVAL_MOD} = 0)
                   AS is_eval,
               regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
        FROM documents
    ),
    grams AS (
        SELECT doc_id, is_eval,
               unnest(range(1, greatest(len(t) - {FUZZY_NGRAM} + 2, 1))) AS gpos,
               unnest(list_transform(range(1, greatest(len(t) - {FUZZY_NGRAM} + 2, 1)),
                      i -> array_to_string(t[i:i+{FUZZY_NGRAM - 1}], ' '))) AS gram
        FROM d
    ),
    eval_grams AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
    eval_sigs AS (
        SELECT DISTINCT unnest({_SIG_LIST_SQL}) AS sig
        FROM (SELECT string_split(gram, ' ') AS g FROM grams WHERE is_eval)
    ),
    train AS (SELECT doc_id, gpos, gram FROM grams WHERE NOT is_eval),
    exact AS (
        SELECT doc_id, count(DISTINCT gpos) AS n_exact
        FROM train JOIN eval_grams USING (gram) GROUP BY 1
    ),
    tsig AS (
        SELECT doc_id, gpos, unnest({_SIG_LIST_SQL}) AS sig
        FROM (SELECT doc_id, gpos, string_split(gram, ' ') AS g FROM train)
    ),
    fuzzy AS (
        SELECT doc_id, count(DISTINCT gpos) AS n_fuzzy
        FROM tsig JOIN eval_sigs USING (sig) GROUP BY 1
    ),
    base AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1)
    SELECT b.doc_id, CAST(b.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(e.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(coalesce(f.n_fuzzy, 0) AS BIGINT) AS n_fuzzy,
           CAST(coalesce(f.n_fuzzy, 0) - coalesce(e.n_exact, 0) AS BIGINT)
               AS n_fuzzy_only,
           coalesce(f.n_fuzzy, 0) > 0 AS contaminated
    FROM base b LEFT JOIN exact e ON b.doc_id = e.doc_id
                LEFT JOIN fuzzy f ON b.doc_id = f.doc_id
"""


# -- q159: cross-source duplication matrix ---------------------------------------
#
# The corpus-mix diagnostic behind "do we even need source X": for
# every ordered source pair (a, b), how many of a's documents already
# exist (byte-identical content) in b. Planted content: doc content is
# one of 117 closed-form payloads (117 is coprime with the 20-source
# cycle, so every content crosses sources), so every source shares material
# with every other. Shape: one DISTINCT over (content, source) — the
# bounded side, at most contents x sources rows — equi-joined back to
# the doc table on the content hash, then a (source_a, source_b)
# groupBy; AQE sizes the join (the distinct side is corpus-derived, so
# no forced broadcast — the q51/q53 rule).
def q159_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    content = F.md5(F.concat(F.lit("payload-"), (F.col("doc_id") % 117).cast("string")))
    pages = docs.select("doc_id", "source", content.alias("content_hash"))
    holders = pages.select(
        "content_hash", F.col("source").alias("source_b")
    ).distinct()
    shared = (
        pages.join(holders, "content_hash")
        .filter(F.col("source_b") != F.col("source"))
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    per_source = pages.groupBy(F.col("source").alias("source_a")).agg(
        F.count(F.lit(1)).alias("n_docs_a")
    )
    return shared.join(per_source, "source_a").select(
        "source_a",
        "source_b",
        F.col("n_docs_a").cast("bigint").alias("n_docs_a"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.expr("(n_shared * 10000) div n_docs_a").alias("shared_bp"),
    )


ORACLES["q159_source_overlap"] = """
    WITH pages AS (
        SELECT doc_id, source,
               md5('payload-' || CAST(doc_id % 117 AS VARCHAR)) AS content_hash
        FROM documents
    ),
    holders AS (SELECT DISTINCT content_hash, source AS source_b FROM pages),
    shared AS (
        SELECT p.source AS source_a, h.source_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM pages p JOIN holders h USING (content_hash)
        WHERE h.source_b != p.source
        GROUP BY 1, 2
    ),
    per_source AS (
        SELECT source AS source_a, CAST(count(*) AS BIGINT) AS n_docs_a
        FROM pages GROUP BY 1
    )
    SELECT source_a, source_b, n_docs_a, n_shared,
           CAST((n_shared * 10000) // n_docs_a AS BIGINT) AS shared_bp
    FROM shared JOIN per_source USING (source_a)
"""


# -- q160: per-source quality-score calibration -----------------------------------
#
# Learned quality scores are miscalibrated ACROSS sources (a 0.6 on
# arxiv is not a 0.6 on forums), so production selection thresholds
# the WITHIN-SOURCE rank, not the raw score. Integer percent-rank:
# calib_bp = (rank - 1) * 10000 div (n - 1) over (score, doc_id)
# ascending within each source. The window partitions by source —
# bounded fan-in per partition at any corpus size.
CALIB_KEEP_BP = 8000  # keep the top 20% of each source
CALIB_GLOBAL_CUT = 800  # the naive global threshold it replaces


def q160_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    quality = F.pmod(h32(F.col("doc_id").cast("string"), "qual2"), F.lit(1000))
    scored = docs.select(
        "doc_id", "source", quality.cast("bigint").alias("quality")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("quality").asc(), F.col("doc_id").asc()
    )
    w_n = Window.partitionBy("source")
    staged = scored.select(
        "doc_id",
        "source",
        "quality",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(w_n).cast("bigint").alias("n_src"),
    )
    return staged.select(
        "doc_id",
        "source",
        "quality",
        F.expr("((rk - 1) * 10000) div greatest(n_src - 1, 1)").alias("calib_bp"),
        (F.col("quality") >= CALIB_GLOBAL_CUT).alias("keep_global"),
        (
            F.expr("((rk - 1) * 10000) div greatest(n_src - 1, 1)")
            >= CALIB_KEEP_BP
        ).alias("keep_calibrated"),
    )


ORACLES["q160_quality_calibration"] = f"""
    WITH scored AS (
        SELECT doc_id, source,
               {h32_sql("CAST(doc_id AS VARCHAR)", "qual2")} % 1000 AS quality
        FROM documents
    ),
    staged AS (
        SELECT doc_id, source, CAST(quality AS BIGINT) AS quality,
               CAST(row_number() OVER (PARTITION BY source
                    ORDER BY quality ASC, doc_id ASC) AS BIGINT) AS rk,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n_src
        FROM scored
    )
    SELECT doc_id, source, quality,
           CAST(((rk - 1) * 10000) // greatest(n_src - 1, 1) AS BIGINT)
               AS calib_bp,
           quality >= {CALIB_GLOBAL_CUT} AS keep_global,
           ((rk - 1) * 10000) // greatest(n_src - 1, 1) >= {CALIB_KEEP_BP}
               AS keep_calibrated
    FROM staged
"""


# -- q150: token-budget corpus selection ---------------------------------------
#
# "Give me the best N tokens" — the final cut every pretraining run
# makes: rank documents by a quality score, keep greedily until the
# token budget is spent. Budget is relative (the best 40% of corpus
# tokens) so the query is SF-independent; the keep rule is pinned as
# cumulative-INCLUDING-current <= budget. One global ordered window —
# the measurement form; at 100 TB the same cut runs as range-partition
# by score + per-range offset reconciliation (two passes, no single-
# task sort), with identical semantics.
BUDGET_NUM, BUDGET_DEN = 4, 10
BUDGET_SALT = "qual"


def q150_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir, "doc_id", "text")
    quality = F.pmod(h32(F.col("doc_id").cast("string"), BUDGET_SALT), F.lit(100))
    n_tokens = F.size(F.split(F.trim("text"), TOKEN_RE)).cast("bigint")
    scored = docs.select(
        "doc_id",
        quality.cast("bigint").alias("quality"),
        n_tokens.alias("n_tokens"),
    )
    w = Window.orderBy(F.col("quality").desc(), F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    staged = scored.select(
        "doc_id",
        "quality",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("n_tokens").over(w_all).cast("bigint").alias("total_tokens"),
    )
    return staged.select(
        "doc_id",
        "quality",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") * BUDGET_DEN <= F.col("total_tokens") * BUDGET_NUM).alias(
            "keep"
        ),
    )


ORACLES["q150_budget_selection"] = f"""
    WITH scored AS (
        SELECT doc_id,
               {h32_sql("CAST(doc_id AS VARCHAR)", BUDGET_SALT)} % 100 AS quality,
               CAST(len(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    staged AS (
        SELECT doc_id, CAST(quality AS BIGINT) AS quality, n_tokens,
               CAST(sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
               CAST(sum(n_tokens) OVER () AS BIGINT) AS total_tokens
        FROM scored
    )
    SELECT doc_id, quality, n_tokens, cum_tokens,
           cum_tokens * {BUDGET_DEN} <= total_tokens * {BUDGET_NUM} AS keep
    FROM staged
"""


QUERIES = {
    "q70_corpus_filter": q70_corpus_filter,
    "q147_clf_inference": q147_clf_inference,
    "q148_reshard_stability": q148_reshard_stability,
    "q150_budget_selection": q150_budget_selection,
    "q155_fuzzy_contamination": q155_fuzzy_contamination,
    "q159_source_overlap": q159_source_overlap,
    "q160_quality_calibration": q160_quality_calibration,
    "q98_corpus_export": q98_corpus_export,
    "q99_corpus_mixture": q99_corpus_mixture,
    "q107_line_dedup_first": q107_line_dedup_first,
    "q108_chunk_overlap": q108_chunk_overlap,
    "q51_boilerplate_segments": q51_boilerplate_segments,
    "q52_contamination": q52_contamination,
    "q53_tfidf_top_terms": q53_tfidf_top_terms,
    "q54_embedding_quantize": q54_embedding_quantize,
    "q82_sequence_packing": q82_sequence_packing,
}
