"""Text-analysis operators for a training-data pipeline: token counting,
quality scoring, language ID, document fingerprinting.

All run JVM-side (built-in functions; no Python in the hot path) and
every query has a DuckDB oracle. Ratios divide integer counts, so both
engines evaluate the same IEEE-double operations on the same operands.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.functions.hashing import h32, h32_sql
from ocr_service_spark.plans.parallelism import documents
from ocr_service_spark.sources.tables import read_table


TOKEN_RE = r"\s+"
# BPE-ish word/number/punct segmentation used for subword-ish counting
BPEISH_RE = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


# -- token counting ------------------------------------------------------------
def q11_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    tokens = F.size(F.split(F.trim("text"), TOKEN_RE))
    bpeish = F.regexp_count(F.col("text"), F.lit(BPEISH_RE))
    return (
        docs.select("lang", tokens.alias("tokens"), bpeish.alias("bpeish"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tokens").cast("bigint").alias("sum_tokens"),
            F.max("tokens").cast("bigint").alias("max_tokens"),
            F.sum("bpeish").cast("bigint").alias("sum_bpeish"),
        )
    )


# -- quality scoring -------------------------------------------------------------
STOPWORDS = ("the", "a", "of", "to", "and", "in", "value", "part", "row")
_SW_RE = r"\b(" + "|".join(STOPWORDS) + r")\b"


def q12_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    tokens = F.size(F.split(F.trim("text"), TOKEN_RE)).cast("double")
    sw_hits = F.regexp_count(F.col("text"), F.lit(_SW_RE)).cast("double")
    alpha = F.regexp_count(F.col("text"), F.lit(r"[a-zA-Z]")).cast("double")
    score = (
        F.least(tokens / 100.0, F.lit(1.0)) * 0.4
        + (sw_hits / tokens) * 0.3
        + (alpha / F.col("n_chars")) * 0.3
    )
    return (
        docs.select(F.round(score, 1).alias("quality_bucket"))
        .groupBy("quality_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# -- language ID (stopword-marker heuristic) ---------------------------------------
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    # deterministic marker sets; the synthetic corpus is word-soup so
    # accuracy is incidental — the operator shape is what matters
    "en": ("the", "and", "of", "value", "row"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}


def _marker_pattern(markers: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(markers) + r")\b"


def q13_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = documents(spark, sf_dir)
    hits = {
        lang: F.regexp_count(F.col("text"), F.lit(_marker_pattern(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    top = F.greatest(*hits.values())
    # argmax with first-in-order tie-break; no hits at all -> 'und'
    predicted = F.when(top == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        predicted = predicted.when(hits[lang] == top, F.lit(lang))
    return (
        docs.select("lang", predicted.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# -- fingerprinting (bottom-k sketch of char 8-grams) --------------------------------
FP_K = 2
FP_NGRAM = 8


def q18_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k document fingerprint: hash every char 8-gram, keep the
    two smallest — a winnowing-style sketch that is order-insensitive
    and deterministic, computed fully JVM-side via transform/sequence."""
    docs = documents(spark, sf_dir)
    # Guard the gram positions: F.sequence(1, n) DESCENDS when n < 1
    # (text shorter than the gram width), unlike DuckDB range() which
    # yields an empty list — clamp to an empty array to mirror it.
    grams = F.when(
        F.length("text") >= FP_NGRAM,
        F.transform(
            F.sequence(F.lit(1), F.length("text") - (FP_NGRAM - 1)),
            lambda i: h32(F.col("text").substr(i, F.lit(FP_NGRAM))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    bottom = F.slice(F.array_sort(grams), 1, FP_K)
    return docs.select(
        "doc_id",
        F.try_element_at(bottom, F.lit(1)).alias("fp1"),
        F.try_element_at(bottom, F.lit(2)).alias("fp2"),
    )


# -- exact order statistics per group -------------------------------------------
PCTS = (0.5, 0.9, 0.99)


def q36_token_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-count percentiles per language (training-data length
    profiling). percentile_disc selects an actual sample — integer-exact
    across engines, no interpolation arithmetic to diverge on; it
    aggregates per group without collecting raw values to the driver."""
    docs = documents(spark, sf_dir)
    tokens = F.size(F.split(F.trim("text"), TOKEN_RE))
    agg = [F.count(F.lit(1)).alias("n_docs")] + [
        F.expr(
            f"CAST(percentile_disc({p}) WITHIN GROUP (ORDER BY tokens) AS BIGINT)"
        ).alias(f"p{int(p * 100)}")
        for p in PCTS
    ]
    return docs.select("lang", tokens.alias("tokens")).groupBy("lang").agg(*agg)


# -- HLL-style distinct sketch (cross-engine exact) ---------------------------------
HLL_BUCKETS = 64  # 2^6 registers; h32 splits into 6 bucket bits + 26 rank bits
_HLL_ALPHA = 0.709  # standard alpha for m=64
_HLL_RANK_BITS = 26


def q28_hll_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token cardinality per language, twice: exact
    countDistinct and a from-scratch HLL built on the md5-derived h32
    (NOT Spark's approx_count_distinct, whose HLL++ DuckDB cannot
    reproduce). Register rank uses bin()/ltrim string ops — pure
    integer logic, no libm log2 whose last ulp differs between
    engines. The sketch is what scales: registers merge with max(), so
    shards/days/partitions combine without touching raw tokens; the
    estimate is the standard alpha*m^2 / sum(2^-r) harmonic mean, same
    IEEE arithmetic on both engines."""
    docs = documents(spark, sf_dir)
    toks = docs.select(
        "lang", F.explode(F.array_distinct(F.split(F.trim("text"), TOKEN_RE))).alias("tok")
    )
    h = h32(F.col("tok"), "hll")
    bucket = F.pmod(h, F.lit(HLL_BUCKETS))
    rest = (h / HLL_BUCKETS).cast("bigint")  # top 26 bits of the 32-bit hash
    # rank = leading zeros within the 26-bit field + 1, via binary-string
    # length (integer-exact in both engines)
    rank = F.when(rest == 0, F.lit(_HLL_RANK_BITS + 1)).otherwise(
        F.lit(_HLL_RANK_BITS + 1) - F.length(F.ltrim(F.bin(rest), F.lit("0")))
    )
    regs = (
        toks.select("lang", bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("lang", "bucket")
        .agg(F.max("rank").alias("r"))
    )
    # 2^-r via integer shift + division (exact dyadics; libm pow's last
    # ulp is not guaranteed identical across engines)
    est = F.lit(_HLL_ALPHA * HLL_BUCKETS * HLL_BUCKETS) / F.sum(
        F.lit(1.0) / F.expr("shiftleft(1, CAST(r AS INT))")
    )
    sketch = regs.groupBy("lang").agg(
        F.round(est, 3).alias("hll_estimate"),
        F.count(F.lit(1)).alias("n_registers"),
    )
    exact = toks.groupBy("lang").agg(F.countDistinct("tok").alias("exact_distinct"))
    return exact.join(sketch, "lang").select(
        "lang", "exact_distinct", "hll_estimate", "n_registers"
    )


# -- top terms per language ----------------------------------------------------------
TOP_TERMS_K = 5


def q29_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent tokens per language (vocabulary heavy hitters):
    explode -> partial-agg count -> per-group top-k window. At 100 TB
    the count groupBy does the heavy lifting map-side; the window ranks
    only one row per distinct (lang, token)."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    toks = docs.select("lang", F.explode(F.split(F.trim("text"), TOKEN_RE)).alias("tok"))
    counts = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("tok").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= TOP_TERMS_K)
        .select("lang", "tok", "n", "rank")
    )


# -- q139: Count-Min frequency sketch (cross-engine exact) --------------------------
#
# The third member of the sketch family (q28 HLL = distinct counts,
# q118 histogram = quantiles, this = point frequencies / heavy
# hitters). Fixed CM_DEPTH x CM_WIDTH counter grid; every counter is a
# plain sum, so per-partition partial sketches combine associatively —
# the same mergeable-across-shards/days argument as q118. Hashing goes
# through the md5-derived h32 (functions/hashing.py) so DuckDB
# reproduces every cell bit-for-bit.
CM_DEPTH = 4  # independent hash rows
CM_WIDTH = 128  # counters per row; the whole sketch is 512 cells


def _cm_cells(tok: Column) -> Column:
    """array<struct<r,c>> of the CM_DEPTH (row, column) cells a token
    hashes into — shared by the sketch build and the probe side so the
    two can never drift."""
    return F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("r"),
                F.pmod(h32(tok, f"cm{j}"), F.lit(CM_WIDTH)).cast("bigint").alias("c"),
            )
            for j in range(CM_DEPTH)
        ]
    )


def q139_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) over the
    whitespace token stream, cross-checked against exact counts: per
    distinct token, the exact frequency, the sketch's min-over-rows
    estimate, and the measured overcount (>= 0 by construction — CM
    never undercounts).

    100-TB shape: the build is one explode (CM_DEPTH cells per token)
    into a groupBy over a 512-key space — partial aggregation does
    virtually all the work map-side and the shuffle moves at most 512
    rows per map task; sketches for different days/shards merge by
    adding counters. The probe side joins the 512-row sketch broadcast
    against the distinct-token table. The exact-count side exists here
    only to MEASURE the sketch's error — at production scale the
    sketch replaces it; that is the point."""
    docs = documents(spark, sf_dir)
    toks = docs.select(F.explode(F.split(F.trim("text"), TOKEN_RE)).alias("tok"))
    sketch = (
        toks.select(F.explode(_cm_cells(F.col("tok"))).alias("cell"))
        .groupBy(F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_n"))
    probe = exact.select(
        "tok", "exact_n", F.explode(_cm_cells(F.col("tok"))).alias("cell")
    ).select("tok", "exact_n", F.col("cell.r").alias("r"), F.col("cell.c").alias("c"))
    return (
        probe.join(F.broadcast(sketch), ["r", "c"])
        .groupBy("tok", "exact_n")
        .agg(F.min("n").alias("est"))
        .select(
            "tok",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            F.col("est").cast("bigint").alias("cm_est"),
            (F.col("est") - F.col("exact_n")).cast("bigint").alias("overcount"),
        )
    )


# -- q143: vocabulary growth curve (Heaps' law measurement) -------------------------
#
# The corpus-level diagnostic behind dedup and mixture decisions: as
# shards accumulate, how fast does the vocabulary still grow? A curve
# that keeps climbing means new content; one that flattens means the
# tail shards are redundant. Integer-exact: per token, the FIRST shard
# (min over a hash-agg); per shard, new-type and token counts; then
# running sums over the SHARD-SIZED table (VOCAB_SHARDS rows — the
# window never sees raw tokens, same discipline as q118's bin table).
VOCAB_SHARDS = 16


def q143_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per shard (doc_id % VOCAB_SHARDS, in shard order): tokens in the
    shard, types first seen there, and the cumulative token/type counts
    a Heaps-law fit consumes. Two hash aggs (token counts per shard;
    min-first-shard per type) plus windows over 16 rows."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    toks = docs.select(
        (F.col("doc_id") % VOCAB_SHARDS).cast("bigint").alias("shard"),
        F.explode(F.split(F.trim("text"), TOKEN_RE)).alias("tok"),
    )
    per_shard = toks.groupBy("shard").agg(F.count(F.lit(1)).alias("n_tokens"))
    new_types = (
        toks.groupBy("tok")
        .agg(F.min("shard").alias("shard"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_new_types"))
    )
    w = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_shard.join(new_types, "shard", "left")
        .select(
            "shard",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce("n_new_types", F.lit(0)).cast("bigint").alias("n_new_types"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
        .withColumn("cum_types", F.sum("n_new_types").over(w).cast("bigint"))
    )


# -- deterministic stratified sampling ----------------------------------------------
SAMPLE_K = 20  # docs kept per language stratum
SAMPLE_SALT = "sample"


def q27_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: the SAMPLE_K docs with the
    smallest salted hash per language — a reproducible per-stratum
    sample that is stable under re-shards and appends (new docs only
    displace, never reshuffle, the kept set). One window per stratum;
    at 100 TB a skewed stratum is pre-thinned with a cheap hash filter
    (keep h < threshold) before the ranking window so no single
    partition sorts a whole language."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    h = h32(F.col("doc_id").cast("string"), SAMPLE_SALT)
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", h.alias("sample_key"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= SAMPLE_K)
    )


# -- repetition-ratio quality filter (Gopher-style) --------------------------------
REP_THRESHOLD = 0.2  # most-common-bigram fraction above which a doc is repetitive


def q39_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: the fraction of word bigrams
    taken by the single most frequent bigram. Boilerplate/spam pages
    repeat the same phrase; prose does not. Shape at 100 TB: bigram
    explode -> two partial-agg groupBys keyed by doc — the same
    map-side-combining pattern as the MinHash aggregations, no joins."""
    docs = documents(spark, sf_dir)
    t = F.split(F.trim("text"), TOKEN_RE)
    # zip-of-slices bigrams (outer refs in HOF lambdas re-run per
    # element — see q70's rewrite)
    nt = F.size(t)
    zt = F.arrays_zip(F.slice(t, 1, nt - 1), F.slice(t, 2, nt - 1))
    grams = F.when(
        nt >= 2,
        F.transform(zt, lambda s: F.concat(s["0"], F.lit(" "), s["1"])),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select(
        "doc_id", F.size(t).alias("n_tokens"), F.explode_outer(grams).alias("gram")
    )
    per_gram = exploded.groupBy("doc_id", "n_tokens", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = per_gram.groupBy("doc_id", "n_tokens").agg(
        F.max(F.when(F.col("gram").isNotNull(), F.col("cnt"))).alias("top_n")
    )
    n_bigrams = F.greatest(F.col("n_tokens") - 1, F.lit(0)).cast("bigint")
    ratio = F.when(
        n_bigrams > 0, F.round(F.col("top_n").cast("double") / n_bigrams, 6)
    ).otherwise(F.lit(None).cast("double"))
    return per_doc.select(
        "doc_id",
        n_bigrams.alias("n_bigrams"),
        F.coalesce(F.col("top_n"), F.lit(0)).cast("bigint").alias("top_bigram_n"),
        ratio.alias("rep_ratio"),
        (F.coalesce(ratio, F.lit(0.0)) > REP_THRESHOLD).alias("repetitive"),
    )


# -- deterministic train/val split ------------------------------------------------
SPLIT_SALT = "split"
TRAIN_PCT = 90


def q26_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val split — the standard way to
    partition a training corpus so membership is stable across runs,
    re-shards, and incremental appends (no RNG, no stored assignment
    table). Pure map-side projection + a tiny groupBy; at 100 TB the
    split column would be written back and used for partition pruning."""
    docs = documents(spark, sf_dir)
    bucket = F.pmod(h32(F.col("doc_id").cast("string"), SPLIT_SALT), F.lit(100))
    split = F.when(bucket < TRAIN_PCT, F.lit("train")).otherwise(F.lit("val"))
    return (
        docs.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
    )


# -- q83: BPE-ish pre-tokenizer token counts ---------------------------------
# GPT-2's pre-tokenizer split, minus the lookahead (RE2/DuckDB has no
# lookahead; the lookahead only affects trailing-space attachment, not
# counts on \s+-normalized text): contractions, space-prefixed letter
# runs, digit runs, punctuation runs, whitespace runs. Trainer cost is
# priced in BPE-ish tokens, not whitespace words — this is the column a
# data contract quotes. Counts verified identical between Java regex
# (Spark) and RE2 (DuckDB) on Unicode letters/digits/symbols.
BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def q83_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under both tokenization regimes:
    whitespace words (corpus stats) and the BPE-ish pre-tokenizer
    (trainer cost). Pure whole-stage-codegen projection — no shuffle,
    no UDF; at 100 TB this is a map-only column append."""
    docs = documents(spark, sf_dir)
    ws = F.size(F.split(F.trim("text"), TOKEN_RE)).cast("bigint")
    bpe = F.size(F.regexp_extract_all("text", F.lit(BPE_PAT), F.lit(0))).cast("bigint")
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    )


# -- q81: LM-familiarity quality scoring (CCNet-style perplexity proxy) ------
# Wenzek et al. (2020), "CCNet: Extracting High Quality Monolingual
# Datasets from Web Crawl Data": score each document with a language
# model trained on the corpus and bucket into head/middle/tail by
# perplexity percentile. This is the integer-exact analogue: the "LM"
# is the corpus word-bigram count table, a document's familiarity is
# the total corpus frequency mass of its bigram occurrences, and the
# buckets cut at exact terciles of the per-doc average (percentile_disc
# — cross-engine exact like q36, no float log-prob whose summation
# order could flip an ulp).
LM_BUCKET_PCTS = (0.33, 0.67)


def q81_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM-familiarity score + head/middle/tail bucket.

    Shape at 100 TB: the bigram "model" is a vocabulary-bounded count
    agg (map-side partial collapse); scoring joins doc bigrams to the
    model on the bigram key with NO broadcast hint — a web-scale bigram
    table is billions of rows, AQE broadcasts only if the measured
    model is actually small, otherwise both sides are already
    hash-partitioned on the key from their aggs. The tercile cutoffs
    are ONE exact-percentile row cross-joined back (the 1-row broadcast
    nested loop is the intended plan, like q20's query vector); CCNet
    itself derives the cutoffs from a held-out sample rather than the
    full corpus — same 1-row broadcast, cheaper agg.
    """
    docs = documents(spark, sf_dir)
    w = F.split(F.trim("text"), TOKEN_RE)
    # zip-of-slices bigrams (outer refs in HOF lambdas re-run per
    # element — see q70's rewrite)
    nw = F.size(w)
    zw = F.arrays_zip(F.slice(w, 1, nw - 1), F.slice(w, 2, nw - 1))
    bigrams = F.when(
        nw >= 2,
        F.transform(zw, lambda s: F.concat_ws(" ", s["0"], s["1"])),
    ).otherwise(F.array().cast("array<string>"))
    bg = docs.select("doc_id", F.explode(bigrams).alias("bigram"))
    model = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c"))
    score = (
        bg.join(model, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("familiarity"),
        )
        .withColumn("avg_count", F.expr("familiarity div n_bigrams"))
    )
    cuts = score.agg(
        *[
            F.expr(
                f"CAST(percentile_disc({p}) WITHIN GROUP (ORDER BY avg_count) AS BIGINT)"
            ).alias(f"p{int(p * 100)}")
            for p in LM_BUCKET_PCTS
        ]
    )
    bucket = (
        F.when(F.col("avg_count") <= F.col("p33"), F.lit("tail"))
        .when(F.col("avg_count") <= F.col("p67"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return score.crossJoin(F.broadcast(cuts)).select(
        "doc_id", "n_bigrams", "familiarity", "avg_count", bucket.alias("bucket")
    )


# -- q86: distributed BPE merge learning (Sennrich et al. 2016) --------------
# BPE tokenizer TRAINING, not application: learn the first merge from
# weighted adjacent-symbol-pair counts, apply it greedily, recount.
# The industrial-scale trick (HF tokenizers, SentencePiece): count each
# distinct WORD once, then iterate over the word-frequency table — at
# 100 TB the vocab table (tens of millions of rows) is disproportionately
# smaller than the corpus, so every merge iteration is one vocab-sized
# groupBy plus a 1-row driver argmax, never a corpus re-scan. Greedy
# left-to-right application is closed-form per position (the x==y case
# is run-offset parity over maximal runs), so the DuckDB oracle learns
# and applies the merge itself — both engines derive the merge
# independently from the data, nothing is smuggled via literals except
# the Spark side's own collected argmax.
BPE_MERGE_TOPK = 12  # deep enough that merged-symbol pairs (e.g. 'm'+'er') rank
BPE_MAX_WORD = 24  # Gopher-style max word length; bounds the parity fold


def _bpe_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, len, wcnt) for lowercase alpha words — the vocab table a
    BPE trainer iterates over. At 100 TB this is persisted once."""
    docs = documents(spark, sf_dir)
    w = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+"), F.lit(0))
        ).alias("word")
    )
    return (
        w.filter(F.length("word").between(2, BPE_MAX_WORD))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wcnt"))
        .withColumn("len", F.length("word"))
    )


def _pair_counts(toks: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over (t: array<string>, wcnt)."""
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("t") - 1),
        lambda k: F.struct(
            F.element_at("t", k).alias("sym_a"),
            F.element_at("t", k + 1).alias("sym_b"),
        ),
    )
    return (
        toks.filter(F.size("t") >= 2)  # sequence(1,0) would DESCEND
        .select(F.explode(pairs).alias("p"), "wcnt")
        .groupBy(F.col("p.sym_a").alias("sym_a"), F.col("p.sym_b").alias("sym_b"))
        .agg(F.sum("wcnt").alias("cnt"))
    )


def _bpe_apply(words: DataFrame, x: str, y: str) -> DataFrame:
    """Greedy left-to-right application of merge (x, y) over
    (word, len, wcnt) rows -> (t: array<string>, wcnt). Position i is a
    merge-second iff char[i]==y and char[i-1]==x; the x==y case is
    resolved by run-offset parity (within a maximal run of x's, offsets
    1,3,5,... merge into their predecessor — exactly what a sequential
    greedy scan produces). Pure column logic, no UDF."""
    word = F.col("word")
    if x != y:
        mask = lambda i: (  # noqa: E731
            (i > 1)
            & (word.substr(i, F.lit(1)) == y)
            & (word.substr(i - 1, F.lit(1)) == x)
        )
    else:
        # run-offset parity: i - (last non-x position <= i) even
        mask = lambda i: (  # noqa: E731
            (word.substr(i, F.lit(1)) == x)
            & (
                (
                    i
                    - F.coalesce(
                        F.array_max(
                            F.transform(
                                F.sequence(F.lit(1), i),
                                lambda j: F.when(
                                    word.substr(j, F.lit(1)) != x, j
                                ).otherwise(F.lit(0)),
                            )
                        ),
                        F.lit(0),
                    )
                )
                % 2
                == 0
            )
        )
    marked = words.withColumn(
        "m", F.transform(F.sequence(F.lit(1), F.col("len")), mask)
    )
    return marked.select(
        F.transform(
            F.filter(
                F.sequence(F.lit(1), F.col("len")),
                lambda i: ~F.element_at("m", i),
            ),
            lambda i: F.when(
                (i < F.col("len")) & F.element_at("m", i + 1),
                word.substr(i, F.lit(2)),
            ).otherwise(word.substr(i, F.lit(1))),
        ).alias("t"),
        "wcnt",
    )


def q86_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge learned and applied, distributed: top pair-count
    table before (step 1) and after (step 2) applying merge #1.

    Step 1 counts adjacent character pairs weighted by word frequency;
    merge #1 = argmax (cnt desc, pair asc) — collected to the driver
    exactly like q55's centroids (1 row). Application is greedy
    left-to-right: position i becomes a merge-second iff char[i]==y and
    char[i-1]==x, with x==y resolved by run-offset parity (offsets
    1,3,5... within a maximal run merge into their predecessor). Step 2
    recounts pairs over the merged token streams — merged symbols like
    'er' now appear as pair members, proving the apply happened."""
    from pyspark.sql import Window

    words = _bpe_words(spark, sf_dir)
    word = F.col("word")
    chars1 = words.select(
        F.transform(
            F.sequence(F.lit(1), F.col("len")),
            lambda i: word.substr(i, F.lit(1)),
        ).alias("t"),
        "wcnt",
    )
    p1 = _pair_counts(chars1)
    top = p1.orderBy(F.col("cnt").desc(), "sym_a", "sym_b").limit(1).collect()[0]
    p2 = _pair_counts(_bpe_apply(words, top["sym_a"], top["sym_b"]))

    def _top(pc: DataFrame, step: int) -> DataFrame:
        top_rows = pc.orderBy(F.col("cnt").desc(), "sym_a", "sym_b").limit(
            BPE_MERGE_TOPK
        )
        w = Window.orderBy(F.col("cnt").desc(), "sym_a", "sym_b")
        return top_rows.select(
            F.lit(step).cast("bigint").alias("step"),
            F.row_number().over(w).cast("bigint").alias("rank"),
            "sym_a",
            "sym_b",
            F.col("cnt").cast("bigint").alias("cnt"),
        )

    return _top(p1, 1).unionAll(_top(p2, 2))


# -- q144: BPE encode-apply (tokenize with a fixed merge table) ---------------------
#
# Completes the tokenizer chain: q86 LEARNS merges, q83 counts
# BPE-ish tokens, this APPLIES a fixed merge table — the step that
# turns a corpus into token sequences for packing (q82). Pinned
# dialect: merges apply in priority order, one left-to-right pass per
# merge (a repeat like 'aaa' under a+a becomes [aa, a]). The encoder
# is a real iterative algorithm no Column expression expresses, so it
# runs as an Arrow-batched mapInPandas (map-only, zero shuffles); the
# oracle replays HAND-DERIVED tokenizations of the planted lexicon —
# independent ground truth, never the encoder itself.
BPE_APPLY_MERGES = (
    ("e", "r"), ("l", "o"), ("lo", "w"), ("n", "e"),
    ("ne", "w"), ("e", "s"), ("es", "t"),
)
BPE_LEXICON = (
    "lower", "lowest", "newer", "newest", "low", "new", "wider", "widest",
)
# hand-derived under the dialect above (worked in the q144 docstring)
_BPE_EXPECTED = {
    "lower": "low er", "lowest": "low est", "newer": "new er",
    "newest": "new est", "low": "low", "new": "new",
    "wider": "w i d er", "widest": "w i d est",
}


def bpe_apply(word: str, merges=BPE_APPLY_MERGES) -> list[str]:
    """Greedy BPE encode of one word under the pinned dialect."""
    syms = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def q144_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode a planted word stream (word = BPE_LEXICON[doc_id % 8])
    with the fixed merge table. Hand-derivation of every expected
    tokenization, in merge order e+r, l+o, lo+w, n+e, ne+w, e+s, es+t:

        lower  -> l o w e r  -> er -> lo -> low        -> [low, er]
        lowest -> l o w e s t -> lo -> low -> es -> est -> [low, est]
        newer  -> n e w e r  -> er -> ne -> new        -> [new, er]
        newest -> n e w e s t -> ne -> new -> es -> est -> [new, est]
        low    -> lo -> low; new -> ne -> new          -> 1 token each
        wider  -> w i d e r  -> er                     -> [w, i, d, er]
        widest -> w i d e s t -> es -> est             -> [w, i, d, est]

    The oracle pins these as literals; the Spark side runs the REAL
    encoder over them."""
    import pandas as pd

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    word = F.element_at(F.array(*[F.lit(w) for w in BPE_LEXICON]), (d % 8 + 1).cast("int"))
    words = docs.select("doc_id", word.alias("word"))

    def encode(batches):
        for pdf in batches:
            toks = [bpe_apply(w) for w in pdf["word"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "word": pdf["word"],
                    "n_tokens": [len(t) for t in toks],
                    "tokens": [" ".join(t) for t in toks],
                }
            )

    return words.mapInPandas(
        encode, "doc_id bigint, word string, n_tokens bigint, tokens string"
    )


def _q144_oracle() -> str:
    word_case = "CASE doc_id % 8 " + " ".join(
        f"WHEN {i} THEN '{w}'" for i, w in enumerate(BPE_LEXICON)
    ) + " END"
    tok_case = "CASE doc_id % 8 " + " ".join(
        f"WHEN {i} THEN '{_BPE_EXPECTED[w]}'" for i, w in enumerate(BPE_LEXICON)
    ) + " END"
    n_case = "CASE doc_id % 8 " + " ".join(
        f"WHEN {i} THEN {len(_BPE_EXPECTED[w].split())}"
        for i, w in enumerate(BPE_LEXICON)
    ) + " END"
    return f"""
        SELECT doc_id, {word_case} AS word,
               CAST({n_case} AS BIGINT) AS n_tokens,
               {tok_case} AS tokens
        FROM documents
    """


def _lang_id_oracle() -> str:
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
        SELECT lang, predicted_lang, count(*) AS n_docs FROM (
            SELECT lang, {case} AS predicted_lang
            FROM (SELECT lang, {hit_exprs} FROM documents)
        ) GROUP BY 1, 2
    """


# -- q93: DSIR importance-resampling data selection (Xie et al. 2023) --------
# "Data Selection for Language Models via Importance Resampling":
# estimate target-domain and raw-corpus distributions over HASHED
# n-gram features, weight every raw document by its importance ratio
# under the two models, and keep the most target-like docs. This is
# the integer-exact analogue: unigram features hash into DSIR_BUCKETS
# via h32, both models are Laplace-smoothed bucket frequencies, and
# the per-bucket ratio p_target/p_raw is a FIXED-POINT integer
#   score[b] = floor((cnt_t[b]+1)*(R+B)*SCALE / ((cnt_r[b]+1)*(T+B)))
# so the document weight (sum of its tokens' scores) is bit-stable
# across engines — no float log-prob whose summation order could flip
# an ulp. (Production at 100 TB uses log-space doubles; the fixed
# point here trades range for oracle exactness, same plan shape.)
DSIR_BUCKETS = 1024
DSIR_SCALE = 1000
DSIR_TARGET_LANG = "en"  # the target domain: English docs
DSIR_KEEP_QUANTILE = 0.75  # keep the top-quartile importance weights


def q93_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight + keep decision.

    Shape at 100 TB: ONE token explode feeds a bucket-count agg
    (map-side partial collapse into <= DSIR_BUCKETS rows, the hashed
    feature trick that makes DSIR tractable — the model is fixed-size
    no matter the corpus); totals fold driver-free from the bucket
    table itself via a 1-row cross join; the score table (<= B rows)
    broadcast-joins back onto the token stream; one groupBy(doc_id)
    re-agg. Two scans, two shuffles, nothing driver-side. The keep
    rule is DSIR's top-quantile selection via ONE exact-percentile
    cutoff row cross-joined back (the q81 pattern) — no global rank
    shuffle."""
    docs = documents(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim("text"), TOKEN_RE)).alias("tok"),
    ).withColumn("bucket", F.pmod(h32(F.col("tok"), "dsir|"), F.lit(DSIR_BUCKETS)))
    counts = toks.groupBy("bucket").agg(
        F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)).alias("cnt_t"),
        F.count(F.lit(1)).alias("cnt_r"),
    )
    totals = counts.agg(
        F.sum("cnt_t").alias("tt"), F.sum("cnt_r").alias("rt")
    )
    scores = counts.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"(cnt_t + 1) * (rt + {DSIR_BUCKETS}) * {DSIR_SCALE}"
            f" div ((cnt_r + 1) * (tt + {DSIR_BUCKETS}))"
        ).alias("s"),
    )
    per_doc = (
        toks.join(F.broadcast(scores), "bucket")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("s").alias("importance"))
        .withColumn("avg_score", F.expr("importance div n_tokens"))
    )
    # DSIR keeps the top-weight quantile; the cutoff is ONE exact-
    # percentile row cross-joined back (the q81 pattern — integer
    # percentile_disc, no float rank, no global sort shuffle)
    cuts = per_doc.agg(
        F.expr(
            f"CAST(percentile_disc({DSIR_KEEP_QUANTILE}) WITHIN GROUP"
            " (ORDER BY avg_score) AS BIGINT)"
        ).alias("cutoff")
    )
    return per_doc.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        F.col("importance").cast("bigint").alias("importance"),
        F.col("avg_score").cast("bigint").alias("avg_score"),
        (F.col("avg_score") >= F.col("cutoff")).alias("keep"),
    )


ORACLES: dict[str, str] = {
    "q11_token_stats": f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(len(regexp_split_to_array(trim(text), '{TOKEN_RE}'))) AS BIGINT) AS sum_tokens,
               CAST(max(len(regexp_split_to_array(trim(text), '{TOKEN_RE}'))) AS BIGINT) AS max_tokens,
               CAST(sum(len(regexp_extract_all(text, '{BPEISH_RE}'))) AS BIGINT) AS sum_bpeish
        FROM documents GROUP BY 1
    """,
    "q12_quality_buckets": f"""
        SELECT round(
                 least(tokens/100.0, 1.0)*0.4 + (sw/tokens)*0.3 + (alpha/n_chars)*0.3,
               1) AS quality_bucket,
               count(*) AS n_docs
        FROM (
            SELECT CAST(len(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS DOUBLE) AS tokens,
                   CAST(len(regexp_extract_all(text, '{_SW_RE}')) AS DOUBLE) AS sw,
                   CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS DOUBLE) AS alpha,
                   n_chars
            FROM documents
        ) GROUP BY 1
    """,
    "q13_lang_id": _lang_id_oracle(),
    "q36_token_percentiles": f"""
        SELECT lang, count(*) AS n_docs,
               {", ".join(
                   f"CAST(quantile_disc(len(regexp_split_to_array(trim(text), '{TOKEN_RE}')), {p}) AS BIGINT)"
                   f" AS p{int(p * 100)}" for p in PCTS)}
        FROM documents GROUP BY 1
    """,
    "q28_hll_distinct_tokens": f"""
        WITH toks AS (
            SELECT lang,
                   unnest(list_distinct(regexp_split_to_array(trim(text), '{TOKEN_RE}'))) AS tok
            FROM documents
        ),
        h AS (SELECT lang, {h32_sql("tok", "hll")} AS h FROM toks),
        regs AS (
            SELECT lang, h % {HLL_BUCKETS} AS bucket,
                   max(CASE WHEN h // {HLL_BUCKETS} = 0 THEN {_HLL_RANK_BITS + 1}
                            ELSE {_HLL_RANK_BITS + 1}
                                 - length(ltrim(bin(h // {HLL_BUCKETS}), '0')) END) AS r
            FROM h GROUP BY 1, 2
        ),
        sk AS (
            SELECT lang,
                   round({_HLL_ALPHA * HLL_BUCKETS * HLL_BUCKETS!r}
                         / sum(1.0 / (1 << r)), 3) AS hll_estimate,
                   count(*) AS n_registers
            FROM regs GROUP BY 1
        ),
        ex AS (SELECT lang, count(DISTINCT tok) AS exact_distinct FROM toks GROUP BY 1)
        SELECT lang, exact_distinct, hll_estimate, n_registers
        FROM ex JOIN sk USING (lang)
    """,
    # q139: replay the CM grid cell-for-cell — 'cm{j}' || tok through the
    # same md5-derived h32, min over the CM_DEPTH rows.
    "q139_count_min_tokens": f"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS tok
            FROM documents
        ),
        cells AS (
            SELECT j AS r,
                   CAST(('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || tok), 1, 8))
                        AS BIGINT) % {CM_WIDTH} AS c
            FROM toks, LATERAL unnest(range({CM_DEPTH})) AS t(j)
        ),
        sketch AS (SELECT r, c, count(*) AS n FROM cells GROUP BY 1, 2),
        exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY 1),
        probe AS (
            SELECT tok, exact_n, j AS r,
                   CAST(('0x' || substr(md5('cm' || CAST(j AS VARCHAR) || tok), 1, 8))
                        AS BIGINT) % {CM_WIDTH} AS c
            FROM exact, LATERAL unnest(range({CM_DEPTH})) AS t(j)
        )
        SELECT tok, CAST(exact_n AS BIGINT) AS exact_n,
               CAST(min(n) AS BIGINT) AS cm_est,
               CAST(min(n) - exact_n AS BIGINT) AS overcount
        FROM probe JOIN sketch USING (r, c)
        GROUP BY tok, exact_n
    """,
    # q143: same token stream, min-first-shard per type, running sums
    # over the 16-row shard table.
    "q143_vocab_growth": f"""
        WITH toks AS (
            SELECT doc_id % {VOCAB_SHARDS} AS shard,
                   unnest(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS tok
            FROM documents
        ),
        per_shard AS (SELECT shard, count(*) AS n_tokens FROM toks GROUP BY 1),
        firsts AS (SELECT tok, min(shard) AS shard FROM toks GROUP BY 1),
        new_types AS (SELECT shard, count(*) AS n_new_types FROM firsts GROUP BY 1)
        SELECT p.shard,
               CAST(p.n_tokens AS BIGINT) AS n_tokens,
               CAST(coalesce(n.n_new_types, 0) AS BIGINT) AS n_new_types,
               CAST(sum(p.n_tokens) OVER (ORDER BY p.shard) AS BIGINT) AS cum_tokens,
               CAST(sum(coalesce(n.n_new_types, 0)) OVER (ORDER BY p.shard)
                    AS BIGINT) AS cum_types
        FROM per_shard p LEFT JOIN new_types n ON p.shard = n.shard
    """,
    "q29_top_terms": f"""
        SELECT lang, tok, n, rank FROM (
            SELECT lang, tok, count(*) AS n,
                   row_number() OVER (
                       PARTITION BY lang ORDER BY count(*) DESC, tok) AS rank
            FROM (
                SELECT lang, unnest(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS tok
                FROM documents
            ) GROUP BY 1, 2
        ) WHERE rank <= {TOP_TERMS_K}
    """,
    "q27_stratified_sample": f"""
        SELECT doc_id, lang, sample_key, rank FROM (
            SELECT doc_id, lang,
                   {h32_sql("CAST(doc_id AS VARCHAR)", SAMPLE_SALT)} AS sample_key,
                   row_number() OVER (
                       PARTITION BY lang
                       ORDER BY {h32_sql("CAST(doc_id AS VARCHAR)", SAMPLE_SALT)}, doc_id
                   ) AS rank
            FROM documents
        ) WHERE rank <= {SAMPLE_K}
    """,
    "q39_repetition_stats": f"""
        WITH tk AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
            FROM documents
        ),
        g AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS gram
            FROM tk
        ),
        pg AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
        pd AS (SELECT doc_id, max(cnt) AS top_n FROM pg GROUP BY 1)
        SELECT tk.doc_id,
               CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n_bigrams,
               CAST(coalesce(top_n, 0) AS BIGINT) AS top_bigram_n,
               CASE WHEN len(t) - 1 > 0
                    THEN round(CAST(top_n AS DOUBLE) / (len(t) - 1), 6) END AS rep_ratio,
               coalesce(CASE WHEN len(t) - 1 > 0
                    THEN round(CAST(top_n AS DOUBLE) / (len(t) - 1), 6) END, 0.0)
                 > {REP_THRESHOLD} AS repetitive
        FROM tk LEFT JOIN pd ON tk.doc_id = pd.doc_id
    """,
    "q26_train_val_split": f"""
        SELECT lang,
               CASE WHEN {h32_sql("CAST(doc_id AS VARCHAR)", SPLIT_SALT)} % 100 < {TRAIN_PCT}
                    THEN 'train' ELSE 'val' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars
        FROM documents GROUP BY 1, 2
    """,
    "q18_fingerprints": f"""
        SELECT doc_id, fps[1] AS fp1, fps[2] AS fp2 FROM (
            SELECT doc_id,
                   list_sort(list_transform(
                       range(1, length(text) - {FP_NGRAM - 2}),
                       i -> {h32_sql(f"substr(text, CAST(i AS INT), {FP_NGRAM})")}
                   ))[:{FP_K}] AS fps
            FROM documents
        )
    """,
}

ORACLES["q81_lm_familiarity"] = """
    WITH words AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, len(w)),
                   i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1])) AS bigram
        FROM words
    ),
    model AS (SELECT bigram, count(*) AS c FROM bg GROUP BY 1),
    score AS (
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(c) AS BIGINT) AS familiarity,
               CAST(sum(c) // count(*) AS BIGINT) AS avg_count
        FROM bg JOIN model USING (bigram) GROUP BY 1
    ),
    cuts AS (
        SELECT CAST(quantile_disc(avg_count, 0.33) AS BIGINT) AS p33,
               CAST(quantile_disc(avg_count, 0.67) AS BIGINT) AS p67
        FROM score
    )
    SELECT doc_id, n_bigrams, familiarity, avg_count,
           CASE WHEN avg_count <= p33 THEN 'tail'
                WHEN avg_count <= p67 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM score, cuts
"""

ORACLES["q83_bpe_token_counts"] = f"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS ws_tokens,
           CAST(len(regexp_extract_all(text,
               '{BPE_PAT.replace("'", "''")}')) AS BIGINT) AS bpe_tokens
    FROM documents
"""

# The oracle LEARNS merge #1 itself (m1 CTE) and re-applies it with the
# same closed-form greedy rule — fully independent of the Spark side's
# driver-collected argmax.
ORACLES["q86_bpe_merges"] = f"""
    WITH words AS (
        SELECT w AS word, length(w) AS len, count(*) AS wcnt
        FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
              FROM documents)
        WHERE length(w) BETWEEN 2 AND {BPE_MAX_WORD}
        GROUP BY w
    ),
    p1 AS (
        SELECT substr(word, i, 1) AS sym_a, substr(word, i + 1, 1) AS sym_b,
               sum(wcnt) AS cnt
        FROM words, unnest(range(1, len)) AS t(i)
        GROUP BY 1, 2
    ),
    m1 AS (SELECT sym_a AS x, sym_b AS y FROM p1
           ORDER BY cnt DESC, sym_a, sym_b LIMIT 1),
    marked AS (
        SELECT word, len, wcnt,
               list_transform(range(1, len + 1), i ->
                   CASE WHEN x <> y THEN
                       i > 1 AND substr(word, i, 1) = y
                             AND substr(word, i - 1, 1) = x
                   ELSE
                       substr(word, i, 1) = x
                       AND ((i - coalesce(list_max(list_transform(
                             range(1, i + 1),
                             j -> CASE WHEN substr(word, j, 1) <> x
                                       THEN j ELSE 0 END)), 0)) % 2 = 0)
                   END) AS m
        FROM words, m1
    ),
    toks AS (
        SELECT word, wcnt,
               list_transform(
                   list_filter(range(1, len + 1), i -> NOT m[i]),
                   i -> CASE WHEN i < len AND m[i + 1]
                             THEN substr(word, i, 2)
                             ELSE substr(word, i, 1) END) AS t
        FROM marked
    ),
    p2 AS (
        SELECT t[k] AS sym_a, t[k+1] AS sym_b, sum(wcnt) AS cnt
        FROM toks, unnest(range(1, len(t))) AS u(k)
        GROUP BY 1, 2
    )
    SELECT CAST(1 AS BIGINT) AS step,
           row_number() OVER (ORDER BY cnt DESC, sym_a, sym_b) AS rank,
           sym_a, sym_b, CAST(cnt AS BIGINT) AS cnt
    FROM p1 QUALIFY rank <= {BPE_MERGE_TOPK}
    UNION ALL
    SELECT CAST(2 AS BIGINT),
           row_number() OVER (ORDER BY cnt DESC, sym_a, sym_b),
           sym_a, sym_b, CAST(cnt AS BIGINT)
    FROM p2 QUALIFY row_number() OVER (ORDER BY cnt DESC, sym_a, sym_b)
                    <= {BPE_MERGE_TOPK}
"""

_DSIR_TOK = f"unnest(regexp_split_to_array(trim(text), '{TOKEN_RE}'))"
ORACLES["q93_dsir_selection"] = f"""
    WITH toks AS (
        SELECT doc_id, lang,
               {h32_sql(_DSIR_TOK, "dsir|")} % {DSIR_BUCKETS} AS bucket
        FROM documents
    ),
    counts AS (
        SELECT bucket,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS cnt_t,
               count(*) AS cnt_r
        FROM toks GROUP BY 1
    ),
    tot AS (SELECT sum(cnt_t) AS tt, sum(cnt_r) AS rt FROM counts),
    scores AS (
        SELECT bucket,
               (cnt_t + 1) * (rt + {DSIR_BUCKETS}) * {DSIR_SCALE}
                   // ((cnt_r + 1) * (tt + {DSIR_BUCKETS})) AS s
        FROM counts, tot
    ),
    per_doc AS (
        SELECT doc_id, count(*) AS n_tokens, sum(s) AS importance,
               sum(s) // count(*) AS avg_score
        FROM toks JOIN scores USING (bucket) GROUP BY 1
    ),
    cut AS (
        SELECT CAST(percentile_disc({DSIR_KEEP_QUANTILE}) WITHIN GROUP
                    (ORDER BY avg_score) AS BIGINT) AS cutoff
        FROM per_doc
    )
    SELECT doc_id, n_tokens, CAST(importance AS BIGINT) AS importance,
           CAST(avg_score AS BIGINT) AS avg_score,
           avg_score >= cutoff AS keep
    FROM per_doc, cut
"""

# -- Unicode NFC normalization (corpus text canonicalization) -----------------
_NFC_MARK = "́"  # U+0301 COMBINING ACUTE ACCENT


def q109_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization — the canonicalization step every real
    corpus pipeline runs before dedup/tokenization (decomposed NFD
    sequences from real crawls hash differently from their composed
    twins, silently defeating exact dedup). Synthesize-then-normalize:
    every 'e' in the document text is decomposed to e + U+0301 (the NFD
    shape), then the normalizer must recompose it to the single
    codepoint. Cross-engine check: Python unicodedata NFC vs DuckDB's
    utf8proc nfc_normalize over every document.

    Shape at 100 TB: map-only. Normalization is a stateful
    codepoint-sequence algorithm with no JVM builtin, so this is one of
    the repo's two Python stages — an Arrow-batched Series->Series
    pandas UDF (never per-row), everything around it (decompose,
    lengths, hash, changed flag) stays codegen.
    """
    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    docs = documents(spark, sf_dir)
    decomposed = F.replace(F.col("text"), F.lit("e"), F.lit("e" + _NFC_MARK))
    d = docs.select("doc_id", decomposed.alias("raw"))
    d = d.withColumn("nfc", nfc("raw"))
    return d.select(
        "doc_id",
        F.length("raw").cast("bigint").alias("n_cp_raw"),
        F.length("nfc").cast("bigint").alias("n_cp_nfc"),
        (F.col("raw") != F.col("nfc")).cast("bigint").alias("changed"),
        h32(F.col("nfc")).alias("nfc_h"),
    )


# -- q128: Unicode hygiene (zero-width strip, bidi flag, confusable spoof) ----
#
# The security-cleaning pass next to NFC (q109): real crawls carry
# zero-width characters that defeat exact dedup and token counting
# (two visually identical pages hash differently), bidi override
# controls (the Trojan-Source class — text that renders reversed), and
# mixed-script confusable tokens (Cyrillic 'а' inside a Latin word, the
# homograph-spoof signature). All three are planted closed-form and the
# whole pass is whole-stage codegen: regexp projections, zero Python.
# escapes, never literals: invisible codepoints in source survive no
# editor round trip. ZW = zero-width space/joiners + directional marks
# + word joiner + BOM; BIDI = embeddings/overrides + isolates.
_ZW_CLASS = "[\\u200b\\u200c\\u200d\\u200e\\u200f\\u2060\\ufeff]"
_BIDI_CLASS = "[\\u202a-\\u202e\\u2066-\\u2069]"
_STRIP_CLASS = "[\\u200b-\\u200f\\u2060\\ufeff\\u202a-\\u202e\\u2066-\\u2069]"


def q128_unicode_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Unicode hygiene report over planted hostile text:
    doc_id%4==1 gets a zero-width space after every blank (invisible,
    dedup-defeating), %4==2 is wrapped in an RLO..PDF bidi override
    pair, %4==3 gains a mixed Latin/Cyrillic spoof token, %4==0 is the
    clean control. Emits the zero-width count, the bidi flag, the
    mixed-script token count, and the cleaned text's length + hash
    (controls must hash to their original text — the scrub is provably
    a no-op on clean input). Map-only at any scale."""
    docs = documents(spark, sf_dir)
    d = F.col("doc_id")
    raw = (
        F.when(d % 4 == 0, F.col("text"))
        .when(d % 4 == 1, F.replace(F.col("text"), F.lit(" "), F.lit(" \u200b")))
        .when(d % 4 == 2, F.concat(F.lit("\u202e"), F.col("text"), F.lit("\u202c")))
        .otherwise(F.concat(F.col("text"), F.lit(" p\u0430ypal")))
    )
    cleaned = F.regexp_replace(raw, _STRIP_CLASS, "")
    n_zw = F.length(raw) - F.length(F.regexp_replace(raw, _ZW_CLASS, ""))
    mixed = F.size(
        F.filter(
            F.split(cleaned, r"\s+"),
            lambda t: t.rlike("[A-Za-z]") & t.rlike("[\\u0400-\\u04ff]"),
        )
    )
    return docs.select(
        "doc_id",
        n_zw.cast("bigint").alias("n_zero_width"),
        raw.rlike(_BIDI_CLASS).alias("has_bidi"),
        mixed.cast("bigint").alias("n_mixed_tokens"),
        F.length(cleaned).cast("bigint").alias("clean_len"),
        h32(cleaned).alias("clean_h"),
    )


# -- q131: per-paragraph language segmentation (CCNet shape) ------------------
#
# CCNet (Wenzek et al. 2020) runs language-ID per PARAGRAPH, not per
# document, because real web pages are multilingual (navigation in one
# language, body in another, quotes in a third) and a doc-level call
# either discards the page or pollutes the corpus with the minority
# paragraphs. q131 is q13's marker-argmax scorer applied at paragraph
# granularity plus the majority election CCNet keys its keep rule on.
#
# 100-TB shape: ZERO shuffles. The paragraph split, per-paragraph
# scoring, and the majority election all happen inside array
# expressions on the document row (transform/filter/array_max over the
# paragraph array), so the majority label is already attached when
# posexplode fans out to paragraph rows — no doc_id window, no regroup.
_SEG_LANGS = tuple(LANG_MARKERS)  # ('en', 'es', 'de', 'fr')


def _para_lang(para):
    """Column expr: q13's argmax-with-und rule for ONE paragraph."""
    hits = {
        lang: F.regexp_count(para, F.lit(_marker_pattern(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    top = F.greatest(*hits.values())
    out = F.when(top == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        out = out.when(hits[lang] == top, F.lit(lang))
    return out


def q131_paragraph_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-paragraph language table over planted multilingual docs:
    each doc is four \\n\\n-paragraphs — two in lang A (doc_id%4 of the
    marker table), one in lang B ((doc_id+1)%4), one digits-only that
    must score 'und' — so the majority election (most paragraphs; ties
    break to the struct-max, i.e. largest lang string — unexercised by
    this fixture) is provably 2-of-4 lang A. Emits (doc_id, para_idx,
    para_lang, majority_lang, in_majority); the oracle replays every
    label closed-form from the planting, so cross-engine agreement
    pins the splitter, the scorer, and the election."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    langs_arr = F.array([F.lit(lang) for lang in _SEG_LANGS])
    marker_text = F.array(
        [F.lit(" ".join(m)) for m in LANG_MARKERS.values()]
    )
    para_a = F.concat(
        F.element_at(marker_text, (d % 4 + 1).cast("int")),
        F.format_string(" w%s", d.cast("string")),
    )
    para_b = F.concat(
        F.element_at(marker_text, ((d + 1) % 4 + 1).cast("int")),
        F.format_string(" w%s", d.cast("string")),
    )
    text = F.concat_ws(
        "\n\n", para_a, para_a, para_b, F.format_string("1234 %s 5678", d.cast("string"))
    )
    paras = F.split(text, "\n\n")
    para_langs = F.transform(paras, _para_lang)
    majority = F.array_max(
        F.transform(
            F.array_distinct(para_langs),
            # named_struct: .alias() does not survive on lambda-bound
            # columns inside transform (fields come out positional)
            lambda lang: F.named_struct(
                F.lit("cnt"), F.size(F.filter(para_langs, lambda x: x == lang)),
                F.lit("lang"), lang,
            ),
        )
    )["lang"]
    return (
        docs.select(
            "doc_id",
            F.posexplode(para_langs).alias("para_idx", "para_lang"),
            majority.alias("majority_lang"),
        )
        .select(
            "doc_id",
            F.col("para_idx").cast("bigint").alias("para_idx"),
            "para_lang",
            "majority_lang",
            (F.col("para_lang") == F.col("majority_lang")).alias("in_majority"),
        )
    )


_Q131_ORACLE = """
    WITH p AS (
        SELECT doc_id, i AS para_idx,
               CASE WHEN i = 3 THEN 'und'
                    WHEN i = 2 THEN (['en','es','de','fr'])[1 + (doc_id+1) % 4]
                    ELSE (['en','es','de','fr'])[1 + doc_id % 4] END AS para_lang,
               (['en','es','de','fr'])[1 + doc_id % 4] AS majority_lang
        FROM documents, (SELECT unnest([0, 1, 2, 3]) AS i)
    )
    SELECT doc_id, CAST(para_idx AS BIGINT) AS para_idx, para_lang,
           majority_lang, para_lang = majority_lang AS in_majority
    FROM p
"""


# -- q118: mergeable histogram quantile sketch --------------------------------
#
# q36 computes EXACT percentiles (sort-based percentile_disc) — correct
# but a full sort of the value column at 100 TB. The production-scale
# twin is a fixed-bin histogram sketch: one map-side-combined groupBy
# onto ~hundreds of bin rows, a cumulative window over that sketch-
# sized table, and quantile estimates read off the cumulative counts.
# The sketch is MERGEABLE (bin counts add), so per-shard / per-day
# sketches roll up without touching the raw data again — the property
# that matters for a standing corpus dashboard. All integer: the
# estimate for percentile p is the lowest bin whose cumulative count
# reaches ceil(p% of N), i.e. cum*100 >= p*N.

HIST_BIN_W = 8  # token-count bin width
HIST_PCTS = (25, 50, 75, 95)


def q118_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles of per-doc token counts: one row per
    requested percentile with the electing bin, its token range and
    the cumulative evidence. The post-agg windows run over the
    sketch-sized bin table (bounded by max_tokens / bin_width, never
    by corpus size), so their single-partition shape is safe by
    construction."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir)
    tokens = F.size(F.split(F.trim("text"), TOKEN_RE)).cast("bigint")
    bins = (
        docs.select(tokens.alias("tokens"))
        .select(F.expr(f"tokens DIV {HIST_BIN_W}").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("bucket_n"))
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    sketch = bins.withColumn("cum_n", F.sum("bucket_n").over(w_cum)).withColumn(
        "n_total", F.sum("bucket_n").over(w_all)
    )
    pcts = F.explode(
        F.array(*[F.lit(p) for p in HIST_PCTS])
    ).alias("pct")
    hits = sketch.select("bin", "bucket_n", "cum_n", "n_total", pcts).filter(
        F.col("cum_n") * 100 >= F.col("pct") * F.col("n_total")
    )
    elected = hits.groupBy("pct").agg(
        F.min(F.struct("bin", "bucket_n", "cum_n", "n_total")).alias("e")
    )
    e = F.col("e")
    return elected.select(
        "pct",
        e["bin"].alias("bin"),
        (e["bin"] * HIST_BIN_W).alias("lo_tokens"),
        (e["bin"] * HIST_BIN_W + (HIST_BIN_W - 1)).alias("hi_tokens"),
        e["bucket_n"].alias("bucket_n"),
        e["cum_n"].alias("cum_n"),
        e["n_total"].alias("n_total"),
    )


# -- q121: PMI collocation mining, integer-exact -------------------------------
#
# Corpus-level collocation detection (Church & Hanks 1990): adjacent
# word pairs whose joint frequency beats independence. The verdict
# PMI > ln 2 is kept exact by cross-multiplication:
#     ln((C_ab/M) / ((C_a/N)(C_b/N))) > ln 2
#     <=>  C_ab * N^2 > 2 * M * C_a * C_b            (all BIGINT)
# The N^2 term bounds the exact integer form to corpora under ~3e9
# tokens per evaluation shard (64-bit); beyond that the same counts
# merge additively across shards and the verdict moves to log space —
# the counts pipeline (two explode->agg passes, AQE-decided unigram
# joins, 1-row totals broadcasts) is the part that must scale, and it
# is the q81/q93 shape. A fixture doc repeating one phrase pins the
# collocated-TRUE branch (the word-soup corpus is near-independent).

COLL_MIN_COUNT = 5
COLL_TOP_K = 20
_COLL_SYN_REPS = 30
_COLL_SYN = {1000000: ("tensor core " * _COLL_SYN_REPS).rstrip()}


def q121_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K adjacent-pair collocations ranked by the pinned integer
    lift (milli): pair counts, unigram counts, and the exact PMI>ln2
    verdict."""
    docs = (
        documents(spark, sf_dir)
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                sorted(_COLL_SYN.items()), "doc_id bigint, text string"
            )
        )
    )
    t = F.split(F.trim(F.lower(F.col("text"))), TOKEN_RE)
    uni = (
        docs.select(F.explode(t).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c_term"))
    )
    n_row = uni.agg(F.sum("c_term").alias("n_tokens"))
    # zip two staggered slices of ONE tokenization: element_at(t, i)
    # inside the transform lambda re-evaluated the regex split per
    # position (outer refs in higher-order-function lambdas re-run per
    # element — the _shingle_array lesson), making the bigram build
    # O(n^2) splits per doc
    nt = F.size(t)
    zt = F.arrays_zip(F.slice(t, 1, nt - 1), F.slice(t, 2, nt - 1))
    pair_structs = F.when(
        nt >= 2,
        F.transform(
            zt,
            lambda s: F.struct(s["0"].alias("a"), s["1"].alias("b")),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bigrams = (
        docs.select(F.explode(pair_structs).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    m_row = bigrams.agg(F.sum("c_ab").alias("m_bigrams"))
    cand = (
        bigrams.filter(F.col("c_ab") >= COLL_MIN_COUNT)
        .join(
            uni.select(F.col("term").alias("a"), F.col("c_term").alias("c_a")),
            "a",
        )
        .join(
            uni.select(F.col("term").alias("b"), F.col("c_term").alias("c_b")),
            "b",
        )
        .crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(m_row))
    )
    return (
        cand.select(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            # DECIMAL(38,0) intermediates: the corpus-level product
            # c_ab * n_tokens^2 overflows BIGINT once n_tokens passes
            # ~3M (ANSI mode then kills the query at scale), while the
            # DuckDB oracle computes it in HUGEINT. Decimal arithmetic
            # is exact at these magnitudes (< 10^31 even at 10^12
            # tokens), DIV returns the identical integral quotient,
            # and the comparison is exact — bit-identical output at
            # every SF that previously worked, no overflow at the SFs
            # that did not.
            F.expr(
                "CAST((1000 * CAST(c_ab AS DECIMAL(38,0)) * n_tokens"
                " * n_tokens)"
                " DIV (CAST(m_bigrams AS DECIMAL(38,0)) * c_a * c_b)"
                " AS BIGINT)"
            ).alias("lift_milli"),
            F.expr(
                "CAST(c_ab AS DECIMAL(38,0)) * n_tokens * n_tokens"
                " > 2 * CAST(m_bigrams AS DECIMAL(38,0)) * c_a * c_b"
            ).alias("collocated"),
        )
        .orderBy(
            F.col("lift_milli").desc(), F.col("a").asc(), F.col("b").asc()
        )
        .limit(COLL_TOP_K)
    )


QUERIES = {
    "q11_token_stats": q11_token_stats,
    "q12_quality_buckets": q12_quality_buckets,
    "q13_lang_id": q13_lang_id,
    "q18_fingerprints": q18_fingerprints,
    "q26_train_val_split": q26_train_val_split,
    "q27_stratified_sample": q27_stratified_sample,
    "q28_hll_distinct_tokens": q28_hll_distinct_tokens,
    "q29_top_terms": q29_top_terms,
    "q139_count_min_tokens": q139_count_min_tokens,
    "q143_vocab_growth": q143_vocab_growth,
    "q144_bpe_encode": q144_bpe_encode,
    "q36_token_percentiles": q36_token_percentiles,
    "q39_repetition_stats": q39_repetition_stats,
    "q81_lm_familiarity": q81_lm_familiarity,
    "q83_bpe_token_counts": q83_bpe_token_counts,
    "q86_bpe_merges": q86_bpe_merges,
    "q93_dsir_selection": q93_dsir_selection,
    "q109_unicode_nfc": q109_unicode_nfc,
    "q118_hist_quantiles": q118_hist_quantiles,
    "q121_collocations": q121_collocations,
    "q128_unicode_hygiene": q128_unicode_hygiene,
    "q131_paragraph_langs": q131_paragraph_langs,
}

ORACLES["q131_paragraph_langs"] = _Q131_ORACLE
ORACLES["q144_bpe_encode"] = _q144_oracle()

# DuckDB twin of q128: same planted hostile text, same RE2-compatible
# classes (\x{...} spelling), same integer/hash outputs.
ORACLES["q128_unicode_hygiene"] = f"""
    WITH d AS (
        SELECT doc_id,
               CASE doc_id % 4
                   WHEN 0 THEN text
                   WHEN 1 THEN replace(text, ' ', ' ' || chr(8203))
                   WHEN 2 THEN chr(8238) || text || chr(8236)
                   ELSE text || ' p' || chr(1072) || 'ypal'
               END AS raw
        FROM documents
    ),
    c AS (
        SELECT doc_id, raw,
               regexp_replace(raw,
                   '[\\x{{200b}}-\\x{{200f}}\\x{{2060}}\\x{{feff}}'
                   || '\\x{{202a}}-\\x{{202e}}\\x{{2066}}-\\x{{2069}}]',
                   '', 'g') AS cleaned
        FROM d
    )
    SELECT doc_id,
           CAST(len(raw) - len(regexp_replace(raw,
               '[\\x{{200b}}-\\x{{200f}}\\x{{2060}}\\x{{feff}}]', '', 'g'))
               AS BIGINT) AS n_zero_width,
           regexp_matches(raw,
               '[\\x{{202a}}-\\x{{202e}}\\x{{2066}}-\\x{{2069}}]')
               AS has_bidi,
           CAST(len(list_filter(regexp_split_to_array(cleaned, '\\s+'),
               t -> regexp_matches(t, '[A-Za-z]')
                    AND regexp_matches(t, '[\\x{{0400}}-\\x{{04ff}}]')))
               AS BIGINT) AS n_mixed_tokens,
           CAST(len(cleaned) AS BIGINT) AS clean_len,
           {h32_sql('cleaned')} AS clean_h
    FROM c
"""

def _q121_oracle() -> str:
    fixture_rows = "\n            UNION ALL ".join(
        "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(
            i, txt.replace("'", "''")
        )
        for i, txt in sorted(_COLL_SYN.items())
    )
    return f"""
    WITH d AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        {fixture_rows}
    ),
    toks AS (
        SELECT regexp_split_to_array(trim(lower(text)), '{TOKEN_RE}') AS t
        FROM d
    ),
    uni AS (
        SELECT term, CAST(count(*) AS BIGINT) AS c_term
        FROM (SELECT unnest(t) AS term FROM toks)
        GROUP BY term
    ),
    n AS (SELECT CAST(sum(c_term) AS BIGINT) AS n_tokens FROM uni),
    big AS (
        SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab
        FROM (
            SELECT t[i] AS a, t[i + 1] AS b
            FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
        )
        GROUP BY a, b
    ),
    m AS (SELECT CAST(sum(c_ab) AS BIGINT) AS m_bigrams FROM big)
    SELECT g.a, g.b, g.c_ab, ua.c_term AS c_a, ub.c_term AS c_b,
        CAST((1000 * g.c_ab * n.n_tokens * n.n_tokens)
             // (m.m_bigrams * ua.c_term * ub.c_term) AS BIGINT)
            AS lift_milli,
        g.c_ab * n.n_tokens * n.n_tokens
            > 2 * m.m_bigrams * ua.c_term * ub.c_term AS collocated
    FROM big g
    JOIN uni ua ON g.a = ua.term
    JOIN uni ub ON g.b = ub.term
    CROSS JOIN n CROSS JOIN m
    WHERE g.c_ab >= {COLL_MIN_COUNT}
    ORDER BY lift_milli DESC, g.a ASC, g.b ASC
    LIMIT {COLL_TOP_K}
    """


ORACLES["q121_collocations"] = _q121_oracle()

ORACLES["q118_hist_quantiles"] = f"""
    WITH bins AS (
        SELECT CAST(len(regexp_split_to_array(trim(text), '{TOKEN_RE}'))
                    // {HIST_BIN_W} AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS bucket_n
        FROM documents GROUP BY 1
    ),
    sketch AS (
        SELECT bin, bucket_n,
               CAST(sum(bucket_n) OVER (ORDER BY bin) AS BIGINT) AS cum_n,
               CAST(sum(bucket_n) OVER () AS BIGINT) AS n_total
        FROM bins
    ),
    hits AS (
        SELECT p.pct, s.*
        FROM sketch s, (VALUES {", ".join(f"({p})" for p in HIST_PCTS)}) p(pct)
        WHERE s.cum_n * 100 >= p.pct * s.n_total
    )
    SELECT pct,
           min(bin) AS bin,
           CAST(min(bin) * {HIST_BIN_W} AS BIGINT) AS lo_tokens,
           CAST(min(bin) * {HIST_BIN_W} + {HIST_BIN_W - 1} AS BIGINT)
               AS hi_tokens,
           arg_min(bucket_n, bin) AS bucket_n,
           arg_min(cum_n, bin) AS cum_n,
           arg_min(n_total, bin) AS n_total
    FROM hits GROUP BY pct
"""

ORACLES["q109_unicode_nfc"] = f"""
    WITH d AS (
        SELECT doc_id,
               replace(text, 'e', 'e' || chr(769)) AS raw,
               nfc_normalize(replace(text, 'e', 'e' || chr(769))) AS nfc
        FROM documents
    )
    SELECT doc_id,
           CAST(len(raw) AS BIGINT) AS n_cp_raw,
           CAST(len(nfc) AS BIGINT) AS n_cp_nfc,
           CAST(CASE WHEN raw <> nfc THEN 1 ELSE 0 END AS BIGINT) AS changed,
           {h32_sql('nfc')} AS nfc_h
    FROM d
"""
