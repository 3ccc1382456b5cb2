"""Deduplication operators: exact, MinHash signatures + LSH banding,
SimHash, and n-gram-Jaccard candidate pairs — each with a DuckDB oracle.

Hashing goes through the md5-derived :func:`h32` so both engines
produce identical values (see functions/hashing.py). At cluster scale
the shapes matter: exact dedup is one hash-shuffle; MinHash/LSH is
explode -> partial-agg min per seed -> band-key shuffle; SimHash is
explode -> 16 conditional sums; the Jaccard pair join is token-inverted-
index self-join with a doc-frequency cap to bound the candidate blowup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ocr_service_spark.functions.hashing import h32, h32_sql
from ocr_service_spark.plans.parallelism import documents
from ocr_service_spark.sources.tables import read_table


# -- exact dedup -----------------------------------------------------------------
def q10_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash groups: canonical doc + duplicate count per text."""
    docs = documents(spark, sf_dir)
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# -- MinHash ------------------------------------------------------------------------
# 16 permutations banded 4x4. The count is a knob, not a structure:
# production near-dup dedup runs the SAME plan with 128 perms / 32
# bands (one extra F.min per perm — all map-side partial agg).
MINHASH_PERMS = 16
MINHASH_SEEDS = tuple(f"mh{i}|" for i in range(MINHASH_PERMS))
LSH_MH_BANDS = 4
LSH_MH_ROWS = MINHASH_PERMS // LSH_MH_BANDS
MINHASH_VERIFY_MIN = 0.5  # exact-Jaccard floor applied after LSH candidate verify

# Hot-bucket cap: at web scale millions of near-identical boilerplate
# pages (parked domains, error pages, cookie walls) share every band
# key; an uncapped posting list turns one bucket into a single task
# holding 10^6 ids and a quadratic pair explode (5*10^11 pairs from one
# bucket). Each band bucket therefore keeps only its LSH_BUCKET_CAP
# lowest doc ids (deterministic, oracle-replicable). Recall argument:
# (a) exact dedup (q10) upstream removes byte-identical docs, the only
# population that reliably floods a bucket; (b) every doc still gets
# LSH_MH_BANDS independent chances to meet each neighbour in an
# uncrowded bucket; (c) docs dropped from a flooded bucket are, by
# construction, members of a giant near-dup cluster whose survivors
# already link the cluster together for the connected-components pass.
# Same bound philosophy as q14's JACCARD_MAX_DF inverted-index cap.
LSH_BUCKET_CAP = 64


def posting_pair_structs(ids_col: str = "ids", a_name: str = "doc_a",
                         b_name: str = "doc_b") -> F.Column:
    """Within-posting ordered pair explode: every (lower, higher) pair
    from a SORTED posting array — the one candidate-generation idiom
    shared by q14/q34/q124/q125/q156/q158 and q19 (similarity). Posting
    arrays are always pre-capped upstream (LSH_BUCKET_CAP /
    JACCARD_MAX_DF via _cap_bucket/_df_cap_prelimit), so the explode is
    O(cap²) per group by construction; one call site keeps a future cap
    change from silently missing a pipeline. The ids_col references
    inside the lambdas are plain column refs (cheap), not re-evaluated
    expressions."""
    return F.flatten(
        F.transform(
            F.col(ids_col),
            lambda a, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(ids_col)),
                lambda b: F.struct(a.alias(a_name), b.alias(b_name)),
            ),
        )
    )


def _cap_bucket(stacked: DataFrame, part_cols: list, id_col: str) -> DataFrame:
    """Keep the LSH_BUCKET_CAP lowest ids per band bucket. Expressed as
    a rank-limit window so Catalyst rewrites it to WindowGroupLimit:
    each map task pre-limits its local slice of a hot bucket to CAP
    rows BEFORE the shuffle, so a 10^6-id bucket never materializes on
    one reducer — the post-shuffle partition sees at most CAP rows per
    upstream task and the final filter trims to exactly CAP."""
    w = Window.partitionBy(*part_cols).orderBy(id_col)
    return (
        stacked.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= LSH_BUCKET_CAP)
        .drop("rn")
    )


def _capped_bands_sql(src: str, part_cols: str, id_col: str) -> str:
    """DuckDB twin of :func:`_cap_bucket` over an existing CTE."""
    return f"""
        SELECT * EXCLUDE (rn) FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {part_cols} ORDER BY {id_col}) AS rn
            FROM {src}
        ) WHERE rn <= {LSH_BUCKET_CAP}
    """


def _tokens(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias("tok")
    )


def q15_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature (MINHASH_PERMS permutations) over the
    distinct-token set — one explode + map-side partial min per perm."""
    toks = _tokens(documents(spark, sf_dir))
    aggs = [
        F.min(h32(F.col("tok"), seed)).alias(f"mh{i}") for i, seed in enumerate(MINHASH_SEEDS)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def q16_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding over the MinHash signature (LSH_MH_BANDS bands x
    LSH_MH_ROWS rows). Documents sharing a band key are near-dup
    candidates."""
    sigs = q15_minhash_signatures(spark, sf_dir)
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(f"b{b}"),
            *[f"mh{b * LSH_MH_ROWS + j}" for j in range(LSH_MH_ROWS)],
        ).alias(f"band{b}")
        for b in range(LSH_MH_BANDS)
    ]
    stacked = sigs.select("doc_id", *band_cols).select(
        "doc_id",
        F.explode(F.array(*[f"band{b}" for b in range(LSH_MH_BANDS)])).alias("band_key"),
    )
    return stacked.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("min_doc_id")
    )


def _band_stack(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_key): one row per doc per band (q16's construction)."""
    band_cols = [
        F.concat_ws(
            "_",
            F.lit(f"b{b}"),
            *[f"mh{b * LSH_MH_ROWS + j}" for j in range(LSH_MH_ROWS)],
        ).alias(f"band{b}")
        for b in range(LSH_MH_BANDS)
    ]
    return sigs.select("doc_id", *band_cols).select(
        "doc_id",
        F.explode(F.array(*[f"band{b}" for b in range(LSH_MH_BANDS)])).alias("band_key"),
    )


def q34_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MinHash-LSH dedup pipeline end-to-end: 3-word
    SHINGLES (unigram sets are near-degenerate on a small vocabulary)
    -> MinHash signature -> band keys -> hot-bucket cap (LSH_BUCKET_CAP
    lowest ids per band bucket, map-side WindowGroupLimit — see
    :func:`_cap_bucket` for the recall argument) -> WITHIN-BUCKET
    candidate pairs (posting-list explode, the q14/q19 pattern — never
    a self-join) -> exact shingle-set Jaccard on candidates only,
    post-verify floored at MINHASH_VERIFY_MIN. At 100 TB the candidate set is the quadratic
    term LSH prunes; everything else is linear passes, and the final
    exact verify touches only pairs that share a band. Output is
    directly comparable to q14's exact inverted-index pairs at the
    same threshold (LSH recall measurement comes free)."""
    return _scored_lsh_candidates(documents(spark, sf_dir)).filter(
        # post-verify cut on the ROUNDED value (both engines cut on
        # identical doubles): candidates that shared a band by luck —
        # common on this tiny-vocabulary corpus — are not near-dups
        F.col("jaccard") >= MINHASH_VERIFY_MIN
    )


def _scored_lsh_candidates(docs: DataFrame) -> DataFrame:
    """q34's pipeline through the exact-verify SCORING, unfiltered:
    (doc_a, doc_b, jaccard) for every pair sharing a capped band.
    Shared by q34 (which applies the verify cut) and q156 (which
    measures the candidate stage's precision, so it needs the
    below-threshold pairs too)."""
    sigs = _shingle_sigs(docs)
    posting = (
        _cap_bucket(_band_stack(sigs), ["band_key"], "doc_id")
        .groupBy("band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_structs = posting_pair_structs()
    cand = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    # verify on 64-bit shingle fingerprints (engine-internal; q124's
    # move) with |A∪B| = |A|+|B|-|A∩B| replacing the second set pass
    tok_sets = docs.select(
        "doc_id",
        F.transform(_shingle_array(), lambda s: F.xxhash64(s)).alias("toks"),
    )
    a = tok_sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = tok_sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (F.size("ta") + F.size("tb") - inter)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


# -- q90: incremental near-dup vs the historical signature index -----------------
INC_BATCH_OFFSET = 1_000_000  # batch ids live above every historical doc_id


def _batch_docs(docs: DataFrame) -> DataFrame:
    """The incoming fetch batch, derived closed-form: doc_id%4==0 docs
    arrive as NEAR-DUPS of history (first word dropped — shingle
    overlap stays high), doc_id%4==1 docs arrive genuinely new (word
    order reversed — every 3-shingle changes)."""
    d = F.col("doc_id")
    w = F.split(F.trim("text"), r"\s+")
    return docs.filter(d % 4 < 2).select(
        (d + INC_BATCH_OFFSET).alias("doc_id"),
        F.when(
            d % 4 == 0, F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1))
        )
        .otherwise(F.concat_ws(" ", F.reverse(w)))
        .alias("text"),
    )


def _shingle_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mhN): q34's shingle-MinHash signature.

    Computed in ONE Arrow-batched map stage instead of the shingle
    explode + 16 per-row md5/hex/conv Catalyst expressions + groupBy:
    the explode multiplied every doc into ~50 rows only so a hash-agg
    could take 16 mins per doc, and each of those rows paid 16
    interpreted md5+substring+conv evaluations (guide §4.2 — hand whole
    batches to native code instead). hashlib.md5 produces the identical
    32-bit integers (first 4 digest bytes == conv(substr(md5,1,8),16,10)),
    and min over exact integers is order-free, so the signature is
    bit-identical to the Catalyst/DuckDB computation. Tokenization
    mirrors F.trim + split('\\s+') exactly: strip SPACES only, split on
    ASCII whitespace runs (Java \\s is ASCII-only), keep leading empty
    and trailing empty tokens (F.split's limit=-1 keeps both). Docs
    with no 3-shingle stay absent, as the explode+groupBy left them."""
    import re
    from hashlib import md5

    import pandas as pd

    seeds = [s.encode("utf-8") for s in MINHASH_SEEDS]
    n = len(seeds)
    schema = "doc_id bigint, " + ", ".join(f"mh{i} bigint" for i in range(n))
    ws = re.compile(r"\s+", re.ASCII)

    def gen(batches):
        for pdf in batches:
            ids = []
            mh = [[] for _ in range(n)]
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = ws.split((text or "").strip(" "))
                if len(w) < 3:
                    continue
                sh = {
                    (w[i] + " " + w[i + 1] + " " + w[i + 2]).encode("utf-8")
                    for i in range(len(w) - 2)
                }
                ids.append(doc_id)
                for k, seed in enumerate(seeds):
                    mh[k].append(
                        min(
                            int.from_bytes(md5(seed + s).digest()[:4], "big")
                            for s in sh
                        )
                    )
            out = {"doc_id": pd.Series(ids, dtype="int64")}
            for k in range(n):
                out[f"mh{k}"] = pd.Series(mh[k], dtype="int64")
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(gen, schema)


def q90_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production crawl shape: every new fetch
    batch dedups against ALL previous crawls via the maintained
    signature index, never by re-scanning history's text. Batch docs
    get shingle-MinHash signatures; candidates come from an EQUI JOIN
    of batch band keys against the historical band index (bounded
    posting lists, same guarantee as q34's within-bucket explode);
    only candidates reach the exact-Jaccard verify, and each batch doc
    reports dup/new with its best match (max jaccard, tie -> smallest
    historical doc_id). At 10^12 docs the band index is the stored
    artifact (url-bucketed, appended per batch) and the verify side
    stores shingle sketches — the text table is never reopened."""
    docs = documents(spark, sf_dir)
    batch = _batch_docs(docs)
    hist_bands = _band_stack(_shingle_sigs(docs)).select(
        F.col("doc_id").alias("hist_id"), "band_key"
    )
    batch_bands = _band_stack(_shingle_sigs(batch)).select(
        F.col("doc_id").alias("batch_id"), "band_key"
    )
    cand = (
        batch_bands.join(hist_bands, "band_key")
        .select("batch_id", "hist_id")
        .distinct()
    )
    bt = batch.select(F.col("doc_id").alias("batch_id"), _shingle_array().alias("tb"))
    ht = docs.select(F.col("doc_id").alias("hist_id"), _shingle_array().alias("th"))
    jac = F.size(F.array_intersect("tb", "th")).cast("double") / F.size(
        F.array_union("tb", "th")
    )
    verified = (
        cand.join(bt, "batch_id")
        .join(ht, "hist_id")
        .select("batch_id", "hist_id", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= MINHASH_VERIFY_MIN)
    )
    best = (
        verified.groupBy("batch_id")
        .agg(
            F.max(
                F.struct(F.col("jaccard"), (-F.col("hist_id")).alias("nh"))
            ).alias("m")
        )
        .select(
            "batch_id",
            (-F.col("m.nh")).cast("bigint").alias("match_doc_id"),
            F.col("m.jaccard").alias("jaccard"),
        )
    )
    return (
        batch.select(F.col("doc_id").alias("batch_id"))
        .join(best, "batch_id", "left")
        .select(
            "batch_id",
            F.when(F.col("match_doc_id").isNotNull(), "dup")
            .otherwise("new")
            .alias("status"),
            "match_doc_id",
            "jaccard",
        )
    )


# -- SimHash -----------------------------------------------------------------------
SIMHASH_BITS = 16


def q17_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: per-bit majority vote over token hashes."""
    toks = _tokens(documents(spark, sf_dir)).withColumn("h", h32(F.col("tok"), "sh|"))
    votes = [
        F.sum(
            F.when((F.col("h").bitwiseAND(F.lit(1 << b))) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    simhash = None
    for b in range(SIMHASH_BITS):
        bit = F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return per_doc.select("doc_id", simhash.cast("bigint").alias("simhash"))


# -- n-gram Jaccard candidate pairs ---------------------------------------------------
JACCARD_MAX_DF = 20  # inverted-index doc-frequency cap (candidate bound)


def _shingle_array() -> F.Column:
    """array<string> of distinct 3-word shingles (word n-grams carry
    far more signal than unigrams on a small-vocabulary corpus, and
    their doc frequency keeps the inverted index selective at scale).

    Built by zipping three slices of ONE tokenization rather than a
    transform over positions with element_at(arr, i) in the lambda:
    an outer expression referenced inside a higher-order-function
    lambda is re-evaluated per element, so the old shape re-ran the
    regex split ~3n times per doc — measured 3x slower than this
    zip-of-slices form (identical output, guide §1.2 per-task work).
    The n >= 3 clamp mirrors DuckDB range() yielding an empty list for
    short docs."""
    arr = F.split(F.trim("text"), r"\s+")
    n = F.size(arr)
    zipped = F.arrays_zip(
        F.slice(arr, 1, n - 2), F.slice(arr, 2, n - 2), F.slice(arr, 3, n - 2)
    )
    shingles = F.when(
        n >= 3,
        F.transform(zipped, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"])),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, tok): one row per distinct 3-word shingle per doc."""
    return docs.select("doc_id", F.explode(_shingle_array()).alias("tok"))


def _df_cap_prelimit(toks: DataFrame) -> DataFrame:
    """Map-side pre-limit for the inverted-index df cap — the
    :func:`_cap_bucket` WindowGroupLimit move applied to token
    postings: each map task keeps at most JACCARD_MAX_DF + 1 lowest
    doc_ids per token BEFORE the shuffle, so an over-cap token still
    arrives with cap + 1 ids (the downstream ``size <= cap`` filter
    drops it exactly as before) but a web-scale chrome token's 10^9-id
    posting list never materializes on one reducer — without this, the
    ``collect_list`` builds the full monster array transiently before
    the filter can discard it."""
    w = Window.partitionBy("tok").orderBy("doc_id")
    return (
        toks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= JACCARD_MAX_DF + 1)
        .drop("rn")
    )


def q14_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via a shingle inverted index: shingles
    with doc-frequency <= cap generate candidates (bounding the
    self-join fan-out); Jaccard is computed on the capped shingle sets.

    One LINEAR pipeline — the shingle explode runs ONCE (posted as
    64-bit fingerprints: the shingle string is only ever a grouping
    key, so the tok shuffle carries 8 bytes/row and the WindowGroupLimit
    sort compares longs — guide §2.3 "narrower types") into ONE capped
    posting-list aggregation with two cheap consumers: the pair explode
    (shuffle 2, per-pair co-occurrence counts) and a per-doc rare-count
    (shuffle 3, a few MB of ints), re-attached to the pairs by two
    broadcast joins. Replaces the older shape that re-grouped postings
    per doc and re-built them per tok just to carry n_rare alongside
    each posting — two full posting shuffles for what a broadcast of
    the per-doc counts attaches for free (guide §8: decide with small
    rows, ship metadata, not payloads)."""
    toks = _shingles(documents(spark, sf_dir)).select(
        "doc_id", F.xxhash64("tok").alias("tok")
    )
    # shuffle 1 (tok): posting lists with the doc-frequency cap applied
    # inline — rare shingles only, from a single shingle pass; the
    # WindowGroupLimit pre-limit bounds what any reducer ever holds.
    # Checkpointed: two consumers below, and column-pruning
    # differences would otherwise defeat ReuseExchange and run the
    # explode+prelimit subtree once per consumer. eager=False does not
    # defer it: with AQE on (session.py) the call itself runs the
    # upstream shuffle stage, while the DataFrame is being built.
    rare_ids = (
        _df_cap_prelimit(toks)
        .groupBy("tok")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") <= JACCARD_MAX_DF)
        .localCheckpoint(eager=False)
    )
    # shuffle 2 (pair): within-posting pair explode (never a self-join;
    # the df-cap bounds each group to C(cap,2) pairs), counted per pair
    pair_structs = posting_pair_structs()
    inter = (
        rare_ids.filter(F.size("ids") >= 2)
        .select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # shuffle 3 (doc_id, ints only): per-doc count of cap-respecting
    # shingles, broadcast back onto the pairs
    n_rare = (
        rare_ids.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    na = n_rare.select(F.col("doc_id").alias("doc_a"), F.col("n_rare").alias("na"))
    nb = n_rare.select(F.col("doc_id").alias("doc_b"), F.col("n_rare").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", "n_common", F.round(jac, 4).alias("jaccard"))
    )


# -- dedup clusters: connected components over near-dup edges --------------------
CLUSTER_MIN_JACCARD = 0.5
K_HOPS = 8  # propagation rounds == max component diameter covered


def q37_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the near-dup edge
    set (q14 pairs with jaccard >= threshold) via K_HOPS rounds of
    min-label propagation — after round k every doc carries the minimum
    doc_id within graph distance k, so the result is exact for every
    component of diameter <= K_HOPS (the oracle mirrors the same bound
    with a depth-limited recursive CTE). Pure declarative DAG: each
    round is one edges-labels join + min-aggregate, no driver-side
    loop state. At cluster scale the same operator runs to convergence
    with per-round snapshot truncation (write labels, read back) and a
    changed-count check — the alternating large-star/small-star variant
    converges in O(log n) rounds; K_HOPS=8 is the bench-honest bounded
    form of that loop. Near-dup docs that never pair keep themselves as
    cluster_id (singleton clusters included)."""
    pairs = q14_jaccard_pairs(spark, sf_dir).filter(
        F.col("jaccard") >= CLUSTER_MIN_JACCARD
    )
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Propagate over EDGE-INCIDENT nodes only: a node with no incoming
    # edge keeps label == doc_id through every round, so dragging the
    # whole corpus through K_HOPS rounds of joins is pure shuffle waste
    # (guide §2.3 — at web scale isolated docs are the overwhelming
    # majority). The edge set is lineage-truncated HERE so the node
    # derivation shares the one materialization instead of re-running
    # the whole q14 pipeline; the full corpus rejoins once at the end,
    # and the coalesce restores label = doc_id for isolated docs, so
    # the result is identical row-for-row.
    edges = edges.localCheckpoint(eager=False)
    nodes = edges.select(F.col("src").alias("doc_id")).distinct()
    labels = propagate_min_labels(
        nodes.withColumn("label", F.col("doc_id")), edges, K_HOPS
    )
    docs = documents(spark, sf_dir, "doc_id")
    return docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("cluster_id")
    )


def q38_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's OUTPUT stage: per-language summary of the
    corpus after near-dup cluster filtering — the cluster minimum
    (doc_id == cluster_id) is kept as the canonical copy, everything
    else drops. One doc_id-join of labels back to the corpus plus a
    tiny groupBy; at 100 TB this is the query that decides what the
    training run actually reads."""
    labels = q37_dedup_components(spark, sf_dir)
    docs = documents(spark, sf_dir, "doc_id", "lang", "n_chars")
    kept = F.col("doc_id") == F.col("cluster_id")
    return (
        docs.join(labels, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept.cast("bigint")).cast("bigint").alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
    )


def propagate_min_labels(labels: DataFrame, edges: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` iterations of min-label propagation over
    labels(doc_id, label) and directed edges(src, dst): after round k
    every node's label is the minimum label within graph distance k.

    Lineage is truncated with a localCheckpoint(eager=False) on the
    edge set and on each round's labels. Without it the logical plan re-expands
    shared subtrees per reference: edges (the whole upstream LSH
    pipeline when called from q37) appears once per round, and
    labels(k-1) appears TWICE inside labels(k) — a 2^rounds blowup
    that Catalyst/AQE exchange-reuse only partially collapses
    (measured 65 s for q154 at sf0.1; 4 s with truncation). The
    checkpoint is the in-memory form of the write-labels/read-back
    snapshot truncation the cluster-scale loop uses. eager=False does
    NOT keep the operator lazy: with AQE on (session.py), the call runs
    every upstream shuffle stage at once, so each non-trivial checkpoint
    is a job while the DataFrame is being built, before the caller's
    action."""
    edges = edges.localCheckpoint(eager=False)
    # One round = min over (self ∪ in-neighbours), expressed as a single
    # join+agg against the edge set EXTENDED WITH SELF-LOOPS: label(v)
    # becomes min over {label(u) : (u,v) ∈ E ∪ I} = min(label(v),
    # min_{u→v} label(u)), exactly the old join+agg+left-join round but
    # with labels referenced ONCE per round. That single reference is
    # what kills the 2^rounds plan blowup at its root: the un-checkpointed
    # chain grows linearly, so the per-round checkpoints (and their
    # materialization barriers) go away entirely, and the 8 identical
    # scans of the checkpointed looped-edge set share one
    # BroadcastExchange via ReuseExchange instead of rebuilding the
    # broadcast per round (guide §2.4). Precondition (all callers
    # satisfy it): every edge endpoint appears in `labels` — nodes
    # reached only as an unlabelled dst would now surface in the output
    # where the old left-join dropped them.
    looped = edges.unionByName(
        labels.select(F.col("doc_id").alias("src"), F.col("doc_id").alias("dst"))
    ).localCheckpoint(eager=False)
    for _ in range(rounds):
        labels = (
            looped.join(labels, looped["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("label"))
        )
    return labels


# -- substring-level duplicate-span removal ---------------------------------------
# Lee et al. (2022), "Deduplicating Training Data Makes Language Models
# Better": remove every span of >= SPAN_K tokens that occurs verbatim in
# more than one document. Production systems approximate the suffix-array
# formulation with fixed-K shingle fingerprints — exactly this operator's
# shape: any duplicated span of length L >= SPAN_K is a run of L-SPAN_K+1
# duplicated K-shingles, so marking every token covered by a duplicated
# K-shingle removes precisely the >=K-token cross-document spans.
SPAN_K = 6  # minimum duplicated-span length, in tokens
SPAN_MIN_DF = 2  # a shingle is duplicated when seen in >= 2 distinct docs


def q79_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-SPAN removal (substring-level dedup):
    per doc, drop every token covered by a K-token shingle that occurs
    in >= SPAN_MIN_DF distinct documents, and emit the cleaned text.

    One pass builds (pos, tok, fp) per token in a single narrow
    projection — fp is the 128-bit md5 fingerprint of the K-shingle
    STARTING at pos (null for the last K-1 positions) — so the global
    duplicate-shingle set is a hash-agg over 16-byte fingerprints, never
    the shingle strings (at crawl scale the fp shuffle is ~16 B/row vs
    ~K words/row; this is why production span-dedup ships fingerprints,
    not suffixes). The dup set joins back on fp — sparse by
    construction, so AQE broadcasts it and the token stream is shuffled
    exactly ONCE, by the coverage window on doc_id, whose partitioning
    the final per-doc re-agg then reuses (no second exchange). Coverage
    is a rows-frame window max: token at pos is removed iff any
    duplicated shingle starts in [pos-K+1, pos]. The token stream is
    recomputed for the join rather than cached — at 100 TB a columnar
    re-scan beats persisting a token-exploded corpus.
    """
    docs = documents(spark, sf_dir)
    w = F.split(F.trim("text"), r"\s+")
    n = F.size(w)
    # zip SPAN_K staggered slices of ONE tokenization: the old
    # per-position transform referenced w (the regex split) inside the
    # lambda via element_at/slice, and an outer expression in a
    # higher-order-function lambda re-evaluates per element — the
    # split ran O(n) times per doc (the _shingle_array lesson). Entry
    # i carries (w[i+1] .. w[i+SPAN_K]) with nulls past the end, so
    # "a full K-shingle starts here" is exactly "the last field is
    # non-null", and tokens themselves are never null.
    z = F.arrays_zip(*[F.slice(w, k + 1, n) for k in range(SPAN_K)])
    combined = F.transform(
        z,
        lambda s: F.struct(
            s["0"].alias("tok"),
            F.when(
                s[str(SPAN_K - 1)].isNotNull(),
                F.unhex(
                    F.md5(
                        F.concat_ws(
                            " ", *[s[str(k)] for k in range(SPAN_K)]
                        )
                    )
                ),
            ).alias("fp"),
        ),
    )
    toks = docs.select("doc_id", F.posexplode(combined).alias("pos", "c")).select(
        "doc_id", "pos", F.col("c.tok").alias("tok"), F.col("c.fp").alias("fp")
    )
    # "seen in >= 2 distinct docs" == "min(doc_id) != max(doc_id)":
    # one plain hash-agg with map-side partials instead of the
    # two-level expansion count_distinct plans (a repeated span WITHIN
    # one doc keeps min == max, exactly df = 1). Exact only for
    # SPAN_MIN_DF == 2 — the assert pins the rewrite to the constant.
    assert SPAN_MIN_DF == 2
    dup = (
        toks.filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
        .filter(F.col("lo") != F.col("hi"))
        .select("fp", F.lit(1).alias("is_dup"))
    )
    flagged = toks.join(dup, "fp", "left").select(
        "doc_id", "pos", "tok", F.coalesce("is_dup", F.lit(0)).alias("dup_start")
    )
    cover = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(SPAN_K - 1), 0)
    covered = flagged.withColumn("covered", F.max("dup_start").over(cover))
    return covered.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("covered").alias("n_removed"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("covered") == 0, F.struct("pos", "tok"))
                    )
                ),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("kept_text"),
    )


_Q79_ORACLE = f"""
        WITH words AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
        ),
        toks AS (
            SELECT doc_id,
                   unnest(range(1, len(w) + 1)) AS pos,
                   unnest(w) AS tok,
                   unnest(list_transform(
                       range(1, len(w) + 1),
                       i -> CASE WHEN i <= len(w) - {SPAN_K - 1}
                            THEN array_to_string(
                                w[CAST(i AS INT):CAST(i AS INT) + {SPAN_K - 1}], ' ')
                            END)) AS shingle
            FROM words
        ),
        dup AS (
            SELECT shingle FROM toks WHERE shingle IS NOT NULL
            GROUP BY 1 HAVING count(DISTINCT doc_id) >= {SPAN_MIN_DF}
        ),
        flagged AS (
            SELECT t.doc_id, t.pos, t.tok,
                   max(CASE WHEN d.shingle IS NOT NULL THEN 1 ELSE 0 END) OVER (
                       PARTITION BY t.doc_id ORDER BY t.pos
                       ROWS BETWEEN {SPAN_K - 1} PRECEDING AND CURRENT ROW) AS covered
            FROM toks t LEFT JOIN dup d ON t.shingle = d.shingle
        )
        SELECT doc_id,
               count(*) AS n_tokens,
               CAST(sum(covered) AS BIGINT) AS n_removed,
               coalesce(string_agg(CASE WHEN covered = 0 THEN tok END, ' ' ORDER BY pos), '')
                   AS kept_text
        FROM flagged GROUP BY doc_id
    """


def _minhash_agg_sql() -> str:
    cols = ", ".join(
        f"min({h32_sql('tok', seed)}) AS mh{i}" for i, seed in enumerate(MINHASH_SEEDS)
    )
    return f"""
        SELECT doc_id, {cols} FROM (
            SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
            FROM documents
        ) GROUP BY doc_id
    """


def _lsh_band_arms_sql(src: str = "sigs") -> str:
    arms = []
    for b in range(LSH_MH_BANDS):
        concat = " || '_' || ".join(
            f"mh{b * LSH_MH_ROWS + j}" for j in range(LSH_MH_ROWS)
        )
        arms.append(f"SELECT doc_id, 'b{b}_' || {concat} AS band_key FROM {src}")
    return "\n            UNION ALL ".join(arms)


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN v{b} >= 0 THEN {1 << b} ELSE 0 END" for b in range(SIMHASH_BITS)
    )
    return f"""
        SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM (
            SELECT doc_id, {votes} FROM (
                SELECT doc_id, {h32_sql("tok", "sh|")} AS h FROM (
                    SELECT doc_id,
                           unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS tok
                    FROM documents
                )
            ) GROUP BY doc_id
        )
    """


_Q14_ORACLE = f"""
        WITH words AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
        ),
        toks AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, len(w) - 1),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]
            ))) AS tok
            FROM words
        ),
        rare AS (
            SELECT doc_id, tok FROM toks
            WHERE tok IN (SELECT tok FROM toks GROUP BY tok HAVING count(*) <= {JACCARD_MAX_DF})
        ),
        sizes AS (SELECT doc_id, count(*) AS n_rare FROM rare GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM rare a JOIN rare b ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               round(n_common / (sa.n_rare + sb.n_rare - n_common), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
    """


def _q90_oracle() -> str:
    """Mirrors q90 closed-form: the batch derivation, shingle-MinHash
    signatures, band-equi-join candidates, exact-Jaccard verify, and
    best-match election all recomputed independently in DuckDB."""
    sig_cols = ", ".join(
        f"min({h32_sql('tok', seed)}) AS mh{i}" for i, seed in enumerate(MINHASH_SEEDS)
    )
    shingle = (
        "list_distinct(list_transform(range(1, len(w) - 1), "
        "i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]"
        " || ' ' || w[CAST(i AS INT) + 2]))"
    )
    return f"""
        WITH hw AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
        ),
        bw AS (
            SELECT doc_id + {INC_BATCH_OFFSET} AS doc_id,
                   CASE WHEN doc_id % 4 = 0 THEN w[2:] ELSE list_reverse(w) END AS w
            FROM hw WHERE doc_id % 4 < 2
        ),
        ht AS (SELECT doc_id, {shingle} AS toks FROM hw),
        bt AS (SELECT doc_id, {shingle} AS toks FROM bw),
        hsigs AS (
            SELECT doc_id, {sig_cols}
            FROM (SELECT doc_id, unnest(toks) AS tok FROM ht) GROUP BY doc_id
        ),
        bsigs AS (
            SELECT doc_id, {sig_cols}
            FROM (SELECT doc_id, unnest(toks) AS tok FROM bt) GROUP BY doc_id
        ),
        hbands AS ({_lsh_band_arms_sql('hsigs')}),
        bbands AS ({_lsh_band_arms_sql('bsigs')}),
        cand AS (
            SELECT DISTINCT b.doc_id AS batch_id, h.doc_id AS hist_id
            FROM bbands b JOIN hbands h ON b.band_key = h.band_key
        ),
        ver AS (
            SELECT batch_id, hist_id,
                   round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                         / len(list_distinct(a.toks || b.toks)), 4) AS jaccard
            FROM cand
            JOIN bt a ON a.doc_id = batch_id
            JOIN ht b ON b.doc_id = hist_id
        ),
        best AS (
            SELECT batch_id, hist_id AS match_doc_id, jaccard,
                   row_number() OVER (
                       PARTITION BY batch_id ORDER BY jaccard DESC, hist_id
                   ) AS rn
            FROM ver WHERE jaccard >= {MINHASH_VERIFY_MIN}
        )
        SELECT bw.doc_id AS batch_id,
               CASE WHEN b.match_doc_id IS NOT NULL THEN 'dup' ELSE 'new' END AS status,
               CAST(b.match_doc_id AS BIGINT) AS match_doc_id,
               b.jaccard AS jaccard
        FROM bw LEFT JOIN best b ON b.batch_id = bw.doc_id AND b.rn = 1
    """


ORACLES: dict[str, str] = {
    "q10_dedup_exact": """
        SELECT md5(text) AS content_hash, min(doc_id) AS canonical_doc_id,
               count(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "q15_minhash_signatures": _minhash_agg_sql(),
    "q16_lsh_buckets": f"""
        WITH sigs AS ({_minhash_agg_sql()})
        SELECT band_key, count(*) AS n_docs, min(doc_id) AS min_doc_id FROM (
            {_lsh_band_arms_sql()}
        ) GROUP BY 1
    """,
    "q17_simhash": _simhash_oracle(),
    "q14_jaccard_pairs": _Q14_ORACLE,
    "q79_span_dedup": _Q79_ORACLE,
    "q90_incremental_neardup": _q90_oracle(),
    "q34_minhash_neardup_pairs": f"""
        WITH words AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
        ),
        t AS (
            SELECT doc_id, list_distinct(list_transform(
                range(1, len(w) - 1),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1] || ' ' || w[CAST(i AS INT) + 2]
            )) AS toks
            FROM words
        ),
        sh AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        sigs AS (
            SELECT doc_id, {", ".join(
                f"min({h32_sql('tok', seed)}) AS mh{i}"
                for i, seed in enumerate(MINHASH_SEEDS))}
            FROM sh GROUP BY doc_id
        ),
        bands0 AS (
            {_lsh_band_arms_sql()}
        ),
        bands AS ({_capped_bands_sql('bands0', 'band_key', 'doc_id')}),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y
              ON x.band_key = y.band_key AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / len(list_distinct(a.toks || b.toks)), 4) AS jaccard
        FROM cand
        JOIN t a ON a.doc_id = doc_a
        JOIN t b ON b.doc_id = doc_b
        WHERE round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                    / len(list_distinct(a.toks || b.toks)), 4) >= {MINHASH_VERIFY_MIN}
    """,
    "q37_dedup_components": f"""
        WITH RECURSIVE
        p AS ({_Q14_ORACLE}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM p WHERE jaccard >= {CLUSTER_MIN_JACCARD}
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM p WHERE jaccard >= {CLUSTER_MIN_JACCARD}
        ),
        reach(src, dst, depth) AS (
            SELECT doc_id, doc_id, 0 FROM documents
            UNION
            SELECT r.src, e.dst, r.depth + 1
            FROM reach r JOIN edges e ON e.src = r.dst
            WHERE r.depth < {K_HOPS}
        )
        SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS cluster_id
        FROM reach GROUP BY 1
    """,
    "q38_dedup_canonical": f"""
        WITH RECURSIVE
        p AS ({_Q14_ORACLE}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM p WHERE jaccard >= {CLUSTER_MIN_JACCARD}
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst FROM p WHERE jaccard >= {CLUSTER_MIN_JACCARD}
        ),
        reach(src, dst, depth) AS (
            SELECT doc_id, doc_id, 0 FROM documents
            UNION
            SELECT r.src, e.dst, r.depth + 1
            FROM reach r JOIN edges e ON e.src = r.dst
            WHERE r.depth < {K_HOPS}
        ),
        labels AS (
            SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY 1
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN d.doc_id = l.cluster_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN d.doc_id = l.cluster_id THEN d.n_chars ELSE 0 END) AS BIGINT) AS kept_chars
        FROM documents d JOIN labels l ON d.doc_id = l.doc_id
        GROUP BY 1
    """,
}

# -- q100: train/val split leakage guard --------------------------------------
# Hash-split alone (q26) does not keep near-duplicates of training docs
# out of the validation set — eval numbers silently inflate. q100 runs
# the q34 band machinery ACROSS the split boundary: val docs that share
# an LSH band with any train doc are exact-Jaccard-verified, and
# verified leaks are quarantined out of val. The candidate join is
# band-keyed val x train (never a self-join); at 100 TB the val side is
# ~10% of the corpus and the band join prunes the quadratic term
# exactly as q34 does. Clones of the first LEAK_CLONES docs (mirrored
# verbatim by the oracle) guarantee leaks exist at every SF: a clone
# whose hash lands in val while its original lands in train is a
# perfect (jaccard 1.0) leak.
LEAK_CLONE_OFFSET = 4_000_000
LEAK_CLONES = 40


def q100_split_leakage_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_service_spark.operators.text_stats import SPLIT_SALT, TRAIN_PCT

    docs = documents(spark, sf_dir, "doc_id", "text")
    clones = docs.filter(F.col("doc_id") < LEAK_CLONES).select(
        (F.col("doc_id") + LEAK_CLONE_OFFSET).alias("doc_id"), "text"
    )
    docs = docs.unionByName(clones)
    split = F.when(
        F.pmod(h32(F.col("doc_id").cast("string"), SPLIT_SALT), F.lit(100))
        < TRAIN_PCT,
        F.lit("train"),
    ).otherwise(F.lit("val"))
    sp = docs.select("doc_id", split.alias("split"))
    sigs = _shingle_sigs(docs)
    # hot-bucket cap per (band_key, split): each side of the val x train
    # band join is bounded independently, so one boilerplate band key
    # contributes at most CAP x CAP candidate pairs instead of
    # |val bucket| x |train bucket| (see _cap_bucket's recall argument;
    # the LEAK_CLONES originals have the lowest doc_ids and always
    # survive a lowest-ids-first cap)
    # two consumers (vb, tb): the checkpoint stops the signature
    # map stage being planned (and run) once per side of the band join
    bands = _cap_bucket(
        _band_stack(sigs).join(sp, "doc_id"), ["band_key", "split"], "doc_id"
    ).localCheckpoint(eager=False)
    vb = bands.filter("split = 'val'").select(
        F.col("doc_id").alias("val_id"), "band_key"
    )
    tb = bands.filter("split = 'train'").select(
        F.col("doc_id").alias("train_id"), "band_key"
    )
    cand = vb.join(tb, "band_key").select("val_id", "train_id").distinct()
    # verify on 64-bit shingle fingerprints (engine-internal; q124's
    # move) with |A∪B| = |A|+|B|-|A∩B| replacing the second set pass
    tok_sets = docs.select(
        "doc_id",
        F.transform(_shingle_array(), lambda s: F.xxhash64(s)).alias("toks"),
    )
    a = tok_sets.select(F.col("doc_id").alias("val_id"), F.col("toks").alias("ta"))
    b = tok_sets.select(
        F.col("doc_id").alias("train_id"), F.col("toks").alias("tb")
    )
    nu = F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))
    jac = F.round(
        F.size(F.array_intersect("ta", "tb")).cast("double") / nu,
        4,
    )
    leaks = (
        cand.join(a, "val_id")
        .join(b, "train_id")
        .select("val_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= MINHASH_VERIFY_MIN)
        .groupBy("val_id")
        .agg(
            F.count(F.lit(1)).alias("n_leak_matches"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )
    out = sp.join(leaks, sp.doc_id == leaks.val_id, "left")
    leak = F.col("val_id").isNotNull()
    return out.select(
        sp.doc_id.alias("doc_id"),
        "split",
        leak.alias("leak"),
        F.coalesce("n_leak_matches", F.lit(0))
        .cast("bigint")
        .alias("n_leak_matches"),
        F.coalesce("max_jaccard", F.lit(0.0)).alias("max_jaccard"),
        F.when(leak, F.lit("quarantine")).otherwise(F.col("split")).alias(
            "final_split"
        ),
    )


def _q100_oracle() -> str:
    from ocr_service_spark.operators.text_stats import SPLIT_SALT, TRAIN_PCT

    sig_cols = ", ".join(
        f"min({h32_sql('tok', seed)}) AS mh{i}"
        for i, seed in enumerate(MINHASH_SEEDS)
    )
    shingle = (
        "list_distinct(list_transform(range(1, len(w) - 1), "
        "i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]"
        " || ' ' || w[CAST(i AS INT) + 2]))"
    )
    return f"""
        WITH aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {LEAK_CLONE_OFFSET}, text
            FROM documents WHERE doc_id < {LEAK_CLONES}
        ),
        sp AS (
            SELECT doc_id,
                   CASE WHEN {h32_sql("CAST(doc_id AS VARCHAR)", SPLIT_SALT)}
                            % 100 < {TRAIN_PCT}
                        THEN 'train' ELSE 'val' END AS split
            FROM aug
        ),
        words AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM aug
        ),
        t AS (SELECT doc_id, {shingle} AS toks FROM words),
        sigs AS (
            SELECT doc_id, {sig_cols}
            FROM (SELECT doc_id, unnest(toks) AS tok FROM t) GROUP BY doc_id
        ),
        bands0 AS ({_lsh_band_arms_sql('sigs')}),
        bandsp AS (
            SELECT b.doc_id, b.band_key, s.split
            FROM bands0 b JOIN sp s ON s.doc_id = b.doc_id
        ),
        bands AS ({_capped_bands_sql('bandsp', 'band_key, split', 'doc_id')}),
        cand AS (
            SELECT DISTINCT v.doc_id AS val_id, tr.doc_id AS train_id
            FROM bands v
            JOIN bands tr ON tr.band_key = v.band_key
            WHERE v.split = 'val' AND tr.split = 'train'
        ),
        ver AS (
            SELECT val_id,
                   CAST(count(*) AS BIGINT) AS n_leak_matches,
                   max(j) AS max_jaccard
            FROM (
                SELECT val_id, train_id,
                       round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                             / len(list_distinct(a.toks || b.toks)), 4) AS j
                FROM cand
                JOIN t a ON a.doc_id = val_id
                JOIN t b ON b.doc_id = train_id
            ) WHERE j >= {MINHASH_VERIFY_MIN}
            GROUP BY 1
        )
        SELECT sp.doc_id, sp.split,
               ver.val_id IS NOT NULL AS leak,
               CAST(coalesce(n_leak_matches, 0) AS BIGINT) AS n_leak_matches,
               coalesce(max_jaccard, 0.0) AS max_jaccard,
               CASE WHEN ver.val_id IS NOT NULL THEN 'quarantine'
                    ELSE sp.split END AS final_split
        FROM sp LEFT JOIN ver ON ver.val_id = sp.doc_id
    """


ORACLES["q100_split_leakage_guard"] = _q100_oracle()

# -- q114: cross-document paragraph dedup -------------------------------------
#
# MassiveText/Gopher-style exact paragraph dedup: the corpus-wide
# FIRST occurrence of every paragraph survives (ordered by (doc_id,
# position)); later occurrences are dropped and each document is
# reassembled from its surviving paragraphs. Differs from q107 (which
# dedups lines WITHIN a document) — the seen-set here is global.
#
# Scale shape: posexplode -> ONE hash shuffle on the paragraph value
# (row_number window elects the first occurrence) -> ONE shuffle back
# to doc_id for reassembly. The window group size per paragraph equals
# its corpus frequency — boilerplate paragraphs repeated 10^6 times
# put 10^6 rows in one partition, but row_number needs only a
# streaming pass (no buffering beyond the sort spill), unlike a
# collect_list; an upstream exact-dup pass (q10) removes the
# byte-identical documents that dominate that skew.

_PARA_POOL = 50  # paragraphs are drawn from a 50-slot shared pool


def _para_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, seq, para): each doc carries 3 paragraphs drawn from a
    50-slot pool by pid = (doc_id*3 + seq) % 50, so every paragraph
    recurs in ~30 documents at sf0.01 and first-occurrence election is
    exercised both within and across documents."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    pool = F.transform(
        F.sequence(F.lit(0), F.lit(2)),
        lambda j: F.format_string(
            "pool paragraph %d body tok%d tok%d",
            (F.col("doc_id") * 3 + j) % _PARA_POOL,
            ((F.col("doc_id") * 3 + j) % _PARA_POOL) % 7,
            ((F.col("doc_id") * 3 + j) % _PARA_POOL) % 5,
        ),
    )
    return docs.select("doc_id", F.posexplode(pool).alias("seq", "para"))


def q114_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global first-occurrence paragraph dedup + per-doc reassembly:
    (doc_id, n_paras, n_kept, n_dropped, clean_md5) where clean_md5
    fingerprints the doc's surviving paragraphs joined by blank
    lines."""
    from pyspark.sql import Window

    paras = _para_corpus(spark, sf_dir)
    w = Window.partitionBy("para").orderBy("doc_id", "seq")
    flagged = paras.withColumn("rn", F.row_number().over(w)).withColumn(
        "kept", F.col("rn") == 1
    )
    entries = F.array_sort(
        F.collect_list(F.struct("seq", "kept", "para"))
    )
    clean = F.array_join(
        F.transform(
            F.filter(entries, lambda e: e["kept"]), lambda e: e["para"]
        ),
        "\n\n",
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(F.col("kept").cast("bigint"))).alias(
            "n_dropped"
        ),
        F.md5(F.encode(clean, "utf-8")).alias("clean_md5"),
    )


_Q114_ORACLE = f"""
    WITH d AS (
        SELECT doc_id, j AS seq,
               'pool paragraph ' || CAST((doc_id * 3 + j) % {_PARA_POOL} AS VARCHAR)
               || ' body tok'
               || CAST(((doc_id * 3 + j) % {_PARA_POOL}) % 7 AS VARCHAR)
               || ' tok'
               || CAST(((doc_id * 3 + j) % {_PARA_POOL}) % 5 AS VARCHAR) AS para
        FROM documents, (VALUES (0), (1), (2)) AS g(j)
    ),
    r AS (
        SELECT doc_id, seq, para,
               row_number() OVER (PARTITION BY para ORDER BY doc_id, seq) AS rn
        FROM d
    )
    SELECT doc_id,
        CAST(count(*) AS BIGINT) AS n_paras,
        CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(count(*) - sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dropped,
        md5(coalesce(string_agg(CASE WHEN rn = 1 THEN para END,
                                chr(10) || chr(10) ORDER BY seq), ''))
            AS clean_md5
    FROM r GROUP BY doc_id
"""

ORACLES["q114_paragraph_dedup"] = _Q114_ORACLE


# -- q124: containment pairs (Broder containment, not resemblance) ---------------
# A syndicated article wrapped in site chrome has LOW Jaccard against
# its source (the chrome dilutes the union) but containment
# |S(A) & S(B)| / |S(A)| ~ 1.0 — resemblance-threshold dedup (q34)
# structurally misses wrapper/quote pages, which is why production
# pipelines (Broder 1997 "On the resemblance and containment of
# documents") track both. Wrapper twins are planted closed-form (the
# q90/q100 synthesis pattern): every doc_id % WRAP_MOD == 0 doc gets a
# WRAP_OFFSET twin of fixed site chrome around the intact original.
WRAP_OFFSET = 3_000_000
WRAP_MOD = 5
WRAP_PRE = "home about contact subscribe newsletter follow us on social media"
WRAP_POST = "all rights reserved terms of service privacy policy cookie settings"
CONTAINMENT_MIN = 0.8


def _wrapped_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) of originals plus their planted wrapper twins."""
    wrappers = docs.filter(F.col("doc_id") % WRAP_MOD == 0).select(
        (F.col("doc_id") + WRAP_OFFSET).alias("doc_id"),
        F.concat_ws(" ", F.lit(WRAP_PRE), F.trim("text"), F.lit(WRAP_POST)).alias(
            "text"
        ),
    )
    return docs.select("doc_id", "text").unionByName(wrappers)


def q124_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup over originals + planted wrapper twins:
    candidates from the rare-shingle inverted index (df <= cap — the
    shared chrome shingles exceed the cap and generate nothing, which
    is exactly the selectivity argument for the cap: what's common to
    every wrapper identifies none of them), then exact containment of
    the smaller shingle set in the larger on candidates only. At 100 TB
    this is q14's linear shape — the chrome never fans out; only the
    rare article-body shingles carry pairs. Output keeps Jaccard
    alongside to show the separation: at sf0.01 the planted wrapper
    pairs measure containment ~1.0 with Jaccard 0.29-0.83 — the short
    wrapped articles fall BELOW q34's 0.5 resemblance cut and only the
    containment rule catches them."""
    docs = _wrapped_docs(documents(spark, sf_dir))
    # The shingle string is only ever a GROUPING key here (the pair
    # explode emits ids, never the shingle), so post the 64-bit
    # fingerprint instead: the tok shuffle carries 8 bytes/row instead
    # of a ~25-byte string and the WindowGroupLimit sort compares longs
    # (guide §2.3 "narrower types").
    toks = _shingles(docs).select("doc_id", F.xxhash64("tok").alias("tok"))
    # grouped has two consumers (posting -> pairs, n_ok -> per-doc
    # bound); the checkpoint stops the explode+prelimit subtree
    # being planned (and run) once per consumer — column-pruning
    # differences defeat ReuseExchange here.
    grouped = (
        _df_cap_prelimit(toks)
        .groupBy("tok")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .localCheckpoint(eager=False)
    )
    posting = grouped.filter(
        (F.size("ids") >= 2) & (F.size("ids") <= JACCARD_MAX_DF)
    )
    pair_structs = posting_pair_structs()
    # n_shared_rare rides the same shuffle the old .distinct() paid:
    # per pair, how many cap-respecting shingles it shares.
    cand = (
        posting.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_rare"))
    )
    # Per-doc scalars for a SOUND containment upper bound: sa = |shingle
    # set|, n_ok = the doc's shingles with df <= cap (the same `grouped`
    # exchange, reused), so nc = sa - n_ok = the doc's over-cap shingle
    # count. A shared shingle is either cap-respecting (counted exactly
    # by n_shared_rare; df=1 shingles can never be shared) or over-cap
    # (at most min(nc_a, nc_b) of them), hence
    #   containment <= (n_shared_rare + least(nc_a, nc_b)) / least(sa, sb).
    # Pairs whose upper bound can't reach the CONTAINMENT_MIN cut (with
    # a half-ulp-of-round(4) margin) are dropped BEFORE the exact
    # verify — the guide §3.2 move: the ~10^6-pair explode is decided
    # on integer metadata and only the handful of survivors ever touch
    # a shingle set. Output is identical: the bound is provably >= the
    # true containment, so no row above the cut is ever dropped.
    n_ok = (
        grouped.filter(F.size("ids") <= JACCARD_MAX_DF)
        .select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_ok"))
    )
    # One per-doc fingerprint frame serves the size/bound metadata AND
    # the exact verify; the localCheckpoint (the q37/propagate
    # precedent) materializes the shingle+hash projection once instead
    # of once per consumer. Under AQE its eager=False still runs the
    # upstream shuffle stages when it is called, not at the action.
    doc_fps = docs.select(
        "doc_id",
        F.transform(_shingle_array(), lambda s: F.xxhash64(s)).alias("toks"),
    ).withColumn("sa", F.size("toks")).localCheckpoint(eager=False)
    meta = (
        doc_fps.select("doc_id", "sa")
        .join(n_ok, "doc_id", "left")
        .select(
            "doc_id",
            "sa",
            (F.col("sa") - F.coalesce("n_ok", F.lit(0))).alias("nc"),
        )
        .localCheckpoint(eager=False)  # consumed twice (ma and mb)
    )
    ma = meta.select(
        F.col("doc_id").alias("doc_a"), F.col("sa").alias("saa"),
        F.col("nc").alias("nca"),
    )
    mb = meta.select(
        F.col("doc_id").alias("doc_b"), F.col("sa").alias("sab"),
        F.col("nc").alias("ncb"),
    )
    min_sz = F.least("saa", "sab")
    ub = (F.col("n_shared_rare") + F.least("nca", "ncb")).cast("double")
    survivors = (
        cand.join(ma, "doc_a")
        .join(mb, "doc_b")
        .filter(ub >= (CONTAINMENT_MIN - 1e-4) * min_sz.cast("double"))
        .select("doc_a", "doc_b")
    )
    a = doc_fps.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"))
    b = doc_fps.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"))
    sa, sb = F.size("ta"), F.size("tb")
    inter = F.size(F.array_intersect("ta", "tb"))
    # inner = the smaller shingle set (tie -> doc_a, the lower id)
    a_is_inner = sa <= sb
    containment = F.round(
        inter.cast("double") / F.least(sa, sb).cast("double"), 4
    )
    jac = F.round(inter.cast("double") / (sa + sb - inter).cast("double"), 4)
    return (
        survivors.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.when(a_is_inner, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "doc_inner"
            ),
            F.when(a_is_inner, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
                "doc_outer"
            ),
            containment.alias("containment"),
            jac.alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAINMENT_MIN)
    )


_WRAP_AUG_SQL = f"""
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {WRAP_OFFSET},
                   '{WRAP_PRE} ' || trim(text) || ' {WRAP_POST}'
            FROM documents WHERE doc_id % {WRAP_MOD} = 0
"""

_SHINGLE_LIST_SQL = (
    "list_distinct(list_transform(range(1, len(w) - 1), "
    "i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]"
    " || ' ' || w[CAST(i AS INT) + 2]))"
)

ORACLES["q124_containment_pairs"] = f"""
    WITH aug AS ({_WRAP_AUG_SQL}),
    words AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM aug
    ),
    t AS (SELECT doc_id, {_SHINGLE_LIST_SQL} AS toks FROM words),
    sh AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    posting AS (
        SELECT tok, list_sort(list(doc_id)) AS ids FROM sh GROUP BY tok
        HAVING count(*) BETWEEN 2 AND {JACCARD_MAX_DF}
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM sh x JOIN sh y ON x.tok = y.tok AND x.doc_id < y.doc_id
        WHERE x.tok IN (SELECT tok FROM posting)
    ),
    scored AS (
        SELECT doc_a, doc_b,
               len(a.toks) AS sa, len(b.toks) AS sb,
               len(list_intersect(a.toks, b.toks)) AS i,
               len(list_distinct(a.toks || b.toks)) AS u
        FROM cand JOIN t a ON a.doc_id = doc_a JOIN t b ON b.doc_id = doc_b
    )
    SELECT CASE WHEN sa <= sb THEN doc_a ELSE doc_b END AS doc_inner,
           CASE WHEN sa <= sb THEN doc_b ELSE doc_a END AS doc_outer,
           round(CAST(i AS DOUBLE) / least(sa, sb), 4) AS containment,
           round(CAST(i AS DOUBLE) / u, 4) AS jaccard
    FROM scored
    WHERE round(CAST(i AS DOUBLE) / least(sa, sb), 4) >= {CONTAINMENT_MIN}
"""


# -- q125: measured LSH recall S-curve ---------------------------------------------
# The hot-bucket cap (q34/q19/q100) and the band/row geometry both rest
# on a recall ARGUMENT; this query turns it into a recall MEASUREMENT —
# the standard production eval: plant perturbed twins with known exact
# Jaccard (three perturbation classes spread the pairs across the
# similarity axis), run the identical capped-LSH candidate generation
# over originals + twins, and report per-decile how many planted pairs
# the bands caught. The theoretical S-curve for 4 bands x 4 rows is
# P(caught) = 1 - (1 - s^4)^4; this reports the measured curve under
# the real hash, real shingles, and the live LSH_BUCKET_CAP.
RECALL_OFFSET = 2_000_000


def _recall_twins(docs: DataFrame) -> DataFrame:
    """Perturbed twin per doc, class = doc_id % 3: drop the first word
    (near-identical), drop every 4th word (moderate — most 3-shingles
    die), swap halves (near-identical: only seam shingles change)."""
    d = F.col("doc_id")
    w = F.split(F.trim("text"), r"\s+")
    half = F.floor(F.size(w) / 2).cast("int")
    drop_first = F.concat_ws(" ", F.slice(w, 2, F.size(w) - 1))
    drop_4th = F.concat_ws(
        " ", F.filter(w, lambda x, i: (i + 1) % 4 != 0)
    )
    swap_halves = F.concat_ws(
        " ",
        F.concat(
            F.slice(w, half + 1, F.size(w) - half), F.slice(w, 1, half)
        ),
    )
    return docs.select(
        (d + RECALL_OFFSET).alias("doc_id"),
        F.when(d % 3 == 0, drop_first)
        .when(d % 3 == 1, drop_4th)
        .otherwise(swap_halves)
        .alias("text"),
    )


def q125_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the capped MinHash-LSH candidate stage per
    exact-Jaccard decile. Planted (original, twin) pairs are the ground
    truth — their exact Jaccard is one 1:1 join (linear, never
    all-pairs); candidates come from q34's exact pipeline (signatures
    -> bands -> LSH_BUCKET_CAP -> within-bucket explode) over the
    union. Buckets are integer deciles (floor(jaccard*10)) so the
    grouping key is exact. At 100 TB this runs over a sampled eval
    slice; the shape is unchanged."""
    docs = documents(spark, sf_dir, "doc_id", "text")
    twins = _recall_twins(docs)
    aug = docs.unionByName(twins)
    # ground truth: exact shingle Jaccard per planted pair (1:1 join),
    # over 64-bit shingle fingerprints (engine-internal; q124's move)
    # with |A∪B| = |A|+|B|-|A∩B| replacing the second set pass
    fps = F.transform(_shingle_array(), lambda s: F.xxhash64(s))
    o = docs.select("doc_id", fps.alias("ta"))
    tw = twins.select(
        (F.col("doc_id") - RECALL_OFFSET).alias("doc_id"),
        fps.alias("tb"),
    )
    union_sz = (
        F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb"))
    )
    jac = F.round(
        F.size(F.array_intersect("ta", "tb")).cast("double") / union_sz,
        4,
    )
    truth = (
        o.join(tw, "doc_id")
        .filter(union_sz > 0)
        .select("doc_id", jac.alias("jaccard"))
    )
    # candidates: q34's capped band pipeline over originals + twins
    sigs = _shingle_sigs(aug)
    posting = (
        _cap_bucket(_band_stack(sigs), ["band_key"], "doc_id")
        .groupBy("band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_structs = posting_pair_structs()
    cand = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    planted_cand = cand.filter(
        F.col("doc_b") - F.col("doc_a") == RECALL_OFFSET
    ).select(F.col("doc_a").alias("doc_id"), F.lit(1).alias("caught"))
    return (
        truth.join(planted_cand, "doc_id", "left")
        .groupBy(F.floor(F.col("jaccard") * 10).alias("jaccard_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.coalesce(F.sum("caught"), F.lit(0)).cast("bigint").alias("n_caught"),
        )
        .select(
            "jaccard_decile",
            "n_pairs",
            "n_caught",
            F.round(
                F.col("n_caught").cast("double") / F.col("n_pairs"), 4
            ).alias("recall"),
        )
    )


def _q125_oracle() -> str:
    sig_cols = ", ".join(
        f"min({h32_sql('tok', seed)}) AS mh{i}"
        for i, seed in enumerate(MINHASH_SEEDS)
    )
    return f"""
    WITH w0 AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents
    ),
    twins AS (
        SELECT orig_id + {RECALL_OFFSET} AS doc_id,
               array_to_string(
                   CASE cls
                       WHEN 0 THEN w[2:len(w)]
                       WHEN 1 THEN list_transform(
                           list_filter(range(1, len(w) + 1),
                                       i -> (i % 4) != 0),
                           i -> w[CAST(i AS INT)])
                       ELSE w[(len(w) // 2 + 1):len(w)] || w[1:(len(w) // 2)]
                   END, ' ') AS text
        FROM (SELECT doc_id AS orig_id, doc_id % 3 AS cls, w FROM w0)
    ),
    aug AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM twins
    ),
    words AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM aug
    ),
    t AS (SELECT doc_id, {_SHINGLE_LIST_SQL} AS toks FROM words),
    truth AS (
        SELECT a.doc_id,
               round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                     / len(list_distinct(a.toks || b.toks)), 4) AS jaccard
        FROM t a JOIN t b ON b.doc_id = a.doc_id + {RECALL_OFFSET}
        WHERE len(list_distinct(a.toks || b.toks)) > 0
    ),
    sh AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
    bands0 AS ({_lsh_band_arms_sql()}),
    bands AS ({_capped_bands_sql('bands0', 'band_key', 'doc_id')}),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bands x JOIN bands y
          ON x.band_key = y.band_key AND x.doc_id < y.doc_id
    ),
    caught AS (
        SELECT doc_a AS doc_id, 1 AS caught FROM cand
        WHERE doc_b - doc_a = {RECALL_OFFSET}
    )
    SELECT CAST(floor(jaccard * 10) AS BIGINT) AS jaccard_decile,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(coalesce(sum(caught), 0) AS BIGINT) AS n_caught,
           round(CAST(coalesce(sum(caught), 0) AS DOUBLE) / count(*), 4)
               AS recall
    FROM truth LEFT JOIN caught USING (doc_id)
    GROUP BY 1
"""


ORACLES["q125_lsh_recall"] = _q125_oracle()

# -- q158: SimHash near-dup pairs (Manku/Google banding) ---------------------------
#
# The third dedup geometry beside shingle-Jaccard (q34) and embedding
# cosine (q19): SimHash packs a document into one integer whose
# Hamming distance tracks similarity. Pairing follows the Manku et al.
# WWW'07 design: split the hash into SIMHASH_PAIR_BANDS bit bands — by
# pigeonhole, two hashes within Hamming <= bands-1 agree EXACTLY on at
# least one band — generate candidates from band equality (hot buckets
# capped like every LSH posting list in this module), verify with the
# exact popcount(xor). Here the q17 hash is 16-bit / 4-bit bands (the
# sandbox dialect); production is the same plan at 64-bit / 16-bit
# bands, where band keys are selective instead of 16-valued.
SIMHASH_PAIR_BANDS = 4
SIMHASH_BAND_BITS = 4  # SIMHASH_BITS // SIMHASH_PAIR_BANDS
SIMHASH_MAX_HAM = 3  # <= bands - 1: banding provably catches all pairs


def q158_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, hamming) for every pair within SIMHASH_MAX_HAM,
    candidates bounded by capped band buckets, never an all-pairs
    join."""
    sh = q17_simhash(spark, sf_dir)
    nibble = lambda b: (  # noqa: E731
        F.shiftrightunsigned(F.col("simhash"), SIMHASH_BAND_BITS * b)
        % (1 << SIMHASH_BAND_BITS)
    )
    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    (F.lit(b * (1 << SIMHASH_BAND_BITS)) + nibble(b)).cast("bigint")
                    for b in range(SIMHASH_PAIR_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    posting = (
        _cap_bucket(bands, ["band_key"], "doc_id")
        .groupBy("band_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_structs = posting_pair_structs()
    cand = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("bigint")
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= SIMHASH_MAX_HAM)
    )


def _q158_oracle() -> str:
    return f"""
        WITH sh AS ({_simhash_oracle()}),
        bands0 AS (
            SELECT doc_id,
                   CAST(b * {1 << SIMHASH_BAND_BITS}
                        + (simhash // (1 << (CAST(b AS INT) * {SIMHASH_BAND_BITS})))
                          % {1 << SIMHASH_BAND_BITS} AS BIGINT) AS band_key
            FROM sh, LATERAL unnest(range({SIMHASH_PAIR_BANDS})) AS t(b)
        ),
        bands AS ({_capped_bands_sql('bands0', 'band_key', 'doc_id')}),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y
              ON x.band_key = y.band_key AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM cand
        JOIN sh a ON a.doc_id = doc_a
        JOIN sh b ON b.doc_id = doc_b
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAM}
    """


# -- q156: LSH candidate-precision audit ------------------------------------------
#
# q125 measures the candidate stage's RECALL (planted twins); this is
# the PRECISION side — of the pairs the capped bands surface, how many
# survive the exact verify, binned by true Jaccard decile. Together
# they are the full operating-point picture for the band/cap knobs.
# Shapes: q34's exact pipeline unfiltered, then one decile groupBy and
# windows over the <=10-row decile table.
def q156_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per true-Jaccard decile of the candidate pairs: pair count,
    whether the decile survives the MINHASH_VERIFY_MIN cut, the decile's
    share of all candidates, and the overall stage precision (confirmed
    / candidates, basis points — identical on every row)."""
    from pyspark.sql import Window

    docs = documents(spark, sf_dir, "doc_id", "text")
    aug = docs.unionByName(_recall_twins(docs))
    scored = _scored_lsh_candidates(aug)
    decile = F.least(F.floor(F.col("jaccard") * 10), F.lit(9)).cast("bigint")
    hist = scored.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(F.col("jaccard") >= MINHASH_VERIFY_MIN, 1).otherwise(0)
        ).alias("n_confirmed"),
    )
    w_all = Window.partitionBy()
    staged = hist.select(
        "decile",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("n_confirmed").cast("bigint").alias("n_confirmed"),
        F.sum("n_pairs").over(w_all).cast("bigint").alias("total_pairs"),
        F.sum("n_confirmed").over(w_all).cast("bigint").alias("total_confirmed"),
    )
    return staged.select(
        "decile",
        "n_pairs",
        "n_confirmed",
        F.expr("(n_pairs * 10000) div total_pairs").alias("share_bp"),
        F.expr("(total_confirmed * 10000) div total_pairs").alias(
            "stage_precision_bp"
        ),
    )


def _q156_oracle() -> str:
    return f"""
        WITH w0 AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM documents
        ),
        twins AS (
            SELECT orig_id + {RECALL_OFFSET} AS doc_id,
                   array_to_string(
                       CASE cls
                           WHEN 0 THEN w[2:len(w)]
                           WHEN 1 THEN list_transform(
                               list_filter(range(1, len(w) + 1),
                                           i -> (i % 4) != 0),
                               i -> w[CAST(i AS INT)])
                           ELSE w[(len(w) // 2 + 1):len(w)] || w[1:(len(w) // 2)]
                       END, ' ') AS text
            FROM (SELECT doc_id AS orig_id, doc_id % 3 AS cls, w FROM w0)
        ),
        aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL SELECT doc_id, text FROM twins
        ),
        words AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
            FROM aug
        ),
        t AS (
            SELECT doc_id, list_distinct(list_transform(
                range(1, len(w) - 1),
                i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                     || ' ' || w[CAST(i AS INT) + 2]
            )) AS toks
            FROM words
        ),
        sh AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        sigs AS (
            SELECT doc_id, {", ".join(
                f"min({h32_sql('tok', seed)}) AS mh{i}"
                for i, seed in enumerate(MINHASH_SEEDS))}
            FROM sh GROUP BY doc_id
        ),
        bands0 AS (
            {_lsh_band_arms_sql()}
        ),
        bands AS ({_capped_bands_sql('bands0', 'band_key', 'doc_id')}),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
            FROM bands x JOIN bands y
              ON x.band_key = y.band_key AND x.doc_id < y.doc_id
        ),
        scored AS (
            SELECT round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                         / len(list_distinct(a.toks || b.toks)), 4) AS jaccard
            FROM cand
            JOIN t a ON a.doc_id = doc_a
            JOIN t b ON b.doc_id = doc_b
        ),
        hist AS (
            SELECT CAST(least(floor(jaccard * 10), 9) AS BIGINT) AS decile,
                   CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(sum(CASE WHEN jaccard >= {MINHASH_VERIFY_MIN} THEN 1
                                 ELSE 0 END) AS BIGINT) AS n_confirmed
            FROM scored GROUP BY 1
        ),
        staged AS (
            SELECT decile, n_pairs, n_confirmed,
                   CAST(sum(n_pairs) OVER () AS BIGINT) AS total_pairs,
                   CAST(sum(n_confirmed) OVER () AS BIGINT) AS total_confirmed
            FROM hist
        )
        SELECT decile, n_pairs, n_confirmed,
               CAST((n_pairs * 10000) // total_pairs AS BIGINT) AS share_bp,
               CAST((total_confirmed * 10000) // total_pairs AS BIGINT)
                   AS stage_precision_bp
        FROM staged
    """


# -- q154: dedup-cluster size distribution ---------------------------------------
#
# The report that tells you whether dedup is WORTH it: how many
# duplicate clusters exist at each size, and what share of the corpus
# the big clusters hold (web dedup famously follows a power law — a
# handful of giant boilerplate clusters carry a disproportionate doc
# share). Consumes q37's component labels; two tiny aggs (cluster ->
# size, size -> count) and windows over the size-histogram table only.
def q154_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per cluster size: number of clusters, docs held, and the
    cumulative corpus share (basis points) of clusters AT LEAST this
    large — the '1% of clusters hold X% of docs' curve."""
    from pyspark.sql import Window

    labels = q37_dedup_components(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("csize"))
    hist = sizes.groupBy("csize").agg(F.count(F.lit(1)).alias("n_clusters"))
    w_cum = Window.orderBy(F.col("csize").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    staged = hist.select(
        F.col("csize").cast("bigint").alias("cluster_size"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        (F.col("csize") * F.col("n_clusters")).cast("bigint").alias("n_docs"),
        F.sum(F.col("csize") * F.col("n_clusters"))
        .over(w_cum)
        .cast("bigint")
        .alias("cum_docs"),
        F.sum(F.col("csize") * F.col("n_clusters"))
        .over(w_all)
        .cast("bigint")
        .alias("total_docs"),
    )
    return staged.select(
        "cluster_size",
        "n_clusters",
        "n_docs",
        "cum_docs",
        F.expr("(cum_docs * 10000) div total_docs").alias("coverage_bp"),
    )


def _q154_oracle() -> str:
    return f"""
        WITH sizes AS (
            SELECT cluster_id, count(*) AS csize
            FROM ({ORACLES["q37_dedup_components"]}) labels
            GROUP BY 1
        ),
        hist AS (SELECT csize, count(*) AS n_clusters FROM sizes GROUP BY 1),
        staged AS (
            SELECT CAST(csize AS BIGINT) AS cluster_size,
                   CAST(n_clusters AS BIGINT) AS n_clusters,
                   CAST(csize * n_clusters AS BIGINT) AS n_docs,
                   CAST(sum(csize * n_clusters) OVER (ORDER BY csize DESC)
                        AS BIGINT) AS cum_docs,
                   CAST(sum(csize * n_clusters) OVER () AS BIGINT) AS total_docs
            FROM hist
        )
        SELECT cluster_size, n_clusters, n_docs, cum_docs,
               CAST((cum_docs * 10000) // total_docs AS BIGINT) AS coverage_bp
        FROM staged
    """


QUERIES = {
    "q10_dedup_exact": q10_dedup_exact,
    "q154_cluster_sizes": q154_cluster_sizes,
    "q156_lsh_precision": q156_lsh_precision,
    "q158_simhash_neardup": q158_simhash_neardup,
    "q14_jaccard_pairs": q14_jaccard_pairs,
    "q15_minhash_signatures": q15_minhash_signatures,
    "q16_lsh_buckets": q16_lsh_buckets,
    "q17_simhash": q17_simhash,
    "q34_minhash_neardup_pairs": q34_minhash_neardup_pairs,
    "q37_dedup_components": q37_dedup_components,
    "q38_dedup_canonical": q38_dedup_canonical,
    "q79_span_dedup": q79_span_dedup,
    "q90_incremental_neardup": q90_incremental_neardup,
    "q100_split_leakage_guard": q100_split_leakage_guard,
    "q114_paragraph_dedup": q114_paragraph_dedup,
    "q124_containment_pairs": q124_containment_pairs,
    "q125_lsh_recall": q125_lsh_recall,
}

ORACLES["q154_cluster_sizes"] = _q154_oracle()
ORACLES["q156_lsh_precision"] = _q156_oracle()
ORACLES["q158_simhash_neardup"] = _q158_oracle()
