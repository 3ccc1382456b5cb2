"""Similarity search over the embeddings table.

- ``q20_cosine_topk`` — brute-force cosine top-k against a query
  vector (the baseline; DuckDB-oracled). The query vector is the
  embedding of vec_id 0, broadcast to every partition; the top-k is a
  global ``orderBy().limit(k)`` so Spark plans TakeOrderedAndProject
  (per-partition heap + driver merge) instead of a single-partition
  window sort over all scored rows.
- ``q21_lsh_ann_buckets`` — banded sign-random-projection LSH
  buckets (the ANN index). Hyperplane component (p, dim) is a
  deterministic pseudo-random value in [-1, 1) derived from md5, so
  there is no stored model and the DuckDB oracle reproduces every
  bucket bit-for-bit.
- ``q19_embedding_neardup_pairs`` — embedding near-dup pairs at
  scale: candidates are generated WITHIN the LSH buckets (posting-list
  pair explode, never an all-pairs self-join) and only candidates are
  scored. Recall vs brute force is a tunable of (bands, rows): with
  8 bands x 4 planes and a genuinely-random corpus at cos >= 0.45 it
  is ~0.8; on real near-dup corpora (cos >= 0.9, p_agree ~ 0.86) the
  same shape reaches ~0.99+ while pruning quadratically more. The
  brute-force scorer is kept as :func:`embedding_neardup_bruteforce`
  for small-n verification only (tests assert the LSH output is a
  subset of it and measure recall).

- ``q24_ivf_cells`` / ``q25_ivf_topk`` — the IVF (inverted-file)
  alternative to LSH: every vector is assigned to its nearest of
  ``IVF_CELLS`` deterministic centroids (argmax cosine, a pure
  JVM fold per cell — map-side only, no shuffle for the assign), and
  a top-k search probes only the ``IVF_NPROBE`` cells nearest the
  query — scanning nprobe/ncells of the corpus instead of all of it.
  Centroids here are md5-derived pseudo-random literals so the DuckDB
  oracle reproduces the assignment bit-for-bit; at 100 TB they would
  come from a sampled k-means fit on the driver and ship as literals
  exactly the same way (the plan shape does not change).

At 100 TB: q20 is broadcast-join + per-row fold + TakeOrdered (no
shuffle); q19/q21 shuffle on (band, bucket_key) — bounded groups —
then one join back to vectors for candidate scoring; q24 is one
map-side assign + a 16-group agg; q25 prunes the scan to the probed
cells (a broadcast equi-join on cell carries the query vector — no
nested-loop join) and ends in TakeOrderedAndProject.

- ``q55_kmeans_clusters`` — k-means with unrolled Lloyd iterations in
  quantized integer space: assignment is a join-free projection
  against centroid literals, the mean update a distributed two-phase
  agg collecting only K x DIM rows; bit-exact vs the CTE-unrolled
  DuckDB oracle.

- ``q85_semdedup`` — SemDeDup (Abbas et al. 2023, arXiv:2303.09540)
  semantic dedup for pretraining corpora: cluster the embeddings,
  then prune near-duplicates WITHIN each cluster only — the
  clustering bounds candidate generation exactly the way LSH bands
  bound q19's. Cells come from the deterministic IVF assign (a pure
  map-side projection); the within-cell pair scorer is an equi join
  on ``cell``, never an all-pairs self-join. A vector is dropped iff
  a lower-vec_id vector in its cell has (rounded) cosine >= the
  threshold; the keeper is the smallest such vec_id, so the decision
  is closed-form and the DuckDB oracle replays it exactly. At 100 TB
  the cluster count scales with n (SemDeDup uses ~100k clusters for
  LAION-scale corpora) keeping per-cell populations bounded, and the
  assigned table is persisted instead of recomputed per join side —
  the plan shape (assign -> equi-join on cell -> per-vector min-agg)
  is unchanged.
"""

from __future__ import annotations

import hashlib
import json
import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_service_spark.operators.dedup import (
    LSH_BUCKET_CAP,
    _cap_bucket,
    posting_pair_structs,
)
from ocr_service_spark.plans.parallelism import fan_out
from ocr_service_spark.sources.tables import read_table

TOPK = 10
QUERY_VEC_ID = 0

EMB_DIM = 64
LSH_BANDS = 8
LSH_ROWS = 4  # planes per band; planes are indexed band*LSH_ROWS + j
NEARDUP_MIN_COS = 0.45  # corpus has no true dups; keeps output non-trivial


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


# -- deterministic hyperplanes ------------------------------------------------
def _plane_weight(p: int, i: int) -> float:
    """Hyperplane component (plane p, dim i) in [-1, 1): the md5-derived
    32-bit hash (identical to functions.hashing.h32) scaled. Computed
    driver-side once and shipped as a literal array — the per-row work
    is then a pure JVM fold, no hashing in the hot path."""
    h = int(hashlib.md5(f"plane{p}|{i}".encode()).hexdigest()[:8], 16)
    return h / 2147483648.0 - 1.0


def _matrix_expr(rows: list[list[float]]):
    """One array<array<double>> constant with a TINY expression tree:
    from_json over a single string literal (3 nodes), which the
    optimizer constant-folds into one Literal before execution.
    Building it element-wise from F.lit / parsed array(...) trees puts
    2048 nodes in the plan; every analyzer pass then re-walks them at
    each of the 32 reference sites (~4 s of driver latency per query
    build). json.dumps emits repr-precision digits and Jackson's
    double parse is correctly rounded, so every value round-trips
    bit-exactly."""
    return F.from_json(F.lit(json.dumps(rows)), "array<array<double>>")


def _round_half_up(x: float, digits: int) -> float:
    """Spark's F.round dialect for doubles, exactly: round the SHORTEST
    round-trip decimal representation (Java Double.toString == Python
    repr — both shortest) HALF_UP at ``digits``, back to the nearest
    double."""
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _exact_dots_batch(mat, weights):
    """dot(vec, w) for every row of ``mat`` with the SAME IEEE result
    as the Catalyst fold ((0.0 + v0*w0) + v1*w1) + ...: one vectorized
    elementwise multiply-add per dimension, ascending — numpy fuses
    nothing across iterations, so the per-element addition order is
    identical to F.aggregate's and the doubles come out bit-equal."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype=np.float64)
    for i in range(mat.shape[1]):
        acc = acc + mat[:, i] * weights[i]
    return acc


def _band_keys_udf():
    """array<bigint> of the LSH_BANDS bucket keys per vector, computed
    in one Arrow batch (guide §4.2). The former per-row Catalyst shape
    evaluated LSH_BANDS x LSH_ROWS interpreted F.aggregate folds
    (higher-order functions don't codegen): 2048 lambda dispatches per
    vector; this is 2048 vectorized numpy ops per BATCH, bit-identical
    (see _exact_dots_batch)."""
    import numpy as np
    import pandas as pd

    # ship the planes as ONE numpy buffer: a nested Python list of
    # 2048 floats in the UDF closure costs each TASK a ~0.3 s unpickle
    # (measured 12+ CPU-seconds per 32-task stage); a numpy array
    # deserializes as a memcpy. Values are the identical doubles, so
    # the per-element IEEE arithmetic is unchanged.
    planes = np.array(
        [
            [_plane_weight(p, i) for i in range(EMB_DIM)]
            for p in range(LSH_BANDS * LSH_ROWS)
        ],
        dtype=np.float64,
    )

    @F.pandas_udf("array<bigint>")
    def band_keys(vecs: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.array(vecs.tolist(), dtype=np.float64)
        if mat.size == 0:
            return pd.Series([], dtype=object)
        keys = np.zeros((mat.shape[0], LSH_BANDS), dtype=np.int64)
        for b in range(LSH_BANDS):
            for j in range(LSH_ROWS):
                dots = _exact_dots_batch(mat, planes[b * LSH_ROWS + j])
                keys[:, b] += np.where(dots >= 0, 1 << j, 0)
        return pd.Series(list(keys))

    return band_keys


def _with_band_keys(emb: DataFrame) -> DataFrame:
    vec = F.col("embedding").cast("array<double>")
    cols = [F.col(c) for c in emb.columns]
    keyed = emb.select(*cols, _band_keys_udf()(vec).alias("_keys"))
    return keyed.select(
        *cols,
        *[
            # cast restores the former Catalyst expression's int type
            # (bucket_key dtype is part of the pinned output schema)
            F.element_at(F.col("_keys"), b + 1).cast("int").alias(f"k{b}")
            for b in range(LSH_BANDS)
        ],
    )


def _stacked_keys(emb: DataFrame) -> DataFrame:
    """(vec_id, label?, band, bucket_key) — one row per vector per band."""
    keyed = _with_band_keys(emb)
    pairs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"k{b}").alias("bucket_key"))
            for b in range(LSH_BANDS)
        ]
    )
    keep = [c for c in ("vec_id", "label") if c in emb.columns]
    return keyed.select(*keep, F.explode(pairs).alias("bk")).select(
        *keep, F.col("bk.band").alias("band"), F.col("bk.bucket_key").alias("bucket_key")
    )


# -- q20: brute-force cosine top-k --------------------------------------------
def q20_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).withColumn(
        "vec", F.col("embedding").cast("array<double>")
    )
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("vec").alias("qvec"))
    joined = emb.filter(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(query))
    cos = _dot(F.col("vec"), F.col("qvec")) / (
        F.sqrt(_dot(F.col("vec"), F.col("vec"))) * F.sqrt(_dot(F.col("qvec"), F.col("qvec")))
    )
    scored = joined.select("vec_id", "label", F.round(cos, 6).alias("cosine"))
    # TakeOrderedAndProject (per-partition top-k heap + driver merge),
    # NOT a global single-partition window over all scored rows; the
    # window below ranks only the k surviving rows.
    top = scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOPK)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# -- q21: LSH bucket index ------------------------------------------------------
def q21_lsh_ann_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded SRP-LSH bucket stats: one row per (band, bucket_key)."""
    stacked = _stacked_keys(fan_out(read_table(spark, sf_dir, "embeddings")))
    return stacked.groupBy("band", "bucket_key").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
        F.min("vec_id").alias("min_vec_id"),
    )


# -- q19: bucketed near-dup pairs ------------------------------------------------
def q19_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH candidates: vectors
    sharing any band bucket are candidates (posting-list pair explode,
    same shape as dedup.q14 — never an n^2 self-join); only candidates
    are scored, and the filter applies to the ROUNDED cosine so both
    engines cut on identical values. Each (band, bucket) posting list
    is hot-capped to its LSH_BUCKET_CAP lowest vec_ids before the pair
    explode (map-side WindowGroupLimit): at web scale millions of
    near-identical embeddings (boilerplate pages) land in one bucket,
    and an uncapped bucket is a single-task quadratic explode — see
    dedup._cap_bucket for the recall argument."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    stacked = _stacked_keys(emb.select("vec_id", F.col("vec").alias("embedding")))
    posting = (
        _cap_bucket(stacked, ["band", "bucket_key"], "vec_id")
        .groupBy("band", "bucket_key")
        .agg(F.array_sort(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_structs = posting_pair_structs(a_name="vec_a", b_name="vec_b")
    cand = (
        posting.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.vec_a").alias("vec_a"), F.col("p.vec_b").alias("vec_b"))
        .distinct()
    )
    # norms are per-VECTOR, not per-pair: precompute once on each join
    # side (same IEEE ops as the oracle's sqrt(dot(e,e)), evaluated once
    # instead of per candidate — ~3x less fold work in the scorer)
    normed = emb.select(
        "vec_id", "vec", F.sqrt(_dot(F.col("vec"), F.col("vec"))).alias("norm")
    )
    a = normed.select(
        F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"), F.col("norm").alias("na")
    )
    b = normed.select(
        F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"), F.col("norm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        cand.join(a, "vec_a")
        .join(b, "vec_b")
        .select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_MIN_COS)
        .select("vec_a", "vec_b", "cosine")
    )


# -- q24/q25: IVF cells + pruned top-k search ----------------------------------
IVF_CELLS = 16
IVF_NPROBE = 4


def _centroid_weight(c: int, i: int) -> float:
    """Centroid component (cell c, dim i) in [-1, 1), md5-derived like
    the LSH hyperplanes — deterministic, reproducible in SQL."""
    h = int(hashlib.md5(f"cell{c}|{i}".encode()).hexdigest()[:8], 16)
    return h / 2147483648.0 - 1.0


def _centroid_norm(c: int) -> float:
    """L2 norm of centroid c, computed ONCE driver-side with the same
    sequential order both engines would use, then shipped as the same
    literal to Spark and the DuckDB oracle (no cross-engine sqrt)."""
    acc = 0.0
    for i in range(EMB_DIM):
        w = _centroid_weight(c, i)
        acc += w * w
    return math.sqrt(acc)


def _cell_scores(vec):
    """array<double> of cosine-proportional scores vs every centroid:
    dot(vec, centroid_c) / ||centroid_c|| (||vec|| is constant across
    cells so it cannot change the argmax). Centroids ship as one
    matrix literal (see _matrix_expr)."""
    cents = _matrix_expr(
        [[_centroid_weight(c, i) for i in range(EMB_DIM)] for c in range(IVF_CELLS)]
    )
    return F.array(
        *[
            (_dot(vec, F.element_at(cents, c + 1)) / F.lit(_centroid_norm(c)))
            for c in range(IVF_CELLS)
        ]
    )


def _cell_scores_udf():
    """array<double> of the IVF_CELLS centroid scores per vector in one
    Arrow batch — the vectorized twin of :func:`_cell_scores` (the
    Catalyst form evaluated IVF_CELLS interpreted folds per row);
    bit-identical via _exact_dots_batch + a literal-float divide."""
    import numpy as np
    import pandas as pd

    # numpy buffers in the closure for the same per-task unpickle
    # reason as the SRP planes (identical doubles, identical IEEE ops)
    cents = [
        (
            np.array([_centroid_weight(c, i) for i in range(EMB_DIM)],
                     dtype=np.float64),
            _centroid_norm(c),
        )
        for c in range(IVF_CELLS)
    ]

    @F.pandas_udf("array<double>")
    def cell_scores(vecs: pd.Series) -> pd.Series:
        import numpy as np

        mat = np.array(vecs.tolist(), dtype=np.float64)
        if mat.size == 0:
            return pd.Series([], dtype=object)
        out = np.empty((mat.shape[0], IVF_CELLS), dtype=np.float64)
        for c, (w, norm) in enumerate(cents):
            out[:, c] = _exact_dots_batch(mat, w) / norm
        return pd.Series(list(out))

    return cell_scores


def _with_cell(emb: DataFrame) -> DataFrame:
    """Assign each vector to its best cell (1-based; first-max wins on
    ties in both engines: array_position / list_position)."""
    scored = emb.withColumn("scores", _cell_scores_udf()(F.col("vec")))
    return scored.withColumn(
        "cell", F.array_position(F.col("scores"), F.array_max(F.col("scores"))).cast("bigint")
    )


def q24_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell stats: one row per centroid cell. The assign is pure
    map-side (IVF_CELLS folds per row); the agg groups into at most
    IVF_CELLS rows — partial-agg combines do nearly all of it."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    return (
        _with_cell(emb)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


def q25_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-pruned cosine top-k: exact scoring restricted to the
    IVF_NPROBE cells nearest the query vector. The probe set is a
    <=IVF_NPROBE-row DataFrame carrying the query vector, so the prune
    is a broadcast EQUI join on cell (never a nested-loop join) and
    the final top-k is orderBy().limit() = TakeOrderedAndProject."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    assigned = _with_cell(emb)
    # query row -> its IVF_NPROBE best cells, ranked by (score desc, cell asc)
    ranked = F.transform(
        F.col("scores"),
        lambda s, i: F.struct((-s).alias("neg_score"), (i + 1).cast("bigint").alias("cell")),
    )
    probe = (
        assigned.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.col("vec").alias("qvec"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(ranked), 1, IVF_NPROBE), lambda x: x["cell"]
                )
            ).alias("cell"),
        )
    )
    cand = assigned.filter(F.col("vec_id") != QUERY_VEC_ID).join(F.broadcast(probe), "cell")
    cos = _dot(F.col("vec"), F.col("qvec")) / (
        F.sqrt(_dot(F.col("vec"), F.col("vec"))) * F.sqrt(_dot(F.col("qvec"), F.col("qvec")))
    )
    scored = cand.select("vec_id", "label", "cell", F.round(cos, 6).alias("cosine"))
    top = scored.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(TOPK)
    w = Window.orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# -- q46: binary embeddings + Hamming top-k -------------------------------------
HAMMING_WORDS = 2  # 64 dims -> two 32-bit sign words (bigint-safe, no overflow)


def _sign_word(vec, word: int):
    """Pack 32 sign bits (dims word*32 .. word*32+31) MSB-first into a
    bigint via an acc*2 fold — integer-exact, 2^32 max, no ANSI
    overflow risk (a single 64-bit word would put dim 0 in the sign
    bit)."""
    half = F.slice(vec, word * 32 + 1, 32)
    return F.aggregate(
        half,
        F.lit(0).cast("bigint"),
        lambda acc, x: acc * 2 + F.when(x >= 0, F.lit(1)).otherwise(F.lit(0)),
    )


def q46_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding similarity search: 64-dim float vectors
    compress 32x into sign bitmaps; distance = popcount(xor) — pure
    integer ops, so the oracle is exact. At 100 TB this is the
    first-stage filter before exact re-ranking: the packed table is
    16 bytes/vector and the scan is SIMD-friendly bit math, with the
    final top-k planned as TakeOrderedAndProject."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("vec")
    )
    packed = emb.select(
        "vec_id",
        "label",
        *[_sign_word(F.col("vec"), w).alias(f"w{w}") for w in range(HAMMING_WORDS)],
    )
    query = packed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        *[F.col(f"w{w}").alias(f"q{w}") for w in range(HAMMING_WORDS)]
    )
    cand = packed.filter(F.col("vec_id") != QUERY_VEC_ID)
    hamming = None
    for w in range(HAMMING_WORDS):
        term = F.bit_count(F.col(f"w{w}").bitwiseXOR(F.col(f"q{w}")))
        hamming = term if hamming is None else hamming + term
    # 1-row query broadcast: the nested-loop join IS the intended plan
    scored = cand.crossJoin(F.broadcast(query)).select(
        "vec_id", "label", hamming.cast("bigint").alias("hamming")
    )
    top = scored.orderBy(F.col("hamming").asc(), F.col("vec_id")).limit(TOPK)
    w = Window.orderBy(F.col("hamming").asc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


# -- q85: SemDeDup (within-cluster semantic dedup) -------------------------------
SEMDEDUP_MIN_COS = 0.35  # corpus has no true dups; keeps output non-trivial


def q85_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: drop every vector that has a lower-vec_id neighbour
    with cosine >= SEMDEDUP_MIN_COS inside its IVF cell; report the
    dropped vector, its cell, the keeper (smallest qualifying vec_id)
    and the cosine to that keeper. Pairs are generated by an equi
    join on ``cell`` (bounded groups — the SemDeDup trick), the
    filter applies to the ROUNDED cosine so both engines cut on
    identical values, and the keeper election is one min-struct agg."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    assigned = _with_cell(emb).select("vec_id", "vec", "cell")

    # Per-cell pair scoring in ONE Arrow group stage (guide §4.2): the
    # round-5 equi-join shape recomputed the assign subtree per join
    # side and then evaluated an interpreted 64-dim fold per pair
    # (~126k pairs at sf0.1); here each cell's pair matrix accumulates
    # as EMB_DIM vectorized outer-product adds in ascending dim order —
    # the same IEEE addition order as the Catalyst fold, so every
    # cosine is bit-identical (see _exact_dots_batch). The shuffle is
    # one hash exchange on cell (bounded groups — the SemDeDup trick);
    # the n_cell x n_cell score matrix is bounded by the same argument.
    def per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        order = np.argsort(pdf["vec_id"].to_numpy(), kind="stable")
        ids = pdf["vec_id"].to_numpy()[order]
        mat = np.array(pdf["vec"].iloc[order].tolist(), dtype=np.float64)
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "cell": [], "keeper": [], "keeper_cosine": []}
            )
        acc = np.zeros((n, n), dtype=np.float64)
        for i in range(mat.shape[1]):
            col = mat[:, i]
            acc = acc + np.outer(col, col)
        norm = np.sqrt(np.diagonal(acc))
        cos = acc / np.outer(norm, norm)
        cell = int(pdf["cell"].iloc[0])
        out = []
        for bpos in range(1, n):
            # keeper = smallest vec_a < vec_b whose ROUNDED cosine
            # clears the cut; exact HALF_UP rounding (Spark's F.round
            # dialect: shortest-repr decimal, HALF_UP) is applied only
            # inside the safe margin around the threshold
            for apos in range(bpos):
                c = cos[apos, bpos]
                if c < SEMDEDUP_MIN_COS - 1e-6:
                    continue
                r = _round_half_up(c, 6)
                if r >= SEMDEDUP_MIN_COS:
                    out.append((int(ids[bpos]), cell, int(ids[apos]), r))
                    break
        return pd.DataFrame(
            out, columns=["vec_id", "cell", "keeper", "keeper_cosine"]
        )

    return assigned.groupBy("cell").applyInPandas(
        per_cell, "vec_id bigint, cell bigint, keeper bigint, keeper_cosine double"
    )


def embedding_neardup_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs scorer — small-n VERIFICATION BASELINE ONLY (O(n^2);
    tests use it to measure q19's LSH recall). Never the scale path."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    )
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    pairs = a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
    cos = _dot(F.col("va"), F.col("vb")) / (
        F.sqrt(_dot(F.col("va"), F.col("va"))) * F.sqrt(_dot(F.col("vb"), F.col("vb")))
    )
    return (
        pairs.select("vec_a", "vec_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= NEARDUP_MIN_COS)
    )


# -- q55: k-means (2 unrolled Lloyd iterations, integer-exact) -------------------
KM_K = 8  # clusters; init = the KM_K smallest vec_ids
KM_SCALE = 1000  # embedding -> integer code scale
KM_ITERS = 2  # fixed unrolled iterations (deterministic, oracle-able)


def _km_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectors as integer codes (round(x*KM_SCALE)): every distance and
    every comparison downstream is integer arithmetic, so assignment is
    bit-stable across engines — no float-sum ordering hazards."""
    emb = fan_out(read_table(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * KM_SCALE).cast("bigint")
        ).alias("c"),
    )


def _km_assign(codes: DataFrame, cent: list[list[int]]) -> DataFrame:
    """Nearest-centroid assignment against centroid LITERALS: a pure
    projection (no join of any kind) — the exact shape MLlib uses,
    where the K centroids live on the driver and ship with the task.
    argmin with cid tie-break = numpy argmin's first-minimum over the
    int64 distance matrix — computed in one Arrow batch instead of K
    interpreted F.aggregate folds per row (higher-order functions never
    codegen; the _pq_assign/q19/q25 lesson, guide §4.2). Integer
    arithmetic throughout, so every assignment is bit-identical."""
    import numpy as np
    import pandas as pd

    c_arr = np.asarray(cent, dtype=np.int64)  # (K, DIM)

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            if n:
                mat = np.array(pdf["c"].tolist(), dtype=np.int64)
                diff = mat[:, None, :] - c_arr[None, :, :]
                dist = np.einsum("nkd,nkd->nk", diff, diff)
                cid = pd.Series(dist.argmin(axis=1).astype(np.int32))
            else:
                cid = pd.Series([], dtype="int32")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "c": pdf["c"], "cid": cid}
            )

    return codes.mapInPandas(gen, "vec_id bigint, c array<bigint>, cid int")


def _km_update(assigned: DataFrame, prev: list[list[int]]) -> list[list[int]]:
    """New centroids: per-component floor(sum/count) — the mean in
    integer space. The aggregation is distributed (posexplode ->
    two-phase groupBy on (cid, pos)); only the K x DIM result lands on
    the driver, the MLlib pattern. Empty clusters keep their previous
    centroid."""
    rows = (
        assigned.select("cid", F.posexplode("c").alias("pos", "comp"))
        .groupBy("cid", "pos")
        .agg(
            F.floor(F.sum("comp").cast("double") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("m")
        )
        .collect()
    )
    new = {r["cid"]: dict() for r in rows}
    for r in rows:
        new[r["cid"]][r["pos"]] = r["m"]
    return [
        [new[cid][p] for p in sorted(new[cid])] if cid in new else prev[cid]
        for cid in range(KM_K)
    ]


def q55_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means over the embeddings, KM_ITERS unrolled Lloyd iterations,
    fully integer-exact so the DuckDB oracle reproduces every
    assignment bit-for-bit (the oracle unrolls the same iterations as
    CTEs). Init = the KM_K smallest vec_ids. Per iteration: one
    projection-only assign (centroid literals, no join) + one
    distributed mean aggregation with a K x DIM driver collect — the
    standard iterative-ML shape on Spark; at 100 TB ``codes`` would be
    persisted across iterations instead of re-scanned."""
    codes = _km_codes(spark, sf_dir)
    cent = [
        [int(v) for v in r["c"]]
        for r in codes.filter(F.col("vec_id") < KM_K).orderBy("vec_id").collect()
    ]
    for _ in range(KM_ITERS - 1):
        cent = _km_update(_km_assign(codes, cent), cent)
    assigned = _km_assign(codes, cent)
    checksum = F.create_map(
        *[
            lit
            for cid, comp in enumerate(cent)
            for lit in (F.lit(cid), F.lit(int(sum(comp))))
        ]
    )
    return (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(
            F.col("cid").cast("bigint").alias("cluster"),
            "n_members",
            F.element_at(checksum, F.col("cid")).cast("bigint").alias("centroid_checksum"),
        )
    )


# -- q91/q92: product quantization (Jegou et al. 2011, "Product
# Quantization for Nearest Neighbor Search") -----------------------------------
# 64-dim vectors split into PQ_M contiguous subspaces; each subspace is
# quantized independently against a PQ_K-entry codebook, so a vector
# stores as PQ_M 4-bit codes (32 bits total — a 16x compression of the
# int-code table). Search is ADC: the query precomputes one PQ_M x PQ_K
# distance table, and every database distance is PQ_M table lookups +
# adds, never a float op. This is the billion-vector scale path (FAISS
# IVF-PQ's compute core); codebooks are trained offline and tiny, so
# they ship as task literals exactly like q55's centroids.
PQ_M = 8  # subspaces
PQ_SUBDIM = EMB_DIM // PQ_M
PQ_K = 16  # codebook entries per subspace (4-bit codes)


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[int]]]:
    """codebooks[m][k] = subvector m of training vector k, in integer
    code space — init = the PQ_K smallest vec_ids (the q55 convention:
    deterministic, oracle-replayable; production would Lloyd-train each
    subspace offline, which changes the literals, not the plan)."""
    rows = (
        _km_codes(spark, sf_dir)
        .filter(F.col("vec_id") < PQ_K)
        .orderBy("vec_id")
        .collect()
    )
    return [
        [[int(v) for v in r["c"][m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]] for r in rows]
        for m in range(PQ_M)
    ]


def _pq_assign(codes: DataFrame, books: list[list[list[int]]]) -> DataFrame:
    """(vec_id, code0..code{M-1}, d0..d{M-1}): per-subspace nearest
    codebook entry (integer L2, tie -> smallest code) and its distance.
    Still a map-only stage, no join, no shuffle — but computed in one
    Arrow batch with vectorized numpy instead of PQ_M x PQ_K
    interpreted F.aggregate folds per row (higher-order functions never
    codegen; the q19/q25 lesson from the SRP/IVF vectorization, guide
    §4.2). Everything is int64 arithmetic, so the codes and distances
    are bit-identical to the Catalyst/DuckDB computation; np.argmin
    returns the FIRST minimum, which IS the smallest-code tie-break."""
    import numpy as np
    import pandas as pd

    cents = [np.asarray(books[m], dtype=np.int64) for m in range(PQ_M)]
    schema = "vec_id bigint, " + ", ".join(
        f"code{m} int, d{m} bigint" for m in range(PQ_M)
    )

    def gen(batches):
        for pdf in batches:
            n = len(pdf)
            out: dict = {"vec_id": pdf["vec_id"].astype("int64")}
            if n:
                mat = np.array(pdf["c"].tolist(), dtype=np.int64)
                rows = np.arange(n)
                for m in range(PQ_M):
                    sub = mat[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                    diff = sub[:, None, :] - cents[m][None, :, :]
                    dist = np.einsum("nkd,nkd->nk", diff, diff)
                    k = dist.argmin(axis=1)
                    out[f"code{m}"] = pd.Series(k.astype(np.int32))
                    out[f"d{m}"] = pd.Series(dist[rows, k].astype(np.int64))
            else:
                for m in range(PQ_M):
                    out[f"code{m}"] = pd.Series([], dtype="int32")
                    out[f"d{m}"] = pd.Series([], dtype="int64")
            yield pd.DataFrame(out)

    return codes.mapInPandas(gen, schema)


def q91_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode: every vector compresses to a packed 32-bit code
    (PQ_M 4-bit subspace codes) plus its integer reconstruction error
    (sum of chosen subspace distances). Entirely integer arithmetic in
    a single shuffle-free codegen projection, so the oracle replays
    every code and error bit-for-bit; at 100 TB this is the projection
    that writes the compressed vector table the ADC scan (q92) reads."""
    assigned = _pq_assign(_km_codes(spark, sf_dir), _pq_codebooks(spark, sf_dir))
    packed = None
    recon = None
    for m in range(PQ_M):
        term = F.col(f"code{m}").cast("bigint") * F.lit(PQ_K**m).cast("bigint")
        packed = term if packed is None else packed + term
        err = F.col(f"d{m}")
        recon = err if recon is None else recon + err
    return assigned.select(
        "vec_id",
        packed.alias("pq_code"),
        recon.cast("bigint").alias("recon_sqdist"),
    )


def q92_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC search: the query precomputes the PQ_M x PQ_K distance
    table driver-side (128 ints, shipped as one constant-folded
    literal); each database vector's approximate distance is PQ_M
    lookups + adds over its stored codes, then TakeOrderedAndProject
    keeps the top-k (asc, tie -> vec_id). Integer-exact end to end."""
    books = _pq_codebooks(spark, sf_dir)
    codes = _km_codes(spark, sf_dir)
    qrow = codes.filter(F.col("vec_id") == QUERY_VEC_ID).collect()[0]["c"]
    lut = [
        [
            sum(
                (int(qrow[m * PQ_SUBDIM + j]) - cent[j]) ** 2
                for j in range(PQ_SUBDIM)
            )
            for cent in books[m]
        ]
        for m in range(PQ_M)
    ]
    # one constant-folded bigint literal (the _matrix_expr trick, int-typed)
    lut_lit = F.from_json(F.lit(json.dumps(lut)), "array<array<bigint>>")
    assigned = _pq_assign(codes.filter(F.col("vec_id") != QUERY_VEC_ID), books)
    dist = None
    for m in range(PQ_M):
        term = F.element_at(
            F.element_at(lut_lit, m + 1), F.col(f"code{m}").cast("int") + 1
        )
        dist = term if dist is None else dist + term
    scored = assigned.select(
        "vec_id", dist.cast("bigint").alias("adc_sqdist")
    )
    top = scored.orderBy(F.col("adc_sqdist").asc(), F.col("vec_id")).limit(TOPK)
    w = Window.orderBy(F.col("adc_sqdist").asc(), F.col("vec_id"))
    return top.withColumn("rank", F.row_number().over(w).cast("bigint"))


def _km_oracle() -> str:
    dim = EMB_DIM

    def assign(codes_cte: str, cent_cte: str) -> str:
        return f"""
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum(list_transform(range(1, {dim + 1}),
                           i -> (v.c[i] - c.c[i]) * (v.c[i] - c.c[i]))), c.cid
                   ) AS rn
            FROM {codes_cte} v CROSS JOIN {cent_cte} c
        ) WHERE rn = 1
        """

    def update(assign_cte: str, prev_cent: str) -> str:
        return f"""
        SELECT p.cid, coalesce(n.c, p.c) AS c
        FROM {prev_cent} p LEFT JOIN (
            SELECT cid, array_agg(comp ORDER BY pos) AS c FROM (
                SELECT a.cid, pos,
                       CAST(floor(CAST(sum(v.c[pos]) AS DOUBLE) / count(*)) AS BIGINT) AS comp
                FROM {assign_cte} a JOIN codes v USING (vec_id),
                     unnest(range(1, {dim + 1})) AS t(pos)
                GROUP BY a.cid, pos
            ) GROUP BY cid
        ) n ON p.cid = n.cid
        """

    return f"""
    WITH codes AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT)) AS c
        FROM embeddings
    ),
    cent0 AS (SELECT vec_id AS cid, c FROM codes WHERE vec_id < {KM_K}),
    a1 AS ({assign("codes", "cent0")}),
    cent1 AS ({update("a1", "cent0")}),
    a2 AS ({assign("codes", "cent1")})
    SELECT a2.cid AS cluster,
           count(*) AS n_members,
           CAST(list_sum(any_value(cent1.c)) AS BIGINT) AS centroid_checksum
    FROM a2 JOIN cent1 ON a2.cid = cent1.cid
    GROUP BY 1
    """


# -- DuckDB oracle twins ---------------------------------------------------------
def _w_sql(p: int) -> str:
    """DuckDB twin of _plane_weights_lit(p): same md5-derived doubles."""
    return (
        f"list_transform(range(0, {EMB_DIM}), i -> "
        f"CAST(('0x' || substr(md5('plane{p}|' || i), 1, 8)) AS BIGINT)"
        f" / 2147483648.0 - 1.0)"
    )


def _band_key_sql(band: int, e: str = "e") -> str:
    bits = []
    for j in range(LSH_ROWS):
        p = band * LSH_ROWS + j
        bits.append(
            f"CASE WHEN list_dot_product({e}, {_w_sql(p)}) >= 0 THEN {1 << j} ELSE 0 END"
        )
    return "(" + " + ".join(bits) + ")"


def _keys_cte(with_label: bool) -> str:
    label = ", label" if with_label else ""
    arms = "\n            UNION ALL ".join(
        f"SELECT vec_id{label}, {b} AS band, {_band_key_sql(b)} AS bucket_key FROM v"
        for b in range(LSH_BANDS)
    )
    return f"""
        v AS (
            SELECT vec_id{label},
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ),
        keys AS (
            {arms}
        )
    """


_COS_SQL = (
    "list_dot_product(a.e, b.e)"
    " / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"
)


def _centroid_sql(c: int) -> str:
    """DuckDB twin of the cell-c centroid literal array."""
    return (
        f"list_transform(range(0, {EMB_DIM}), i -> "
        f"CAST(('0x' || substr(md5('cell{c}|' || i), 1, 8)) AS BIGINT)"
        f" / 2147483648.0 - 1.0)"
    )


def _cell_scores_sql(e: str = "e") -> str:
    """DuckDB twin of _cell_scores: norm constants are the SAME Python
    floats embedded via repr (exact round-trip), so both engines divide
    by bit-identical values."""
    terms = ", ".join(
        f"list_dot_product({e}, {_centroid_sql(c)}) / {_centroid_norm(c)!r}"
        for c in range(IVF_CELLS)
    )
    return f"list_value({terms})"


_IVF_ASSIGNED_CTE = f"""
    v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ),
    assigned AS (
        SELECT vec_id, label, e, sc,
               CAST(list_position(sc, list_max(sc)) AS BIGINT) AS cell
        FROM (SELECT vec_id, label, e, {_cell_scores_sql()} AS sc FROM v)
    )
"""

_IVF_PROBE_ARMS = "\n            UNION ALL ".join(
    f"SELECT CAST({c + 1} AS BIGINT) AS cell, sc[{c + 1}] AS score FROM q"
    for c in range(IVF_CELLS)
)


def _sign_word_sql(word: int, e: str = "e") -> str:
    """DuckDB twin of _sign_word: MSB-first 32-bit sign pack."""
    terms = " + ".join(
        f"CASE WHEN {e}[{word * 32 + j + 1}] >= 0 THEN {1 << (31 - j)} ELSE 0 END"
        for j in range(32)
    )
    return f"({terms})"

ORACLES: dict[str, str] = {
    "q19_embedding_neardup_pairs": f"""
        WITH {_keys_cte(with_label=False)},
        ckeys AS (
            SELECT vec_id, band, bucket_key FROM (
                SELECT vec_id, band, bucket_key,
                       row_number() OVER (
                           PARTITION BY band, bucket_key ORDER BY vec_id) AS rn
                FROM keys
            ) WHERE rn <= {LSH_BUCKET_CAP}
        ),
        cand AS (
            SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
            FROM ckeys x JOIN ckeys y
              ON x.band = y.band AND x.bucket_key = y.bucket_key
             AND x.vec_id < y.vec_id
        )
        SELECT vec_a, vec_b, round({_COS_SQL}, 4) AS cosine
        FROM cand
        JOIN v a ON a.vec_id = vec_a
        JOIN v b ON b.vec_id = vec_b
        WHERE round({_COS_SQL}, 4) >= {NEARDUP_MIN_COS}
    """,
    "q20_cosine_topk": f"""
        WITH q AS (
            SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
            FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
        ),
        scored AS (
            SELECT vec_id, label,
                   round(
                     list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), qvec)
                     / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                              list_transform(embedding, x -> CAST(x AS DOUBLE))))
                        * sqrt(list_dot_product(qvec, qvec))),
                   6) AS cosine
            FROM embeddings, q WHERE vec_id != {QUERY_VEC_ID}
        )
        SELECT vec_id, label, cosine,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank
        FROM scored QUALIFY rank <= {TOPK}
    """,
    "q21_lsh_ann_buckets": f"""
        WITH {_keys_cte(with_label=True)}
        SELECT band, bucket_key,
               count(*) AS n_vectors,
               count(DISTINCT label) AS n_labels,
               min(vec_id) AS min_vec_id
        FROM keys GROUP BY 1, 2
    """,
    "q24_ivf_cells": f"""
        WITH {_IVF_ASSIGNED_CTE}
        SELECT cell,
               count(*) AS n_vectors,
               count(DISTINCT label) AS n_labels,
               min(vec_id) AS min_vec_id
        FROM assigned GROUP BY 1
    """,
    "q46_hamming_topk": f"""
        WITH v AS (
            SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            FROM embeddings
        ),
        p AS (
            SELECT vec_id, label,
                   {_sign_word_sql(0)} AS w0, {_sign_word_sql(1)} AS w1
            FROM v
        ),
        q AS (SELECT w0 AS q0, w1 AS q1 FROM p WHERE vec_id = {QUERY_VEC_ID}),
        scored AS (
            SELECT vec_id, label,
                   CAST(bit_count(xor(w0, q0)) + bit_count(xor(w1, q1)) AS BIGINT) AS hamming
            FROM p, q WHERE vec_id != {QUERY_VEC_ID}
        )
        SELECT vec_id, label, hamming,
               row_number() OVER (ORDER BY hamming, vec_id) AS rank
        FROM scored QUALIFY rank <= {TOPK}
    """,
    "q25_ivf_topk": f"""
        WITH {_IVF_ASSIGNED_CTE},
        q AS (
            SELECT e AS qe, sc FROM assigned WHERE vec_id = {QUERY_VEC_ID}
        ),
        probe AS (
            SELECT cell FROM (
                {_IVF_PROBE_ARMS}
            ) ORDER BY score DESC, cell LIMIT {IVF_NPROBE}
        ),
        scored AS (
            SELECT a.vec_id, a.label, a.cell,
                   round(list_dot_product(a.e, q.qe)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(q.qe, q.qe))), 6) AS cosine
            FROM assigned a JOIN probe USING (cell), q
            WHERE a.vec_id != {QUERY_VEC_ID}
        )
        SELECT vec_id, label, cell, cosine,
               row_number() OVER (ORDER BY cosine DESC, vec_id) AS rank
        FROM scored QUALIFY rank <= {TOPK}
    """,
}

ORACLES["q55_kmeans_clusters"] = _km_oracle()

ORACLES["q85_semdedup"] = f"""
    WITH {_IVF_ASSIGNED_CTE},
    pairs AS (
        SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
               round({_COS_SQL}, 6) AS cosine
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round({_COS_SQL}, 6) >= {SEMDEDUP_MIN_COS}
    )
    SELECT vec_b AS vec_id, cell, vec_a AS keeper, cosine AS keeper_cosine
    FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_b ORDER BY vec_a) AS rn
          FROM pairs)
    WHERE rn = 1
"""

def _pq_oracle_ctes() -> str:
    """Shared PQ CTEs: integer codes, the PQ_K-vector codebook, every
    (vector, subspace, codebook-entry) integer distance, and the
    rn=1 nearest assignment — all replayed closed-form."""
    d_terms = " + ".join(
        f"(v.c[mt.m*{PQ_SUBDIM}+{j}] - tr.t[mt.m*{PQ_SUBDIM}+{j}])"
        f" * (v.c[mt.m*{PQ_SUBDIM}+{j}] - tr.t[mt.m*{PQ_SUBDIM}+{j}])"
        for j in range(1, PQ_SUBDIM + 1)
    )
    return f"""
    codes AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {KM_SCALE}) AS BIGINT)) AS c
        FROM embeddings
    ),
    train AS (SELECT vec_id AS k, c AS t FROM codes WHERE vec_id < {PQ_K}),
    dists AS (
        SELECT v.vec_id, mt.m, tr.k, ({d_terms}) AS d
        FROM codes v
        CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) mt
        CROSS JOIN train tr
    ),
    assign AS (
        SELECT vec_id, m, k AS code, d,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn
        FROM dists
    )"""


ORACLES["q91_pq_codes"] = f"""
    WITH {_pq_oracle_ctes()}
    SELECT vec_id,
           CAST(sum(code * (CAST(1 AS BIGINT) << (4 * CAST(m AS INT)))) AS BIGINT)
               AS pq_code,
           CAST(sum(d) AS BIGINT) AS recon_sqdist
    FROM assign WHERE rn = 1 GROUP BY vec_id
"""

ORACLES["q92_pq_adc_topk"] = f"""
    WITH {_pq_oracle_ctes()},
    lut AS (SELECT m, k, d FROM dists WHERE vec_id = {QUERY_VEC_ID}),
    adc AS (
        SELECT a.vec_id, CAST(sum(l.d) AS BIGINT) AS adc_sqdist
        FROM assign a JOIN lut l ON l.m = a.m AND l.k = a.code
        WHERE a.rn = 1 AND a.vec_id != {QUERY_VEC_ID}
        GROUP BY a.vec_id
    )
    SELECT vec_id, adc_sqdist,
           row_number() OVER (ORDER BY adc_sqdist, vec_id) AS rank
    FROM adc QUALIFY rank <= {TOPK}
"""

QUERIES = {
    "q19_embedding_neardup_pairs": q19_embedding_neardup_pairs,
    "q20_cosine_topk": q20_cosine_topk,
    "q21_lsh_ann_buckets": q21_lsh_ann_buckets,
    "q24_ivf_cells": q24_ivf_cells,
    "q25_ivf_topk": q25_ivf_topk,
    "q46_hamming_topk": q46_hamming_topk,
    "q55_kmeans_clusters": q55_kmeans_clusters,
    "q85_semdedup": q85_semdedup,
    "q91_pq_codes": q91_pq_codes,
    "q92_pq_adc_topk": q92_pq_adc_topk,
}
