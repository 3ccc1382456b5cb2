"""Published web-corpus quality filters, integer-exact and oracle-twinned.

Three canonical filter families a 100 TB pretraining pipeline runs over
extracted text (the output of the reference's pipeline — CogStack/
ocr-service `processor/processor.py:25-62` produces the text these
consume; the filters themselves are beyond the reference's scope and
come from the published web-corpus literature):

- q95 — Gopher quality rules (Rae et al. 2021, appendix A): the seven
  document-level heuristics (word count bounds, mean word length,
  symbol-to-word ratio, bullet / ellipsis line ratios, alphabetic-word
  ratio, stop-word presence), each emitted as its own flag so a corpus
  report can attribute removals per rule.
- q96 — C4 line-level cleaning (Raffel et al. 2020): keep lines that
  end in terminal punctuation and have >= 3 words, drop lines
  containing "javascript", drop whole pages containing "lorem ipsum"
  or "{" or with < 5 kept sentences; emits the cleaned text's md5 so
  the oracle pins the reconstructed text byte-for-byte.
- q97 — RefinedWeb-style URL filtering (Penedo et al. 2023): score a
  URL on blocklist substrings, digit-heavy host labels, spam TLDs and
  excessive path depth; keep iff score is 0.

Scale shape: every query is a single map-only projection over the scan
(no joins, no shuffles except the driver-side display) — at 10^12 docs
these run at scan speed and Catalyst folds all the per-rule regex
counters into one WholeStageCodegen span. Every predicate is an INTEGER
comparison (cross-multiplied thresholds, the q55/q69/q70 convention) so
the DuckDB oracles replay the rules with zero float drift.

The natural word-soup corpus only exercises the happy paths, so each
rule gets a closed-form fixture row engineered to fail exactly that
rule; the fixture text is a Python constant embedded verbatim in BOTH
the Spark plan and the oracle SQL, eliminating construction-parity risk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.plans.parallelism import fan_out
from ocr_service_spark.sources.tables import read_table

TOKEN_RE = r"\s+"

# -- q95: Gopher rules --------------------------------------------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

# one fixture row per rule, engineered to fail ONLY that rule — plus
# 1000000, which passes all seven (the natural word-soup corpus never
# carries two distinct Gopher stop words, so without it `keep` would be
# constant-false and the verdict column untested)
_GOPHER_SYN: dict[int, str] = {
    1000000: (
        "the quick brown fox jumps over the lazy dog and runs to the barn"
        " with a friend of mine that we have known for years " * 3
    ).rstrip(),
    # 9 words -> fails word-count; mean word length exactly 3 (27/9)
    1000001: "the cat of dog and bat ran far with",
    # 62 words of mean length ~29 -> fails mean-word-length upper bound
    1000002: ("pneumonoultramicroscopicsilico " * 60).rstrip() + " the of",
    # 182 words, 20 '#' -> 10*20 > 182 fails symbol ratio; alpha 164/182 passes
    1000003: ("# alpha beta gamma delta epsilon zeta eta theta " * 20).rstrip()
    + " the of",
    # 20/20 lines start with a bullet -> fails bullet-line ratio
    1000004: "\n".join(
        f"- the quick brown fox of jumps over dog{i}" for i in range(20)
    ),
    # 20/20 lines end with '...' -> fails ellipsis-line ratio (15-word
    # lines keep the symbol ratio passing: 10*20 <= 300)
    1000005: "\n".join(
        "the quick brown fox of jumps over a lazy dog near a red barn"
        " continues..."
        for _ in range(20)
    ),
    # 120 words, zero Gopher stop words -> fails stop-word rule
    1000006: ("zebra quick vixen jumps " * 30).rstrip(),
    # 120 words, 60 all-digit -> fails alphabetic-word ratio
    1000007: ("12345 67890 the of " * 30).rstrip(),
}


def q95_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's seven document-quality rules, one boolean per rule plus
    the combined keep verdict. Pure projection: zero shuffles."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                sorted(_GOPHER_SYN.items()), "doc_id bigint, text string"
            )
        )
    )
    t = F.split(F.trim("text"), TOKEN_RE)
    lines = F.split("text", "\n")
    n_words = F.size(t).cast("bigint")
    chars = F.length(F.regexp_replace("text", r"\s", "")).cast("bigint")
    n_sym = (
        F.regexp_count("text", F.lit("#"))
        + F.regexp_count("text", F.lit(r"\.\.\."))
    ).cast("bigint")
    n_lines = F.size(lines).cast("bigint")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))
    ).cast("bigint")
    ell_lines = F.size(
        F.filter(lines, lambda l: F.rtrim(l).rlike(r"\.\.\.$"))
    ).cast("bigint")
    alpha_words = F.size(F.filter(t, lambda w: w.rlike("[a-zA-Z]"))).cast(
        "bigint"
    )
    stop_hits = None
    for w in GOPHER_STOPS:
        hit = F.when(F.col("text").rlike(rf"\b{w}\b"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        chars.alias("chars"),
        n_sym.alias("n_sym"),
        n_lines.alias("n_lines"),
        bullet_lines.alias("bullet_lines"),
        ell_lines.alias("ell_lines"),
        alpha_words.alias("alpha_words"),
        stop_hits.cast("bigint").alias("stop_hits"),
    )
    c = F.col
    flags = {
        "pass_word_count": (c("n_words") >= GOPHER_MIN_WORDS)
        & (c("n_words") <= GOPHER_MAX_WORDS),
        # 3 <= mean word length <= 10, cross-multiplied
        "pass_mean_word_len": (3 * c("n_words") <= c("chars"))
        & (c("chars") <= 10 * c("n_words")),
        # symbol-to-word ratio ('#' + '...') <= 0.1
        "pass_symbol_ratio": 10 * c("n_sym") <= c("n_words"),
        # <= 90% of lines start with a bullet
        "pass_bullet_lines": 10 * c("bullet_lines") <= 9 * c("n_lines"),
        # <= 30% of lines end with an ellipsis
        "pass_ellipsis_lines": 10 * c("ell_lines") <= 3 * c("n_lines"),
        # >= 80% of words contain an alphabetic character
        "pass_alpha_words": 5 * c("alpha_words") >= 4 * c("n_words"),
        # >= 2 distinct Gopher stop words present
        "pass_stop_words": c("stop_hits") >= 2,
    }
    keep = None
    for expr in flags.values():
        keep = expr if keep is None else keep & expr
    return base.select(
        "doc_id",
        "n_words",
        *[expr.alias(name) for name, expr in flags.items()],
        keep.alias("keep"),
    )


def _q95_oracle() -> str:
    syn = " UNION ALL ".join(
        # SQL-escape embedded single quotes so a future fixture with an
        # apostrophe can't silently break or skew the oracle
        "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(
            i, txt.replace("'", "''")
        )
        for i, txt in sorted(_GOPHER_SYN.items())
    )
    stop_sum = " + ".join(
        rf"CASE WHEN regexp_matches(text, '\b{w}\b') THEN 1 ELSE 0 END"
        for w in GOPHER_STOPS
    )
    return rf"""
        WITH aug AS (
            SELECT doc_id, text FROM documents
            UNION ALL {syn}
        ),
        b AS (
            SELECT doc_id,
                CAST(len(regexp_split_to_array(trim(text), '{TOKEN_RE}'))
                     AS BIGINT) AS n_words,
                CAST(length(regexp_replace(text, '\s', '', 'g'))
                     AS BIGINT) AS chars,
                CAST(len(regexp_extract_all(text, '#'))
                     + len(regexp_extract_all(text, '\.\.\.'))
                     AS BIGINT) AS n_sym,
                CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
                CAST(len(list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(l, '^\s*[-*•]')))
                     AS BIGINT) AS bullet_lines,
                CAST(len(list_filter(string_split(text, chr(10)),
                         l -> regexp_matches(rtrim(l), '\.\.\.$')))
                     AS BIGINT) AS ell_lines,
                CAST(len(list_filter(regexp_split_to_array(trim(text),
                                                           '{TOKEN_RE}'),
                         w -> regexp_matches(w, '[a-zA-Z]')))
                     AS BIGINT) AS alpha_words,
                CAST({stop_sum} AS BIGINT) AS stop_hits
            FROM aug
        )
        SELECT doc_id, n_words,
            n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
                AS pass_word_count,
            3 * n_words <= chars AND chars <= 10 * n_words
                AS pass_mean_word_len,
            10 * n_sym <= n_words AS pass_symbol_ratio,
            10 * bullet_lines <= 9 * n_lines AS pass_bullet_lines,
            10 * ell_lines <= 3 * n_lines AS pass_ellipsis_lines,
            5 * alpha_words >= 4 * n_words AS pass_alpha_words,
            stop_hits >= 2 AS pass_stop_words,
            (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS})
                AND (3 * n_words <= chars AND chars <= 10 * n_words)
                AND 10 * n_sym <= n_words
                AND 10 * bullet_lines <= 9 * n_lines
                AND 10 * ell_lines <= 3 * n_lines
                AND 5 * alpha_words >= 4 * n_words
                AND stop_hits >= 2 AS keep
        FROM b
    """


# -- q96: C4 line-level cleaning ----------------------------------------------
C4_LINE_WORDS = 10  # synthetic line width (words) carved from each doc
C4_MIN_LINE_WORDS = 3
C4_MIN_SENTENCES = 5


def _c4_lines() -> Column:
    """The carved-line corpus over (doc_id, text) rows: one line per
    C4_LINE_WORDS-word chunk, its ending picked by (doc_id + line_no) %
    5, plus the page-level lorem (doc_id%7==0) and brace (doc_id%11==3)
    lines. q96 and q164 share it."""
    d = F.col("doc_id")
    t = F.split(F.trim("text"), TOKEN_RE)
    n_chunks = F.floor((F.size(t) + F.lit(C4_LINE_WORDS - 1)) / C4_LINE_WORDS)

    def mk_line(i):
        base = F.array_join(
            F.slice(t, (i * C4_LINE_WORDS + 1).cast("int"), C4_LINE_WORDS), " "
        )
        m = (d + i) % 5
        return (
            F.when(m == 4, F.lit("ok."))
            .when(m == 0, F.concat(base, F.lit(".")))
            .when(m == 1, base)
            .when(m == 2, F.concat(base, F.lit(" javascript.")))
            .otherwise(F.concat(base, F.lit("!")))
        )

    lines = F.transform(
        F.sequence(F.lit(0).cast("bigint"), n_chunks - 1), mk_line
    )
    lines = F.when(
        d % 7 == 0,
        F.concat(lines, F.array(F.lit("lorem ipsum dolor sit amet."))),
    ).otherwise(lines)
    return F.when(
        d % 11 == 3, F.concat(lines, F.array(F.lit("var cfg = { a: 1 };")))
    ).otherwise(lines)


def _c4_kept(lines: Column) -> Column:
    """C4's line keep rule: terminal punctuation, >= C4_MIN_LINE_WORDS
    words, no 'javascript'."""
    return F.filter(
        lines,
        lambda l: (F.size(F.split(F.trim(l), TOKEN_RE)) >= C4_MIN_LINE_WORDS)
        & F.rtrim(l).rlike("[.!?]$")
        & ~F.lower(l).rlike(r"\bjavascript\b"),
    )


def q96_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 cleaning over a deterministic line corpus carved from each
    document: every 10-word chunk becomes a line whose ending rotates
    through {'.', none, ' javascript.', '!', short-'ok.'} by
    (doc_id + line_no) % 5, and docs hit page-level hazards ('lorem
    ipsum' line when doc_id%7==0, a '{' line when doc_id%11==3). Line
    keep = ends in terminal punctuation AND >= 3 words AND no
    'javascript'; page keep = >= 5 kept sentences AND no 'lorem ipsum'
    AND no '{'. The kept text is pinned by md5. Map-only projection —
    the higher-order transform/filter run inside codegen, no Python."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    lines = _c4_lines()
    kept = _c4_kept(lines)
    full = F.array_join(lines, "\n")
    has_lorem = full.rlike("lorem ipsum")
    has_brace = full.contains("{")
    kept_n = F.size(kept).cast("bigint")
    return docs.select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        kept_n.alias("kept_lines"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        ((kept_n >= C4_MIN_SENTENCES) & ~has_lorem & ~has_brace).alias(
            "page_keep"
        ),
        F.md5(F.array_join(kept, "\n")).alias("clean_md5"),
    )


_Q96_ORACLE = rf"""
    WITH s AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t
        FROM documents
    ),
    l0 AS (
        SELECT doc_id,
            list_transform(range(0, (len(t) + {C4_LINE_WORDS - 1})
                                     // {C4_LINE_WORDS}),
                i -> CASE (doc_id + i) % 5
                    WHEN 4 THEN 'ok.'
                    WHEN 0 THEN array_to_string(
                        list_slice(t, i * {C4_LINE_WORDS} + 1,
                                   (i + 1) * {C4_LINE_WORDS}), ' ') || '.'
                    WHEN 1 THEN array_to_string(
                        list_slice(t, i * {C4_LINE_WORDS} + 1,
                                   (i + 1) * {C4_LINE_WORDS}), ' ')
                    WHEN 2 THEN array_to_string(
                        list_slice(t, i * {C4_LINE_WORDS} + 1,
                                   (i + 1) * {C4_LINE_WORDS}), ' ')
                        || ' javascript.'
                    ELSE array_to_string(
                        list_slice(t, i * {C4_LINE_WORDS} + 1,
                                   (i + 1) * {C4_LINE_WORDS}), ' ') || '!'
                END) AS lines
        FROM s
    ),
    l1 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0
                    THEN list_concat(lines, ['lorem ipsum dolor sit amet.'])
                    ELSE lines END AS lines
        FROM l0
    ),
    l2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 3
                    THEN list_concat(lines, ['var cfg = {{ a: 1 }};'])
                    ELSE lines END AS lines
        FROM l1
    ),
    k AS (
        SELECT doc_id, lines,
            list_filter(lines,
                l -> len(regexp_split_to_array(trim(l), '{TOKEN_RE}'))
                         >= {C4_MIN_LINE_WORDS}
                     AND regexp_matches(rtrim(l), '[.!?]$')
                     AND NOT regexp_matches(lower(l), '\bjavascript\b'))
                AS kept
        FROM l2
    )
    SELECT doc_id,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(len(kept) AS BIGINT) AS kept_lines,
        regexp_matches(array_to_string(lines, chr(10)), 'lorem ipsum')
            AS has_lorem,
        contains(array_to_string(lines, chr(10)), '{{') AS has_brace,
        len(kept) >= {C4_MIN_SENTENCES}
            AND NOT regexp_matches(array_to_string(lines, chr(10)),
                                   'lorem ipsum')
            AND NOT contains(array_to_string(lines, chr(10)), '{{')
            AS page_keep,
        -- DuckDB's array_to_string returns NULL for an empty list where
        -- Spark's array_join returns ''; pin the Spark semantics
        md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
    FROM k
"""


# -- q97: URL filtering -------------------------------------------------------
URL_BLOCKWORDS = ("casino", "lottery", "winbig")
URL_MAX_DEPTH = 6


def _url_col(d):
    """The closed-form URL synthesis as a Column over doc_id, shared by
    _scored_urls (q97) and q164's single-pass ablation so the two can
    never disagree on the corpus they score."""
    sub = F.when(
        d % 17 == 0,
        F.concat(
            F.lit("dl"), F.lpad((d % 10000).cast("string"), 4, "0"), F.lit(".")
        ),
    ).otherwise(F.lit(""))
    tld = F.when(d % 13 == 0, F.lit(".click")).otherwise(F.lit(".com"))
    path = (
        F.when(d % 11 == 0, F.lit("/go/casino/win"))
        .when(d % 19 == 0, F.lit("/a/b/c/d/e/f/g/item"))
        .otherwise(F.concat(F.lit("/articles/item-"), d.cast("string")))
    )
    return F.concat(
        F.lit("https://"),
        sub,
        F.lit("news"),
        (d % 7).cast("string"),
        F.lit(".example"),
        tld,
        path,
    )


def _scored_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form URL corpus where every filter hazard appears in a
    pattern the oracle reconstructs: blocklist path segments
    (doc_id%11==0), deep paths (%19==0), digit-heavy host labels
    (%17==0), spam TLDs (%13==0)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return docs.select("doc_id", _url_col(F.col("doc_id")).alias("url"))


def q97_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style URL scoring: 2 points per blocklist word present
    anywhere in the URL, 1 each for a digit-heavy host, a spam TLD, or
    a path deeper than 6 segments; keep iff the score is 0. Pure
    projection over the URL column — at crawl scale this runs before
    any fetch, so it is the cheapest filter in the pipeline."""
    urls = _scored_urls(spark, sf_dir)
    host = F.regexp_extract("url", r"^https?://([^/]+)", 1)
    block_hits = None
    for w in URL_BLOCKWORDS:
        hit = F.when(F.col("url").contains(w), 1).otherwise(0)
        block_hits = hit if block_hits is None else block_hits + hit
    b = urls.select(
        "doc_id",
        "url",
        block_hits.cast("bigint").alias("blockword_hits"),
        host.rlike("[0-9]{4}").alias("digit_host"),
        host.rlike(r"\.(click|biz)$").alias("bad_tld"),
        (F.regexp_count("url", F.lit("/")) - 2).cast("bigint").alias("depth"),
    )
    c = F.col
    score = (
        2 * c("blockword_hits")
        + c("digit_host").cast("bigint")
        + c("bad_tld").cast("bigint")
        + (c("depth") > URL_MAX_DEPTH).cast("bigint")
    )
    return b.select(
        "doc_id",
        "url",
        "blockword_hits",
        "digit_host",
        "bad_tld",
        (c("depth") > URL_MAX_DEPTH).alias("deep_path"),
        "depth",
        score.alias("score"),
        (score == 0).alias("keep"),
    )


def _q97_oracle() -> str:
    block_sum = " + ".join(
        f"CASE WHEN contains(url, '{w}') THEN 1 ELSE 0 END"
        for w in URL_BLOCKWORDS
    )
    return rf"""
        WITH u AS (
            SELECT doc_id,
                'https://'
                || CASE WHEN doc_id % 17 = 0
                        THEN 'dl' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                          4, '0') || '.'
                        ELSE '' END
                || 'news' || CAST(doc_id % 7 AS VARCHAR) || '.example'
                || CASE WHEN doc_id % 13 = 0 THEN '.click' ELSE '.com' END
                || CASE WHEN doc_id % 11 = 0 THEN '/go/casino/win'
                        WHEN doc_id % 19 = 0 THEN '/a/b/c/d/e/f/g/item'
                        ELSE '/articles/item-' || CAST(doc_id AS VARCHAR) END
                AS url
            FROM documents
        ),
        b AS (
            SELECT doc_id, url,
                CAST({block_sum} AS BIGINT) AS blockword_hits,
                regexp_matches(regexp_extract(url, '^https?://([^/]+)', 1),
                               '[0-9]{{4}}') AS digit_host,
                regexp_matches(regexp_extract(url, '^https?://([^/]+)', 1),
                               '\.(click|biz)$') AS bad_tld,
                CAST(len(regexp_extract_all(url, '/')) - 2 AS BIGINT) AS depth
            FROM u
        )
        SELECT doc_id, url, blockword_hits, digit_host, bad_tld,
            depth > {URL_MAX_DEPTH} AS deep_path, depth,
            2 * blockword_hits
                + CAST(digit_host AS BIGINT) + CAST(bad_tld AS BIGINT)
                + CAST(depth > {URL_MAX_DEPTH} AS BIGINT) AS score,
            (2 * blockword_hits
                + CAST(digit_host AS BIGINT) + CAST(bad_tld AS BIGINT)
                + CAST(depth > {URL_MAX_DEPTH} AS BIGINT)) = 0 AS keep
        FROM b
    """


# -- q112: Flesch–Kincaid readability, integer-exact --------------------------
#
# The FK grade level is 0.39*(W/S) + 11.8*(Sy/W) - 15.59 (Kincaid et
# al. 1975). Corpus pipelines bucket on "grade <= 8" (plain-language
# threshold); cross-multiplying by 100*S*W (S,W >= 1) turns the test
# into pure BIGINT arithmetic both engines compute bit-identically:
#     easy  <=>  39*W^2 + 1180*Sy*S - 2359*S*W <= 0.
# Syllables use the pinned proxy: vowel-group count ([aeiouy]+ on the
# lowercased text) plus one per vowel-free token (every word carries
# at least one spoken syllable). Map-only projection: zero shuffles.

# fixture rows: the natural word-soup corpus has no punctuation (S
# clamps to 1) and never flips easy_read true, so each rung gets a
# closed-form row — an easy passage, a vowel-free-token passage (the
# novowel rung), a polysyllabic hard passage, and the empty string
# (both clamps at once).
_FK_SYN: dict[int, str] = {
    1000000: "The cat sat. The dog ran. We go now.",
    1000001: "Grr hmm tsk. Brr pfft shh. Psst.",
    1000002: (
        "Incomprehensibility notwithstanding, multisyllabic verbiage "
        "overwhelms readability evaluation heuristics considerably. "
        "Organizational bureaucratization institutionalizes "
        "overcomplicated administrative terminology."
    ),
    1000003: "",
}


def fk_signals(text) -> dict[str, "F.Column"]:
    """The q112 dialect's raw FK ingredient columns + verdict for any
    text column — reusable by host-level rollups (q119): n_words,
    n_sentences, n_syllables (all raw), fk_num (the scaled numerator
    with both clamps engaged) and easy_read (grade <= 8)."""
    toks = F.regexp_extract_all(text, F.lit(r"(\S+)"), 1)
    w0 = F.size(toks).cast("bigint")
    s0 = F.regexp_count(text, F.lit(r"[.!?]+")).cast("bigint")
    vg = F.regexp_count(F.lower(text), F.lit("[aeiouy]+")).cast("bigint")
    novowel = F.size(
        F.filter(toks, lambda t: ~F.lower(t).rlike("[aeiouy]"))
    ).cast("bigint")
    sy = vg + novowel
    w = F.greatest(w0, F.lit(1))
    s = F.greatest(s0, F.lit(1))
    fk = 39 * w * w + 1180 * sy * s - 2359 * s * w
    return {
        "n_words": w0,
        "n_sentences": s0,
        "n_syllables": sy,
        "fk_num": fk.cast("bigint"),
        "easy_read": fk <= 0,
    }


def q112_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability: raw word/sentence/syllable counts,
    the scaled FK numerator, and the grade<=8 verdict."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                sorted(_FK_SYN.items()), "doc_id bigint, text string"
            )
        )
    )
    sig = fk_signals(F.col("text"))
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in sig.items()]
    )


def _q112_oracle() -> str:
    fixture_rows = "\n            UNION ALL ".join(
        "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(
            i, t.replace("'", "''")
        )
        for i, t in sorted(_FK_SYN.items())
    )
    return f"""
        WITH d AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            {fixture_rows}
        ),
        c AS (
            SELECT doc_id,
                CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
                    AS n_words,
                CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)
                    AS n_sentences,
                CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                     + len(list_filter(regexp_extract_all(text, '\\S+'),
                           t -> NOT regexp_matches(lower(t), '[aeiouy]')))
                     AS BIGINT) AS n_syllables
            FROM d
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
            CAST(39 * greatest(n_words, 1) * greatest(n_words, 1)
                 + 1180 * n_syllables * greatest(n_sentences, 1)
                 - 2359 * greatest(n_sentences, 1) * greatest(n_words, 1)
                 AS BIGINT) AS fk_num,
            (39 * greatest(n_words, 1) * greatest(n_words, 1)
             + 1180 * n_syllables * greatest(n_sentences, 1)
             - 2359 * greatest(n_sentences, 1) * greatest(n_words, 1)) <= 0
                AS easy_read
        FROM c
    """


# -- q142: page serving-state classification ----------------------------------
#
# A 200-status response is not necessarily content: soft-404s ("not
# found" served as 200), parked-domain placeholders, and login walls
# are the classic junk classes a crawl corpus filters before any
# quality scoring. The classifier is a pure codegen projection —
# lowercase the page, test pinned marker substrings, apply a fixed
# precedence (soft404 > parked > login_wall, the cheap-to-expensive
# triage order) — so at 100 TB it rides the scan with zero shuffles.
# Markers are matched with contains() on lowered text (no regex —
# byte-identical semantics in any engine).
SOFT404_MARKERS = (
    "404 not found",
    "page not found",
    "page does not exist",
    "no longer available",
)
PARKED_MARKERS = ("domain is for sale", "buy this domain", "domain parking")
LOGIN_MARKERS = (
    "log in to continue",
    "sign in to view",
    "create an account to continue",
)


def _any_marker(col: "F.Column", markers: tuple[str, ...]) -> "F.Column":
    hit = None
    for m in markers:
        h = col.contains(m)
        hit = h if hit is None else hit | h
    return hit


def q142_serving_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-state verdict over planted pages: every 11th doc gets a
    soft-404 title (d%11==1), a soft-404 body suffix (2), a parked-
    domain body (3), or a login-wall suffix (4); the rest serve their
    real text. The oracle replays the planting and the rule — both are
    closed-form — so the marker dialect and precedence are pinned
    cross-engine."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    title = F.when(
        d % 11 == 1, F.format_string("Error 404 Not Found - /e%s", d.cast("string"))
    ).otherwise(F.format_string("Article %s", d.cast("string")))
    body = (
        F.when(d % 11 == 2, F.concat("text", F.lit(" Sorry, this page does not exist.")))
        .when(d % 11 == 3, F.lit("This domain is for sale. Contact the broker today."))
        .when(d % 11 == 4, F.concat("text", F.lit(" Please sign in to view this content.")))
        .otherwise(F.col("text"))
    )
    page = F.lower(F.concat(title, F.lit(" "), body))
    pages = docs.select(d.alias("doc_id"), page.alias("page"))
    s404 = _any_marker(F.col("page"), SOFT404_MARKERS)
    park = _any_marker(F.col("page"), PARKED_MARKERS)
    login = _any_marker(F.col("page"), LOGIN_MARKERS)
    verdict = (
        F.when(s404, "soft404")
        .when(park, "parked")
        .when(login, "login_wall")
        .otherwise("ok")
    )
    return pages.select(
        "doc_id",
        s404.alias("is_soft404"),
        park.alias("is_parked"),
        login.alias("is_login_wall"),
        verdict.alias("verdict"),
    )


def _q142_oracle() -> str:
    def any_sql(markers: tuple[str, ...]) -> str:
        return "(" + " OR ".join(f"contains(page, '{m}')" for m in markers) + ")"

    return f"""
        WITH p AS (
            SELECT doc_id,
                   lower(
                       (CASE WHEN doc_id % 11 = 1
                             THEN 'Error 404 Not Found - /e' || CAST(doc_id AS VARCHAR)
                             ELSE 'Article ' || CAST(doc_id AS VARCHAR) END)
                       || ' ' ||
                       (CASE doc_id % 11
                            WHEN 2 THEN text || ' Sorry, this page does not exist.'
                            WHEN 3 THEN 'This domain is for sale. Contact the broker today.'
                            WHEN 4 THEN text || ' Please sign in to view this content.'
                            ELSE text END)
                   ) AS page
            FROM documents
        )
        SELECT doc_id,
               {any_sql(SOFT404_MARKERS)} AS is_soft404,
               {any_sql(PARKED_MARKERS)} AS is_parked,
               {any_sql(LOGIN_MARKERS)} AS is_login_wall,
               CASE WHEN {any_sql(SOFT404_MARKERS)} THEN 'soft404'
                    WHEN {any_sql(PARKED_MARKERS)} THEN 'parked'
                    WHEN {any_sql(LOGIN_MARKERS)} THEN 'login_wall'
                    ELSE 'ok' END AS verdict
        FROM p
    """


# -- q146: code-vs-prose routing ------------------------------------------------
#
# A training-data pipeline routes source code away from the prose
# filters (Gopher/C4 rules would junk perfectly good code, and code
# models want it concentrated). Pinned integer dialect, pure codegen
# projection: count code-symbol hits, code-keyword hits, and indented
# lines; a document routes to 'code' when symbols clear a per-char
# basis-point floor AND (keywords or indentation corroborate).
CODE_SYM_RE = r"[{}();=<>\[\]]"
CODE_KW_RE = r"\b(def|return|import|function|class|const|var|elif|lambda)\b"
CODE_SYM_BP_MIN = 300  # >= 3% of non-ws chars are code symbols
CODE_MIN_CORROB = 3  # keyword hits or indented lines needed alongside

_CODE_SNIPPET = (
    "def shard(x):\n"
    "    return (x * 31) % 64\n"
    "class Packer:\n"
    "    def pack(self, docs):\n"
    "        out = [];\n"
    "        for d in docs:\n"
    "            out.append(d);\n"
    "        return out\n"
)


def q146_code_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Route planted pages: every 6th doc serves the code snippet, the
    rest their prose text. Signals and the verdict are all integers the
    oracle replays; at 100 TB this rides the scan — zero shuffles."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    body = F.when(d % 6 == 0, F.lit(_CODE_SNIPPET)).otherwise(F.col("text"))
    pages = docs.select("doc_id", body.alias("body"))
    nchars = F.length(F.regexp_replace("body", r"\s", "")).cast("bigint")
    sym = F.regexp_count("body", F.lit(CODE_SYM_RE)).cast("bigint")
    kw = F.regexp_count("body", F.lit(CODE_KW_RE)).cast("bigint")
    indented = F.size(
        F.filter(F.split("body", "\n"), lambda l: l.rlike(r"^(\t| {2,})"))
    ).cast("bigint")
    sym_ok = sym * 10000 >= CODE_SYM_BP_MIN * F.greatest(nchars, F.lit(1))
    corrob = (kw >= CODE_MIN_CORROB) | (indented >= CODE_MIN_CORROB)
    return pages.select(
        "doc_id",
        sym.alias("n_code_symbols"),
        kw.alias("n_code_keywords"),
        indented.alias("n_indented_lines"),
        F.when(sym_ok & corrob, "code").otherwise("prose").alias("route"),
    )


def _q146_oracle() -> str:
    snippet = _CODE_SNIPPET.replace("'", "''").replace("\n", "' || chr(10) || '")
    return f"""
        WITH p AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 6 = 0 THEN '{snippet}' ELSE text END AS body
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(body, '{CODE_SYM_RE}')) AS BIGINT)
                       AS n_code_symbols,
                   CAST(len(regexp_extract_all(body, '{CODE_KW_RE}')) AS BIGINT)
                       AS n_code_keywords,
                   CAST(len(list_filter(string_split(body, chr(10)),
                        l -> regexp_matches(l, '^(\\t| {{2,}})'))) AS BIGINT)
                       AS n_indented_lines,
                   CAST(len(regexp_replace(body, '\\s', '', 'g')) AS BIGINT)
                       AS nchars
            FROM p
        )
        SELECT doc_id, n_code_symbols, n_code_keywords, n_indented_lines,
               CASE WHEN n_code_symbols * 10000
                         >= {CODE_SYM_BP_MIN} * greatest(nchars, 1)
                         AND (n_code_keywords >= {CODE_MIN_CORROB}
                              OR n_indented_lines >= {CODE_MIN_CORROB})
                    THEN 'code' ELSE 'prose' END AS route
        FROM s
    """


# -- q152: Gopher repetition battery --------------------------------------------
#
# Completes the Gopher canon: q95 carries the document-quality rules,
# q39 the top-bigram ratio; this is the REPETITION table — duplicate-
# line fraction, duplicate-line CHARACTER fraction, and the top-
# {2,3,4}-gram character fractions, with Gopher's published thresholds
# as verdicts. Paragraph-granularity is the same operator over a
# "\\n\\n" split and is intentionally not duplicated here. Line metrics
# are pure array expressions (map-only); the top-gram table is ALSO
# map-only (array_sort + run-length fold per width) — a per-document
# statistic must never pay a corpus-wide gram shuffle, so the whole
# battery is one exchange-free projection (plan-pinned).
# Planted lines: every doc's tokens are folded into 4 lines (the q108
# chunk slicing); every 10th doc instead repeats its first-6-token
# line five times — the repetitive class.
REP_LINE_FRAC_BP = 3000  # Gopher: dup line fraction > 0.30
REP_LINE_CHAR_BP = 2000  # dup line char fraction > 0.20
REP_TOP_BP = {2: 2000, 3: 1800, 4: 1600}  # top n-gram char fraction


def _q152_body():
    """Column: the planted line-structured body (closed-form)."""
    t = F.split(F.trim("text"), TOKEN_RE)
    n = F.size(t)
    # integer n div 4 via Column ops (an F.expr would re-escape TOKEN_RE)
    k = F.greatest((n - F.pmod(n, F.lit(4))) / 4, F.lit(1)).cast("int")
    chunk = [
        F.array_join(F.slice(t, i * k + 1, k), " ") for i in range(3)
    ] + [F.array_join(F.slice(t, 3 * k + 1, F.greatest(n - 3 * k, F.lit(0))), " ")]
    normal = F.concat_ws("\n", *chunk)
    rep_line = F.array_join(F.slice(t, 1, 6), " ")
    repetitive = F.array_join(F.array_repeat(rep_line, 5), "\n")
    return F.when(F.col("doc_id") % 10 == 0, repetitive).otherwise(normal)


def q152_repetition_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the battery is compute-bound per doc: fan out (doc_id, text) first
    docs = fan_out(
        read_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    pages = docs.select("doc_id", _q152_body().alias("body"))

    # One Arrow-batched mapInPandas stage computes the whole battery per
    # doc (guide §4.2): the former pure-Catalyst shape paid ~5 ms/doc of
    # interpreted expression evaluation (three array_sort + F.aggregate
    # struct-folds plus two per-line folds); a per-width Counter costs
    # ~0.1 ms/doc. Still a per-document statistic: zero gram shuffles —
    # the only exchange is the fan-out repartition above.
    def battery(batches):
        # Exact Python twin of the former Catalyst expressions (and of
        # the unchanged DuckDB oracle): Java-regex \s is the ASCII class
        # [ \t\n\x0B\f\r]; the run tie-break (first maximal run of the
        # sorted gram array = lexicographically smallest top gram) is
        # min() over the max-count grams, identical because UTF-8 byte
        # order equals codepoint order; every `div` is a nonnegative
        # integer division == Python //.
        import re
        from collections import Counter

        import pandas as pd

        ws_split = re.compile("[ \t\n\x0b\x0c\r]+").split
        ws_del = {ord(c): None for c in " \t\n\x0b\x0c\r"}
        for pdf in batches:
            rows = []
            for doc_id, b in zip(pdf["doc_id"], pdf["body"]):
                lines = b.split("\n")
                n_lines = len(lines)
                dist = set(lines)
                lchars = sum(map(len, lines))
                dchars = sum(map(len, dist))
                dup_line_frac_bp = (n_lines - len(dist)) * 10000 // n_lines
                dup_line_char_bp = (lchars - dchars) * 10000 // max(lchars, 1)
                nonws = len(b.translate(ws_del))
                toks = ws_split(b)
                bps = []
                for w in REP_TOP_BP:
                    if len(toks) >= w:
                        cnt = Counter(
                            " ".join(toks[i : i + w])
                            for i in range(len(toks) - w + 1)
                        )
                        best_cnt = max(cnt.values())
                        best_gram = min(
                            g for g, c in cnt.items() if c == best_cnt
                        )
                        chars = best_cnt * len(best_gram.translate(ws_del))
                    else:
                        chars = 0
                    bps.append(chars * 10000 // max(nonws, 1))
                rows.append(
                    (
                        doc_id,
                        n_lines,
                        dup_line_frac_bp,
                        dup_line_char_bp,
                        bps[0],
                        bps[1],
                        bps[2],
                        dup_line_frac_bp > REP_LINE_FRAC_BP
                        or dup_line_char_bp > REP_LINE_CHAR_BP
                        or bps[0] > REP_TOP_BP[2]
                        or bps[1] > REP_TOP_BP[3]
                        or bps[2] > REP_TOP_BP[4],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id",
                    "n_lines",
                    "dup_line_frac_bp",
                    "dup_line_char_bp",
                    "top2gram_bp",
                    "top3gram_bp",
                    "top4gram_bp",
                    "repetitive",
                ],
            )

    return pages.mapInPandas(
        battery,
        "doc_id bigint, n_lines bigint, dup_line_frac_bp bigint, "
        "dup_line_char_bp bigint, top2gram_bp bigint, top3gram_bp bigint, "
        "top4gram_bp bigint, repetitive boolean",
    )


def _q152_oracle() -> str:
    tops_sql = "\n        UNION ALL ".join(
        f"""SELECT doc_id, {w} AS w,
            unnest(list_transform(range(1, greatest(len(t2) - {w} + 2, 1)),
                   i -> array_to_string(t2[i:i+{w - 1}], ' '))) AS gram
        FROM t2s"""
        for w in REP_TOP_BP
    )
    return f"""
        WITH d AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '{TOKEN_RE}') AS t,
                   greatest(len(regexp_split_to_array(trim(text), '{TOKEN_RE}')) // 4,
                            1) AS k,
                   len(regexp_split_to_array(trim(text), '{TOKEN_RE}')) AS n
            FROM documents
        ),
        p AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0
                        THEN array_to_string(list_transform(range(5),
                             i -> array_to_string(t[1:6], ' ')), chr(10))
                        ELSE array_to_string(t[1:k], ' ') || chr(10)
                          || array_to_string(t[k+1:2*k], ' ') || chr(10)
                          || array_to_string(t[2*k+1:3*k], ' ') || chr(10)
                          || array_to_string(t[3*k+1:n], ' ')
                   END AS body
            FROM d
        ),
        base AS (
            SELECT doc_id, body,
                   CAST(len(string_split(body, chr(10))) AS BIGINT) AS n_lines,
                   CAST((len(string_split(body, chr(10)))
                        - len(list_distinct(string_split(body, chr(10))))) * 10000
                        // len(string_split(body, chr(10))) AS BIGINT)
                       AS dup_line_frac_bp,
                   CAST((list_sum(list_transform(string_split(body, chr(10)),
                                                 l -> len(l)))
                        - list_sum(list_transform(list_distinct(
                              string_split(body, chr(10))), l -> len(l))))
                        * 10000
                        // greatest(list_sum(list_transform(
                              string_split(body, chr(10)), l -> len(l))), 1)
                        AS BIGINT) AS dup_line_char_bp,
                   CAST(len(regexp_replace(body, '\\s', '', 'g')) AS BIGINT)
                       AS nonws_chars
            FROM p
        ),
        t2s AS (
            SELECT doc_id, regexp_split_to_array(body, '\\s+') AS t2 FROM p
        ),
        grams AS (
            {tops_sql}
        ),
        counts AS (
            SELECT doc_id, w, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
        ),
        tops AS (
            SELECT doc_id, w,
                   cnt * len(replace(gram, ' ', '')) AS top_chars
            FROM (
                SELECT doc_id, w, gram, cnt,
                       row_number() OVER (PARTITION BY doc_id, w
                                          ORDER BY cnt DESC, gram ASC) AS rn
                FROM counts
            ) WHERE rn = 1
        ),
        pv AS (
            SELECT doc_id,
                   {", ".join(f"max(CASE WHEN w = {w} THEN top_chars END) AS top{w}_chars" for w in REP_TOP_BP)}
            FROM tops GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_lines, b.dup_line_frac_bp, b.dup_line_char_bp,
               {", ".join(f"CAST(coalesce(top{w}_chars, 0) * 10000 // greatest(nonws_chars, 1) AS BIGINT) AS top{w}gram_bp" for w in REP_TOP_BP)},
               (b.dup_line_frac_bp > {REP_LINE_FRAC_BP}
                OR b.dup_line_char_bp > {REP_LINE_CHAR_BP}
                {" ".join(f"OR coalesce(top{w}_chars, 0) * 10000 // greatest(nonws_chars, 1) > {bp}" for w, bp in REP_TOP_BP.items())})
                   AS repetitive
        FROM base b LEFT JOIN pv USING (doc_id)
    """


# -- q164: filter ablation matrix ---------------------------------------------
#
# The diagnostic every published curation pipeline reports (Gopher
# table A2, RefinedWeb fig. 2): run the filters INDEPENDENTLY (not as
# q70's first-reason decision tree) and tabulate the Venn — per
# fail-combination doc counts, corpus share, and which docs only ONE
# filter catches (the unique-removal attribution that justifies each
# filter's existence).
#
# The natural word-soup corpus fails Gopher and C4 on every row (no
# doc carries two distinct stop words; the carved pages rarely keep 5
# sentences), so only 4 of the 16 Venn cells appear and unique_filter
# never fires. Per the house fixture pattern, twelve closed-form rows
# (doc_id 2000000+, clear of q95's 1000000-range fixtures) populate
# the other 12 cells. Four text templates × doc_id residue classes:
# the URL verdict is the _url_col closed form over doc_id (%13==0 ->
# spam TLD) and the C4 verdict's page hazard is doc_id%7==0 (lorem
# line), so one text can exercise both URL/C4 polarities by doc_id
# choice alone. Texts (verified closed-form, single line, no '#' /
# '...' / '{' / bullets): _ABL_EN_GOOD passes all Gopher rules with
# en-winning markers; _ABL_ES_GOOD likewise but 28 es-marker hits vs
# 2 en ('que los' per repeat, stops 'the of' appended once);
# _ABL_EN_LONG / _ABL_ES_LONG fail EXACTLY the mean-word-length rule
# (30-char words push chars > 10*n_words). All four carve >= 5 kept
# C4 sentences at every doc_id%5 phase (14+ full 10-word chunks).

_ABL_EN_GOOD = (
    "the quick brown fox jumps over a lazy dog and carries value of row"
    " nine " * 10
).rstrip()
_ABL_ES_GOOD = (
    "que los contenido paginas grandes siempre mundo nuevo para cada " * 14
).rstrip() + " the of"
_ABL_EN_LONG = (
    ("pneumonoultramicroscopicsilico " * 8 + "the of ") * 14
).rstrip()
_ABL_ES_LONG = (
    ("pneumonoultramicroscopicsilico " * 8 + "que los ") * 14
).rstrip() + " the of"

# doc_id residues: %7==0 -> C4 lorem hazard; %13==0 -> spam TLD (URL
# fail); all ids avoid %11 in {0,3}, %17==0, %19==0 so no OTHER
# URL/C4 hazard fires. Cell key: (fail_gopher, fail_c4, fail_url,
# fail_lang).
_ABLATION_SYN: dict[int, str] = {
    2000000: _ABL_EN_GOOD,  # (F,F,F,F) all pass
    2000002: _ABL_ES_GOOD,  # (F,F,F,T) unique: lang
    2000003: _ABL_EN_LONG,  # (T,F,F,F) unique: gopher
    2000004: _ABL_ES_LONG,  # (T,F,F,T)
    2000011: _ABL_EN_GOOD,  # (F,F,T,F) unique: url     (%13==0)
    2000024: _ABL_ES_GOOD,  # (F,F,T,T)                 (%13==0)
    2000037: _ABL_EN_LONG,  # (T,F,T,F)                 (%13==0)
    2000063: _ABL_ES_LONG,  # (T,F,T,T)                 (%13==0)
    2000005: _ABL_EN_GOOD,  # (F,T,F,F) unique: c4      (%7==0)
    2000019: _ABL_ES_GOOD,  # (F,T,F,T)                 (%7==0)
    2000180: _ABL_EN_GOOD,  # (F,T,T,F)                 (%7==0, %13==0)
    2000362: _ABL_ES_GOOD,  # (F,T,T,T)                 (%7==0, %13==0)
}


def q164_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (fail_gopher, fail_c4, fail_url, fail_lang)
    combination with doc count, corpus share (basis points), number of
    filters failing, and the filter name when exactly one fails.

    Scale shape: all four verdicts are projections over ONE documents
    scan — Gopher counters, the q96 carved-line corpus, the q97 URL
    score (the URL itself is the _url_col closed form over doc_id, so
    no second input), and the q13/q70 marker-argmax lang — followed by
    a 16-group hash aggregation; the only window runs over that
    16-row aggregate. No joins: at 10^12 docs this is scan speed plus
    one tiny shuffle. The flag expressions restate q95/q96/q97/q70's
    (the q70 precedent: inline, not a 4-way self-join); drift is
    impossible to miss because this query's oracle literally embeds
    the REGISTERED q95/q96/q97 oracle SQL as subqueries."""
    from pyspark.sql import Window

    from ocr_service_spark.operators.text_stats import (
        LANG_MARKERS,
        _marker_pattern,
    )

    # fan out before the battery: the four verdicts cost dozens of
    # regex passes per doc
    docs = fan_out(
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .unionByName(
            spark.createDataFrame(
                sorted(_ABLATION_SYN.items()), "doc_id bigint, text string"
            )
        )
    )
    d = F.col("doc_id")
    t = F.split(F.trim("text"), TOKEN_RE)
    lines = F.split("text", "\n")

    # gopher counters (q95's rules over natural + ablation rows; q95's
    # own 1000000-range fixtures stay out of this query on BOTH sides)
    stop_hits = None
    for w in GOPHER_STOPS:
        hit = F.when(F.col("text").rlike(rf"\b{w}\b"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit

    # c4 carved-line corpus (q96's construction)
    c4_lines = _c4_lines()
    c4_kept = _c4_kept(c4_lines)
    c4_full = F.array_join(c4_lines, "\n")

    # url score components (q97, over the shared closed-form URL)
    url = _url_col(d)
    host = F.regexp_extract(url, r"^https?://([^/]+)", 1)
    block_hits = None
    for w in URL_BLOCKWORDS:
        hit = F.when(url.contains(w), 1).otherwise(0)
        block_hits = hit if block_hits is None else block_hits + hit

    # marker-argmax lang id (q13/q70)
    hits = {
        lang: F.regexp_count(F.col("text"), F.lit(_marker_pattern(m)))
        for lang, m in LANG_MARKERS.items()
    }
    top = F.greatest(*hits.values())
    predicted = F.when(top == 0, F.lit("und"))
    for lang in LANG_MARKERS:
        predicted = predicted.when(hits[lang] == top, F.lit(lang))

    counters = docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_words"),
        F.length(F.regexp_replace("text", r"\s", "")).cast("bigint").alias(
            "chars"
        ),
        (
            F.regexp_count("text", F.lit("#"))
            + F.regexp_count("text", F.lit(r"\.\.\."))
        ).cast("bigint").alias("n_sym"),
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]")))
        .cast("bigint")
        .alias("bullet_lines"),
        F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(r"\.\.\.$")))
        .cast("bigint")
        .alias("ell_lines"),
        F.size(F.filter(t, lambda w: w.rlike("[a-zA-Z]")))
        .cast("bigint")
        .alias("alpha_words"),
        stop_hits.cast("bigint").alias("stop_hits"),
        F.size(c4_kept).cast("bigint").alias("c4_kept"),
        c4_full.rlike("lorem ipsum").alias("has_lorem"),
        c4_full.contains("{").alias("has_brace"),
        block_hits.cast("bigint").alias("blockword_hits"),
        host.rlike("[0-9]{4}").alias("digit_host"),
        host.rlike(r"\.(click|biz)$").alias("bad_tld"),
        (F.regexp_count(url, F.lit("/")) - 2).cast("bigint").alias("depth"),
        predicted.alias("predicted_lang"),
    )
    c = F.col
    gopher_keep = (
        (c("n_words") >= GOPHER_MIN_WORDS)
        & (c("n_words") <= GOPHER_MAX_WORDS)
        & (3 * c("n_words") <= c("chars"))
        & (c("chars") <= 10 * c("n_words"))
        & (10 * c("n_sym") <= c("n_words"))
        & (10 * c("bullet_lines") <= 9 * c("n_lines"))
        & (10 * c("ell_lines") <= 3 * c("n_lines"))
        & (5 * c("alpha_words") >= 4 * c("n_words"))
        & (c("stop_hits") >= 2)
    )
    c4_keep = (
        (c("c4_kept") >= C4_MIN_SENTENCES) & ~c("has_lorem") & ~c("has_brace")
    )
    url_score = (
        2 * c("blockword_hits")
        + c("digit_host").cast("bigint")
        + c("bad_tld").cast("bigint")
        + (c("depth") > URL_MAX_DEPTH).cast("bigint")
    )
    flags = counters.select(
        (~gopher_keep).alias("fail_gopher"),
        (~c4_keep).alias("fail_c4"),
        (url_score != 0).alias("fail_url"),
        (c("predicted_lang") != "en").alias("fail_lang"),
    )
    agg = flags.groupBy("fail_gopher", "fail_c4", "fail_url", "fail_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    nf = (
        c("fail_gopher").cast("bigint")
        + c("fail_c4").cast("bigint")
        + c("fail_url").cast("bigint")
        + c("fail_lang").cast("bigint")
    )
    return (
        agg.withColumn(
            "total", F.sum("n_docs").over(Window.partitionBy())
        )
        .select(
            "fail_gopher",
            "fail_c4",
            "fail_url",
            "fail_lang",
            c("n_docs").cast("bigint").alias("n_docs"),
            F.expr("(10000 * n_docs) div total").cast("bigint").alias(
                "share_bp"
            ),
            nf.alias("n_failing"),
            F.when(
                nf == 1,
                F.when(c("fail_gopher"), F.lit("gopher"))
                .when(c("fail_c4"), F.lit("c4"))
                .when(c("fail_url"), F.lit("url"))
                .otherwise(F.lit("lang")),
            ).alias("unique_filter"),
        )
    )


def _q164_oracle() -> str:
    """Composes the REGISTERED q95/q96/q97 oracles as subqueries (plus
    q70's lang CASE), so q164's flags are definitionally the same rules
    its member filters are hash-checked against. The only edit to the
    embedded SQL is a textual `FROM documents` -> `FROM aug_docs`
    retarget so each member filter scores the SAME augmented corpus
    (natural rows + the 12 _ABLATION_SYN cells) the Spark side unions
    in — no schema-qualification assumptions about how the harness
    registered the base view."""
    from ocr_service_spark.operators.text_stats import (
        LANG_MARKERS,
        _marker_pattern,
    )

    syn = " UNION ALL ".join(
        "SELECT CAST({} AS BIGINT) AS doc_id, '{}' AS text".format(
            i, txt.replace("'", "''")
        )
        for i, txt in sorted(_ABLATION_SYN.items())
    )
    q95 = _q95_oracle().replace("FROM documents", "FROM aug_docs")
    q96 = _Q96_ORACLE.replace("FROM documents", "FROM aug_docs")
    q97 = _q97_oracle().replace("FROM documents", "FROM aug_docs")
    hit_exprs = ", ".join(
        f"len(regexp_extract_all(text, '{_marker_pattern(m)}')) AS hits_{lang}"
        for lang, m in LANG_MARKERS.items()
    )
    top = "greatest(" + ", ".join(f"hits_{lang}" for lang in LANG_MARKERS) + ")"
    case = f"CASE WHEN {top} = 0 THEN 'und'"
    for lang in LANG_MARKERS:
        case += f" WHEN hits_{lang} = {top} THEN '{lang}'"
    case += " END"
    nf_sql = (
        "CAST(fail_gopher AS INT) + CAST(fail_c4 AS INT)"
        " + CAST(fail_url AS INT) + CAST(fail_lang AS INT)"
    )
    return f"""
        WITH aug_docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL {syn}
        ),
        g AS (
            -- q95's oracle re-unions its OWN 1000000-range fixtures;
            -- keep the natural + ablation rows, drop q95's
            SELECT doc_id, keep FROM ({q95})
            WHERE doc_id < 1000000 OR doc_id >= 2000000
        ),
        c4 AS (
            SELECT doc_id, page_keep FROM ({q96})
        ),
        u AS (
            SELECT doc_id, keep AS url_keep FROM ({q97})
        ),
        l AS (
            SELECT doc_id, {case} AS predicted_lang
            FROM (SELECT doc_id, {hit_exprs} FROM aug_docs)
        ),
        f AS (
            SELECT g.doc_id,
                   NOT g.keep AS fail_gopher,
                   NOT c4.page_keep AS fail_c4,
                   NOT u.url_keep AS fail_url,
                   l.predicted_lang <> 'en' AS fail_lang
            FROM g
            JOIN c4 ON g.doc_id = c4.doc_id
            JOIN u ON g.doc_id = u.doc_id
            JOIN l ON g.doc_id = l.doc_id
        ),
        a AS (
            SELECT fail_gopher, fail_c4, fail_url, fail_lang,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM f GROUP BY 1, 2, 3, 4
        ),
        t AS (SELECT sum(n_docs) AS total FROM a)
        SELECT fail_gopher, fail_c4, fail_url, fail_lang, n_docs,
               CAST((10000 * n_docs) // total AS BIGINT) AS share_bp,
               CAST({nf_sql} AS BIGINT) AS n_failing,
               CASE WHEN {nf_sql} = 1
                    THEN CASE WHEN fail_gopher THEN 'gopher'
                              WHEN fail_c4 THEN 'c4'
                              WHEN fail_url THEN 'url'
                              ELSE 'lang' END
               END AS unique_filter
        FROM a, t
    """


QUERIES = {
    "q95_gopher_quality": q95_gopher_quality,
    "q96_c4_line_filter": q96_c4_line_filter,
    "q97_url_filter": q97_url_filter,
    "q112_readability": q112_readability,
    "q142_serving_state": q142_serving_state,
    "q146_code_routing": q146_code_routing,
    "q152_repetition_battery": q152_repetition_battery,
    "q164_filter_ablation": q164_filter_ablation,
}

ORACLES: dict[str, str] = {
    "q142_serving_state": _q142_oracle(),
    "q146_code_routing": _q146_oracle(),
    "q152_repetition_battery": _q152_oracle(),
    "q95_gopher_quality": _q95_oracle(),
    "q96_c4_line_filter": _Q96_ORACLE,
    "q97_url_filter": _q97_oracle(),
    "q112_readability": _q112_oracle(),
    "q164_filter_ablation": _q164_oracle(),
}
