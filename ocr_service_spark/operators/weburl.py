"""URL canonicalization + host-level rollups for a web-pages corpus.

A Common-Crawl-style pages table keys on ``url`` (BASELINE input
hint), and every real crawl pipeline needs one canonical form per
page before dedup/partitioning: scheme/host case, trailing host dots,
default ports, duplicate path slashes, fragments and tracking
parameters all produce distinct strings for the same resource. The
reference service never sees URLs (its API carries filenames only —
SURVEY.md §3.2), so this is a beyond-reference corpus operator, like
the dedup/similarity suite.

Design for 100 TB: canonicalization is a pure projection — every
step is a built-in string/array function (regexp_extract /
regexp_replace / split / filter / array_sort / array_join), fully
inside whole-stage codegen, no Python, no shuffle. The host rollup
(q64) is one hash-shuffle groupBy on the canonical registered domain
— the partitioning key a politeness-aware crawler would use anyway.

Canonical form (the SURT-adjacent subset expressible identically in
Spark and DuckDB SQL, which is what makes the oracle exact):

    1. drop the fragment;
    2. lowercase scheme and host; strip trailing dots from the host;
    3. drop the default port (http:80 / https:443);
    4. collapse duplicate slashes in the path; empty path -> "/";
    5. drop ``utm_*`` tracking parameters, sort the rest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_service_spark.functions.hashing import h32, h32_sql
from ocr_service_spark.plans.parallelism import documents
from ocr_service_spark.sources.tables import read_table

# Dialect-portable regexes (same semantics in Java regex and RE2).
_RE_FRAGMENT = r"#.*$"
_RE_SCHEME = r"^([A-Za-z][A-Za-z0-9+.-]*):"
_RE_HOSTPORT = r"^[^:]+://([^/?#]*)"
_RE_PORT = r":([0-9]+)$"
_RE_PATH = r"^[^:]+://[^/?#]*([^?#]*)"
_RE_QUERY = r"\?([^#]*)"
_RE_TRACKING = "^utm_"
_RE_REG_DOMAIN = r"([^.]+\.[^.]+)$"


def canonicalize_urls(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Append canonical columns to any DataFrame with a URL column:
    ``canonical_url``, ``host``, ``registered_domain``, ``path_depth``.
    Pure projection — safe to apply inside the scan stage of a 100-TB
    pipeline read."""
    no_frag = F.regexp_replace(F.col(url_col), _RE_FRAGMENT, "")
    scheme = F.lower(F.regexp_extract(no_frag, _RE_SCHEME, 1))
    hostport = F.regexp_extract(no_frag, _RE_HOSTPORT, 1)
    host = F.regexp_replace(
        F.lower(F.regexp_replace(hostport, _RE_PORT, "")), r"\.+$", ""
    )
    port = F.regexp_extract(hostport, _RE_PORT, 1)
    port = F.when(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")),
        F.lit(""),
    ).otherwise(port)
    path = F.regexp_replace(F.regexp_extract(no_frag, _RE_PATH, 1), "/{2,}", "/")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.array_join(
        F.array_sort(
            F.filter(
                F.split(F.regexp_extract(no_frag, _RE_QUERY, 1), "&"),
                lambda x: (x != "") & ~x.rlike(_RE_TRACKING),
            )
        ),
        "&",
    )
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    depth = F.size(F.filter(F.split(path, "/"), lambda x: x != "")).cast("int")
    return pages.withColumns(
        {
            "canonical_url": canonical,
            "host": host,
            "registered_domain": F.regexp_extract(host, _RE_REG_DOMAIN, 1),
            "path_depth": depth,
        }
    )


def _messy_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic messy-URL corpus from the documents table: every
    canonicalization hazard appears in a closed-form pattern the
    oracle reconstructs (mixed case, trailing host dot, default and
    explicit ports, duplicate slashes, tracking params, fragments)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    host = F.concat(
        F.lit("WWW.News"),
        (d % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(".")).otherwise(F.lit("")),
    )
    port = (
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":443"))
        .when(d % 4 == 2, F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    path = F.concat(F.lit("/Articles//item-"), d.cast("string"))
    query = (
        F.when(d % 3 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(d % 3 == 1, F.lit("?b=2&a=1"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 2 == 0, F.lit("#Section-2")).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, port, path, query, frag).alias("url"),
    )


def q63_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document canonicalization — one row per doc, every hazard
    rung exercised; plain projection end to end."""
    out = canonicalize_urls(_messy_urls(spark, sf_dir))
    return out.select(
        "doc_id", "url", "canonical_url", "host", "registered_domain", "path_depth"
    )


def q64_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level rollup over canonical URLs: docs per host +
    distinct-scheme count — the politeness/partitioning profile of a
    crawl. One hash-shuffle groupBy on host; AQE coalesces the
    post-shuffle partitions at real scale. The distinct-scheme count
    uses size(collect_set(...)) rather than countDistinct: the scheme
    domain is bounded (http/https), and the collect_set form keeps the
    plan at ONE shuffle where countDistinct's expand would add a
    second (pinned by test_q64_plan_has_single_shuffle)."""
    canon = canonicalize_urls(_messy_urls(spark, sf_dir))
    scheme = F.regexp_extract("canonical_url", _RE_SCHEME, 1)
    return (
        canon.groupBy("host", "registered_domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.size(F.collect_set(scheme)).cast("bigint").alias("n_schemes"),
            F.max("path_depth").alias("max_depth"),
            F.sum(F.when(F.col("canonical_url").contains("?"), 1).otherwise(0)).alias(
                "n_with_query"
            ),
        )
    )


def extract_outlinks(
    pages: DataFrame, url_col: str = "url", payload_col: str = "html"
) -> DataFrame:
    """HTML payloads -> one row per outlink: (url, seq, outlink,
    noindex). Arrow-batched mapInPandas over the stdlib link parser
    (extraction/links.py); relative hrefs resolve against the page
    URL, link farms are capped at MAX_LINKS per page. A page with no
    links still yields one seq=-1 row carrying its noindex flag, so
    the robots signal survives for link-free pages."""
    import pandas as pd

    def gen(batches):
        from ocr_service_spark.extraction.links import extract_links

        for batch in batches:
            rows = []
            for url, payload in zip(batch[url_col], batch[payload_col]):
                links, noindex = extract_links(
                    bytes(payload) if payload is not None else b"", url
                )
                if not links:
                    rows.append(
                        {"url": url, "seq": -1, "outlink": None, "noindex": noindex}
                    )
                for seq, link in enumerate(links):
                    rows.append(
                        {"url": url, "seq": seq, "outlink": link, "noindex": noindex}
                    )
            yield pd.DataFrame(rows, columns=["url", "seq", "outlink", "noindex"])

    return pages.mapInPandas(
        gen, schema="url string, seq int, outlink string, noindex boolean"
    )


def _link_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic pages whose outlinks are closed-form: every doc links
    an absolute cross-host URL and a root-relative path, docs with
    doc_id%3==0 add a subdirectory-relative link, every doc carries a
    fragment/javascript/mailto trio that must be dropped, and docs
    with doc_id%7==0 are marked noindex."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id").cast("string")
    url = F.format_string(
        "https://www.src%s.example.com/dir/page%s.html",
        (F.col("doc_id") % 5).cast("string"),
        d,
    )
    robots = F.when(
        F.col("doc_id") % 7 == 0,
        F.lit('<meta name="robots" content="noindex, nofollow">'),
    ).otherwise(F.lit(""))
    third = F.when(
        F.col("doc_id") % 3 == 0,
        F.format_string('<a href="sub/p%s">s</a>', d),
    ).otherwise(F.lit(""))
    page = F.concat(
        F.lit("<html><head>"),
        robots,
        F.lit("<title>t</title></head><body>"),
        F.format_string(
            '<a href="https://news%s.example.com/story/%s">n</a>',
            (F.col("doc_id") % 7).cast("string"),
            d,
        ),
        F.format_string('<a href="/rel/%s">r</a>', d),
        third,
        F.lit('<a href="#frag">f</a><a href="javascript:void(0)">j</a>'),
        F.lit('<a href="mailto:a@b.example">m</a></body></html>'),
    )
    return docs.select(
        "doc_id", url.alias("url"), F.encode(page, "utf-8").alias("html")
    )


def q67_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page outlink extraction: absolute kept as-is, relative
    resolved against the page URL, pseudo-scheme/fragment links
    dropped, noindex carried through."""
    pages = _link_pages(spark, sf_dir)
    links = extract_outlinks(pages)
    doc_id = F.regexp_extract("url", r"page(\d+)\.html", 1).cast("bigint")
    return links.select(doc_id.alias("doc_id"), "seq", "outlink", "noindex")


def q68_link_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host in-degree over the outlink edges — the web-graph profile a
    frontier scheduler or PageRank seed needs. The noindex filter
    drops edges from deindexed pages map-side, before any shuffle;
    n_source_pages is a true countDistinct over unbounded page
    cardinality, so Catalyst's two-phase distinct expansion (partial
    agg on (host, url), then on host) is the correct scale shape —
    unlike q64's bounded scheme set, a collect_set here would grow
    per-host state without bound."""
    links = extract_outlinks(_link_pages(spark, sf_dir)).filter(
        F.col("outlink").isNotNull() & ~F.col("noindex")
    )
    host = F.regexp_extract("outlink", _RE_HOSTPORT, 1)
    return links.groupBy(host.alias("target_host")).agg(
        F.count(F.lit(1)).alias("n_inlinks"),
        F.countDistinct("url").alias("n_source_pages"),
    )


PR_SCALE = 1_000_000  # fixed-point unit: pr=1.0
PR_BASE = 150_000  # (1 - 0.85) * SCALE
PR_ITERS = 2


def host_pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Integer-exact PageRank over a (src, dst) host edge list.

    Fixed-point arithmetic (like q55's k-means): ranks are bigints
    scaled by PR_SCALE, the damping step is ``base + (17 * mass) div
    20`` with truncating integer division at each stage — every value
    is exactly reproducible in any SQL engine, no float drift. The
    iteration is the standard two-shuffle round: contributions =
    edges ⋈ ranks ⋈ outdeg (hash joins on the host key), then a
    groupBy(dst) sum; at web scale all three relations hash-partition
    on the same key, so AQE reuses the partitioning across rounds.
    Dangling mass (hosts with no outlinks) is dropped, parallel edges
    each carry a contribution — both conventions mirrored exactly by
    the oracle. Iterations are unrolled into one lazy plan; a
    production run at 10^8 hosts would checkpoint per round instead.
    """
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ranks = nodes.withColumn("pr", F.lit(PR_SCALE).cast("bigint"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks, edges["src"] == ranks["host"])
            .join(outdeg, "src")
            .select(F.col("dst"), F.expr("pr div outdeg").alias("c"))
        )
        mass = contrib.groupBy("dst").agg(F.sum("c").alias("mass"))
        ranks = nodes.join(mass, nodes["host"] == mass["dst"], "left").select(
            "host",
            (
                F.lit(PR_BASE) + F.expr(f"(17 * coalesce(mass, 0L)) div 20")
            ).cast("bigint").alias("pr"),
        )
    return ranks


def q69_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the synthetic link graph (all edges, including
    self-links from relative hrefs — conventions pinned in
    host_pagerank's docstring); two unrolled integer-exact iterations
    the oracle replays verbatim."""
    links = extract_outlinks(_link_pages(spark, sf_dir)).filter(
        F.col("outlink").isNotNull()
    )
    edges = links.select(
        F.regexp_extract("url", _RE_HOSTPORT, 1).alias("src"),
        F.regexp_extract("outlink", _RE_HOSTPORT, 1).alias("dst"),
    )
    return host_pagerank(edges).select("host", F.col("pr").alias("pr_scaled"))


# -- q141: HITS hubs & authorities (Kleinberg) --------------------------------
#
# PageRank's sibling signal: a page that LINKS TO many good pages is a
# hub (a directory/portal — often boilerplate a corpus wants to
# downweight), a page LINKED FROM many good hubs is an authority.
# Fixed-point arithmetic like host_pagerank: scores are bigints scaled
# by HITS_SCALE, each half-round renormalizes by the global raw sum
# with truncating integer division (sum-normalization, the integer-
# exact stand-in for the textbook L2 norm), so the oracle replays
# every value exactly. Conventions pinned here and mirrored by the
# oracle: DISTINCT edges (adjacency, not multiplicity), self-edges
# kept, nodes outside the updated side score 0.
HITS_SCALE = 1_000_000
HITS_ITERS = 2


def hits_scores(edges: DataFrame, iters: int = HITS_ITERS) -> DataFrame:
    """(host, hub_scaled, auth_scaled) after ``iters`` HITS rounds over
    a distinct (src, dst) edge list.

    Each half-round is one hash equi-join on the host key plus a
    groupBy sum — the q69 two-shuffle shape — and the normalizer is a
    1-row total crossJoin broadcast (the q99/q121 pattern; the nested
    loop against one row is the intended plan). The edge list, node
    list and each half-round's scores are lineage-truncated with
    localCheckpoints (the in-memory per-round snapshot a 10^8-node
    production run writes out): edges and nodes are referenced twice
    per round and each score table feeds the next half-round, so
    without truncation the plan re-expands the upstream link-extract
    pipeline once per reference."""
    edges = edges.localCheckpoint(eager=False)
    nodes = (
        edges.select(F.col("src").alias("host"))
        .union(edges.select(F.col("dst").alias("host")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hub = nodes.withColumn("s", F.lit(HITS_SCALE).cast("bigint"))
    auth = None
    for _ in range(iters):
        araw = (
            edges.join(hub.withColumnRenamed("host", "h"), edges["src"] == F.col("h"))
            .groupBy("dst")
            .agg(F.sum("s").alias("raw"))
        )
        atot = araw.agg(F.sum("raw").alias("tot"))
        auth = (
            nodes.join(araw, nodes["host"] == araw["dst"], "left")
            .crossJoin(F.broadcast(atot))
            .select(
                "host",
                F.expr(f"(coalesce(raw, 0L) * {HITS_SCALE}) div tot").alias("s"),
            )
            .localCheckpoint(eager=False)
        )
        hraw = (
            edges.join(auth.withColumnRenamed("host", "h"), edges["dst"] == F.col("h"))
            .groupBy("src")
            .agg(F.sum("s").alias("raw"))
        )
        htot = hraw.agg(F.sum("raw").alias("tot"))
        hub = (
            nodes.join(hraw, nodes["host"] == hraw["src"], "left")
            .crossJoin(F.broadcast(htot))
            .select(
                "host",
                F.expr(f"(coalesce(raw, 0L) * {HITS_SCALE}) div tot").alias("s"),
            )
            .localCheckpoint(eager=False)
        )
    return (
        hub.withColumnRenamed("s", "hub_scaled")
        .join(auth.withColumnRenamed("s", "auth_scaled"), "host")
        .select("host", "hub_scaled", "auth_scaled")
    )


def q141_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS over the same synthetic link graph as q69 (the real
    extract_outlinks parser builds the edges end-to-end), deduplicated
    to an adjacency list per the module convention; two integer-exact
    rounds the oracle replays verbatim."""
    links = extract_outlinks(_link_pages(spark, sf_dir)).filter(
        F.col("outlink").isNotNull()
    )
    edges = links.select(
        F.regexp_extract("url", _RE_HOSTPORT, 1).alias("src"),
        F.regexp_extract("outlink", _RE_HOSTPORT, 1).alias("dst"),
    ).distinct()
    return hits_scores(edges)


# -- q140: crawl discovery depth (frontier BFS from seeds) --------------------
#
# Depth-limited crawling needs each host's DISCOVERY DEPTH — the
# minimum number of link hops from the seed list. This is frontier
# BFS over the host graph: the same unrolled join-per-round shape as
# host_pagerank (q69), but accumulating min-depth instead of rank
# mass. Hosts not reached within BFS_MAX_DEPTH hops report -1 (the
# "beyond the crawl horizon" verdict a frontier scheduler acts on).
BFS_MAX_DEPTH = 8
_BFS_HOSTS = 64  # planted graph size (doc_id % 64 — SF-independent
#                  once the table holds >= 64 docs; sf0.001 has 500)


def bfs_depths(edges: DataFrame, seeds: DataFrame, max_depth: int = BFS_MAX_DEPTH) -> DataFrame:
    """Min hop-distance from any seed, capped at ``max_depth``.

    ``edges`` is (src, dst); ``seeds`` is (host). Each round joins the
    depth table against the edge list on the source key and folds the
    discovered hosts back in with a groupBy-min — at web scale all
    rounds hash-partition on the same host key, so AQE reuses the
    exchange. Parallel edges are harmless for min-depth but multiply
    join output, so the caller deduplicates; seeds are depth 0 by
    definition. Each round's dist is lineage-truncated with a
    localCheckpoint (the in-memory form of the per-round write/
    read-back a 10^8-host production run uses): dist appears TWICE in
    the next round (join probe + union), so without truncation the
    plan re-expands the seed subtree 2^max_depth times — the q37
    propagate_min_labels lesson. eager=False does not defer the
    rounds: with AQE on (session.py) each checkpoint call runs its
    round's shuffle stages, so building the returned DataFrame already
    runs about one job per round."""
    dist = seeds.select("host", F.lit(0).cast("bigint").alias("depth"))
    edges = edges.localCheckpoint(eager=False)
    for _ in range(max_depth):
        step = (
            edges.join(dist, edges["src"] == dist["host"])
            .select(F.col("dst").alias("host"), (F.col("depth") + 1).alias("depth"))
        )
        dist = (
            dist.union(step)
            .groupBy("host")
            .agg(F.min("depth").alias("depth"))
            .localCheckpoint(eager=False)
        )
    return dist


def q140_crawl_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discovery depth over a planted 64-host graph: host g<k> links to
    g<(2k+1)%64> always and to g<(3k+2)%64> when k is even; the seed
    is g0. Closed-form in doc_id, so the DuckDB twin rebuilds the
    exact edge list and walks it with a recursive CTE — the SQL-native
    expression of the same BFS, min-depth over all paths of length <=
    BFS_MAX_DEPTH. Depths 0..8 all occur; 37 of the 64 hosts sit
    beyond the horizon and report -1."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    k = (F.col("doc_id") % _BFS_HOSTS).cast("bigint")
    ghost = lambda expr: F.format_string("g%s.test", expr.cast("string"))  # noqa: E731
    e_a = docs.select(ghost(k).alias("src"), ghost((2 * k + 1) % _BFS_HOSTS).alias("dst"))
    e_b = docs.filter(k % 2 == 0).select(
        ghost(k).alias("src"), ghost((3 * k + 2) % _BFS_HOSTS).alias("dst")
    )
    edges = e_a.union(e_b).distinct()
    nodes = docs.select(ghost(k).alias("host")).distinct()
    seeds = nodes.filter(F.col("host") == "g0.test")
    reached = bfs_depths(edges, seeds)
    return nodes.join(reached, "host", "left").select(
        "host", F.coalesce("depth", F.lit(-1)).cast("bigint").alias("depth")
    )


_Q140_ORACLE = f"""
    WITH RECURSIVE ks AS (
        SELECT DISTINCT doc_id % {_BFS_HOSTS} AS k FROM documents
    ),
    e AS (
        SELECT 'g' || CAST(k AS VARCHAR) || '.test' AS src,
               'g' || CAST((2 * k + 1) % {_BFS_HOSTS} AS VARCHAR) || '.test' AS dst
        FROM ks
        UNION
        SELECT 'g' || CAST(k AS VARCHAR) || '.test',
               'g' || CAST((3 * k + 2) % {_BFS_HOSTS} AS VARCHAR) || '.test'
        FROM ks WHERE k % 2 = 0
    ),
    walk(host, depth) AS (
        SELECT 'g0.test', 0
        UNION ALL
        SELECT e.dst, w.depth + 1
        FROM walk w JOIN e ON e.src = w.host
        WHERE w.depth < {BFS_MAX_DEPTH}
    ),
    best AS (SELECT host, min(depth) AS depth FROM walk GROUP BY 1),
    nodes AS (SELECT DISTINCT 'g' || CAST(k AS VARCHAR) || '.test' AS host FROM ks)
    SELECT n.host, CAST(coalesce(b.depth, -1) AS BIGINT) AS depth
    FROM nodes n LEFT JOIN best b ON n.host = b.host
"""


# -- q149: host-skew report + salting advisor ---------------------------------
#
# The diagnostic that DECIDES salting (q47's explicit two-phase agg,
# q41's salted page slices): how unequal is the per-host document
# distribution, and which hosts need how many salt buckets? Planted
# skew: a third of the corpus lands on one mega-host, the rest spreads
# over 50 small hosts. All metrics integer: per-host share in basis
# points, rank, the corpus Gini coefficient (the Lorenz form
# sum((2i - n - 1) * x_i) scaled by 10000 over n * total), and a salt
# factor = max(1, n_docs div median) — hosts at the median get 1 (no
# salting), the mega-host gets its true multiple. Shapes: one
# URL-sized groupBy, then windows over the HOST-sized table only.
GINI_SCALE = 10000


def host_skew_report(per_host: DataFrame) -> DataFrame:
    """(host, n_docs) -> per-host skew metrics + corpus gini_bp.

    Median dialect (integer-exact percentile_disc(0.5)): the value at
    ascending position (n + 1) div 2, ties broken by host asc."""
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.col("n_docs").desc(), F.col("host").asc())
    w_asc = Window.orderBy(F.col("n_docs").asc(), F.col("host").asc())
    w_all = Window.partitionBy()
    ranked = per_host.select(
        "host",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.row_number().over(w_rank).cast("bigint").alias("rank"),
        F.row_number().over(w_asc).cast("bigint").alias("i_asc"),
    )
    n = F.count(F.lit(1)).over(w_all)
    stats = ranked.select(
        "host",
        "n_docs",
        "rank",
        n.cast("bigint").alias("n_hosts"),
        F.sum("n_docs").over(w_all).cast("bigint").alias("total"),
        F.sum((2 * F.col("i_asc") - n - 1) * F.col("n_docs"))
        .over(w_all)
        .cast("bigint")
        .alias("lorenz"),
        F.max(F.when(F.col("i_asc") == F.floor((n + 1) / 2), F.col("n_docs")))
        .over(w_all)
        .cast("bigint")
        .alias("median_docs"),
    )
    return stats.select(
        "host",
        "n_docs",
        "rank",
        F.expr(f"(n_docs * {GINI_SCALE}) div total").alias("share_bp"),
        F.expr(f"({GINI_SCALE} * lorenz) div (n_hosts * total)").alias("gini_bp"),
        F.greatest(F.lit(1).cast("bigint"), F.expr("n_docs div median_docs")).alias(
            "salt_factor"
        ),
    )


def q149_host_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    host = F.when(d % 3 == 0, F.lit("h0.big")).otherwise(
        F.format_string("h%s.test", (d % 50).cast("string"))
    )
    per_host = docs.groupBy(host.alias("host")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return host_skew_report(per_host)


# -- q151: cross-host mirror detection -----------------------------------------
#
# Mirrors, scrapers and CDNs serve byte-identical content from many
# hosts; within-corpus dedup (q10) collapses the copies, but the
# HOST-level signal — "what fraction of this host is mirrored from
# elsewhere?" — is what a seed-list curator acts on (a host that is
# 90% mirrored content adds nothing). Shapes: one groupBy per content
# hash (n_hosts via two-phase countDistinct, canonical host = min —
# the q10/q37 election convention), an equi-join back on the hash key
# (both sides hash-partition on it), then one host rollup.
def q151_mirror_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted mirroring: content c = doc_id % 120 served from host
    m<doc_id % 17>; most contents therefore appear on several hosts.
    Per host: docs, docs whose content also lives on ANOTHER host
    (mirrored), docs where this host is the cluster's canonical (min
    host string), and the mirrored share in basis points."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    pages = docs.select(
        "doc_id",
        F.format_string("m%s.test", (d % 17).cast("string")).alias("host"),
        F.md5(F.concat(F.lit("content-"), (d % 120).cast("string"))).alias(
            "content_hash"
        ),
    )
    clusters = pages.groupBy("content_hash").agg(
        F.countDistinct("host").alias("n_hosts"),
        F.min("host").alias("canonical_host"),
    )
    joined = pages.join(clusters, "content_hash")
    return (
        joined.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_hosts") > 1, 1).otherwise(0)).alias("n_mirrored"),
            F.sum(
                F.when(F.col("canonical_host") == F.col("host"), 1).otherwise(0)
            ).alias("n_canonical"),
        )
        .select(
            "host",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_mirrored").cast("bigint").alias("n_mirrored"),
            F.col("n_canonical").cast("bigint").alias("n_canonical"),
            F.expr("(n_mirrored * 10000) div n_docs").alias("mirrored_bp"),
        )
    )


ORACLES_Q151 = """
    WITH pages AS (
        SELECT doc_id,
               'm' || CAST(doc_id % 17 AS VARCHAR) || '.test' AS host,
               md5('content-' || CAST(doc_id % 120 AS VARCHAR)) AS content_hash
        FROM documents
    ),
    clusters AS (
        SELECT content_hash, count(DISTINCT host) AS n_hosts,
               min(host) AS canonical_host
        FROM pages GROUP BY 1
    )
    SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_hosts > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_mirrored,
           CAST(sum(CASE WHEN canonical_host = host THEN 1 ELSE 0 END) AS BIGINT)
               AS n_canonical,
           CAST(sum(CASE WHEN n_hosts > 1 THEN 1 ELSE 0 END) * 10000 // count(*)
               AS BIGINT) AS mirrored_bp
    FROM pages JOIN clusters USING (content_hash)
    GROUP BY host
"""


# -- q153: URL citation mining from plain text ----------------------------------
#
# Link graphs usually come from HTML (q67); PDFs, books and forum
# dumps cite URLs in PROSE. Pinned dialect: scheme-anchored
# `https?://` runs of non-whitespace, with trailing sentence
# punctuation ([.,;:)\\]]+) stripped — the pragmatic rule real
# citation miners use. Pure codegen posexplode projection; the host
# column feeds the same rollups as q68.
_CITE_RE = r"https?://[^\s]+"
_CITE_TRAIL = r"[.,;:)\]]+$"


def q153_text_citations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted citations: every 5th doc cites one URL mid-prose (with
    a trailing period to exercise the strip), every 15th a second
    bare-http one. Output: one row per citation in document order."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    body = F.concat(
        F.col("text"),
        F.when(
            d % 5 == 0,
            F.format_string(
                " see https://ref%s.example.org/doc/%s.",
                (d % 30).cast("string"),
                d.cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            d % 15 == 0,
            F.format_string(
                " and http://mirror%s.example.net/%s;",
                (d % 7).cast("string"),
                d.cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    cites = docs.select(
        "doc_id",
        F.posexplode(F.regexp_extract_all(body, F.lit(f"({_CITE_RE})"), 1)).alias(
            "seq", "raw"
        ),
    )
    url = F.regexp_replace("raw", _CITE_TRAIL, "")
    return cites.select(
        "doc_id",
        F.col("seq").cast("bigint").alias("seq"),
        url.alias("url"),
        F.regexp_extract(url, r"^https?://([^/]+)", 1).alias("host"),
    )


ORACLES_Q153 = rf"""
    WITH p AS (
        SELECT doc_id,
               text
               || (CASE WHEN doc_id % 5 = 0
                        THEN ' see https://ref' || CAST(doc_id % 30 AS VARCHAR)
                             || '.example.org/doc/' || CAST(doc_id AS VARCHAR) || '.'
                        ELSE '' END)
               || (CASE WHEN doc_id % 15 = 0
                        THEN ' and http://mirror' || CAST(doc_id % 7 AS VARCHAR)
                             || '.example.net/' || CAST(doc_id AS VARCHAR) || ';'
                        ELSE '' END) AS body
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               generate_subscripts(regexp_extract_all(body, '{_CITE_RE}'), 1) - 1
                   AS seq,
               regexp_replace(unnest(regexp_extract_all(body, '{_CITE_RE}')),
                              '[.,;:)\]]+$', '') AS url
        FROM p
    )
    SELECT doc_id, CAST(seq AS BIGINT) AS seq, url,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host
    FROM c
"""


# -- q161: image-text pair extraction (LAION shape) -------------------------------
IMAGE_PAIRS_SCHEMA = (
    "url string, seq bigint, image_url string, alt string, "
    "caption string, is_tracking boolean, keep boolean"
)


def extract_image_pair_rows(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per usable <img>
    per the dialect in extraction/images.py. Map-only mapInPandas,
    explode inside the UDF capped at MAX_IMAGES — the q67/q134
    parser-fan-out shape."""
    import pandas as pd

    def run(batches):
        from ocr_service_spark.extraction.images import extract_image_pairs

        for batch in batches:
            rows: dict[str, list] = {
                "url": [], "seq": [], "image_url": [], "alt": [],
                "caption": [], "is_tracking": [], "keep": [],
            }
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                for rec in extract_image_pairs(bytes(payload), url):
                    rows["url"].append(url)
                    rows["seq"].append(rec["seq"])
                    rows["image_url"].append(rec["image_url"])
                    rows["alt"].append(rec["alt"])
                    rows["caption"].append(rec["caption"])
                    rows["is_tracking"].append(rec["is_tracking"])
                    rows["keep"].append(rec["keep"])
            rows["seq"] = pd.Series(rows["seq"], dtype="int64")
            yield pd.DataFrame(rows)

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=IMAGE_PAIRS_SCHEMA)


def q161_image_text_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-text pairs over closed-form pages: every doc carries one
    plain <img> with alt text (relative src — resolution exercised);
    doc_id%3==0 adds a <figure> image whose text comes from the
    figcaption (no alt); doc_id%4==0 adds a 1x1 tracking pixel (row
    kept, keep=false); doc_id%7==0 adds a data: inline (dropped by
    hygiene, no row). The REAL parser runs end-to-end; the oracle
    replays the planting."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    page_url = F.format_string(
        "http://site%s.test/page/%s.html", (d % 10).cast("string"), ds
    )
    fig = F.when(
        d % 3 == 0,
        F.format_string(
            '<figure><img src="http://cdn%s.test/f%s.png">'
            "<figcaption>Figure caption %s</figcaption></figure>",
            (d % 5).cast("string"), ds, ds,
        ),
    ).otherwise(F.lit(""))
    pixel = F.when(
        d % 4 == 0,
        F.lit('<img src="/t/p.gif" width="1" height="1" alt="">'),
    ).otherwise(F.lit(""))
    inline = F.when(
        d % 7 == 0,
        F.lit('<img src="data:image/png;base64,AAAA" alt="inline art">'),
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("<html><body><p>intro</p>"),
        F.format_string('<img src="/img/%s.jpg" alt="Alt text %s">', ds, ds),
        fig,
        pixel,
        inline,
        F.lit("</body></html>"),
    )
    pages = docs.select(
        page_url.alias("url"), F.encode(body, "utf-8").alias("html")
    )
    out = extract_image_pair_rows(pages)
    doc_id = F.regexp_extract("url", r"/page/(\d+)\.html$", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "seq", "image_url", "alt", "caption",
        "is_tracking", "keep",
    )


ORACLES_Q161 = """
    WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds,
                      CAST(doc_id % 10 AS VARCHAR) AS hs,
                      CAST(doc_id % 5 AS VARCHAR) AS cs
               FROM documents)
    SELECT doc_id, CAST(0 AS BIGINT) AS seq,
           'http://site' || hs || '.test/img/' || ds || '.jpg' AS image_url,
           'Alt text ' || ds AS alt,
           CAST(NULL AS VARCHAR) AS caption,
           false AS is_tracking, true AS keep
    FROM d
    UNION ALL
    SELECT doc_id, 1,
           'http://cdn' || cs || '.test/f' || ds || '.png',
           '', 'Figure caption ' || ds, false, true
    FROM d WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT),
           'http://site' || hs || '.test/t/p.gif',
           '', CAST(NULL AS VARCHAR), true, false
    FROM d WHERE doc_id % 4 = 0
"""


# -- q162: canonical page-image election -------------------------------------------
def q162_page_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One representative image per page by the pinned precedence
    ladder (og:image > captioned figure > alt image — see
    extraction/images.py:elect_page_image), the q129 date-ladder
    pattern applied to the multimodal tier. Planting exercises every
    rung AND the fall-through: d%5==0 declares og:image over both
    competitors (og wins), 1 has figure+alt (figure), 2 has alt only
    (alt), 3 has only a tracking pixel and a too-short alt (no row),
    4 declares an unusable data: og:image (falls through to alt)."""
    import pandas as pd

    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    page_url = F.format_string(
        "http://site%s.test/page/%s.html", (d % 10).cast("string"), ds
    )
    og = F.format_string(
        '<meta property="og:image" content="http://og%s.test/card%s.jpg">',
        (d % 3).cast("string"), ds,
    )
    og_bad = F.lit('<meta property="og:image" content="data:image/png;base64,AA">')
    figure = F.format_string(
        '<figure><img src="/fig%s.png"><figcaption>Long caption %s</figcaption></figure>',
        ds, ds,
    )
    alt_img = F.format_string('<img src="/alt%s.jpg" alt="Alt text %s">', ds, ds)
    junk = F.lit('<img src="/p.gif" width="1" height="1" alt="long enough alt">'
                 '<img src="/s.jpg" alt="abc">')
    head = (
        F.when(d % 5 == 0, og)
        .when(d % 5 == 4, og_bad)
        .otherwise(F.lit(""))
    )
    body = (
        F.when(d % 5 == 0, F.concat(figure, alt_img))
        .when(d % 5 == 1, F.concat(figure, alt_img))
        .when(d % 5 == 2, alt_img)
        .when(d % 5 == 3, junk)
        .otherwise(alt_img)
    )
    html = F.concat(
        F.lit("<html><head>"), head, F.lit("</head><body>"), body,
        F.lit("</body></html>"),
    )
    pages = docs.select(page_url.alias("url"), F.encode(html, "utf-8").alias("html"))

    def run(batches):
        from ocr_service_spark.extraction.images import elect_page_image

        for batch in batches:
            urls, rules, imgs = [], [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                got = elect_page_image(bytes(payload), url)
                if got is not None:
                    urls.append(url)
                    rules.append(got[0])
                    imgs.append(got[1])
            yield pd.DataFrame({"url": urls, "rule": rules, "image_url": imgs})

    out = pages.select("url", F.col("html").alias("payload")).mapInPandas(
        run, schema="url string, rule string, image_url string"
    )
    doc_id = F.regexp_extract("url", r"/page/(\d+)\.html$", 1).cast("bigint")
    return out.select(doc_id.alias("doc_id"), "rule", "image_url")


ORACLES_Q162 = """
    WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds,
                      CAST(doc_id % 10 AS VARCHAR) AS hs,
                      CAST(doc_id % 3 AS VARCHAR) AS og
               FROM documents)
    SELECT doc_id, 'og' AS rule,
           'http://og' || og || '.test/card' || ds || '.jpg' AS image_url
    FROM d WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id, 'figure',
           'http://site' || hs || '.test/fig' || ds || '.png'
    FROM d WHERE doc_id % 5 = 1
    UNION ALL
    SELECT doc_id, 'alt',
           'http://site' || hs || '.test/alt' || ds || '.jpg'
    FROM d WHERE doc_id % 5 IN (2, 4)
"""


# -- q165: HTML table extraction (structured cells) -------------------------------
TABLE_CELLS_SCHEMA = (
    "url string, table_idx bigint, row_idx bigint, col_idx bigint, "
    "is_header boolean, cell_text string"
)


def extract_table_cells(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per table cell per
    variant B of extraction/html_tables.py (colspan advances the
    cursor, render-true grid positions). Map-only mapInPandas, explode
    inside the UDF capped at MAX_CELLS — the q161 parser-fan-out
    shape."""
    import pandas as pd

    def run(batches):
        from ocr_service_spark.extraction.html_tables import extract_tables_spanned

        for batch in batches:
            rows: dict[str, list] = {
                "url": [], "table_idx": [], "row_idx": [], "col_idx": [],
                "is_header": [], "cell_text": [],
            }
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                for ti, ri, ci, hd, tx in extract_tables_spanned(bytes(payload)):
                    rows["url"].append(url)
                    rows["table_idx"].append(ti)
                    rows["row_idx"].append(ri)
                    rows["col_idx"].append(ci)
                    rows["is_header"].append(hd)
                    rows["cell_text"].append(tx)
            for k in ("table_idx", "row_idx", "col_idx"):
                rows[k] = pd.Series(rows[k], dtype="int64")
            yield pd.DataFrame(rows)

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=TABLE_CELLS_SCHEMA)


def q165_html_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table cells over closed-form pages: every doc carries one
    header+2x2 grid (th cells, an inline-markup + entity cell when
    doc_id%4==0, an empty cell when doc_id%5==0); doc_id%3==0 adds a
    second table whose colspan=2 lead cell pushes the next cell to
    col_idx 2. The REAL parser runs end-to-end (charset ladder,
    tolerant close); the oracle replays the planting."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    page_url = F.format_string(
        "http://site%s.test/page/%s.html", (d % 10).cast("string"), ds
    )
    c00 = F.when(
        d % 4 == 0,
        F.format_string("<b>bold</b> k0 &amp; %s", ds),
    ).otherwise(F.format_string("k0 %s", ds))
    c21 = F.when(d % 5 == 0, F.lit("")).otherwise(
        F.format_string("v1 %s", ds)
    )
    t0 = F.concat(
        F.lit("<table><tr><th>name</th><th>value</th></tr><tr><td>"),
        c00,
        F.format_string("</td><td>v0 %s</td></tr><tr><td>k1 %s</td><td>", ds, ds),
        c21,
        F.lit("</td></tr></table>"),
    )
    t1 = F.when(
        d % 3 == 0,
        F.format_string(
            '<table><tr><td colspan="2">wide %s</td><td>after %s</td></tr>'
            "</table>",
            ds, ds,
        ),
    ).otherwise(F.lit(""))
    body = F.concat(
        F.lit("<html><body><p>intro</p>"), t0, t1, F.lit("</body></html>")
    )
    pages = docs.select(
        page_url.alias("url"), F.encode(body, "utf-8").alias("html")
    )
    out = extract_table_cells(pages)
    doc_id = F.regexp_extract("url", r"/page/(\d+)\.html$", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "table_idx", "row_idx", "col_idx",
        "is_header", "cell_text",
    )


ORACLES_Q165 = """
    WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds FROM documents)
    SELECT doc_id, CAST(0 AS BIGINT) AS table_idx, CAST(0 AS BIGINT) AS row_idx,
           CAST(0 AS BIGINT) AS col_idx, true AS is_header, 'name' AS cell_text
    FROM d
    UNION ALL SELECT doc_id, 0, 0, 1, true, 'value' FROM d
    UNION ALL SELECT doc_id, 0, 1, 0, false,
           CASE WHEN doc_id % 4 = 0 THEN 'bold k0 & ' || ds
                ELSE 'k0 ' || ds END
    FROM d
    UNION ALL SELECT doc_id, 0, 1, 1, false, 'v0 ' || ds FROM d
    UNION ALL SELECT doc_id, 0, 2, 0, false, 'k1 ' || ds FROM d
    UNION ALL SELECT doc_id, 0, 2, 1, false,
           CASE WHEN doc_id % 5 = 0 THEN '' ELSE 'v1 ' || ds END
    FROM d
    UNION ALL SELECT doc_id, 1, 0, 0, false, 'wide ' || ds
    FROM d WHERE doc_id % 3 = 0
    UNION ALL SELECT doc_id, 1, 0, 2, false, 'after ' || ds
    FROM d WHERE doc_id % 3 = 0
"""


# -- q157: typosquat host detection (edit-1 host pairs) --------------------------
#
# Squatters register hosts one edit away from a brand (dropped or
# substituted character) to catch typo traffic and scraped-content
# clicks; a corpus curator wants those hosts flagged before their
# content trains anything. Candidates come from DROP-ONE-CHARACTER
# signatures over the DISTINCT host table (host itself + each
# one-char-deleted variant): a deletion pair shares the deleted form,
# a substitution pair shares the drop-at-the-differing-position form —
# so every levenshtein<=1 pair is caught without an all-pairs host
# join. Exact levenshtein verifies candidates (both engines implement
# the standard DP distance). The host table is corpus-DISTINCT —
# linear passes everywhere, signature fan-out ~len(host).
def _host_sigs(host):
    """array<string>: the host + its drop-one-character variants."""
    return F.concat(
        F.array(host),
        F.transform(
            F.sequence(F.lit(1), F.length(host)),
            lambda i: F.concat(
                F.substring(host, F.lit(1), (i - 1).cast("int")),
                host.substr(
                    (i + 1).cast("int"), (F.length(host) - i).cast("int")
                ),
            ),
        ),
    )


def q157_typosquat_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted squatting: most docs live on brand<k>.com (k = d%20);
    every 23rd doc registers that brand with one letter dropped
    (position 1 + d%5). Output: every edit-1 host pair, oriented victim
    (more docs; tie -> lexicographic smaller) vs squat, with both doc
    counts and the verified distance."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    brand = F.format_string("brand%s.com", (d % 20).cast("string"))
    squat = F.concat(
        F.expr("substring(format_string('brand%s.com', CAST(doc_id % 20 AS STRING)), 1, CAST(doc_id % 5 AS INT))"),
        F.expr("substring(format_string('brand%s.com', CAST(doc_id % 20 AS STRING)), CAST(doc_id % 5 AS INT) + 2)"),
    )
    host = F.when(d % 23 == 0, squat).otherwise(brand)
    hosts = (
        docs.select(host.alias("host"))
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    sigs = hosts.select(
        "host", "n_docs", F.explode(_host_sigs(F.col("host"))).alias("sig")
    )
    a = sigs.select(
        F.col("host").alias("host_a"), F.col("n_docs").alias("docs_a"), "sig"
    )
    b = sigs.select(
        F.col("host").alias("host_b"), F.col("n_docs").alias("docs_b"), "sig"
    )
    cand = (
        a.join(b, "sig")
        .filter(F.col("host_a") < F.col("host_b"))
        .select("host_a", "docs_a", "host_b", "docs_b")
        .distinct()
        .filter(F.levenshtein("host_a", "host_b") <= 1)
    )
    a_victim = (F.col("docs_a") > F.col("docs_b")) | (
        (F.col("docs_a") == F.col("docs_b")) & (F.col("host_a") < F.col("host_b"))
    )
    return cand.select(
        F.when(a_victim, F.col("host_a")).otherwise(F.col("host_b")).alias(
            "victim_host"
        ),
        F.when(a_victim, F.col("host_b")).otherwise(F.col("host_a")).alias(
            "squat_host"
        ),
        F.when(a_victim, F.col("docs_a")).otherwise(F.col("docs_b"))
        .cast("bigint")
        .alias("victim_docs"),
        F.when(a_victim, F.col("docs_b")).otherwise(F.col("docs_a"))
        .cast("bigint")
        .alias("squat_docs"),
        F.levenshtein("host_a", "host_b").cast("bigint").alias("distance"),
    )


ORACLES_Q157 = """
    WITH hosts AS (
        SELECT host, CAST(count(*) AS BIGINT) AS n_docs FROM (
            SELECT CASE WHEN doc_id % 23 = 0
                        THEN substring('brand' || CAST(doc_id % 20 AS VARCHAR)
                                       || '.com', 1, CAST(doc_id % 5 AS INT))
                             || substring('brand' || CAST(doc_id % 20 AS VARCHAR)
                                          || '.com',
                                          CAST(doc_id % 5 AS INT) + 2)
                        ELSE 'brand' || CAST(doc_id % 20 AS VARCHAR) || '.com'
                   END AS host
            FROM documents
        ) GROUP BY 1
    ),
    sigs AS (
        SELECT host, n_docs, unnest(
            [host] || list_transform(range(1, len(host) + 1),
                i -> substring(host, 1, CAST(i AS INT) - 1)
                     || substring(host, CAST(i AS INT) + 1))
        ) AS sig
        FROM hosts
    ),
    cand AS (
        SELECT DISTINCT a.host AS host_a, a.n_docs AS docs_a,
                        b.host AS host_b, b.n_docs AS docs_b
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.host < b.host
    ),
    verified AS (
        SELECT *, levenshtein(host_a, host_b) AS dist FROM cand
        WHERE levenshtein(host_a, host_b) <= 1
    )
    SELECT CASE WHEN docs_a > docs_b OR (docs_a = docs_b AND host_a < host_b)
                THEN host_a ELSE host_b END AS victim_host,
           CASE WHEN docs_a > docs_b OR (docs_a = docs_b AND host_a < host_b)
                THEN host_b ELSE host_a END AS squat_host,
           CASE WHEN docs_a > docs_b OR (docs_a = docs_b AND host_a < host_b)
                THEN docs_a ELSE docs_b END AS victim_docs,
           CASE WHEN docs_a > docs_b OR (docs_a = docs_b AND host_a < host_b)
                THEN docs_b ELSE docs_a END AS squat_docs,
           CAST(dist AS BIGINT) AS distance
    FROM verified
"""


# -- q71: crawl snapshot churn (delta detection) -----------------------------


def snapshot_churn(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-URL churn between two crawl snapshots, each
    ``(url, host, content_hash)``: one full-outer sort-merge join on
    url -> status ``added`` / ``deleted`` / ``changed`` / ``unchanged``.
    At 100 TB both snapshots live bucketed by url, so the join is
    co-located (no shuffle); here AQE plans the plain shuffle join.
    Returns (url, host, status)."""
    o = old.select(
        F.col("url"), F.col("host").alias("o_host"), F.col("content_hash").alias("o_hash")
    )
    n = new.select(
        F.col("url"), F.col("host").alias("n_host"), F.col("content_hash").alias("n_hash")
    )
    joined = o.join(n, "url", "full_outer")
    status = (
        F.when(F.col("o_hash").isNull(), F.lit("added"))
        .when(F.col("n_hash").isNull(), F.lit("deleted"))
        .when(F.col("o_hash") == F.col("n_hash"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        "url",
        F.coalesce("n_host", "o_host").alias("host"),
        status.alias("status"),
    )


def _snapshot(spark: SparkSession, sf_dir: str, which: str) -> DataFrame:
    """Deterministic crawl snapshot over the documents table. Snapshot
    "a" lacks doc_id%11==0 (later "added"), "b" lacks doc_id%13==0
    ("deleted"); docs with doc_id%5==0 change content between the two.
    content_hash is md5 of a closed-form string, identical in DuckDB."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://site"), (d % 10).cast("string"),
        F.lit(".example.com/item/"), d.cast("string"),
    )
    host = F.concat(F.lit("site"), (d % 10).cast("string"), F.lit(".example.com"))
    if which == "a":
        docs = docs.filter(d % 11 != 0)
        ver = F.lit("v1-")
    else:
        docs = docs.filter(d % 13 != 0)
        ver = F.when(d % 5 == 0, F.lit("v2-")).otherwise(F.lit("v1-"))
    return docs.select(
        url.alias("url"),
        host.alias("host"),
        F.md5(F.encode(F.concat(ver, d.cast("string")), "utf-8")).alias("content_hash"),
    )


def q71_crawl_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level churn profile between two crawl snapshots: how many
    URLs were added / deleted / changed / unchanged per host — the
    recrawl-scheduling signal. Join on url, then one groupBy(host)."""
    churn = snapshot_churn(
        _snapshot(spark, sf_dir, "a"), _snapshot(spark, sf_dir, "b")
    )
    return churn.groupBy("host").agg(
        F.sum(F.when(F.col("status") == "added", 1).otherwise(0)).alias("n_added"),
        F.sum(F.when(F.col("status") == "deleted", 1).otherwise(0)).alias("n_deleted"),
        F.sum(F.when(F.col("status") == "changed", 1).otherwise(0)).alias("n_changed"),
        F.sum(F.when(F.col("status") == "unchanged", 1).otherwise(0)).alias(
            "n_unchanged"
        ),
    )


# -- q84: per-host quota sampling (FineWeb-style host balancing) -------------
HOST_QUOTA = 25  # max docs kept per host; a knob, not a structure
QUOTA_SALT = "quota"


def q84_host_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-balanced corpus sampling: cap every host at HOST_QUOTA
    documents, keeping the quota by smallest deterministic url hash —
    the FineWeb-style defense against a handful of mega-hosts
    dominating the training mix. Membership is a pure function of
    (url, salt), so re-crawls and re-shards keep the same sample.

    Shape at 100 TB: one row_number window per host with the
    rank <= K filter adjacent, so Spark plans WindowGroupLimit — each
    map task pre-limits its partition to K rows BEFORE the host
    shuffle, which bounds the hot-host partition at K x n_map_tasks
    instead of the host's full page count (the same pushdown q73's
    anchor index relies on; pinned by a plan test)."""
    from pyspark.sql import Window

    snap = _snapshot(spark, sf_dir, "b")
    key = h32(F.col("url"), QUOTA_SALT)
    w = Window.partitionBy("host").orderBy(key.asc(), F.col("url").asc())
    return (
        snap.select("url", "host", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= HOST_QUOTA)
        .select("url", "host", F.col("rk").cast("bigint").alias("sample_rank"))
    )


# -- q80: MERGE a fetch batch into the crawl store (Iceberg MERGE INTO) ------


def _fetch_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fresh-fetch batch: snapshot "b"'s rows plus a
    ``gone`` flag (doc_id%17==0 — fetches that came back 404/410 and
    must DELETE their store row). Mirrors :func:`_snapshot`."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    return docs.filter(d % 13 != 0).select(
        F.concat(
            F.lit("https://site"), (d % 10).cast("string"),
            F.lit(".example.com/item/"), d.cast("string"),
        ).alias("url"),
        F.concat(F.lit("site"), (d % 10).cast("string"), F.lit(".example.com")).alias(
            "host"
        ),
        F.md5(
            F.encode(
                F.concat(
                    F.when(d % 5 == 0, F.lit("v2-")).otherwise(F.lit("v1-")),
                    d.cast("string"),
                ),
                "utf-8",
            )
        ).alias("content_hash"),
        (d % 17 == 0).cast("int").alias("gone"),
    )


def merge_fetch_batch(store: DataFrame, batch: DataFrame) -> DataFrame:
    """Iceberg ``MERGE INTO`` semantics over a crawl store, expressed as
    ONE full-outer url join: matched + gone -> DELETE, matched +
    changed hash -> UPDATE, matched + same hash -> keep, unmatched
    batch row -> INSERT (unless gone — a 404 for a url never stored is
    a no-op), store rows absent from the batch -> keep (a fetch batch
    is incremental; absence does not mean deletion — that is q71's
    full-snapshot churn semantics). At 10^12 rows both sides live
    bucketed by url so the join is co-located, and the physical write
    is a dynamic-partition overwrite of only the url-buckets the batch
    touches — the whole-store rewrite this operator exists to avoid.
    Returns the post-merge table (url, host, content_hash, action),
    action in keep/update/insert; deleted rows are gone from the
    output by definition."""
    s = store.select(
        "url", F.col("host").alias("s_host"), F.col("content_hash").alias("s_hash")
    )
    b = batch.select(
        "url",
        F.col("host").alias("b_host"),
        F.col("content_hash").alias("b_hash"),
        "gone",
    )
    j = s.join(b, "url", "full_outer")
    action = (
        F.when(F.col("b_hash").isNull(), F.lit("keep"))  # not re-fetched
        .when(F.col("gone") == 1, F.lit("delete"))
        .when(F.col("s_hash").isNull(), F.lit("insert"))
        .when(F.col("s_hash") == F.col("b_hash"), F.lit("keep"))
        .otherwise(F.lit("update"))
    )
    return (
        j.select(
            "url",
            F.coalesce("b_host", "s_host").alias("host"),
            F.coalesce("b_hash", "s_hash").alias("content_hash"),
            action.alias("action"),
        )
        .filter(F.col("action") != "delete")
    )


def q80_crawl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl store's WRITE path: merge a fresh fetch batch into the
    standing snapshot (upsert + 404-delete), returning the post-merge
    table with per-row merge actions — q71's churn detection is the
    read-path twin over the same snapshot builders."""
    return merge_fetch_batch(
        _snapshot(spark, sf_dir, "a"), _fetch_batch(spark, sf_dir)
    )


# -- q72: robots.txt fetch policy --------------------------------------------


def robots_rules_table(robots: DataFrame, agent: str) -> DataFrame:
    """(host, robots_txt) -> one row per applicable rule
    (host, allow, plen, pattern, rx): RFC 9309 group selection runs in
    Python on the robots side (one row per HOST — tiny next to pages),
    emitting patterns pre-compiled to portable regexes so precedence
    resolution stays fully relational downstream."""
    import pandas as pd

    def gen(batches):
        from ocr_service_spark.extraction.robots import rules_for_agent

        for batch in batches:
            rows = []
            for host, txt in zip(batch["host"], batch["robots_txt"]):
                for r in rules_for_agent(txt or "", agent):
                    rows.append(
                        {
                            "host": host,
                            "allow": 1 if r.allow else 0,
                            "plen": len(r.pattern),
                            "pattern": r.pattern,
                            "rx": r.regex,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["host", "allow", "plen", "pattern", "rx"]
            )

    return robots.mapInPandas(
        gen, schema="host string, allow int, plen int, pattern string, rx string"
    )


def fetch_policy(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Longest-match robots decision for every page, relationally:
    left-join pages to the host's rules (hash join on host — AQE
    broadcasts when the parsed rules side is small; never forced,
    a 10^8-host robots table must be allowed to shuffle), keep
    matching rules (RLIKE with the per-rule regex), then ONE
    max(struct(plen, allow, pattern)) aggregation per page implements
    RFC 9309 precedence: longest pattern wins, Allow wins ties (the
    struct compares plen first, then allow). No matching rule ->
    fetchable. Input pages must carry (doc_id, host, path)."""
    joined = pages.join(rules, "host", "left")
    m = F.expr("path rlike rx")
    winner = F.max(
        F.when(m, F.struct(F.col("plen"), F.col("allow"), F.col("pattern")))
    ).alias("w")
    agg = joined.groupBy("doc_id", "host", "path").agg(winner)
    return agg.select(
        "doc_id",
        "host",
        "path",
        (F.col("w").isNull() | (F.col("w.allow") == 1)).alias("fetchable"),
        F.col("w.pattern").alias("winning_rule"),
    )


_ROBOTS_AGENT = "graftbot"


def _robots_corpus(spark: SparkSession, sf_dir: str):
    """(pages, robots) with closed-form expected decisions. Ten hosts;
    every host Disallows /private/ but Allows /private/pub/; even
    hosts add a wildcard 'Disallow: /*.zip$'; hosts %3==0 carry a
    graftbot-specific group (Disallow /tmp/) that REPLACES the *
    group for our agent. Paths cycle through six rungs including the
    prefix-subtlety rung /private/pubx (matches /private/ but NOT
    /private/pub/)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    host = F.concat(F.lit("crawl"), (d % 10).cast("string"), F.lit(".example.com"))
    ds = d.cast("string")
    path = (
        F.when(d % 6 == 0, F.concat(F.lit("/private/doc"), ds))
        .when(d % 6 == 1, F.concat(F.lit("/private/pub/doc"), ds))
        .when(d % 6 == 2, F.concat(F.lit("/tmp/doc"), ds))
        .when(d % 6 == 3, F.concat(F.lit("/files/doc"), ds, F.lit(".zip")))
        .when(d % 6 == 4, F.concat(F.lit("/ok/doc"), ds))
        .otherwise(F.concat(F.lit("/private/pubx"), ds))
    )
    pages = docs.select("doc_id", host.alias("host"), path.alias("path"))

    h = F.col("h")
    hosts = (
        spark.range(10)
        .select(F.col("id").cast("int").alias("h"))
        .select(
            F.concat(F.lit("crawl"), h.cast("string"), F.lit(".example.com")).alias(
                "host"
            ),
            F.concat(
                F.lit("User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n"),
                F.when(h % 2 == 0, F.lit("Disallow: /*.zip$\n")).otherwise(F.lit("")),
                F.when(
                    h % 3 == 0,
                    F.lit("User-agent: graftbot\nDisallow: /tmp/\n"),
                ).otherwise(F.lit("")),
            ).alias("robots_txt"),
        )
    )
    return pages, hosts


def q72_robots_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fetch-policy sweep: parse each host's robots.txt for agent
    "graftbot", decide every page URL. Every RFC 9309 rung appears:
    group replacement, longest-match precedence, Allow-beats-Disallow
    ties, wildcard + $-anchored patterns, prefix subtleties."""
    pages, robots = _robots_corpus(spark, sf_dir)
    rules = robots_rules_table(robots, _ROBOTS_AGENT)
    return fetch_policy(pages, rules)


# -- q73: anchor-text term index ---------------------------------------------


def extract_anchor_edges(
    pages: DataFrame, url_col: str = "url", payload_col: str = "html"
) -> DataFrame:
    """HTML payloads -> (url, seq, outlink, anchor_text) rows via the
    stdlib anchor collector (extraction/links.py). Arrow-batched; link
    farms capped at MAX_LINKS like extract_outlinks."""
    import pandas as pd

    def gen(batches):
        from ocr_service_spark.extraction.links import extract_anchors

        for batch in batches:
            rows = []
            for url, payload in zip(batch[url_col], batch[payload_col]):
                anchors, _ = extract_anchors(
                    bytes(payload) if payload is not None else b"", url
                )
                for seq, (link, text) in enumerate(anchors):
                    rows.append(
                        {"url": url, "seq": seq, "outlink": link, "anchor_text": text}
                    )
            yield pd.DataFrame(
                rows, columns=["url", "seq", "outlink", "anchor_text"]
            )

    return pages.mapInPandas(
        gen, schema="url string, seq int, outlink string, anchor_text string"
    )


_ANCHOR_W4 = ("alpha", "beta", "gamma", "delta")
_ANCHOR_W3 = ("fresh", "super", "mega")
ANCHOR_TOP_K = 3


def _anchor_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pages whose anchor texts are closed-form: doc d links a news
    host with anchor "breaking story <w4[d%4]>" and a shop host with
    anchor "buy <w3[d%3]> deal"."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    w4 = (
        F.when(d % 4 == 0, F.lit(_ANCHOR_W4[0]))
        .when(d % 4 == 1, F.lit(_ANCHOR_W4[1]))
        .when(d % 4 == 2, F.lit(_ANCHOR_W4[2]))
        .otherwise(F.lit(_ANCHOR_W4[3]))
    )
    w3 = (
        F.when(d % 3 == 0, F.lit(_ANCHOR_W3[0]))
        .when(d % 3 == 1, F.lit(_ANCHOR_W3[1]))
        .otherwise(F.lit(_ANCHOR_W3[2]))
    )
    page = F.concat(
        F.lit("<html><body><a href=\"https://news"),
        (d % 7).cast("string"),
        F.lit(".example.com/story/"),
        ds,
        F.lit("\">breaking story "),
        w4,
        F.lit("</a><a href=\"https://shop"),
        (d % 5).cast("string"),
        F.lit(".example.com/p/"),
        ds,
        F.lit("\">buy "),
        w3,
        F.lit(" deal</a></body></html>"),
    )
    url = F.concat(
        F.lit("https://blog"), (d % 4).cast("string"),
        F.lit(".example.com/post/"), ds,
    )
    return docs.select("doc_id", url.alias("url"), F.encode(page, "utf-8").alias("html"))


def q73_anchor_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text term index: top-K terms pointing AT each host —
    the classic web-search relevance signal (anchor text describes the
    target, not the source). The Python stage only parses; term
    explode (split on space), the (host, term) count, and the per-host
    top-K rank are all JVM-side, and the rank's window shuffles on the
    same host key the count aggregation just produced, so AQE reuses
    the partitioning."""
    from pyspark.sql import Window

    edges = extract_anchor_edges(_anchor_pages(spark, sf_dir))
    host = F.regexp_extract("outlink", _RE_HOSTPORT, 1)
    terms = edges.select(
        host.alias("target_host"),
        F.explode(F.split("anchor_text", " ")).alias("term"),
    ).filter(F.col("term") != "")
    counts = terms.groupBy("target_host", "term").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("target_host").orderBy(F.col("n").desc(), F.col("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= ANCHOR_TOP_K)
        .select("target_host", "term", "n", "rank")
    )


# -- q75: redirect-chain resolution ------------------------------------------

REDIRECT_STATUSES = (301, 302, 303, 307, 308)
REDIRECT_MAX_HOPS = 4  # crawler hop budget; loops/long chains -> unresolved


def resolve_redirects(
    snapshot: DataFrame, max_hops: int = REDIRECT_MAX_HOPS
) -> DataFrame:
    """Resolve every redirect source in a crawl snapshot
    (url, status, location) to its final URL, generically — the walk
    follows the edge table, never a formula.

    Shape at 100 TB: redirects are a small filtered slice of the scan
    (one pushed-down status IN (...) predicate), so the ``max_hops``
    unrolled left equi-joins each shuffle only the redirect sliver on
    the url key — the same unrolled-fixed-iteration pattern as the
    PageRank (q69) and k-means (q55) operators, with AQE free to
    broadcast the edge side when it is small. Real crawlers cap
    redirect hops at a constant (curl 50, requests 30, Googlebot ~10),
    so the unrolled-k join chain IS the production plan; for a larger
    cap, path doubling (frontier joined with itself, log2(cap) joins)
    halves the depth. Classification is two more url-key left joins:
    a final URL that is itself still a redirect source after the cap
    is ``unresolved`` (loop or over-budget chain — real crawlers bucket
    both as too_many_redirects), a final URL present in the snapshot is
    ``resolved``, anything else is ``dangling`` (points outside the
    crawl).
    """
    edges = (
        snapshot.filter(
            F.col("status").isin(*REDIRECT_STATUSES) & F.col("location").isNotNull()
        )
        .select(F.col("url").alias("src"), F.col("location").alias("dst"))
    )
    frontier = edges.select(
        F.col("src").alias("src_url"),
        F.col("dst").alias("cur"),
        F.lit(1).alias("hops"),
    )
    for _ in range(max_hops - 1):
        step = edges.select(
            F.col("src").alias("cur"), F.col("dst").alias("nxt")
        )
        frontier = frontier.join(step, "cur", "left").select(
            "src_url",
            F.coalesce("nxt", "cur").alias("cur"),
            (F.col("hops") + F.when(F.col("nxt").isNotNull(), 1).otherwise(0)).alias(
                "hops"
            ),
        )
    is_src = edges.select(F.col("src").alias("cur")).distinct().withColumn(
        "is_src", F.lit(1)
    )
    in_snap = snapshot.select(F.col("url").alias("cur")).distinct().withColumn(
        "in_snap", F.lit(1)
    )
    out = frontier.join(is_src, "cur", "left").join(in_snap, "cur", "left")
    resolution = (
        F.when(F.col("is_src").isNotNull(), F.lit("unresolved"))
        .when(F.col("in_snap").isNotNull(), F.lit("resolved"))
        .otherwise(F.lit("dangling"))
    )
    return out.select(
        "src_url",
        F.col("cur").alias("final_url"),
        F.col("hops").cast("int").alias("hops"),
        resolution.alias("resolution"),
    )


def _redirect_url(d: Column) -> Column:
    return F.concat(
        F.lit("https://redir"), (d % 6).cast("string"), F.lit(".example.com/r/"),
        d.cast("string"),
    )


def _redirect_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic crawl snapshot with every redirect hazard in a
    closed-form rung on doc_id%16: backward chains 3->2->1->terminal-0
    (hops = rung, no table-boundary hazard since doc_id-rung >= 0),
    a self-redirect (%16==8 — the http->https misconfig loop), and an
    off-crawl Location (%16==12). Everything else is a 200."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    r = d % 16
    status = (
        F.when(r.isin(1, 3), F.lit(301))
        .when(r == 2, F.lit(302))
        .when(r == 8, F.lit(308))
        .when(r == 12, F.lit(307))
        .otherwise(F.lit(200))
    )
    location = (
        F.when(r.isin(1, 2, 3), _redirect_url(d - 1))
        .when(r == 8, _redirect_url(d))
        .when(
            r == 12,
            F.concat(F.lit("https://offsite.example.org/o/"), d.cast("string")),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.select(
        _redirect_url(d).alias("url"),
        status.cast("int").alias("status"),
        location.alias("location"),
    )


def q75_redirect_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution over a crawl snapshot: final URL,
    hop count and resolution class for every 3xx source. The oracle
    replays every chain closed-form from the rung table without
    walking any edges."""
    return resolve_redirects(_redirect_snapshot(spark, sf_dir))


# -- q77: sitemap coverage ----------------------------------------------------


def sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """(host, sitemap_xml) -> one row per declared entry
    (host, kind, loc, lastmod). Parsing runs Python-side on the
    per-host sitemap table — tiny next to pages, same placement as
    robots_rules_table; everything downstream is relational."""
    import pandas as pd

    def gen(batches):
        from ocr_service_spark.extraction.sitemap import parse_sitemap

        for batch in batches:
            rows = []
            for host, xml in zip(batch["host"], batch["sitemap_xml"]):
                for e in parse_sitemap(xml or ""):
                    rows.append(
                        {
                            "host": host,
                            "kind": e["kind"],
                            "loc": e["loc"],
                            "lastmod": e["lastmod"],
                        }
                    )
            yield pd.DataFrame(rows, columns=["host", "kind", "loc", "lastmod"])

    return sitemaps.mapInPandas(
        gen, schema="host string, kind string, loc string, lastmod string"
    )


def sitemap_coverage(crawled: DataFrame, entries: DataFrame) -> DataFrame:
    """Reconcile declared vs fetched: full-outer join on url ->
    ``both`` / ``sitemap_only`` (the frontier: declared but never
    fetched) / ``crawled_only`` (orphans: fetched but undeclared).
    One url-key shuffle; the host column is recomputed from the url
    (pure projection) so neither side needs to carry it through the
    join."""
    declared = entries.filter(F.col("kind") == "url").select(
        F.col("loc").alias("url"), "lastmod", F.lit(1).alias("in_map")
    )
    fetched = crawled.select("url", F.lit(1).alias("in_crawl"))
    j = declared.join(fetched, "url", "full_outer")
    status = (
        F.when(F.col("in_map").isNotNull() & F.col("in_crawl").isNotNull(), "both")
        .when(F.col("in_map").isNotNull(), F.lit("sitemap_only"))
        .otherwise(F.lit("crawled_only"))
    )
    return j.select(
        "url",
        F.regexp_extract("url", _RE_HOSTPORT, 1).alias("host"),
        status.alias("status"),
        "lastmod",
    )


def _sitemap_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(crawled, sitemaps): ten hosts; docs d%3==2 are fetched but
    undeclared (orphans), d%7==0 declared but unfetched (frontier),
    d%5==0 carry an entity-escaped query string the parser must
    unescape for the join to line up, and every declared entry has a
    closed-form lastmod."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("https://cov"), (d % 10).cast("string"), F.lit(".example.com/p/"),
        d.cast("string"),
        F.when(d % 5 == 0, F.lit("?a=1&b=2")).otherwise(F.lit("")),
    )
    host = F.concat(F.lit("cov"), (d % 10).cast("string"), F.lit(".example.com"))
    lastmod = F.concat(
        F.lit("2026-02-"), F.lpad((1 + d % 28).cast("string"), 2, "0")
    )
    crawled = docs.filter(d % 7 != 0).select(url.alias("url"))
    entry = F.concat(
        F.lit("<url><loc>"),
        F.replace(url, F.lit("&"), F.lit("&amp;")),
        F.lit("</loc><lastmod>"), lastmod, F.lit("</lastmod></url>"),
    )
    sitemaps = (
        docs.filter(d % 3 != 2)
        .select(host.alias("host"), F.struct(d.alias("d"), entry.alias("e")).alias("s"))
        .groupBy("host")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset>'),
                F.array_join(F.transform(F.array_sort(F.collect_list("s")), lambda x: x["e"]), ""),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
    )
    return crawled, sitemaps


def q77_sitemap_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl reconciliation: the frontier feed
    (sitemap_only), orphan detection (crawled_only), and lastmod
    surfaced for recrawl scheduling. The oracle replays every
    coverage decision closed-form from the rung table without parsing
    any XML."""
    crawled, sitemaps = _sitemap_corpus(spark, sf_dir)
    return sitemap_coverage(crawled, sitemap_entries(sitemaps))


# -- q78: politeness-aware fetch schedule ------------------------------------


def fetch_schedule(frontier: DataFrame, host_delays: DataFrame) -> DataFrame:
    """Turn a frontier (url, host, lastmod) + per-host politeness
    delays (host, delay_s) into a fetch schedule: fresher pages first
    within each host (lastmod desc, url tiebreak — a total order, urls
    are unique), each host's queue spaced by its own delay. The
    closing rung of the crawl loop: discover (q77) -> allowed (q72) ->
    schedule (q78).

    One window shuffle on host — the same key every politeness-aware
    fetcher partitions its work queue by at any scale — plus a join
    with the per-host delay table (tiny next to the frontier; AQE
    broadcasts it when it is, shuffles when a 10^8-host table isn't).
    Crawl-delay is deliberately an input column, not parsed from
    robots.txt: RFC 9309 dropped the directive, so its source is
    operator policy."""
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.col("lastmod").desc_nulls_last(), F.col("url")
    )
    return (
        frontier.join(host_delays, "host", "left")
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "url",
            "host",
            "rank",
            ((F.col("rank") - 1) * F.coalesce("delay_s", F.lit(1)))
            .cast("bigint")
            .alias("slot_s"),
        )
    )


def q78_fetch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schedule q77's frontier (declared-but-unfetched URLs) under
    per-host politeness delays. The oracle recomputes the schedule
    with its own window function over the same closed-form frontier —
    cross-engine agreement pins both the frontier derivation and the
    ordering semantics (desc lastmod with unique-url tiebreak)."""
    crawled, sitemaps = _sitemap_corpus(spark, sf_dir)
    coverage = sitemap_coverage(crawled, sitemap_entries(sitemaps))
    frontier = coverage.filter(F.col("status") == "sitemap_only").select(
        "url", "host", "lastmod"
    )
    h = F.col("id").cast("int")
    delays = spark.range(10).select(
        F.concat(F.lit("cov"), h.cast("string"), F.lit(".example.com")).alias("host"),
        F.when(h % 3 == 0, 10).when(h % 3 == 1, 5).otherwise(1)
        .cast("bigint")
        .alias("delay_s"),
    )
    return fetch_schedule(frontier, delays)


# DuckDB mirror of _messy_urls + the canonical steps. The messy URL is
# rebuilt closed-form; canonicalization uses the same regex/list ops.
_MESSY_SQL = """
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
           || '://WWW.News' || CAST(doc_id % 7 AS VARCHAR) || '.Example.COM'
           || (CASE WHEN doc_id % 5 = 0 THEN '.' ELSE '' END)
           || (CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN ':80' WHEN 1 THEN ':443'
                    WHEN 2 THEN ':8080' ELSE '' END)
           || '/Articles//item-' || CAST(doc_id AS VARCHAR)
           || (CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN '?utm_source=feed&b=2&a=1'
                    WHEN 1 THEN '?b=2&a=1' ELSE '' END)
           || (CASE WHEN doc_id % 2 = 0 THEN '#Section-2' ELSE '' END) AS url
    FROM documents
"""

def _canon_sql_over(messy_sql: str) -> str:
    """The canonicalization CTE chain over any (doc_id, url) input SQL —
    shared by the q63/q64 oracles (messy-URL corpus) and the q111
    oracle (capture-log corpus)."""
    return f"""
    WITH m AS ({messy_sql}),
    s AS (
        SELECT doc_id, url,
               regexp_replace(url, '{_RE_FRAGMENT}', '') AS nf
        FROM m
    ),
    p AS (
        SELECT doc_id, url, nf,
               lower(regexp_extract(nf, '{_RE_SCHEME}', 1)) AS scheme,
               regexp_extract(nf, '{_RE_HOSTPORT}', 1) AS hostport,
               regexp_extract(nf, '{_RE_PATH}', 1) AS rawpath,
               regexp_extract(nf, '\\?([^#]*)', 1) AS rawquery
        FROM s
    ),
    c AS (
        SELECT doc_id, url, scheme,
               regexp_replace(lower(regexp_replace(hostport, ':[0-9]+$', '')),
                              '\\.+$', '') AS host,
               CASE WHEN (scheme = 'http'
                          AND regexp_extract(hostport, ':([0-9]+)$', 1) = '80')
                      OR (scheme = 'https'
                          AND regexp_extract(hostport, ':([0-9]+)$', 1) = '443')
                    THEN ''
                    ELSE regexp_extract(hostport, ':([0-9]+)$', 1) END AS port,
               CASE WHEN regexp_replace(rawpath, '/{{2,}}', '/') = '' THEN '/'
                    ELSE regexp_replace(rawpath, '/{{2,}}', '/') END AS path,
               coalesce(array_to_string(
                   list_sort(list_filter(string_split(rawquery, '&'),
                       x -> x <> '' AND NOT regexp_matches(x, '^utm_'))),
                   '&'), '') AS query
        FROM p
    ),
    canon AS (
        SELECT doc_id, url, scheme, host, path,
               regexp_extract(host, '([^.]+\\.[^.]+)$', 1) AS registered_domain,
               scheme || '://' || host
               || (CASE WHEN port = '' THEN '' ELSE ':' || port END)
               || path
               || (CASE WHEN query = '' THEN '' ELSE '?' || query END)
                   AS canonical_url,
               CAST(len(list_filter(string_split(path, '/'), x -> x <> ''))
                    AS INT) AS path_depth
        FROM c
    )
"""


_CANON_SQL = _canon_sql_over(_MESSY_SQL)

ORACLES: dict[str, str] = {
    "q63_url_canonicalize": _CANON_SQL
    + """
    SELECT doc_id, url, canonical_url, host, registered_domain, path_depth
    FROM canon
    """,
    "q64_host_stats": _CANON_SQL
    + """
    SELECT host, registered_domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT scheme) AS BIGINT) AS n_schemes,
           CAST(max(path_depth) AS INT) AS max_depth,
           CAST(sum(CASE WHEN canonical_url LIKE '%?%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_with_query
    FROM canon
    GROUP BY host, registered_domain
    """,
}

ORACLES["q67_outlinks"] = """
    SELECT doc_id, CAST(0 AS INT) AS seq,
           'https://news' || (doc_id % 7) || '.example.com/story/' || doc_id
               AS outlink,
           doc_id % 7 = 0 AS noindex
    FROM documents
    UNION ALL
    SELECT doc_id, CAST(1 AS INT),
           'https://www.src' || (doc_id % 5) || '.example.com/rel/' || doc_id,
           doc_id % 7 = 0
    FROM documents
    UNION ALL
    SELECT doc_id, CAST(2 AS INT),
           'https://www.src' || (doc_id % 5) || '.example.com/dir/sub/p' || doc_id,
           doc_id % 7 = 0
    FROM documents WHERE doc_id % 3 = 0
"""

ORACLES["q68_link_hosts"] = """
    WITH e AS (
        SELECT doc_id, 'news' || (doc_id % 7) || '.example.com' AS h
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id, 'www.src' || (doc_id % 5) || '.example.com'
        FROM documents WHERE doc_id % 7 <> 0
        UNION ALL
        SELECT doc_id, 'www.src' || (doc_id % 5) || '.example.com'
        FROM documents WHERE doc_id % 7 <> 0 AND doc_id % 3 = 0
    )
    SELECT h AS target_host,
           CAST(count(*) AS BIGINT) AS n_inlinks,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_source_pages
    FROM e GROUP BY h
"""

ORACLES["q69_host_pagerank"] = f"""
    WITH e AS (
        SELECT 'www.src' || (doc_id % 5) || '.example.com' AS src,
               'news' || (doc_id % 7) || '.example.com' AS dst
        FROM documents
        UNION ALL
        SELECT 'www.src' || (doc_id % 5) || '.example.com',
               'www.src' || (doc_id % 5) || '.example.com'
        FROM documents
        UNION ALL
        SELECT 'www.src' || (doc_id % 5) || '.example.com',
               'www.src' || (doc_id % 5) || '.example.com'
        FROM documents WHERE doc_id % 3 = 0
    ),
    nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM e
                                         UNION ALL SELECT dst FROM e)),
    outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
    pr0 AS (SELECT host, CAST({PR_SCALE} AS BIGINT) AS pr FROM nodes),
    m1 AS (
        SELECT e.dst, sum(pr0.pr // o.outdeg) AS mass
        FROM e JOIN pr0 ON e.src = pr0.host JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
    ),
    pr1 AS (
        SELECT n.host,
               CAST({PR_BASE} + (17 * coalesce(m1.mass, 0)) // 20 AS BIGINT) AS pr
        FROM nodes n LEFT JOIN m1 ON n.host = m1.dst
    ),
    m2 AS (
        SELECT e.dst, sum(pr1.pr // o.outdeg) AS mass
        FROM e JOIN pr1 ON e.src = pr1.host JOIN outdeg o ON e.src = o.src
        GROUP BY e.dst
    ),
    pr2 AS (
        SELECT n.host,
               CAST({PR_BASE} + (17 * coalesce(m2.mass, 0)) // 20 AS BIGINT) AS pr
        FROM nodes n LEFT JOIN m2 ON n.host = m2.dst
    )
    SELECT host, pr AS pr_scaled FROM pr2
"""

# q71: replay both snapshots + the full-outer join in SQL (the md5
# content hashes are closed-form strings, identical in both engines).
ORACLES["q71_crawl_churn"] = """
    WITH a AS (
        SELECT 'https://site' || (doc_id % 10) || '.example.com/item/' || doc_id
                   AS url,
               'site' || (doc_id % 10) || '.example.com' AS host,
               md5('v1-' || doc_id) AS h
        FROM documents WHERE doc_id % 11 <> 0
    ),
    b AS (
        SELECT 'https://site' || (doc_id % 10) || '.example.com/item/' || doc_id
                   AS url,
               'site' || (doc_id % 10) || '.example.com' AS host,
               md5((CASE WHEN doc_id % 5 = 0 THEN 'v2-' ELSE 'v1-' END)
                   || doc_id) AS h
        FROM documents WHERE doc_id % 13 <> 0
    ),
    j AS (
        SELECT coalesce(b.host, a.host) AS host,
               CASE WHEN a.h IS NULL THEN 'added'
                    WHEN b.h IS NULL THEN 'deleted'
                    WHEN a.h = b.h THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM a FULL OUTER JOIN b ON a.url = b.url
    )
    SELECT host,
           CAST(sum(CASE WHEN status = 'added' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_added,
           CAST(sum(CASE WHEN status = 'deleted' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_deleted,
           CAST(sum(CASE WHEN status = 'changed' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           CAST(sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unchanged
    FROM j GROUP BY host
"""

# q72: the oracle does NOT parse robots.txt — it recomputes every
# decision closed-form from the corpus construction (the same style as
# the messy-URL / link-page oracles), so a parser bug cannot leak into
# its own check.
ORACLES["q84_host_quota"] = f"""
    WITH b AS (
        SELECT 'https://site' || (doc_id % 10) || '.example.com/item/' || doc_id
                   AS url,
               'site' || (doc_id % 10) || '.example.com' AS host
        FROM documents WHERE doc_id % 13 <> 0
    ),
    r AS (
        SELECT url, host,
               row_number() OVER (PARTITION BY host
                                  ORDER BY {h32_sql("url", QUOTA_SALT)}, url) AS rk
        FROM b
    )
    SELECT url, host, CAST(rk AS BIGINT) AS sample_rank
    FROM r WHERE rk <= {HOST_QUOTA}
"""

ORACLES["q80_crawl_merge"] = """
    WITH a AS (
        SELECT 'https://site' || (doc_id % 10) || '.example.com/item/' || doc_id
                   AS url,
               'site' || (doc_id % 10) || '.example.com' AS host,
               md5('v1-' || doc_id) AS h
        FROM documents WHERE doc_id % 11 <> 0
    ),
    b AS (
        SELECT 'https://site' || (doc_id % 10) || '.example.com/item/' || doc_id
                   AS url,
               'site' || (doc_id % 10) || '.example.com' AS host,
               md5((CASE WHEN doc_id % 5 = 0 THEN 'v2-' ELSE 'v1-' END)
                   || doc_id) AS h,
               CASE WHEN doc_id % 17 = 0 THEN 1 ELSE 0 END AS gone
        FROM documents WHERE doc_id % 13 <> 0
    ),
    j AS (
        SELECT coalesce(b.url, a.url) AS url,
               coalesce(b.host, a.host) AS host,
               coalesce(b.h, a.h) AS content_hash,
               CASE WHEN b.h IS NULL THEN 'keep'
                    WHEN b.gone = 1 THEN 'delete'
                    WHEN a.h IS NULL THEN 'insert'
                    WHEN a.h = b.h THEN 'keep'
                    ELSE 'update' END AS action
        FROM a FULL OUTER JOIN b ON a.url = b.url
    )
    SELECT url, host, content_hash, action FROM j WHERE action <> 'delete'
"""

ORACLES["q72_robots_policy"] = """
    WITH p AS (
        SELECT doc_id,
               CAST(doc_id % 6 AS INT) AS m6,
               CAST(doc_id % 10 AS INT) AS h
        FROM documents
    )
    SELECT doc_id,
           'crawl' || h || '.example.com' AS host,
           CASE m6 WHEN 0 THEN '/private/doc' || doc_id
                   WHEN 1 THEN '/private/pub/doc' || doc_id
                   WHEN 2 THEN '/tmp/doc' || doc_id
                   WHEN 3 THEN '/files/doc' || doc_id || '.zip'
                   WHEN 4 THEN '/ok/doc' || doc_id
                   ELSE '/private/pubx' || doc_id END AS path,
           CASE WHEN h % 3 = 0 THEN m6 <> 2
                ELSE CASE m6 WHEN 0 THEN FALSE
                             WHEN 1 THEN TRUE
                             WHEN 2 THEN TRUE
                             WHEN 3 THEN h % 2 <> 0
                             WHEN 4 THEN TRUE
                             ELSE FALSE END END AS fetchable,
           CASE WHEN h % 3 = 0
                THEN CASE WHEN m6 = 2 THEN '/tmp/' ELSE NULL END
                ELSE CASE m6 WHEN 0 THEN '/private/'
                             WHEN 1 THEN '/private/pub/'
                             WHEN 3 THEN CASE WHEN h % 2 = 0
                                              THEN '/*.zip$' ELSE NULL END
                             WHEN 5 THEN '/private/'
                             ELSE NULL END END AS winning_rule
    FROM p
"""

# q73: the anchor terms are closed-form per doc; the oracle rebuilds
# the (host, term) rows and replays the count + top-K rank.
ORACLES["q73_anchor_terms"] = f"""
    WITH t AS (
        SELECT 'news' || (doc_id % 7) || '.example.com' AS host,
               'breaking' AS term FROM documents
        UNION ALL
        SELECT 'news' || (doc_id % 7) || '.example.com', 'story' FROM documents
        UNION ALL
        SELECT 'news' || (doc_id % 7) || '.example.com',
               CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
                    WHEN 2 THEN 'gamma' ELSE 'delta' END FROM documents
        UNION ALL
        SELECT 'shop' || (doc_id % 5) || '.example.com', 'buy' FROM documents
        UNION ALL
        SELECT 'shop' || (doc_id % 5) || '.example.com',
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'fresh' WHEN 1 THEN 'super'
                    ELSE 'mega' END FROM documents
        UNION ALL
        SELECT 'shop' || (doc_id % 5) || '.example.com', 'deal' FROM documents
    ),
    c AS (
        SELECT host AS target_host, term, CAST(count(*) AS BIGINT) AS n
        FROM t GROUP BY host, term
    )
    SELECT target_host, term, n, rank FROM (
        SELECT target_host, term, n,
               CAST(row_number() OVER (PARTITION BY target_host
                                       ORDER BY n DESC, term) AS INT) AS rank
        FROM c
    ) WHERE rank <= {ANCHOR_TOP_K}
"""

# Closed-form replay of _redirect_snapshot's rungs: backward chains
# end at the %16==0 terminal (final = url(d - rung), hops = rung), the
# self-redirect walks in place until the hop cap, the offsite Location
# never matches anything. No recursion — the rung IS the chain length.
ORACLES["q75_redirect_chains"] = f"""
    WITH t AS (
        SELECT doc_id AS d, CAST(doc_id % 16 AS INT) AS r FROM documents
    )
    SELECT 'https://redir' || (d % 6) || '.example.com/r/' || d AS src_url,
           CASE WHEN r IN (1, 2, 3)
                THEN 'https://redir' || ((d - r) % 6) || '.example.com/r/'
                     || (d - r)
                WHEN r = 8
                THEN 'https://redir' || (d % 6) || '.example.com/r/' || d
                ELSE 'https://offsite.example.org/o/' || d END AS final_url,
           CAST(CASE WHEN r IN (1, 2, 3) THEN r
                     WHEN r = 8 THEN {REDIRECT_MAX_HOPS}
                     ELSE 1 END AS INT) AS hops,
           CASE WHEN r IN (1, 2, 3) THEN 'resolved'
                WHEN r = 8 THEN 'unresolved'
                ELSE 'dangling' END AS resolution
    FROM t WHERE r IN (1, 2, 3, 8, 12)
"""

# Closed-form replay of _sitemap_corpus's rungs. The d%5 rung's query
# string appears entity-escaped only inside the XML — by the time the
# join runs both sides carry the raw '&', so the oracle never escapes.
ORACLES["q77_sitemap_coverage"] = """
    WITH t AS (SELECT doc_id AS d FROM documents)
    SELECT 'https://cov' || (d % 10) || '.example.com/p/' || d
           || CASE WHEN d % 5 = 0 THEN '?a=1&b=2' ELSE '' END AS url,
           'cov' || (d % 10) || '.example.com' AS host,
           CASE WHEN d % 3 <> 2 AND d % 7 <> 0 THEN 'both'
                WHEN d % 3 <> 2 THEN 'sitemap_only'
                ELSE 'crawled_only' END AS status,
           CASE WHEN d % 3 <> 2
                THEN '2026-02-' || lpad(CAST(1 + d % 28 AS VARCHAR), 2, '0')
                ELSE NULL END AS lastmod
    FROM t WHERE NOT (d % 3 = 2 AND d % 7 = 0)
"""

# The frontier is q77's sitemap_only rung (declared d%3<>2, unfetched
# d%7=0); the oracle rebuilds it and runs its OWN row_number under the
# same total order.
ORACLES["q78_fetch_schedule"] = """
    WITH f AS (
        SELECT 'https://cov' || (doc_id % 10) || '.example.com/p/' || doc_id
               || CASE WHEN doc_id % 5 = 0 THEN '?a=1&b=2' ELSE '' END AS url,
               'cov' || (doc_id % 10) || '.example.com' AS host,
               '2026-02-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                   AS lastmod,
               CAST(doc_id % 10 AS INT) AS h
        FROM documents
        WHERE doc_id % 3 <> 2 AND doc_id % 7 = 0
    ),
    r AS (
        SELECT url, host,
               CAST(row_number() OVER (
                   PARTITION BY host ORDER BY lastmod DESC, url
               ) AS INT) AS rank,
               CASE WHEN h % 3 = 0 THEN 10 WHEN h % 3 = 1 THEN 5 ELSE 1 END
                   AS delay_s
        FROM f
    )
    SELECT url, host, rank, CAST((rank - 1) * delay_s AS BIGINT) AS slot_s
    FROM r
"""

# -- q89: Bloom-filter URL seen-set ------------------------------------------
# The crawler's frontier dedup structure: "have we fetched this url?"
# answered from a fixed-size bitmap instead of a 10^12-row join. Build
# = one explode (K positions per url) + one bit_or agg into
# BLOOM_WORDS 32-bit words; probe = equi join of probe positions
# against the (tiny, explicitly-broadcast) word table + a per-url
# min() AND-fold. False positives are part of the CONTRACT: with md5
# positions both engines reproduce the exact same bitmap, so the
# oracle replays every hit, miss and false positive bit-for-bit.
# Sizing here is fixed for oracle determinism (2048 bits ~= 52% fill
# at the driver's 500-url corpus -> a real ~14% fp rung); production
# sizing is bits ~= n*k/ln2 and the plan does not change — the word
# table stays thousands of rows per billion urls.
BLOOM_WORDS = 64  # 32-bit words -> 2048 bits
BLOOM_K = 3
_BLOOM_BITS = BLOOM_WORDS * 32


def _bloom_positions(url: Column, j: int) -> Column:
    return h32(url, f"bloom{j}") % _BLOOM_BITS


def q89_bloom_seen_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the seen-set Bloom filter over every document url, then
    probe it with one SEEN url and one NOVEL url per doc. Output per
    probe: truly_seen (ground truth), bloom_hit (all K bits set),
    false_positive. Novel hits are the measured fp rate; misses of a
    seen url are impossible (the oracle proves zero)."""
    docs = documents(spark, sf_dir)
    d = F.col("doc_id")
    seen_url = F.format_string("https://seen%d.example.com/page/%d", d % 11, d)
    novel_url = F.format_string("https://new%d.example.com/x/%d", d % 11, d)

    def positions(df: DataFrame) -> DataFrame:
        p = F.explode(
            F.array(*[_bloom_positions(F.col("url"), j) for j in range(BLOOM_K)])
        ).alias("p")
        return df.select(*df.columns, p).select(
            *df.columns,
            F.expr("CAST(p div 32 AS BIGINT)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").alias("b"),
        )

    words = (
        positions(docs.select(seen_url.alias("url")))
        .groupBy("w")
        .agg(F.bit_or("b").alias("word"))
    )
    probes = docs.select(
        F.explode(
            F.array(
                F.struct(seen_url.alias("url"), F.lit(True).alias("truly_seen")),
                F.struct(novel_url.alias("url"), F.lit(False).alias("truly_seen")),
            )
        ).alias("pr")
    ).select(F.col("pr.url").alias("url"), F.col("pr.truly_seen").alias("truly_seen"))
    # the bitmap is a fixed-size structure (<= BLOOM_WORDS rows): the
    # explicit broadcast IS the production shape — a bloom filter
    # exists to ship to every task
    checked = (
        positions(probes)
        .join(F.broadcast(words), "w", "left")
        .withColumn(
            "bit_set",
            (F.coalesce(F.col("word"), F.lit(0)).bitwiseAND(F.col("b"))) != 0,
        )
        .groupBy("url", "truly_seen")
        .agg(F.min("bit_set").alias("bloom_hit"))
    )
    return checked.select(
        "url",
        "truly_seen",
        "bloom_hit",
        (F.col("bloom_hit") & ~F.col("truly_seen")).alias("false_positive"),
    )


_BLOOM_POS_ARMS = "\n            UNION ALL ".join(
    f"SELECT url, truly_seen, {h32_sql('url', f'bloom{j}')} % {_BLOOM_BITS} AS p"
    " FROM probes"
    for j in range(BLOOM_K)
)
_BLOOM_SEEN_ARMS = "\n            UNION ALL ".join(
    f"SELECT {h32_sql('url', f'bloom{j}')} % {_BLOOM_BITS} AS p FROM seen"
    for j in range(BLOOM_K)
)

ORACLES["q89_bloom_seen_set"] = f"""
    WITH seen AS (
        SELECT printf('https://seen%d.example.com/page/%d',
                      doc_id % 11, doc_id) AS url
        FROM documents
    ),
    words AS (
        SELECT p // 32 AS w,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INT)) AS word
        FROM ({_BLOOM_SEEN_ARMS})
        GROUP BY 1
    ),
    probes AS (
        SELECT printf('https://seen%d.example.com/page/%d',
                      doc_id % 11, doc_id) AS url,
               TRUE AS truly_seen
        FROM documents
        UNION ALL
        SELECT printf('https://new%d.example.com/x/%d',
                      doc_id % 11, doc_id),
               FALSE
        FROM documents
    ),
    pos AS (
        SELECT url, truly_seen, p // 32 AS w,
               CAST(1 AS BIGINT) << CAST(p % 32 AS INT) AS b
        FROM ({_BLOOM_POS_ARMS})
    ),
    checked AS (
        SELECT url, truly_seen,
               min((coalesce(word, 0) & b) <> 0) AS bloom_hit
        FROM pos LEFT JOIN words USING (w)
        GROUP BY url, truly_seen
    )
    SELECT url, truly_seen, bloom_hit,
           bloom_hit AND NOT truly_seen AS false_positive
    FROM checked
"""

# -- q111: SURT keys + latest-capture dedup ----------------------------------
#
# Common Crawl's CDX index keys on the SURT (Sort-friendly URI
# Reordering Transform) of each capture's URL, and "latest capture per
# SURT wins" is the standard index-dedup rule. Pinned SURT dialect (the
# subset expressible identically in Spark and DuckDB): canonicalize
# first (q63 rules), then drop the scheme, strip one leading "www.",
# reverse the host labels comma-joined, keep a non-default port, then
# ")" + path + "?" + sorted query. Scale shape: the key is a pure
# projection; the dedup is ONE hash shuffle on surt_key (window
# row_number + count over the same partitioning, so Spark plans a
# single Window over a single Exchange). Group sizes are bounded by
# captures-per-page (crawl revisit policy), not corpus size.


def _capture_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic capture log: doc_id % 200 picks the page, so at
    sf0.01 every page has 2-3 captures arriving under different messy
    spellings (scheme case, www prefix, trailing host dot, default
    port, duplicate path slashes, fragments) that all canonicalize to
    the same SURT; the capture timestamp is closed-form in doc_id."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    p = d % 200
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    www = F.when(d % 3 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    host = F.concat(
        www,
        F.lit("News"),
        (p % 7).cast("string"),
        F.lit(".Example.COM"),
        F.when(d % 5 == 0, F.lit(".")).otherwise(F.lit("")),
    )
    # always the scheme's default port (or none), so canonicalization
    # drops it and the spelling variant never splits a SURT group
    port = F.when(
        d % 4 <= 1,
        F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    path = F.concat(
        F.when(d % 7 == 0, F.lit("/story//")).otherwise(F.lit("/story/")),
        p.cast("string"),
    )
    query = (
        F.when(p % 3 == 0, F.lit("?utm_source=feed&b=2&a=1"))
        .when(p % 3 == 1, F.lit("?b=2&a=1"))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 2 == 0, F.lit("#Section-2")).otherwise(F.lit(""))
    return docs.select(
        "doc_id",
        F.concat(scheme, F.lit("://"), host, port, path, query, frag).alias("url"),
        (F.lit(1_700_000_000) + (d % 97) * 3600 + d).cast("bigint").alias("capture_ts"),
    )


def q111_surt_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURT-keyed latest-capture dedup over the capture log: one row
    per distinct SURT carrying the newest capture's identity and the
    group's capture count. Single shuffle (window on surt_key)."""
    from pyspark.sql import Window

    caps = canonicalize_urls(_capture_urls(spark, sf_dir))
    hp = F.regexp_extract("canonical_url", r"^[^:]+://([^/]*)", 1)
    bare = F.regexp_replace(F.regexp_extract(hp, "^([^:]*)", 1), r"^www\.", "")
    prt = F.regexp_extract(hp, ":([0-9]+)$", 1)
    tail = F.regexp_replace("canonical_url", r"^[^:]+://[^/]*", "")
    surt = F.concat(
        F.array_join(F.reverse(F.split(bare, r"\.")), ","),
        F.when(prt == "", F.lit("")).otherwise(F.concat(F.lit(":"), prt)),
        F.lit(")"),
        tail,
    )
    keyed = caps.select(
        "doc_id", "capture_ts", "canonical_url", surt.alias("surt_key")
    )
    part = Window.partitionBy("surt_key")
    latest = part.orderBy(F.col("capture_ts").desc(), F.col("doc_id").desc())
    return (
        keyed.withColumn("rn", F.row_number().over(latest))
        .withColumn("n_captures", F.count(F.lit(1)).over(part))
        .filter(F.col("rn") == 1)
        .select("surt_key", "doc_id", "capture_ts", "canonical_url", "n_captures")
    )


# -- q113: UT1-style domain blocklist filter ----------------------------------
#
# Corpus pipelines (C4, RefinedWeb, FineWeb) drop pages whose host
# falls under a blocklisted registrable domain, where "under" means
# the host equals the entry or is any-depth subdomain of it. The
# scale-right implementation is NOT a LIKE-join (that's a cartesian):
# explode each host into its ≤ label-count domain suffixes and
# broadcast-equi-join the blocklist, then take the max-severity match
# per doc in the same aggregation. One hash shuffle total (the per-doc
# regroup); the blocklist side is broadcast.

_BLOCKLIST = (
    ("malware-cdn.example", "malware", 4),
    ("casino-win.example", "gambling", 3),
    ("ads-track.example", "ads", 2),
    ("news3.example.com", "blocked-host", 1),
)


def _host_expr(d: Column) -> Column:
    """The closed-form host assignment shared by q113 and q119: ~9% of
    docs land on a blocklisted domain directly, as a subdomain, or two
    labels deep; d%7==3 hosts exercise the exact-match rung
    (news3.example.com)."""
    return (
        F.when(
            d % 11 == 0,
            F.concat(F.lit("pixel"), (d % 3).cast("string"), F.lit(".ads-track.example")),
        )
        .when(d % 13 == 0, F.lit("casino-win.example"))
        .when(
            d % 17 == 0,
            F.concat(F.lit("dl"), (d % 4).cast("string"), F.lit(".cdn.malware-cdn.example")),
        )
        .otherwise(F.concat(F.lit("news"), (d % 7).cast("string"), F.lit(".example.com")))
    )


def _blocklist_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic host corpus (see _host_expr)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return docs.select("doc_id", _host_expr(F.col("doc_id")).alias("host"))


def _blocklist_matches(
    spark: SparkSession, hosts: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, host, carry...) -> (doc_id, host, m, carry...) where
    ``m`` is the max-severity blocklist match struct (null when
    clean): every host expands to its domain suffixes (length >= 2
    labels), the blocklist equi-joins on the suffix (broadcast), and
    one per-doc regroup elects the match. ``carry`` columns ride
    through the explode and regroup (per-doc constants), so callers
    composing further rollups (q119) avoid a join back."""
    labels = F.split("host", r"\.")
    n = F.size(labels)
    sufs = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    exploded = hosts.select(
        "doc_id", "host", *carry, F.explode(sufs).alias("suffix")
    )
    bl = spark.createDataFrame(
        list(_BLOCKLIST), "domain string, category string, severity int"
    )
    joined = exploded.join(
        F.broadcast(bl), F.col("suffix") == F.col("domain"), "left"
    )
    return joined.groupBy("doc_id", "host").agg(
        F.max(
            F.when(
                F.col("domain").isNotNull(),
                F.struct("severity", "domain", "category"),
            )
        ).alias("m"),
        *[F.first(c).alias(c) for c in carry],
    )


def q113_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-explode + broadcast blocklist join: every host expands to
    its domain suffixes (length ≥ 2 labels), the blocklist equi-joins
    on the suffix, and the per-doc max-severity match decides the
    verdict. Unmatched docs keep category 'none'."""
    agg = _blocklist_matches(spark, _blocklist_hosts(spark, sf_dir))
    m = F.col("m")
    return agg.select(
        "doc_id",
        "host",
        m.isNotNull().alias("blocked"),
        F.coalesce(m["category"], F.lit("none")).alias("category"),
        F.coalesce(m["domain"], F.lit("")).alias("matched_domain"),
        F.coalesce(m["severity"], F.lit(0)).alias("severity"),
    )


# -- q119: per-host corpus quality report --------------------------------------


def q119_host_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-crawl dashboard a production corpus pipeline publishes:
    one row per host with document volume, blocklist hits, the
    plain-language (FK grade<=8) fraction in basis points, and token
    mass. Composes three already-pinned dialects — the q113 host
    assignment + suffix-explode blocklist verdict and the q112
    integer readability rule — into ONE rollup: signals are computed
    in the scan projection, ride through the blocklist regroup as
    carry columns (no join back), and a single host groupBy produces
    the report. Two shuffles end to end; every reported ratio is an
    integer (basis points / milli-tokens via DIV), so the oracle
    replays the dashboard bit-for-bit."""
    from ocr_service_spark.operators.quality import fk_signals

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = fk_signals(F.col("text"))
    sigs = docs.select(
        "doc_id",
        _host_expr(F.col("doc_id")).alias("host"),
        sig["n_words"].alias("tokens"),
        sig["easy_read"].cast("bigint").alias("easy"),
    )
    per_doc = _blocklist_matches(spark, sigs, carry=("tokens", "easy"))
    return (
        per_doc.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("m").isNotNull().cast("bigint")).alias("n_blocked"),
            F.sum("easy").alias("n_easy"),
            F.sum("tokens").alias("sum_tokens"),
        )
        .select(
            "host",
            "n_docs",
            "n_blocked",
            "n_easy",
            F.expr("(10000 * n_easy) DIV n_docs").alias("easy_bp"),
            "sum_tokens",
            F.expr("(1000 * sum_tokens) DIV n_docs").alias("mean_tokens_milli"),
        )
    )


# -- q127: rel=canonical cluster dedup ---------------------------------------------
def extract_canonicals(
    pages: DataFrame, url_col: str = "url", payload_col: str = "html"
) -> DataFrame:
    """HTML payloads -> (url, canonical_url nullable): the declared
    ``<link rel=canonical>`` target, relative hrefs resolved against
    the page URL, first declaration wins. Arrow-batched mapInPandas
    over the stdlib link parser — map-only, one output row per page."""
    import pandas as pd

    def gen(batches):
        from ocr_service_spark.extraction.links import extract_canonical

        for batch in batches:
            urls, canon = [], []
            for url, payload in zip(batch[url_col], batch[payload_col]):
                urls.append(url)
                canon.append(
                    extract_canonical(
                        bytes(payload) if payload is not None else b"", url
                    )
                )
            yield pd.DataFrame({"url": urls, "canonical_url": canon})

    return pages.mapInPandas(gen, schema="url string, canonical_url string")


def _canonical_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form capture pages in clusters of 3 sharing a host: the
    base member (doc_id%3==0) declares nothing (self-canonical), the
    second declares the base ABSOLUTELY, the third RELATIVELY (pins
    urljoin resolution); every page carries a rel=stylesheet distractor
    and doc_id%30==5 pages declare a SECOND canonical that must lose
    the first-wins tie-break."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    base = d - d % 3
    host = F.format_string("http://h%s.example.com", (base % 40).cast("string"))
    url = F.concat(host, F.format_string("/p/%s", d.cast("string")))
    canon_link = (
        F.when(d % 3 == 0, F.lit(""))
        .when(
            d % 3 == 1,
            F.concat(
                F.lit('<link rel="canonical" href="'),
                host,
                F.format_string('/p/%s">', base.cast("string")),
            ),
        )
        .otherwise(
            # attr order + rel case pinned on the relative arm
            F.format_string(
                "<link href='/p/%s' rel='CANONICAL'>", base.cast("string")
            )
        )
    )
    second = F.when(
        d % 30 == 5, F.lit('<link rel="canonical" href="/p/999999">')
    ).otherwise(F.lit(""))
    page = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="/s.css">'),
        canon_link,
        second,
        F.lit("</head><body>b</body></html>"),
    )
    return docs.select(
        "doc_id", url.alias("url"), F.encode(page, "utf-8").alias("html")
    )


def q127_canonical_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rel=canonical cluster dedup — the publisher-declared duplicate
    signal crawl pipelines fold in alongside SURT (q111) and content
    (q10/q34) dedup: pages naming the same canonical target form one
    cluster and only the target is kept. Per page: the resolved
    canonical key (own URL when nothing is declared), whether the page
    is its own canonical, and the cluster size from ONE window shuffle
    on the canonical key. At 100 TB the extraction stage is map-only
    (one row per page, no explode) and the single count-window is the
    q111 shape."""
    from pyspark.sql import Window

    pages = _canonical_pages(spark, sf_dir)
    resolved = extract_canonicals(pages)
    key = F.coalesce("canonical_url", "url")
    w = Window.partitionBy("canonical_key")
    doc_id = F.regexp_extract("url", r"/p/(\d+)$", 1).cast("bigint")
    return (
        resolved.select(
            doc_id.alias("doc_id"),
            key.alias("canonical_key"),
            F.col("canonical_url").isNull().alias("is_self"),
        )
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


ORACLES_Q127 = """
    WITH d AS (
        SELECT doc_id, doc_id - doc_id % 3 AS base FROM documents
    ),
    k AS (
        SELECT doc_id,
               'http://h' || CAST(base % 40 AS VARCHAR)
                   || '.example.com/p/' || CAST(base AS VARCHAR)
                   AS canonical_key,
               doc_id % 3 = 0 AS is_self
        FROM d
    )
    SELECT doc_id, canonical_key, is_self,
           CAST(count(*) OVER (PARTITION BY canonical_key) AS BIGINT)
               AS cluster_size
    FROM k
"""


# -- q132: public-suffix (eTLD+1) registrable domains -------------------------
#
# Host-level corpus controls (q64 rollups, q84 quotas, q113 blocklists,
# q119 reports) group by RAW host, but the published filters key on the
# REGISTRABLE domain: FineWeb's per-domain quota and RefinedWeb's
# blocklists treat a.blogspot.com and b.blogspot.com as different
# publishers while x.example.com and y.example.com are one. The
# boundary between "one label is the site" and "two labels are the
# site" is the Public Suffix List (publicsuffix.org) — co.uk and
# github.io are suffixes, example.com is a site.
#
# PSL semantics implemented (the ones the list's algorithm specifies):
# longest listed suffix matching on label boundaries wins (so the
# PRIVATE-section suffix github.io beats io, blogspot.com beats com);
# registrable = suffix + one preceding label; a host that IS a suffix
# has no registrable domain; a host whose TLD is unlisted falls back
# to the implicit "*" rule (last label is the suffix).
#
# 100-TB shape: the PSL is a bounded literal table (~10k entries in
# the real list; an embedded representative subset here — swapping in
# the full list is the same literal array), so matching is a pure
# whole-stage-codegen array expression per row: build the last-K-label
# candidate suffixes, filter against the literal set, take the
# longest. ZERO joins, ZERO shuffles — where a naive design
# suffix-explodes every host through a join against a suffix table.
PUBLIC_SUFFIXES = (
    # ICANN section (subset)
    "com", "org", "net", "io", "de", "fr", "jp",
    "uk", "co.uk", "org.uk", "au", "com.au",
    # PRIVATE section (subset) — these beat their parent TLDs
    "github.io", "blogspot.com",
)
_PSL_MAX_LABELS = max(s.count(".") + 1 for s in PUBLIC_SUFFIXES)


def with_registrable_domain(df: DataFrame, host_col: str = "host") -> DataFrame:
    """Adds ``public_suffix`` and ``registrable`` columns (nullable:
    a host that IS a suffix registers nothing)."""
    labels = F.split(F.col(host_col), r"\.")
    n = F.size(labels)
    psl = F.array([F.lit(s) for s in PUBLIC_SUFFIXES])
    # candidate suffixes from the last 1.._PSL_MAX_LABELS labels, built
    # shortest-first so the LAST listed match is the longest one
    cands = F.array(
        *[
            F.when(n >= k, F.array_join(F.slice(labels, -k, k), "."))
            for k in range(1, _PSL_MAX_LABELS + 1)
        ]
    )
    listed = F.filter(cands, lambda c: F.array_contains(psl, c))
    # implicit "*" rule: unlisted TLD -> the last label is the suffix
    # (try_element_at: `listed` is EMPTY for unlisted TLDs and plain
    # element_at(-1) raises on empty arrays under ANSI semantics)
    suffix = F.coalesce(
        F.try_element_at(listed, F.lit(-1)), F.element_at(labels, -1)
    )
    suffix_n = F.size(F.split(suffix, r"\."))
    registrable = F.when(
        n > suffix_n, F.array_join(F.slice(labels, -(suffix_n + 1), suffix_n + 1), ".")
    )
    return df.withColumn("public_suffix", suffix).withColumn(
        "registrable", registrable
    )


def q132_registrable_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain table over closed-form hosts exercising every
    PSL rule: plain gTLD, two-label ccTLD suffix (co.uk), PRIVATE
    suffixes that must beat their parent TLD (github.io over io,
    blogspot.com over com), the implicit-* fallback for an unlisted
    TLD, and a host that IS a suffix (registers nothing). Map-only,
    zero shuffles at any scale (plan pinned in tests)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    host = (
        F.when(d % 6 == 0, F.format_string("a%s.b%s.com", ds, ds))
        .when(d % 6 == 1, F.format_string("a%s.b%s.co.uk", ds, ds))
        .when(d % 6 == 2, F.format_string("u%s.github.io", ds))
        .when(d % 6 == 3, F.format_string("b%s.blogspot.com", ds))
        .when(d % 6 == 4, F.format_string("s%s.x%s.zz%s", ds, ds, (d % 7).cast("string")))
        .otherwise(F.lit("co.uk"))
    )
    return with_registrable_domain(docs.select("doc_id", host.alias("host"))).select(
        "doc_id", "host", "public_suffix", "registrable"
    )


_Q132_ORACLE = """
    SELECT doc_id,
           CASE doc_id % 6
               WHEN 0 THEN 'a' || ds || '.b' || ds || '.com'
               WHEN 1 THEN 'a' || ds || '.b' || ds || '.co.uk'
               WHEN 2 THEN 'u' || ds || '.github.io'
               WHEN 3 THEN 'b' || ds || '.blogspot.com'
               WHEN 4 THEN 's' || ds || '.x' || ds || '.zz' || zs
               ELSE 'co.uk' END AS host,
           CASE doc_id % 6
               WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
               WHEN 2 THEN 'github.io' WHEN 3 THEN 'blogspot.com'
               WHEN 4 THEN 'zz' || zs ELSE 'co.uk' END AS public_suffix,
           CASE doc_id % 6
               WHEN 0 THEN 'b' || ds || '.com'
               WHEN 1 THEN 'b' || ds || '.co.uk'
               WHEN 2 THEN 'u' || ds || '.github.io'
               WHEN 3 THEN 'b' || ds || '.blogspot.com'
               WHEN 4 THEN 'x' || ds || '.zz' || zs
               ELSE NULL END AS registrable
    FROM (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds,
                 CAST(doc_id % 7 AS VARCHAR) AS zs
          FROM documents)
"""


# -- q134/q135: discovery tier -------------------------------------------------
#
# The two rungs that FEED the fetch-side parsers: q134 finds feeds
# (HTML <link rel=alternate type=rss/atom> autodiscovery -> q130's
# parser), q135 finds sitemaps (robots.txt ``Sitemap:`` records ->
# q77's parser). Both map-only, one Arrow-batched mapInPandas with the
# explode inside the UDF — zero shuffles at any scale.
FEED_LINKS_SCHEMA = (
    "url string, feed_idx bigint, feed_url string, feed_kind string, "
    "feed_title string"
)


def discover_feed_links(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per declared feed
    per the autodiscovery dialect in extraction/links.py."""
    import pandas as pd

    def run(batches):
        from ocr_service_spark.extraction.links import extract_feed_links

        for batch in batches:
            urls, idxs, furls, kinds, titles = [], [], [], [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                for i, (furl, kind, title) in enumerate(
                    extract_feed_links(bytes(payload), url)
                ):
                    urls.append(url)
                    idxs.append(i)
                    furls.append(furl)
                    kinds.append(kind)
                    titles.append(title)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "feed_idx": pd.Series(idxs, dtype="int64"),
                    "feed_url": furls,
                    "feed_kind": kinds,
                    "feed_title": titles,
                }
            )

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=FEED_LINKS_SCHEMA)


def q134_feed_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed autodiscovery over closed-form pages: doc_id%4==0 declares
    one absolute RSS feed next to an hreflang distractor (alternate
    but NOT a feed type — must be excluded), %4==1 declares an RSS
    (RELATIVE href + entity-escaped title) then an Atom (absolute, no
    title) — two rows, document order pinned by feed_idx — %4==2 has
    only distractors (hreflang + a text/html AMP alternate) — zero
    rows — and %4==3 pins case/quote robustness (REL/TYPE uppercase,
    single quotes, relative href)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    page_url = F.format_string("http://h%s.example.com/p%s.html", (d % 40).cast("string"), ds)
    distractors = (
        '<link rel="alternate" hreflang="de" href="/de/">'
        '<link rel="alternate" type="text/html" href="/amp/">'
    )
    markup = (
        F.when(
            d % 4 == 0,
            F.format_string(
                '<link rel="alternate" type="application/rss+xml" '
                'href="http://feeds.example.com/%s.xml">' + distractors, ds,
            ),
        )
        .when(
            d % 4 == 1,
            F.format_string(
                '<link rel="alternate" type="application/rss+xml" '
                'title="Feed %s &amp; co" href="/feed%s.xml">'
                '<link rel="alternate" type="application/atom+xml" '
                'href="http://feeds.example.com/a%s.atom">', ds, ds, ds,
            ),
        )
        .when(d % 4 == 2, F.lit(distractors))
        .otherwise(
            F.format_string(
                "<link rel='ALTERNATE' type='Application/Rss+Xml' href='rss%s'>", ds
            )
        )
    )
    pages = docs.select(
        page_url.alias("url"),
        F.encode(
            F.concat(F.lit("<html><head>"), markup, F.lit("</head><body>b</body></html>")),
            "utf-8",
        ).alias("html"),
    )
    out = discover_feed_links(pages)
    doc_id = F.regexp_extract("url", r"/p(\d+)\.html$", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "feed_idx", "feed_url", "feed_kind", "feed_title"
    )


_Q134_ORACLE = """
    WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds,
                      CAST(doc_id % 40 AS VARCHAR) AS hs
               FROM documents)
    SELECT doc_id, CAST(0 AS BIGINT) AS feed_idx,
           'http://feeds.example.com/' || ds || '.xml' AS feed_url,
           'rss' AS feed_kind, NULL AS feed_title
    FROM d WHERE doc_id % 4 = 0
    UNION ALL
    SELECT doc_id, 0, 'http://h' || hs || '.example.com/feed' || ds || '.xml',
           'rss', 'Feed ' || ds || ' & co'
    FROM d WHERE doc_id % 4 = 1
    UNION ALL
    SELECT doc_id, 1, 'http://feeds.example.com/a' || ds || '.atom',
           'atom', NULL
    FROM d WHERE doc_id % 4 = 1
    UNION ALL
    SELECT doc_id, 0, 'http://h' || hs || '.example.com/rss' || ds,
           'rss', NULL
    FROM d WHERE doc_id % 4 = 3
"""


SITEMAP_DECL_SCHEMA = "url string, sitemap_idx bigint, sitemap_url string"


def discover_sitemaps(robots: DataFrame, text_col: str = "robots_txt") -> DataFrame:
    """robots(url, <text_col> string) -> one row per Sitemap record
    per the RFC 9309 §2.3 dialect in extraction/robots.py."""
    import pandas as pd

    def run(batches):
        from ocr_service_spark.extraction.robots import sitemap_urls

        for batch in batches:
            urls, idxs, surls = [], [], []
            for url, text in zip(batch["url"], batch["txt"]):
                for i, s in enumerate(sitemap_urls(text or "")):
                    urls.append(url)
                    idxs.append(i)
                    surls.append(s)
            yield pd.DataFrame(
                {
                    "url": urls,
                    "sitemap_idx": pd.Series(idxs, dtype="int64"),
                    "sitemap_url": surls,
                }
            )

    narrowed = robots.select("url", F.col(text_col).alias("txt"))
    return narrowed.mapInPandas(run, schema=SITEMAP_DECL_SCHEMA)


def q135_sitemap_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from closed-form robots.txt files: doc_id%3==0
    declares two sitemaps (one with an UPPERCASE field name, one with a
    trailing comment — both must parse), %3==1 declares one absolute
    sitemap next to a RELATIVE one that must be dropped (no base to
    resolve against) and ordinary allow/disallow noise, %3==2 declares
    none. The group-independence rule is pinned: %3==0's second record
    sits INSIDE a user-agent group and must still be found."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    robots_txt = (
        F.when(
            d % 3 == 0,
            F.format_string(
                "SITEMAP: http://h%s.test/s1.xml\n"
                "User-agent: *\nDisallow: /private\n"
                "Sitemap: http://h%s.test/s2.xml # nightly\n", ds, ds,
            ),
        )
        .when(
            d % 3 == 1,
            F.format_string(
                "User-agent: *\nAllow: /\n"
                "Sitemap: /relative-dropped.xml\n"
                "Sitemap: https://h%s.test/only.xml\n", ds,
            ),
        )
        .otherwise(F.lit("User-agent: *\nDisallow:\n"))
    )
    robots = docs.select(
        F.format_string("http://r%s.test/robots.txt", ds).alias("url"),
        robots_txt.alias("robots_txt"),
    )
    out = discover_sitemaps(robots)
    doc_id = F.regexp_extract("url", r"//r(\d+)\.test/", 1).cast("bigint")
    return out.select(doc_id.alias("doc_id"), "sitemap_idx", "sitemap_url")


_Q135_ORACLE = """
    WITH d AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS ds FROM documents)
    SELECT doc_id, CAST(0 AS BIGINT) AS sitemap_idx,
           'http://h' || ds || '.test/s1.xml' AS sitemap_url
    FROM d WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 1, 'http://h' || ds || '.test/s2.xml'
    FROM d WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 0, 'https://h' || ds || '.test/only.xml'
    FROM d WHERE doc_id % 3 = 1
"""


# -- q136: hreflang reciprocity audit ------------------------------------------
HREFLANG_SCHEMA = "url string, hreflang string, target_url string"


def extract_hreflang_edges(pages: DataFrame, payload_col: str = "html") -> DataFrame:
    """pages(url, <payload_col> binary) -> one row per hreflang
    declaration: (url, hreflang, target_url), per the dialect in
    extraction/links.py. Map-only, explode inside the UDF."""
    import pandas as pd

    def run(batches):
        from ocr_service_spark.extraction.links import extract_hreflangs

        for batch in batches:
            urls, langs, targets = [], [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                for lang, target in extract_hreflangs(bytes(payload), url):
                    urls.append(url)
                    langs.append(lang)
                    targets.append(target)
            yield pd.DataFrame(
                {"url": urls, "hreflang": langs, "target_url": targets}
            )

    narrowed = pages.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=HREFLANG_SCHEMA)


_HREFLANG_LANGS = ("en", "de", "fr")


def _hreflang_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-edition clusters of 3 (base = doc_id - doc_id%3, member
    m is the _HREFLANG_LANGS[m] edition): every member declares the
    OTHER two editions — except in lame clusters (base%5==0) where the
    fr member declares NOTHING, breaking reciprocity for every edge
    pointing at it. A feed-alternate distractor rides on every page
    (must not parse as hreflang)."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    base = d - d % 3
    member = d % 3

    def edition_url(doc):
        return F.format_string(
            "http://hl%s.example.com/%s",
            ((doc - doc % 3) % 40).cast("string"),
            doc.cast("string"),
        )

    def decl(m: int):
        # declare member m's edition (skipped when we ARE member m)
        return F.when(
            member != m,
            F.concat(
                F.lit(f'<link rel="alternate" hreflang="{_HREFLANG_LANGS[m]}" href="'),
                edition_url(base + m),
                F.lit('">'),
            ),
        ).otherwise(F.lit(""))
    lame = (base % 5 == 0) & (member == 2)
    markup = F.when(lame, F.lit("")).otherwise(
        F.concat(decl(0), decl(1), decl(2))
    )
    page = F.concat(
        F.lit('<html><head><link rel="alternate" type="application/rss+xml" href="/f.xml">'),
        markup,
        F.lit("</head><body>b</body></html>"),
    )
    return docs.select(
        edition_url(d).alias("url"), F.encode(page, "utf-8").alias("html")
    )


def q136_hreflang_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hreflang reciprocity audit crawl pipelines run before
    trusting language-edition clusters: Google's documented rule is
    that an hreflang pair counts only when BOTH pages confirm it, so
    every declared edge (source -> target) is checked for a return
    edge (target -> source). One map-only extraction plus ONE
    edge-keyed self-join (AQE picks the strategy; at 10^12 edges both
    sides partition on the same composite key). Lame clusters
    (base%5==0: the fr edition declares nothing) and the corpus-edge
    partial cluster make both verdicts reachable at every SF."""
    pages = _hreflang_pages(spark, sf_dir)
    edges = extract_hreflang_edges(pages)
    doc_of = lambda c: F.regexp_extract(c, r"/(\d+)$", 1).cast("bigint")
    # both sides of the reciprocity self-join consume this edge set;
    # the checkpoint (q37 precedent) stops the page synthesis +
    # hreflang parse being planned (and run) once per side
    e = edges.select(
        doc_of("url").alias("src_doc"),
        "hreflang",
        doc_of("target_url").alias("dst_doc"),
    ).localCheckpoint(eager=False)
    # self-join: alias BOTH sides explicitly — joining a DataFrame with
    # a projection of itself lets the analyzer resolve the bare columns
    # against either lineage (silently wrong matches, not an error)
    # the bare EDGE SET (src, dst), renamed once; the reversal happens
    # in the join condition only (reversing in both places matches
    # every edge against itself and reports universal reciprocity)
    back = (
        e.select(F.col("src_doc").alias("r_src"), F.col("dst_doc").alias("r_dst"))
        .distinct()
        .alias("b")
    )
    fwd = e.alias("f")
    return fwd.join(
        back,
        (F.col("f.src_doc") == F.col("b.r_dst"))
        & (F.col("f.dst_doc") == F.col("b.r_src")),
        "left",
    ).select(
        F.col("f.src_doc").alias("doc_id"),
        F.col("f.hreflang").alias("hreflang"),
        F.col("f.dst_doc").alias("dst_doc"),
        F.col("b.r_src").isNotNull().alias("reciprocal"),
    )


_Q136_ORACLE = """
    WITH m AS (
        SELECT doc_id, doc_id - doc_id % 3 AS base, doc_id % 3 AS member
        FROM documents
    ),
    e AS (
        -- each existing member declares the other two editions,
        -- except the fr member of a lame (base%5==0) cluster
        SELECT m.doc_id AS src_doc,
               (['en','de','fr'])[1 + t.m] AS hreflang,
               m.base + t.m AS dst_doc
        FROM m, (SELECT unnest([0, 1, 2]) AS m) t
        WHERE t.m <> m.member
          AND NOT (m.base % 5 = 0 AND m.member = 2)
    )
    SELECT e.src_doc AS doc_id, e.hreflang, e.dst_doc,
           -- reciprocal iff the target EXISTS in the corpus and is not
           -- itself a lame fr member (those declare nothing)
           (d.doc_id IS NOT NULL
            AND NOT (e.dst_doc % 3 = 2 AND (e.dst_doc - e.dst_doc % 3) % 5 = 0))
               AS reciprocal
    FROM e LEFT JOIN m d ON d.doc_id = e.dst_doc
"""


# -- q137: recrawl priority from measured churn --------------------------------
N_SNAPSHOTS = 4  # t = 0..3; changes measured over the 3 consecutive pairs


def q137_recrawl_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-economics rung (Cho & Garcia-Molina's freshness insight:
    recrawl budget should follow each page's OBSERVED change rate):
    per URL, count content-hash changes across consecutive crawl
    snapshots and bucket into hot/warm/cold fetch priorities. Connects
    q71 (two-snapshot churn READ) to q78 (the scheduler that consumes
    priorities).

    Fixture: doc d changes every k=1+d%4 snapshots (its content hash is
    md5 of doc_id#version with version = t div k), so across t=0..3
    the change count is closed-form: k=1 -> 3 changes (hot), k=2 or
    k=3 -> 1 (warm), k=4 -> 0 (cold). 100-TB shape: snapshots arrive
    date-partitioned; ONE window shuffle on url orders each URL's
    `N_SNAPSHOTS` rows (lag + conditional count — no self-joins, no
    K-way union of full-table comparisons); rates kept integer (basis
    points) so the oracle replays them exactly."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    k = (d % 4 + 1).cast("bigint")
    snaps = docs.select(
        "doc_id",
        F.format_string("http://c%s.test/p%s", (d % 40).cast("string"), d.cast("string")).alias("url"),
        F.explode(F.sequence(F.lit(0), F.lit(N_SNAPSHOTS - 1))).alias("t"),
    ).select(
        "doc_id",
        "url",
        "t",
        F.md5(
            F.concat_ws("#", F.col("doc_id").cast("string"),
                        (F.col("t").cast("bigint") / k).cast("bigint").cast("string"))
        ).alias("content_hash"),
    )
    w = Window.partitionBy("url").orderBy("t")
    changed = (
        F.lag("content_hash").over(w).isNotNull()
        & (F.col("content_hash") != F.lag("content_hash").over(w))
    ).cast("bigint")
    per_url = (
        snaps.withColumn("chg", changed)
        .groupBy("doc_id", "url")
        .agg(F.sum("chg").alias("n_changes"))
    )
    rate_bp = (F.col("n_changes") * 10000 / (N_SNAPSHOTS - 1)).cast("bigint")
    bucket = (
        F.when(F.col("n_changes") >= 2, "hot")
        .when(F.col("n_changes") == 1, "warm")
        .otherwise("cold")
    )
    return per_url.select(
        "doc_id",
        "url",
        F.col("n_changes").cast("bigint").alias("n_changes"),
        rate_bp.alias("change_rate_bp"),
        bucket.alias("priority"),
    )


_Q137_ORACLE = """
    SELECT doc_id,
           'http://c' || CAST(doc_id % 40 AS VARCHAR) || '.test/p'
               || CAST(doc_id AS VARCHAR) AS url,
           n_changes,
           CAST(n_changes * 10000 / 3 AS BIGINT) AS change_rate_bp,
           CASE WHEN n_changes >= 2 THEN 'hot'
                WHEN n_changes = 1 THEN 'warm'
                ELSE 'cold' END AS priority
    FROM (SELECT doc_id,
                 CAST(CASE doc_id % 4 WHEN 0 THEN 3 WHEN 3 THEN 0
                      ELSE 1 END AS BIGINT) AS n_changes
          FROM documents)
"""


# -- q138: crawler-trap detection by URL templating ----------------------------
#
# Infinite URL spaces (calendars, session ids, faceted search) are the
# classic frontier killer: a single host manufactures unbounded
# distinct URLs under one PATH TEMPLATE. The standard defense is to
# template every URL (variable segments abstracted) and flag
# (host, template) groups that dominate their host's URL population —
# those are machine-generated spaces, not content.
#
# Pinned templating dialect (pure codegen — transform over the split
# path, no Python): a path segment that is all digits -> "<d>"; a
# segment of >=8 hex chars -> "<h>" (session ids/hashes); others kept
# verbatim (lowercased); a query string collapses to "?*".
# Trap rule (integer, SF-independent): a template is a trap when it
# holds TRAP_MIN+ distinct URLs AND more than half the host's URLs.
TRAP_MIN = 2


def with_url_template(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Adds ``host`` and ``template`` columns per the dialect above."""
    # scheme matched case-insensitively (RFC 3986: schemes are; real
    # crawl URLs carry HTTP:// spellings and must not collapse into
    # one host=''/template='/' group)
    _scheme = r"^[a-zA-Z][a-zA-Z0-9+.-]*://"
    host = F.lower(F.regexp_extract(url_col, _scheme + r"([^/?#]+)", 1))
    path = F.regexp_extract(url_col, _scheme + r"[^/?#]+([^?#]*)", 1)
    segs = F.filter(F.split(F.lower(path), "/"), lambda s: s != "")
    templ_segs = F.transform(
        segs,
        lambda s: F.when(s.rlike("^[0-9]+$"), F.lit("<d>"))
        .when(s.rlike("^[0-9a-f]{8,}$"), F.lit("<h>"))
        .otherwise(s),
    )
    has_query = F.col(url_col).contains("?")
    template = F.concat(
        F.lit("/"),
        F.array_join(templ_segs, "/"),
        F.when(has_query, F.lit("?*")).otherwise(F.lit("")),
    )
    return df.withColumn("host", host).withColumn("template", template)


def q138_trap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trap detection over closed-form URLs: trap hosts (doc_id%20<5)
    put every page under ONE calendar-style template (/cal/<d>/ —
    all-digit segment abstracted), normal hosts give every page its
    own literal template (/page/p<id>, not abstractable), and every
    5th URL carries a query string (its own ?* template — must NOT
    merge with the clean one). Shapes: one groupBy on (host, template)
    plus one host-total window over the ALREADY-AGGREGATED template
    table (sketch-sized, not URL-sized) — the only URL-sized shuffle
    is the first agg's."""
    from pyspark.sql import Window

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    ds = d.cast("string")
    host = F.format_string("t%s.test", (d % 20).cast("string"))
    url = F.when(
        d % 20 < 5, F.format_string("http://t%s.test/cal/%s/", (d % 20).cast("string"), ds)
    ).otherwise(
        F.concat(
            F.format_string("http://t%s.test/page/p%s", (d % 20).cast("string"), ds),
            F.when(d % 5 == 0, F.lit("?sid=1")).otherwise(F.lit("")),
        )
    )
    urls = docs.select(url.alias("url"))
    per_template = (
        with_url_template(urls)
        .groupBy("host", "template")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )
    w = Window.partitionBy("host")
    host_urls = F.sum("n_urls").over(w)
    return per_template.select(
        "host",
        "template",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        host_urls.cast("bigint").alias("host_urls"),
        (
            (F.col("n_urls") >= TRAP_MIN) & (F.col("n_urls") * 2 > host_urls)
        ).alias("is_trap"),
    )


_Q138_ORACLE = f"""
    WITH u AS (
        SELECT 't' || CAST(doc_id % 20 AS VARCHAR) || '.test' AS host,
               CASE WHEN doc_id % 20 < 5 THEN '/cal/<d>'
                    ELSE '/page/p' || CAST(doc_id AS VARCHAR)
                         || CASE WHEN doc_id % 5 = 0 THEN '?*' ELSE '' END
               END AS template
        FROM documents
    ),
    t AS (
        SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls
        FROM u GROUP BY host, template
    )
    SELECT host, template, n_urls,
           CAST(sum(n_urls) OVER (PARTITION BY host) AS BIGINT) AS host_urls,
           n_urls >= {TRAP_MIN}
               AND n_urls * 2 > sum(n_urls) OVER (PARTITION BY host) AS is_trap
    FROM t
"""


# -- q130: RSS/Atom feed-item extraction --------------------------------------
FEED_ITEMS_SCHEMA = (
    "url string, feed_kind string, item_idx bigint, title string, "
    "link string, pub_utc string"
)

_RFC822_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()


def extract_feed_items(feeds: DataFrame, payload_col: str = "html") -> DataFrame:
    """feeds(url, <payload_col> binary) -> one row per feed item:
    (url, feed_kind, item_idx, title, link, pub_utc) per the dialect
    pinned in extraction/feeds.py. Same 100-TB shape as the sitemap
    and structured-data tiers: one Arrow-batched mapInPandas, the
    explode inside the UDF and capped at MAX_ITEMS."""
    import pandas as pd

    def run(batches):
        from ocr_service_spark.extraction.feeds import parse_feed

        for batch in batches:
            urls, kinds, idxs, titles, links, pubs = [], [], [], [], [], []
            for url, payload in zip(batch["url"], batch["payload"]):
                if payload is None:
                    continue
                kind, items = parse_feed(bytes(payload))
                for it in items:
                    urls.append(url)
                    kinds.append(kind)
                    idxs.append(it["item_idx"])
                    titles.append(it["title"])
                    links.append(it["link"])
                    pubs.append(it["pub_utc"])
            yield pd.DataFrame(
                {
                    "url": urls,
                    "feed_kind": kinds,
                    "item_idx": pd.Series(idxs, dtype="int64"),
                    "title": titles,
                    "link": links,
                    "pub_utc": pubs,
                }
            )

    narrowed = feeds.select("url", F.col(payload_col).alias("payload"))
    return narrowed.mapInPandas(run, schema=FEED_ITEMS_SCHEMA)


def _feed_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form feeds, one per doc: d%2==0 is RSS 2.0 (pubDate in
    RFC 822 at +02:00 — the UTC normalization must shift it), d%2==1
    is Atom (rel=self decoy link BEFORE the alternate one — the rel
    skip must fire; ``updated`` already in Z time), d%10==7 is garbage
    bytes that must contribute zero items. Three items per feed with
    every field closed-form in (doc_id, item_idx)."""
    docs = documents(spark, sf_dir, "doc_id")
    d = F.col("doc_id")
    months = F.array([F.lit(m) for m in _RFC822_MONTHS])

    def _fields(i: int):
        y = (d % 10 + 2010).cast("int")
        m = (d % 12 + 1).cast("int")
        dd = ((d + i) % 28 + 1).cast("int")
        hh = ((d + i) % 24).cast("int")
        mi = ((d * 3 + i) % 60).cast("int")
        title = F.format_string("Item %s/%d &amp; co", d.cast("string"), F.lit(i))
        link = F.format_string(
            "http://f%s.example.com/%s/%d", (d % 40).cast("string"), d.cast("string"), F.lit(i)
        )
        return y, m, dd, hh, mi, title, link

    def _rss_item(i: int):
        y, m, dd, hh, mi, title, link = _fields(i)
        pub = F.concat(
            F.lpad(dd.cast("string"), 2, "0"), F.lit(" "),
            F.element_at(months, m), F.lit(" "),
            y.cast("string"), F.lit(" "),
            F.lpad(hh.cast("string"), 2, "0"), F.lit(":"),
            F.lpad(mi.cast("string"), 2, "0"), F.lit(":00 +0200"),
        )
        return F.concat(
            F.lit("<item><title>"), title, F.lit("</title><link>"), link,
            F.lit("</link><pubDate>"), pub, F.lit("</pubDate></item>"),
        )

    def _atom_entry(i: int):
        y, m, dd, hh, mi, title, link = _fields(i)
        upd = F.format_string(
            "%04d-%02d-%02dT%02d:%02d:00Z", y, m, dd, hh, mi
        )
        return F.concat(
            F.lit("<entry><title>"), title,
            F.lit('</title><link rel="self" href="http://x.test/self"/>'
                  "<link href='"), link, F.lit("'/><updated>"), upd,
            F.lit("</updated></entry>"),
        )

    rss = F.concat(
        F.lit('<?xml version="1.0"?><rss version="2.0"><channel><title>F</title>'),
        *[_rss_item(i) for i in range(3)],
        F.lit("</channel></rss>"),
    )
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom">'),
        *[_atom_entry(i) for i in range(3)],
        F.lit("</feed>"),
    )
    body = (
        F.when(d % 10 == 7, F.lit("\x00\xff not a feed at all"))
        .when(d % 2 == 0, rss)
        .otherwise(atom)
    )
    return docs.select(
        F.format_string("http://feeds.example.com/%s.xml", d.cast("string")).alias(
            "url"
        ),
        F.encode(body, "utf-8").alias("html"),
    )


def q130_feed_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed-item table over closed-form fixture feeds: per
    item, the unescaped title, the frontier link (Atom's rel=self
    decoy skipped), and the publication instant NORMALIZED TO UTC
    (the RSS arm publishes at +02:00, so cross-engine agreement on
    pub_utc proves the zone shift, not just the parse). Map-only at
    any scale — the explode happens inside the UDF, capped at
    MAX_ITEMS; no shuffle anywhere."""
    pages = _feed_pages(spark, sf_dir)
    out = extract_feed_items(pages)
    doc_id = F.regexp_extract("url", r"/(\d+)\.xml$", 1).cast("bigint")
    return out.select(
        doc_id.alias("doc_id"), "feed_kind", "item_idx", "title", "link", "pub_utc"
    )


_Q130_ORACLE = """
    WITH d AS (
        SELECT doc_id, i AS item_idx,
               CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS feed_kind,
               make_timestamp(
                   CAST(2010 + doc_id % 10 AS INT),
                   CAST(1 + doc_id % 12 AS INT),
                   CAST(1 + (doc_id + i) % 28 AS INT),
                   CAST((doc_id + i) % 24 AS INT),
                   CAST((doc_id * 3 + i) % 60 AS INT), 0) AS local_ts
        FROM documents, (SELECT unnest([0, 1, 2]) AS i)
        WHERE doc_id % 10 <> 7
    )
    SELECT doc_id, feed_kind, CAST(item_idx AS BIGINT) AS item_idx,
           'Item ' || CAST(doc_id AS VARCHAR) || '/' || CAST(item_idx AS VARCHAR)
               || ' & co' AS title,
           'http://f' || CAST(doc_id % 40 AS VARCHAR) || '.example.com/'
               || CAST(doc_id AS VARCHAR) || '/' || CAST(item_idx AS VARCHAR)
               AS link,
           strftime(CASE WHEN feed_kind = 'rss'
                         THEN local_ts - INTERVAL 2 HOUR
                         ELSE local_ts END,
                    '%Y-%m-%d %H:%M:%S') AS pub_utc
    FROM d
"""


QUERIES = {
    "q89_bloom_seen_set": q89_bloom_seen_set,
    "q63_url_canonicalize": q63_url_canonicalize,
    "q75_redirect_chains": q75_redirect_chains,
    "q77_sitemap_coverage": q77_sitemap_coverage,
    "q78_fetch_schedule": q78_fetch_schedule,
    "q64_host_stats": q64_host_stats,
    "q67_outlinks": q67_outlinks,
    "q68_link_hosts": q68_link_hosts,
    "q69_host_pagerank": q69_host_pagerank,
    "q71_crawl_churn": q71_crawl_churn,
    "q72_robots_policy": q72_robots_policy,
    "q73_anchor_terms": q73_anchor_terms,
    "q80_crawl_merge": q80_crawl_merge,
    "q84_host_quota": q84_host_quota,
    "q111_surt_dedup": q111_surt_dedup,
    "q113_domain_blocklist": q113_domain_blocklist,
    "q119_host_quality_report": q119_host_quality_report,
    "q127_canonical_clusters": q127_canonical_clusters,
    "q130_feed_items": q130_feed_items,
    "q132_registrable_domains": q132_registrable_domains,
    "q134_feed_discovery": q134_feed_discovery,
    "q135_sitemap_discovery": q135_sitemap_discovery,
    "q136_hreflang_reciprocity": q136_hreflang_reciprocity,
    "q137_recrawl_priority": q137_recrawl_priority,
    "q138_trap_detection": q138_trap_detection,
    "q140_crawl_depth": q140_crawl_depth,
    "q141_hits_scores": q141_hits_scores,
    "q149_host_skew": q149_host_skew,
    "q151_mirror_hosts": q151_mirror_hosts,
    "q153_text_citations": q153_text_citations,
    "q157_typosquat_pairs": q157_typosquat_pairs,
    "q161_image_text_pairs": q161_image_text_pairs,
    "q162_page_image": q162_page_image,
    "q165_html_tables": q165_html_tables,
}

ORACLES["q151_mirror_hosts"] = ORACLES_Q151
ORACLES["q153_text_citations"] = ORACLES_Q153
ORACLES["q157_typosquat_pairs"] = ORACLES_Q157
ORACLES["q161_image_text_pairs"] = ORACLES_Q161
ORACLES["q162_page_image"] = ORACLES_Q162
ORACLES["q165_html_tables"] = ORACLES_Q165

# q149: replay planting + every metric; DuckDB's // is the div twin.
ORACLES["q149_host_skew"] = f"""
    WITH per_host AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'h0.big'
                    ELSE 'h' || CAST(doc_id % 50 AS VARCHAR) || '.test' END AS host,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ),
    ranked AS (
        SELECT host, n_docs,
               CAST(row_number() OVER (ORDER BY n_docs DESC, host ASC) AS BIGINT)
                   AS rank,
               CAST(row_number() OVER (ORDER BY n_docs ASC, host ASC) AS BIGINT)
                   AS i_asc,
               CAST(count(*) OVER () AS BIGINT) AS n_hosts
        FROM per_host
    ),
    stats AS (
        SELECT host, n_docs, rank, n_hosts,
               CAST(sum(n_docs) OVER () AS BIGINT) AS total,
               CAST(sum((2 * i_asc - n_hosts - 1) * n_docs) OVER ()
                    AS BIGINT) AS lorenz,
               CAST(max(CASE WHEN i_asc = (n_hosts + 1) // 2
                             THEN n_docs END) OVER () AS BIGINT) AS median_docs
        FROM ranked
    )
    SELECT host, n_docs, rank,
           CAST((n_docs * {GINI_SCALE}) // total AS BIGINT) AS share_bp,
           CAST(({GINI_SCALE} * lorenz) // (n_hosts * total) AS BIGINT) AS gini_bp,
           CAST(greatest(1, n_docs // median_docs) AS BIGINT) AS salt_factor
    FROM stats
"""

ORACLES["q140_crawl_depth"] = _Q140_ORACLE

# q141: q69's closed-form edge list deduplicated to adjacency, then two
# HITS rounds replayed value-for-value (sum-normalization, truncating
# integer division, coalesce-to-0 for nodes outside the updated side).
ORACLES["q141_hits_scores"] = f"""
    WITH e AS (
        SELECT DISTINCT src, dst FROM (
            SELECT 'www.src' || (doc_id % 5) || '.example.com' AS src,
                   'news' || (doc_id % 7) || '.example.com' AS dst
            FROM documents
            UNION ALL
            SELECT 'www.src' || (doc_id % 5) || '.example.com',
                   'www.src' || (doc_id % 5) || '.example.com'
            FROM documents
        )
    ),
    nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM e
                                         UNION ALL SELECT dst FROM e)),
    hub0 AS (SELECT host, CAST({HITS_SCALE} AS BIGINT) AS s FROM nodes),
    a1raw AS (
        SELECT e.dst, sum(hub0.s) AS raw FROM e JOIN hub0 ON e.src = hub0.host
        GROUP BY e.dst
    ),
    auth1 AS (
        SELECT n.host,
               CAST(coalesce(r.raw, 0) * {HITS_SCALE}
                    // (SELECT sum(raw) FROM a1raw) AS BIGINT) AS s
        FROM nodes n LEFT JOIN a1raw r ON n.host = r.dst
    ),
    h1raw AS (
        SELECT e.src, sum(auth1.s) AS raw FROM e JOIN auth1 ON e.dst = auth1.host
        GROUP BY e.src
    ),
    hub1 AS (
        SELECT n.host,
               CAST(coalesce(r.raw, 0) * {HITS_SCALE}
                    // (SELECT sum(raw) FROM h1raw) AS BIGINT) AS s
        FROM nodes n LEFT JOIN h1raw r ON n.host = r.src
    ),
    a2raw AS (
        SELECT e.dst, sum(hub1.s) AS raw FROM e JOIN hub1 ON e.src = hub1.host
        GROUP BY e.dst
    ),
    auth2 AS (
        SELECT n.host,
               CAST(coalesce(r.raw, 0) * {HITS_SCALE}
                    // (SELECT sum(raw) FROM a2raw) AS BIGINT) AS s
        FROM nodes n LEFT JOIN a2raw r ON n.host = r.dst
    ),
    h2raw AS (
        SELECT e.src, sum(auth2.s) AS raw FROM e JOIN auth2 ON e.dst = auth2.host
        GROUP BY e.src
    ),
    hub2 AS (
        SELECT n.host,
               CAST(coalesce(r.raw, 0) * {HITS_SCALE}
                    // (SELECT sum(raw) FROM h2raw) AS BIGINT) AS s
        FROM nodes n LEFT JOIN h2raw r ON n.host = r.src
    )
    SELECT hub2.host, hub2.s AS hub_scaled, auth2.s AS auth_scaled
    FROM hub2 JOIN auth2 ON hub2.host = auth2.host
"""

# DuckDB mirror of _capture_urls (closed-form in doc_id).
_CAPTURE_SQL = """
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END)
           || '://'
           || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
           || 'News' || CAST((doc_id % 200) % 7 AS VARCHAR) || '.Example.COM'
           || (CASE WHEN doc_id % 5 = 0 THEN '.' ELSE '' END)
           || (CASE WHEN doc_id % 4 <= 1 THEN
                 (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
               ELSE '' END)
           || (CASE WHEN doc_id % 7 = 0 THEN '/story//' ELSE '/story/' END)
           || CAST(doc_id % 200 AS VARCHAR)
           || (CASE WHEN (doc_id % 200) % 3 = 0 THEN '?utm_source=feed&b=2&a=1'
                    WHEN (doc_id % 200) % 3 = 1 THEN '?b=2&a=1' ELSE '' END)
           || (CASE WHEN doc_id % 2 = 0 THEN '#Section-2' ELSE '' END) AS url
    FROM documents
"""

_Q111_ORACLE = _canon_sql_over(_CAPTURE_SQL) + """
    , surt AS (
        SELECT doc_id, canonical_url,
               CAST(1700000000 + (doc_id % 97) * 3600 + doc_id AS BIGINT)
                   AS capture_ts,
               array_to_string(list_reverse(string_split(
                   regexp_replace(regexp_extract(regexp_extract(
                       canonical_url, '^[^:]+://([^/]*)', 1),
                       '^([^:]*)', 1), '^www\\.', ''), '.')), ',')
               || (CASE WHEN regexp_extract(regexp_extract(canonical_url,
                       '^[^:]+://([^/]*)', 1), ':([0-9]+)$', 1) = '' THEN ''
                    ELSE ':' || regexp_extract(regexp_extract(canonical_url,
                       '^[^:]+://([^/]*)', 1), ':([0-9]+)$', 1) END)
               || ')'
               || regexp_replace(canonical_url, '^[^:]+://[^/]*', '')
                   AS surt_key
        FROM canon
    ),
    ranked AS (
        SELECT surt_key, doc_id, capture_ts, canonical_url,
               row_number() OVER (PARTITION BY surt_key
                                  ORDER BY capture_ts DESC, doc_id DESC) AS rn,
               count(*) OVER (PARTITION BY surt_key) AS n_captures
        FROM surt
    )
    SELECT surt_key, doc_id, capture_ts, canonical_url,
           CAST(n_captures AS BIGINT) AS n_captures
    FROM ranked WHERE rn = 1
"""


# DuckDB mirror of _host_expr.
_HOST_CASE_SQL = """
            CASE WHEN doc_id % 11 = 0
                     THEN 'pixel' || CAST(doc_id % 3 AS VARCHAR)
                          || '.ads-track.example'
                 WHEN doc_id % 13 = 0 THEN 'casino-win.example'
                 WHEN doc_id % 17 = 0
                     THEN 'dl' || CAST(doc_id % 4 AS VARCHAR)
                          || '.cdn.malware-cdn.example'
                 ELSE 'news' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
            END
"""


def _q113_oracle() -> str:
    values = ", ".join(
        f"('{d}', '{c}', {s})" for d, c, s in _BLOCKLIST
    )
    return f"""
    WITH h AS (
        SELECT doc_id, {_HOST_CASE_SQL} AS host
        FROM documents
    ),
    b(domain, category, severity) AS (VALUES {values}),
    m AS (
        SELECT doc_id, host, b.domain, b.category, b.severity
        FROM h LEFT JOIN b
          ON h.host = b.domain OR h.host LIKE '%.' || b.domain
    )
    SELECT doc_id, host,
        max(severity) IS NOT NULL AS blocked,
        coalesce(arg_max(category, severity), 'none') AS category,
        coalesce(arg_max(domain, severity), '') AS matched_domain,
        CAST(coalesce(max(severity), 0) AS INT) AS severity
    FROM m GROUP BY doc_id, host
    """


def _q119_oracle() -> str:
    values = ", ".join(f"('{d}', '{c}', {s})" for d, c, s in _BLOCKLIST)
    return f"""
    WITH sig AS (
        SELECT doc_id, {_HOST_CASE_SQL} AS host,
            CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS w0,
            CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s0,
            CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                 + len(list_filter(regexp_extract_all(text, '\\S+'),
                       t -> NOT regexp_matches(lower(t), '[aeiouy]')))
                 AS BIGINT) AS sy
        FROM documents
    ),
    v AS (
        SELECT s.*,
            CASE WHEN 39 * greatest(w0, 1) * greatest(w0, 1)
                      + 1180 * sy * greatest(s0, 1)
                      - 2359 * greatest(s0, 1) * greatest(w0, 1) <= 0
                 THEN 1 ELSE 0 END AS easy,
            CASE WHEN EXISTS (
                     SELECT 1 FROM (VALUES {values}) b(domain, category, sev)
                     WHERE s.host = b.domain
                        OR s.host LIKE '%.' || b.domain)
                 THEN 1 ELSE 0 END AS blocked
        FROM sig s
    )
    SELECT host,
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(blocked) AS BIGINT) AS n_blocked,
        CAST(sum(easy) AS BIGINT) AS n_easy,
        CAST((10000 * sum(easy)) // count(*) AS BIGINT) AS easy_bp,
        CAST(sum(w0) AS BIGINT) AS sum_tokens,
        CAST((1000 * sum(w0)) // count(*) AS BIGINT) AS mean_tokens_milli
    FROM v GROUP BY host
    """


ORACLES["q111_surt_dedup"] = _Q111_ORACLE
ORACLES["q127_canonical_clusters"] = ORACLES_Q127
ORACLES["q130_feed_items"] = _Q130_ORACLE
ORACLES["q132_registrable_domains"] = _Q132_ORACLE
ORACLES["q134_feed_discovery"] = _Q134_ORACLE
ORACLES["q135_sitemap_discovery"] = _Q135_ORACLE
ORACLES["q136_hreflang_reciprocity"] = _Q136_ORACLE
ORACLES["q137_recrawl_priority"] = _Q137_ORACLE
ORACLES["q138_trap_detection"] = _Q138_ORACLE
ORACLES["q113_domain_blocklist"] = _q113_oracle()
ORACLES["q119_host_quality_report"] = _q119_oracle()
