"""Crawl-operations layer: cardinality sketches, crawl-budget
apportionment, frontier scheduling, and host-graph rollups.

The ops a crawler's CONTROL PLANE runs over the corpus the webtext layer
accounts for: a deterministic HyperLogLog distinct-URL sketch (the
100 TB answer to ``count(DISTINCT url)`` — registers are a 64-value
GroupBy state, mergeable across snapshots, where the exact distinct is
an unbounded shuffle), largest-remainder apportionment of a global fetch
budget across domains (integer-exact Hamilton method — allocations sum
to the budget by construction), a politeness-slotted URL frontier
(per-domain top-K by priority, the WindowGroupLimit shape), and a
host-level rollup of the outlink graph (coarsen to host pairs FIRST,
then dim-sized stats).

Like datapipe/webtext.py (whose deterministic URL/link synthesis these
ops share), everything is integer-exact except the HLL estimate, which
is a FIXED sequence of IEEE-double ops (one correctly-rounded decimal
literal, power-of-two scaling, one division) and therefore bit-identical
across engines — every op carries a DuckDB oracle that hash-matches.

Reference parity note: the reference engine (pdftotext++) has no
web/crawl layer — these belong to the task addendum's training-data
surface, like datapipe/webtext.py and datapipe/sampling.py.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from pdftotext_plus_plus_spark.datapipe import _documents
from pdftotext_plus_plus_spark.datapipe.webtext import (
    CANON_URLS_SQL,
    EDGES_SQL,
    _RAW_URL_SPARK,
    _canon_col,
    _edges,
    rank_iter_sql,
    rank_iterations,
)

# ---------------------------------------------------------------------------
# deterministic HyperLogLog distinct-URL sketch
# ---------------------------------------------------------------------------

# m = 2^6 registers: small enough that the sandbox corpus exercises the
# interesting regimes (zero buckets, register collisions, the merge), yet
# the math is the production math — a deployment raises HLL_B to 14
# (16384 registers, ~0.8% error) and nothing else changes.
HLL_B = 6
HLL_BUCKETS = 1 << HLL_B                # m = 64
# the 60-bit md5-slice hash minus the 6 bucket bits leaves a 54-bit word;
# rho (leading-zero count + 1) is capped at 55 for the all-zero word
HLL_RHO_CAP = 55
# alpha_m * m^2 * 2^55 for m = 64 (0.709 * 4096 * 2^55), precomputed in
# IEEE double and inlined as its shortest round-trip repr so BOTH engines
# parse the identical DOUBLE (a bare `0.709` would parse as DECIMAL in
# both Spark and DuckDB); the single division by the register sum then
# rounds once — the estimate is bit-identical across engines.
_HLL_EST_NUM = repr(0.709 * 4096.0 * 36028797018963968.0)

# shared hash/bucket/rho expressions (Spark SQL dialect)
_HLL_RHO_SPARK = f"""
CASE WHEN div(h, {HLL_BUCKETS}) = 0 THEN {HLL_RHO_CAP}
     ELSE {HLL_RHO_CAP} - length(bin(div(h, {HLL_BUCKETS}))) END
"""


def _hll_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(domain, canon_url, bucket, rho) — one row per document URL."""
    docs = _documents(spark, sf_dir)
    return (docs
            .select(F.concat("source", F.lit(".example.com")).alias("domain"),
                    F.expr(_RAW_URL_SPARK).alias("raw_url"))
            .withColumn("canon_url", _canon_col())
            .withColumn("h", F.expr(
                "cast(conv(substring(md5(canon_url), 1, 15), 16, 10)"
                " AS BIGINT)"))
            .select("domain", "canon_url",
                    F.expr(f"pmod(h, {HLL_BUCKETS})").alias("bucket"),
                    F.expr(_HLL_RHO_SPARK).alias("rho")))


def hll_url_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct canonical URLs per domain, exact AND by HyperLogLog —
    plus a ``*merged*`` row whose registers are re-aggregated from the
    per-domain register states, demonstrating the sketch's mergeability.

    Plan shape at 100 TB: the exact ``count(DISTINCT url)`` needs every
    URL to cross a shuffle; the sketch needs ONE hash aggregate keyed
    (domain, bucket) whose state is a single max — map-side partial,
    64 longs per domain regardless of corpus size — and the merged row
    costs a second aggregate over |domains|*64 rows, never touching the
    fact table again.  That re-aggregability (registers from yesterday's
    snapshot max-merge with today's) is why sketches, not exact
    distincts, are the cardinality path at web scale.  The exact count
    is computed here alongside ONLY to expose the sketch's error to the
    oracle and the tests.

    The raw HLL estimator is reported without the small-range linear-
    counting branch (``ln`` is not bit-stable across engines);
    ``hll_zero_buckets`` carries the V statistic that correction needs,
    so a client applies ``m*ln(m/V)`` in one step where n < 2.5m.
    """
    urls = _hll_frame(spark, sf_dir)
    regs = (urls.groupBy("domain", "bucket")
            .agg(F.max("rho").alias("rho")))
    merged = (regs.groupBy("bucket").agg(F.max("rho").alias("rho"))
              .withColumn("domain", F.lit("*merged*")))
    exact = (urls.groupBy("domain")
             .agg(F.countDistinct("canon_url").alias("n_urls_exact")))
    exact_all = (urls.agg(F.countDistinct("canon_url")
                          .alias("n_urls_exact"))
                 .withColumn("domain", F.lit("*merged*")))
    sums = (regs.unionByName(merged.select("domain", "bucket", "rho"))
            .groupBy("domain")
            .agg(F.count("*").alias("n_seen"),
                 F.sum(F.expr(
                     f"shiftleft(CAST(1 AS BIGINT), {HLL_RHO_CAP} - rho)"))
                 .alias("s_seen")))
    s_full = (F.col("s_seen")
              + (F.lit(HLL_BUCKETS) - F.col("n_seen"))
              * F.lit(1 << HLL_RHO_CAP).cast("long"))
    return (sums.join(exact.unionByName(exact_all.select(
                "domain", "n_urls_exact")), "domain")
            .select("domain", "n_urls_exact",
                    (F.lit(HLL_BUCKETS) - F.col("n_seen")).cast("long")
                    .alias("hll_zero_buckets"),
                    s_full.cast("long").alias("hll_register_sum"),
                    (F.expr(_HLL_EST_NUM)
                     / s_full.cast("double")).alias("hll_estimate")))


HLL_URL_CARDINALITY_SQL = f"""
WITH urls AS ({CANON_URLS_SQL}),
keyed AS (
  SELECT d.source || '.example.com' AS domain, u.canon_url,
         (('0x' || substring(md5(u.canon_url), 1, 15))::BIGINT) AS h
  FROM urls u JOIN documents d ON d.doc_id = u.doc_id
),
rows_ AS (
  SELECT domain, canon_url, h % {HLL_BUCKETS} AS bucket,
         CASE WHEN h // {HLL_BUCKETS} = 0 THEN {HLL_RHO_CAP}
              ELSE {HLL_RHO_CAP} - length(bin(h // {HLL_BUCKETS})) END AS rho
  FROM keyed
),
regs AS (
  SELECT domain, bucket, max(rho) AS rho FROM rows_ GROUP BY domain, bucket
),
allregs AS (
  SELECT domain, bucket, rho FROM regs
  UNION ALL
  SELECT '*merged*' AS domain, bucket, max(rho) AS rho
  FROM regs GROUP BY bucket
),
sums AS (
  SELECT domain, count(*) AS n_seen,
         sum(1::BIGINT << ({HLL_RHO_CAP} - rho)) AS s_seen
  FROM allregs GROUP BY domain
),
exact AS (
  SELECT domain, count(DISTINCT canon_url) AS n_urls_exact
  FROM rows_ GROUP BY domain
  UNION ALL
  SELECT '*merged*' AS domain, count(DISTINCT canon_url) AS n_urls_exact
  FROM rows_
)
SELECT s.domain, e.n_urls_exact,
       CAST({HLL_BUCKETS} - s.n_seen AS BIGINT) AS hll_zero_buckets,
       CAST(s.s_seen + ({HLL_BUCKETS} - s.n_seen)
            * (1::BIGINT << {HLL_RHO_CAP}) AS BIGINT) AS hll_register_sum,
       {_HLL_EST_NUM}
         / CAST(s.s_seen + ({HLL_BUCKETS} - s.n_seen)
                * (1::BIGINT << {HLL_RHO_CAP}) AS DOUBLE) AS hll_estimate
FROM sums s JOIN exact e ON e.domain = s.domain
"""


# ---------------------------------------------------------------------------
# crawl-budget apportionment (largest-remainder / Hamilton method)
# ---------------------------------------------------------------------------

CRAWL_BUDGET = 10_000           # fetch slots per crawl cycle


def crawl_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apportion a global fetch budget across domains proportionally to
    their document counts, integer-exactly: floor quotas first, then the
    leftover slots go to the largest fractional remainders (Hamilton's
    method — deterministic tie-break on domain name).  Allocations sum
    to CRAWL_BUDGET exactly, by construction.

    Plan shape at 100 TB: ONE hash aggregate over the fact table keyed
    by domain; everything after runs on the |domains| frame (millions of
    rows, not trillions) — two 1-row broadcast totals and one
    row_number window over the already-aggregated domain dim.  The
    windowed sort never sees the fact table, exactly as domain_stats.
    """
    docs = _documents(spark, sf_dir)
    dom = (docs.select(F.concat("source", F.lit(".example.com"))
                       .alias("domain"))
           .groupBy("domain").agg(F.count("*").alias("n_docs")))
    tot = dom.agg(F.sum("n_docs").alias("t"))
    quota = (dom.crossJoin(F.broadcast(tot))
             .select("domain", "n_docs",
                     F.expr(f"div({CRAWL_BUDGET} * n_docs, t)")
                     .alias("base_alloc"),
                     F.expr(f"pmod({CRAWL_BUDGET} * n_docs, t)")
                     .alias("rem")))
    left = quota.agg((F.lit(CRAWL_BUDGET) - F.sum("base_alloc"))
                     .alias("leftover"))
    w = Window.orderBy(F.desc("rem"), F.asc("domain"))
    return (quota.crossJoin(F.broadcast(left))
            .withColumn("rem_rank", F.row_number().over(w))
            .select("domain", "n_docs", "base_alloc",
                    (F.col("rem_rank") <= F.col("leftover")).cast("int")
                    .alias("got_extra"),
                    (F.col("base_alloc")
                     + (F.col("rem_rank") <= F.col("leftover"))
                     .cast("long")).alias("alloc")))


CRAWL_BUDGET_ALLOCATION_SQL = f"""
WITH dom AS (
  SELECT source || '.example.com' AS domain, count(*) AS n_docs
  FROM documents GROUP BY source
),
quota AS (
  SELECT domain, n_docs,
         CAST({CRAWL_BUDGET} * n_docs // t.t AS BIGINT) AS base_alloc,
         ({CRAWL_BUDGET} * n_docs) % t.t AS rem
  FROM dom CROSS JOIN (SELECT sum(n_docs) AS t FROM dom) t
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, domain) AS rem_rank,
         (SELECT {CRAWL_BUDGET} - sum(base_alloc) FROM quota) AS leftover
  FROM quota
)
SELECT domain, n_docs, base_alloc,
       CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END AS got_extra,
       CAST(base_alloc + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
"""


# ---------------------------------------------------------------------------
# politeness-slotted URL frontier
# ---------------------------------------------------------------------------

FRONTIER_SLOTS = 8              # fetches per domain per crawl cycle


def url_frontier_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl frontier's next cycle: dedup to ONE representative per
    canonical URL first (min doc_id — url_normalize_dedup's keep rule; a
    frontier schedules pages, and several raw fetches of the same
    canonical page must not consume several fetch slots), score each
    page, then keep the top FRONTIER_SLOTS per domain (politeness — one
    domain never floods a cycle).  Priority is integer-exact: inlink
    count dominates, shallower paths beat deeper ones, a doc_id residue
    breaks ties the way a recency timestamp would.

    Plan shape at 100 TB: the URL synthesis/canonicalization and the
    path-depth projection are codegen map work; the canonical dedup is
    the exact_dedup shape (one hash agg on canon_url + equi-join back,
    skew-safe min); in-degree is one hash aggregate over the edge list
    plus one equi-join back on doc_id (both keyed, AQE-splittable); the
    per-domain top-K runs as a row_number window that Catalyst plans as
    WindowGroupLimit — each map task keeps only its local top
    FRONTIER_SLOTS per domain BEFORE the exchange, so the shuffle
    carries O(domains * K), not O(urls): the inverted_index postings
    shape, applied to scheduling.
    """
    docs = _documents(spark, sf_dir)
    urls = (docs
            .select("doc_id",
                    F.concat("source", F.lit(".example.com")).alias("domain"),
                    F.expr(_RAW_URL_SPARK).alias("raw_url"))
            .withColumn("canon_url", _canon_col()))
    keep = urls.groupBy("canon_url").agg(F.min("doc_id").alias("doc_id"))
    reps = urls.join(keep, ["canon_url", "doc_id"])
    # path depth = '/' count in the canonical path (query stripped);
    # the leading '://' never matches because the regexp eats scheme+host
    path = F.regexp_replace(
        F.regexp_replace("canon_url", r"^[a-z]+://[^/]*", ""), r"\?.*$", "")
    depth = (F.length(path)
             - F.length(F.regexp_replace(path, "/", ""))).cast("long")
    indeg = _edges(docs).groupBy("dst").agg(F.count("*").alias("in_deg"))
    scored = (reps.withColumn("depth", depth)
              .join(indeg, reps.doc_id == indeg.dst, "left")
              .select("doc_id", "canon_url", "domain", "depth",
                      F.coalesce("in_deg", F.lit(0)).alias("in_deg"))
              .withColumn("priority",
                          F.expr("1000 * in_deg - 10 * depth"
                                 " + pmod(doc_id, 7)").cast("long")))
    w = Window.partitionBy("domain").orderBy(F.desc("priority"),
                                             F.asc("doc_id"))
    return (scored.withColumn("slot", F.row_number().over(w))
            .filter(F.col("slot") <= FRONTIER_SLOTS)
            .select("doc_id", "canon_url", "domain", "in_deg", "depth",
                    "priority", "slot"))


URL_FRONTIER_PRIORITY_SQL = f"""
WITH urls AS ({CANON_URLS_SQL}),
{EDGES_SQL},
keep AS (SELECT canon_url, min(doc_id) AS doc_id FROM urls
         GROUP BY canon_url),
indeg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst),
scored AS (
  SELECT u.doc_id, u.canon_url, d.source || '.example.com' AS domain,
         COALESCE(i.in_deg, 0) AS in_deg,
         CAST(length(p.path) - length(replace(p.path, '/', ''))
              AS BIGINT) AS depth,
         CAST(1000 * COALESCE(i.in_deg, 0)
              - 10 * (length(p.path) - length(replace(p.path, '/', '')))
              + u.doc_id % 7 AS BIGINT) AS priority
  FROM urls u
  JOIN keep k ON k.canon_url = u.canon_url AND k.doc_id = u.doc_id
  JOIN documents d ON d.doc_id = u.doc_id
  LEFT JOIN indeg i ON i.dst = u.doc_id
  CROSS JOIN LATERAL (SELECT regexp_replace(
      regexp_replace(u.canon_url, '^[a-z]+://[^/]*', ''),
      '\\?.*$', '') AS path) p
)
SELECT doc_id, canon_url, domain, in_deg, depth, priority,
       CAST(rn AS INTEGER) AS slot
FROM (SELECT *, row_number() OVER (PARTITION BY domain
                                   ORDER BY priority DESC, doc_id) AS rn
      FROM scored)
WHERE rn <= {FRONTIER_SLOTS}
"""


# ---------------------------------------------------------------------------
# host-level link-graph rollup
# ---------------------------------------------------------------------------

def host_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host link-graph summary: total/intra-host out- and in-edges
    and the distinct peer-host counts — the host-level connectivity
    profile crawl schedulers and spam classifiers read.

    Plan shape at 100 TB: the edge list joins the (doc_id -> host) dim
    twice (shuffle equi-joins on the doc key — the dim is doc-sized, so
    neither side broadcasts; both co-partition), then COARSENS to one
    row per (src_host, dst_host) in ONE hash aggregate BEFORE any
    per-host math: host-pair cardinality is orders of magnitude below
    edge cardinality, so the expensive fact-sized stage ends at that
    aggregate and the out/in rollups + full-outer stitch run on the
    host-pair dim.  Aggregate-early is the whole trick; the naive plan
    windows over raw edges.
    """
    docs = _documents(spark, sf_dir)
    dim = docs.select("doc_id",
                      F.concat("source", F.lit(".example.com"))
                      .alias("host"))
    e = (_edges(docs)
         .join(dim.select(F.col("doc_id").alias("src"),
                          F.col("host").alias("src_host")), "src")
         .join(dim.select(F.col("doc_id").alias("dst"),
                          F.col("host").alias("dst_host")), "dst"))
    pairs = (e.groupBy("src_host", "dst_host")
             .agg(F.count("*").alias("c")))
    out = (pairs.groupBy("src_host")
           .agg(F.sum("c").alias("out_edges"),
                F.count("*").alias("out_hosts"),
                F.sum(F.when(F.col("src_host") == F.col("dst_host"),
                             F.col("c")).otherwise(F.lit(0)))
                .alias("intra_edges")))
    inn = (pairs.groupBy("dst_host")
           .agg(F.sum("c").alias("in_edges"),
                F.count("*").alias("in_hosts")))
    return (out.join(inn, out.src_host == inn.dst_host, "full_outer")
            .select(F.coalesce("src_host", "dst_host").alias("host"),
                    F.coalesce("out_edges", F.lit(0)).alias("out_edges"),
                    F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
                    F.coalesce("in_edges", F.lit(0)).alias("in_edges"),
                    F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
                    F.coalesce("intra_edges", F.lit(0))
                    .alias("intra_edges")))


HOST_GRAPH_STATS_SQL = f"""
WITH {EDGES_SQL},
dim AS (SELECT doc_id, source || '.example.com' AS host FROM documents),
pairs AS (
  SELECT s.host AS src_host, t.host AS dst_host, count(*) AS c
  FROM edges e
  JOIN dim s ON s.doc_id = e.src
  JOIN dim t ON t.doc_id = e.dst
  GROUP BY s.host, t.host
),
outs AS (
  SELECT src_host, sum(c) AS out_edges, count(*) AS out_hosts,
         sum(CASE WHEN src_host = dst_host THEN c ELSE 0 END) AS intra_edges
  FROM pairs GROUP BY src_host
),
ins AS (
  SELECT dst_host, sum(c) AS in_edges, count(*) AS in_hosts
  FROM pairs GROUP BY dst_host
)
SELECT COALESCE(o.src_host, i.dst_host) AS host,
       CAST(COALESCE(o.out_edges, 0) AS BIGINT) AS out_edges,
       CAST(COALESCE(o.out_hosts, 0) AS BIGINT) AS out_hosts,
       CAST(COALESCE(i.in_edges, 0) AS BIGINT) AS in_edges,
       CAST(COALESCE(i.in_hosts, 0) AS BIGINT) AS in_hosts,
       CAST(COALESCE(o.intra_edges, 0) AS BIGINT) AS intra_edges
FROM outs o FULL OUTER JOIN ins i ON i.dst_host = o.src_host
"""


# ---------------------------------------------------------------------------
# seeded trust propagation (TrustRank)
# ---------------------------------------------------------------------------

# iteration count comes from webtext.PAGERANK_ITERS via rank_iterations
TRUST_UNIT = 1_000_000          # integer trust units (floats don't commute)
TRUST_SEED_MOD = 50             # every 50th page is a hand-vetted seed


def trust_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank (Gyongyi et al., VLDB'04): PageRank whose teleport mass
    goes ONLY to a hand-vetted seed set, so trust decays with link
    distance from seeds and link-spam islands score ~0.  Identical
    integer-unit discipline and plan shape as link_pagerank — per
    iteration one keyed edges-ranks equi-join plus one dst hash
    aggregate — only the teleport term differs (seed-gated instead of
    uniform).

    Plan shape at 100 TB: unchanged from link_pagerank (the canonical
    distributed PageRank shuffle pair, AQE-skew-splittable); the seed
    gate is a pure map-side residue expression, costing nothing.
    """
    docs = _documents(spark, sf_dir)
    seed = (F.col("doc_id") % TRUST_SEED_MOD == 0).cast("long")
    trust, _ = rank_iterations(docs, _edges(docs),
                               init=seed * F.lit(TRUST_UNIT),
                               teleport=seed * F.lit(150_000))
    return docs.select(
        "doc_id", seed.cast("int").alias("is_seed")).join(
        trust, "doc_id").select(
        "doc_id", "is_seed", F.col("r").alias("trust_ppm"))


_TRUST_ITER_SQL = rank_iter_sql(
    f"CASE WHEN d.doc_id % {TRUST_SEED_MOD} = 0 THEN 150000 ELSE 0 END")

TRUST_PROPAGATION_SQL = f"""
WITH {EDGES_SQL},
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
t0 AS (SELECT doc_id,
              CAST(CASE WHEN doc_id % {TRUST_SEED_MOD} = 0
                        THEN {TRUST_UNIT} ELSE 0 END AS BIGINT) AS r
       FROM documents),
it1 AS ({_TRUST_ITER_SQL.format(prev="t0")}),
it2 AS ({_TRUST_ITER_SQL.format(prev="it1")}),
it3 AS ({_TRUST_ITER_SQL.format(prev="it2")})
SELECT r.doc_id,
       CASE WHEN r.doc_id % {TRUST_SEED_MOD} = 0 THEN 1 ELSE 0 END AS is_seed,
       r.r AS trust_ppm
FROM it3 r
"""


# ---------------------------------------------------------------------------
# URL classification (fetch gating by document type + trap heuristics)
# ---------------------------------------------------------------------------

# Deterministic classified-URL synthesis — a RICHER shape than
# _RAW_URL_SPARK (which the canonicalizer family shares and must not
# change): leaf filenames cycle through the extension classes a crawler
# gates on, path depth varies 1-4, and query strings exercise the
# session-id and parameter-count trap heuristics.  The OPERATOR works
# only on the final URL string; the residues below are construction.
_CLASS_LEAVES = ("index.html", "doc.pdf", "img.jpg", "clip.mp4",
                 "feed.xml", "archive.zip", "page", "style.css")

_CLASS_URL_SPARK = f"""
concat('http://', source, '.example.com',
  CASE WHEN doc_id % 4 >= 1 THEN concat('/d', CAST(doc_id % 3 AS STRING))
       ELSE '' END,
  CASE WHEN doc_id % 4 >= 2 THEN '/sub' ELSE '' END,
  CASE WHEN doc_id % 4 >= 3 THEN '/deep' ELSE '' END,
  '/', element_at(array({', '.join("'%s'" % l for l in _CLASS_LEAVES)}),
                  CAST(doc_id % 8 AS INT) + 1),
  CASE WHEN doc_id % 6 = 0
         THEN concat('?sessionid=', CAST(doc_id % 50 AS STRING))
       WHEN doc_id % 6 = 3
         THEN '?ref=a&p=1&q=2&r=3&s=4'
       WHEN doc_id % 6 = 4 THEN '?p=1'
       ELSE '' END)
"""

_CLASS_URL_DUCK = f"""
'http://' || source || '.example.com' ||
(CASE WHEN doc_id % 4 >= 1 THEN '/d' || (doc_id % 3) ELSE '' END) ||
(CASE WHEN doc_id % 4 >= 2 THEN '/sub' ELSE '' END) ||
(CASE WHEN doc_id % 4 >= 3 THEN '/deep' ELSE '' END) ||
'/' || ([{', '.join("'%s'" % l for l in _CLASS_LEAVES)}])[(doc_id % 8) + 1] ||
(CASE WHEN doc_id % 6 = 0 THEN '?sessionid=' || (doc_id % 50)
      WHEN doc_id % 6 = 3 THEN '?ref=a&p=1&q=2&r=3&s=4'
      WHEN doc_id % 6 = 4 THEN '?p=1'
      ELSE '' END)
"""

_MEDIA_EXTS = ("jpg", "jpeg", "png", "gif", "mp4", "mp3", "css", "js", "ico")
_DOC_EXTS = ("pdf", "doc", "ps")
_ARCHIVE_EXTS = ("zip", "gz", "tar")
URL_TRAP_MAX_PARAMS = 4


def url_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classify every frontier URL into a document type and a fetch
    action — the gate a crawler applies BEFORE spending a fetch slot
    (media/archive skipped, session-id and parameter-blowup URLs
    deferred as crawler-trap suspects, the rest fetched).

    Every feature is derived from the URL STRING with built-in
    string/regexp expressions (whole-stage codegen, no UDF): at 10^12
    rows this is one narrow projection pass, no shuffle at all — the
    classifier composes with url_frontier_priority's per-domain top-K
    upstream of the fetch fleet.
    """
    docs = _documents(spark, sf_dir)
    urls = docs.select("doc_id", F.expr(_CLASS_URL_SPARK).alias("url"))
    rest = F.regexp_replace("url", r"^[a-z]+://[^/]*", "")
    path = F.regexp_replace(rest, r"\?.*$", "")
    query = F.regexp_extract("url", r"\?(.*)$", 1)
    ext = F.lower(F.regexp_extract(path, r"\.([a-zA-Z0-9]+)$", 1))
    path_depth = (F.length(path)
                  - F.length(F.regexp_replace(path, r"/", ""))).cast("int")
    n_params = F.when(F.length(query) == 0, F.lit(0)) \
                .otherwise(F.size(F.split(query, "&"))).cast("int")
    has_session = query.contains("sessionid=").cast("int")
    doc_type = (F.when(ext.isin(*_MEDIA_EXTS), F.lit("media"))
                .when(ext.isin(*_DOC_EXTS), F.lit("document"))
                .when((ext == "xml") & path.contains("feed"), F.lit("feed"))
                .when(ext.isin(*_ARCHIVE_EXTS), F.lit("archive"))
                .otherwise(F.lit("page")))
    action = (F.when(doc_type.isin("media", "archive"), F.lit("skip"))
              .when((has_session == 1)
                    | (n_params >= URL_TRAP_MAX_PARAMS), F.lit("defer"))
              .otherwise(F.lit("fetch")))
    return urls.select("doc_id", "url", ext.alias("ext"),
                       path_depth.alias("path_depth"),
                       n_params.alias("n_params"),
                       has_session.alias("has_session"),
                       doc_type.alias("doc_type"), action.alias("action"))


def _url_classify_sql() -> str:
    media = ", ".join("'%s'" % e for e in _MEDIA_EXTS)
    doc = ", ".join("'%s'" % e for e in _DOC_EXTS)
    arch = ", ".join("'%s'" % e for e in _ARCHIVE_EXTS)
    return f"""
WITH urls AS (
  SELECT doc_id, {_CLASS_URL_DUCK} AS url FROM documents
),
feat AS (
  SELECT doc_id, url,
         regexp_replace(regexp_replace(url, '^[a-z]+://[^/]*', ''),
                        '\\?.*$', '') AS path,
         regexp_extract(url, '\\?(.*)$', 1) AS query
  FROM urls
),
f2 AS (
  SELECT doc_id, url,
         lower(regexp_extract(path, '\\.([a-zA-Z0-9]+)$', 1)) AS ext,
         CAST(length(path) - length(replace(path, '/', '')) AS INTEGER)
           AS path_depth,
         CAST(CASE WHEN length(query) = 0 THEN 0
                   ELSE len(string_split(query, '&')) END AS INTEGER)
           AS n_params,
         CASE WHEN contains(query, 'sessionid=') THEN 1 ELSE 0 END
           AS has_session,
         path
  FROM feat
),
f3 AS (
  SELECT *,
         CASE WHEN ext IN ({media}) THEN 'media'
              WHEN ext IN ({doc}) THEN 'document'
              WHEN ext = 'xml' AND contains(path, 'feed') THEN 'feed'
              WHEN ext IN ({arch}) THEN 'archive'
              ELSE 'page' END AS doc_type
  FROM f2
)
SELECT doc_id, url, ext, path_depth, n_params, has_session, doc_type,
       CASE WHEN doc_type IN ('media', 'archive') THEN 'skip'
            WHEN has_session = 1 OR n_params >= {URL_TRAP_MAX_PARAMS}
              THEN 'defer'
            ELSE 'fetch' END AS action
FROM f3
"""


URL_CLASSIFY_SQL = _url_classify_sql()


# ---------------------------------------------------------------------------
# fetch scheduling (politeness time slots over the frontier)
# ---------------------------------------------------------------------------

# deterministic per-domain crawl delay (the robots.txt Crawl-delay
# surrogate): 100-500 ms keyed on the domain string, NOT on residues,
# so the scheduler composes with any upstream frontier
CRAWL_DELAY_BASE_MS = 100


def fetch_scheduler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the prioritized frontier into a politeness-correct fetch
    TIMETABLE: each domain's slots fire its crawl-delay apart, so slot k
    is scheduled at (k-1) * delay_ms; ``wave`` buckets the schedule into
    1-second dispatch rounds (what a fetch fleet actually consumes).

    Composition, not re-derivation: the input is url_frontier_priority's
    output (canonical dedup + scoring + per-domain WindowGroupLimit
    top-K), and this op adds only map-side arithmetic — NO new shuffle
    beyond the frontier's own window exchange, at any corpus size.
    """
    frontier = url_frontier_priority(spark, sf_dir)
    delay = (F.lit(CRAWL_DELAY_BASE_MS)
             * (F.lit(1) + F.length("domain") % 5)).cast("long")
    out = (frontier
           .withColumn("delay_ms", delay)
           .withColumn("scheduled_ms",
                       ((F.col("slot") - 1).cast("long")
                        * F.col("delay_ms"))))
    return out.select("doc_id", "canon_url", "domain", "priority", "slot",
                      "delay_ms", "scheduled_ms",
                      F.expr("scheduled_ms DIV 1000").alias("wave"))


FETCH_SCHEDULER_SQL = f"""
WITH frontier AS ({URL_FRONTIER_PRIORITY_SQL}),
d AS (
  SELECT *, CAST({CRAWL_DELAY_BASE_MS} * (1 + length(domain) % 5)
                 AS BIGINT) AS delay_ms
  FROM frontier
)
SELECT doc_id, canon_url, domain, priority, slot, delay_ms,
       CAST((slot - 1) * delay_ms AS BIGINT) AS scheduled_ms,
       CAST(((slot - 1) * delay_ms) // 1000 AS BIGINT) AS wave
FROM d
"""


# ---------------------------------------------------------------------------
# sitemap synthesis + extraction — the crawl's URL-discovery channel
# ---------------------------------------------------------------------------

# Real crawls discover most of a host's URLs from its sitemap files; the
# sitemap protocol caps each file at 50,000 <url> entries, so large
# hosts publish a SHARDED set.  Mirrored here at small scale: the host's
# URLs are sharded SITEMAP_MAX_URLS per file (bounded per-group state —
# never an unbounded per-host collect_list), each shard is serialized to
# the protocol's urlset XML, and the extractor parses the XML back with
# generic regexes.  The oracle is an INDEPENDENT direct construction
# from the documents table (no XML anywhere in it), so any defect in the
# writer OR the parser breaks parity — the warc_wat_records discipline.

SITEMAP_MAX_URLS = 8


def _sitemap_urls(docs: DataFrame) -> DataFrame:
    host = F.concat(F.col("source"), F.lit(".example.com"))
    return docs.select(
        "doc_id", host.alias("host"),
        F.concat(F.lit("http://"), host, F.lit("/p/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.concat(F.lit("2026-0"), (1 + F.col("doc_id") % 9).cast("string"),
                 F.lit("-01")).alias("lastmod"),
        (F.col("doc_id") % 10).cast("int").alias("prio"))


def sitemap_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip the discovery channel: build the host's sharded
    sitemap.xml files, then parse them back into (host, shard, pos,
    loc, lastmod, priority_tenths) rows with generic regexes.

    Plan shape at 10^12 URLs: ONE per-host window (row_number orders the
    host's URLs — the per-host sort every sitemap writer needs) ->
    hash agg per (host, shard) with AT MOST SITEMAP_MAX_URLS rows of
    state per group (the protocol's own 50k cap is what bounds executor
    memory; an unbounded per-host collect_list would OOM on a
    100M-page host) -> narrow regexp explode back out.  Parsing is pure
    built-in regexp (whole-stage codegen, no UDF).
    """
    docs = _documents(spark, sf_dir)
    urls = _sitemap_urls(docs)
    w = Window.partitionBy("host").orderBy("doc_id")
    sharded = (urls.withColumn("rn", F.row_number().over(w))
               .withColumn("shard", F.expr(
                   f"CAST((rn - 1) DIV {SITEMAP_MAX_URLS} AS INT)")))
    entry = F.concat(F.lit("<url><loc>"), F.col("url"),
                     F.lit("</loc><lastmod>"), F.col("lastmod"),
                     F.lit("</lastmod><priority>0."),
                     F.col("prio").cast("string"),
                     F.lit("</priority></url>"))
    xml = (sharded.withColumn("entry", entry)
           .groupBy("host", "shard")
           .agg(F.concat(
               F.lit('<?xml version="1.0" encoding="UTF-8"?><urlset>'),
               F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("rn", "entry"))),
                       lambda s: s["entry"]), ""),
               F.lit("</urlset>")).alias("xml")))
    blocks = xml.select(
        "host", "shard",
        F.posexplode(F.expr(
            r"regexp_extract_all(xml, '<url>(.*?)</url>', 1)"))
        .alias("pos", "block"))
    return blocks.select(
        "host", "shard", "pos",
        F.regexp_extract("block", r"<loc>(.*?)</loc>", 1).alias("loc"),
        F.regexp_extract("block", r"<lastmod>(.*?)</lastmod>", 1)
         .alias("lastmod"),
        F.regexp_extract("block", r"<priority>0\.([0-9])</priority>", 1)
         .cast("int").alias("priority_tenths"))


SITEMAP_EXTRACT_SQL = f"""
WITH u AS (
  SELECT doc_id, source || '.example.com' AS host,
         'http://' || source || '.example.com/p/' || doc_id AS loc,
         '2026-0' || (1 + doc_id % 9) || '-01' AS lastmod,
         CAST(doc_id % 10 AS INTEGER) AS priority_tenths,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT host, CAST((rn - 1) // {SITEMAP_MAX_URLS} AS INTEGER) AS shard,
       CAST((rn - 1) % {SITEMAP_MAX_URLS} AS INTEGER) AS pos,
       loc, lastmod, priority_tenths
FROM u
"""


# ---------------------------------------------------------------------------
# content-type sniffing — magic-byte dispatch on the fetched payload
# ---------------------------------------------------------------------------

# A crawler cannot trust the URL extension (nor the Content-Type header):
# the payload's leading magic bytes are the authority, and a mismatch is
# itself a quality/trap signal.  The payload is synthesized as REAL
# BINARY (a magic prefix chosen by doc_id % 6, then the document's UTF-8
# bytes); the sniffer reads only the binary — hex(substring(payload)) —
# while the declared type comes from a DIFFERENT residue (doc_id % 7),
# so agreements and mismatches both occur.  The oracle derives the
# expected answer INDEPENDENTLY from the residues and byte arithmetic —
# it never touches binary — so a defect anywhere in the Spark-side byte
# handling breaks parity.

# (residue -> (magic hex, mime, magic byte length))
_SNIFF_MAGIC = [
    ("255044462D312E37", "application/pdf", 8),     # %PDF-1.7
    ("1F8B08", "application/gzip", 3),               # gzip deflate
    ("3C21444F43545950452068746D6C3E", "text/html", 15),  # <!DOCTYPE html>
    ("89504E470D0A1A0A", "image/png", 8),
    ("504B0304", "application/zip", 4),
    ("474946383961", "image/gif", 6),                # GIF89a
]
# declared extension cycle (period 7 vs the magic's 6 => mismatches)
_SNIFF_EXTS = ["pdf", "gz", "html", "png", "zip", "gif", ""]
_EXT_MIME = {"pdf": "application/pdf", "gz": "application/gzip",
             "html": "text/html", "png": "image/png",
             "zip": "application/zip", "gif": "image/gif"}


def content_type_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte content-type detection over binary payloads, compared
    against the URL-declared extension; emits the sniffed MIME, the
    declared MIME, a mismatch flag, and the payload byte size.

    Plan shape at 10^12 rows: ONE narrow whole-stage-codegen projection
    — binary concat, substring, hex, CASE chain — no shuffle, no UDF;
    the same zero-exchange shape as url_classify (this is the
    payload-side gate that runs right after the fetch, before any
    parse is attempted).
    """
    docs = _documents(spark, sf_dir)
    magic_hex = "CASE doc_id % 6 " + " ".join(
        f"WHEN {i} THEN '{h}'" for i, (h, _, _) in enumerate(_SNIFF_MAGIC)
    ) + " END"
    payload = F.expr(
        f"concat(unhex({magic_hex}), encode(text, 'UTF-8'))")
    p = docs.select("doc_id", payload.alias("payload"))
    h16 = F.upper(F.hex(F.expr("substring(payload, 1, 16)")))
    sniffed = F.lit("application/octet-stream")
    for hx, mime, _ in reversed(_SNIFF_MAGIC):
        sniffed = F.when(h16.startswith(hx), F.lit(mime)) \
                   .otherwise(sniffed)
    ext = F.element_at(F.array(*[F.lit(e) for e in _SNIFF_EXTS]),
                       (F.col("doc_id") % 7 + 1).cast("int"))
    declared = F.lit("unknown")
    for e, mime in _EXT_MIME.items():
        declared = F.when(ext == e, F.lit(mime)).otherwise(declared)
    out = p.select(
        "doc_id", ext.alias("ext"), declared.alias("declared_type"),
        sniffed.alias("sniffed_type"),
        F.length("payload").cast("int").alias("payload_bytes"))
    return out.withColumn(
        "mismatch",
        ((F.col("declared_type") != "unknown")
         & (F.col("declared_type") != F.col("sniffed_type"))).cast("int"))


def _content_type_sniff_sql() -> str:
    mime_case = "CASE doc_id % 6 " + " ".join(
        f"WHEN {i} THEN '{m}'" for i, (_, m, _) in enumerate(_SNIFF_MAGIC)
    ) + " END"
    len_case = "CASE doc_id % 6 " + " ".join(
        f"WHEN {i} THEN {n}" for i, (_, _, n) in enumerate(_SNIFF_MAGIC)
    ) + " END"
    ext_case = "CASE doc_id % 7 " + " ".join(
        f"WHEN {i} THEN '{e}'" for i, e in enumerate(_SNIFF_EXTS)
    ) + " END"
    decl_case = "CASE ext " + " ".join(
        f"WHEN '{e}' THEN '{m}'" for e, m in _EXT_MIME.items()
    ) + " ELSE 'unknown' END"
    return f"""
WITH base AS (
  SELECT doc_id, {mime_case} AS true_mime,
         {len_case} AS magic_len, {ext_case} AS ext,
         strlen(text) AS text_bytes
  FROM documents
), d AS (
  SELECT doc_id, ext, {decl_case} AS declared_type, true_mime,
         magic_len, text_bytes
  FROM base
)
SELECT doc_id, ext, declared_type, true_mime AS sniffed_type,
       CAST(magic_len + text_bytes AS INTEGER) AS payload_bytes,
       CASE WHEN declared_type != 'unknown'
                 AND declared_type != true_mime
            THEN 1 ELSE 0 END AS mismatch
FROM d
"""


CONTENT_TYPE_SNIFF_SQL = _content_type_sniff_sql()


# ---------------------------------------------------------------------------
# mirror-host detection — content-hash overlap between hosts
# ---------------------------------------------------------------------------

# Mirror sites replicate another host's pages verbatim; crawls detect
# them by CONTENT-hash overlap between hosts and collapse the mirror's
# fetch budget.  The driver corpus has no cross-host duplicates, so a
# mirror layer is SYNTHESIZED DETERMINISTICALLY (identically in the
# oracle): every doc_id % 3 == 0 page is replicated onto the host's
# `m.`-prefixed mirror (a true mirror: 100% of its content is shared),
# and every doc_id % 7 == 0 page ALSO lands on one cross-source
# `scraper.example.com` aggregator (a partial copier: ~14% of any
# origin — the threshold's NEGATIVE cases, so is_mirror genuinely
# discriminates).  Detection downstream is generic: per-host distinct
# hash sets, hash-bucket equi-join for candidate pairs, and an integer
# containment threshold on the smaller side.

MIRROR_OVERLAP_PCT = 80   # pair is a mirror when 100*shared >= 80*min(n)


def mirror_host_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host pairs ranked by content-hash containment; `is_mirror` when
    the smaller host shares >= 80% of its distinct content with the
    other.

    Plan shape at 100 TB: one narrow (host, md5) projection + union
    (the mirror synth), ONE distinct, ONE hash agg per host (dim-sized
    output), and a self-equi-join ON THE CONTENT HASH — pair expansion
    is quadratic only per identical-content bucket, whose size is the
    number of hosts serving that exact content (mirror-set size, small
    in practice; a 10^4-host viral page would take the star-edge
    bounding used by dedup_clusters).  The final threshold join is
    host-pair-dim-sized.
    """
    docs = _documents(spark, sf_dir)
    origin = docs.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.md5("text").alias("h"))
    mirror = (docs.filter(F.col("doc_id") % 3 == 0)
              .select(F.concat(F.lit("m."), F.col("source"),
                               F.lit(".example.com")).alias("host"),
                      F.md5("text").alias("h")))
    scraper = (docs.filter(F.col("doc_id") % 7 == 0)
               .select(F.lit("scraper.example.com").alias("host"),
                       F.md5("text").alias("h")))
    pages = origin.unionAll(mirror).unionAll(scraper).distinct()
    sizes = pages.groupBy("host").agg(F.count("*").alias("n"))
    a = pages.select(F.col("host").alias("host_a"), "h")
    b = pages.select(F.col("host").alias("host_b"), "h")
    shared = (a.join(b, "h")
              .filter(F.col("host_a") < F.col("host_b"))
              .groupBy("host_a", "host_b")
              .agg(F.count("*").alias("shared")))
    sa = sizes.select(F.col("host").alias("host_a"),
                      F.col("n").alias("n_a"))
    sb = sizes.select(F.col("host").alias("host_b"),
                      F.col("n").alias("n_b"))
    j = shared.join(F.broadcast(sa), "host_a").join(F.broadcast(sb),
                                                    "host_b")
    return j.select(
        "host_a", "host_b", "shared", "n_a", "n_b",
        F.expr("CAST((1000 * shared) DIV least(n_a, n_b) AS INT)")
        .alias("overlap_permille"),
        F.expr(f"CAST(100 * shared >= {MIRROR_OVERLAP_PCT}"
               " * least(n_a, n_b) AS INT)").alias("is_mirror"))


MIRROR_HOST_PAIRS_SQL = f"""
WITH pages AS (
  SELECT DISTINCT host, h FROM (
    SELECT source || '.example.com' AS host, md5(text) AS h
    FROM documents
    UNION ALL
    SELECT 'm.' || source || '.example.com' AS host, md5(text) AS h
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'scraper.example.com' AS host, md5(text) AS h
    FROM documents WHERE doc_id % 7 = 0
  )
),
sizes AS (SELECT host, count(*) AS n FROM pages GROUP BY host),
shared AS (
  SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
  FROM pages a JOIN pages b ON a.h = b.h AND a.host < b.host
  GROUP BY a.host, b.host
)
SELECT s.host_a, s.host_b, s.shared, sa.n AS n_a, sb.n AS n_b,
       CAST((1000 * s.shared) // least(sa.n, sb.n) AS INTEGER)
         AS overlap_permille,
       CAST(CASE WHEN 100 * s.shared >= {MIRROR_OVERLAP_PCT}
                      * least(sa.n, sb.n)
                 THEN 1 ELSE 0 END AS INTEGER) AS is_mirror
FROM shared s
JOIN sizes sa ON sa.host = s.host_a
JOIN sizes sb ON sb.host = s.host_b
"""
