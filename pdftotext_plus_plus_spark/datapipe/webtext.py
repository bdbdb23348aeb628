"""Webtext-layer operators: URLs, domains, Bloom pre-filters, CCNet
perplexity bands, and the link graph.

The ops a web-crawl training pipeline runs on document PROVENANCE rather
than document text: URL canonicalization + URL-level dedup (the first
dedup any CommonCrawl derivative applies, cf. CCNet / RefinedWeb),
per-domain corpus accounting, a Bloom-filter URL blocklist pre-filter
(broadcast a bitset instead of the blocklist itself), CCNet's
head/middle/tail perplexity terciles per language, and an integer-exact
fixed-iteration PageRank over the outlink graph (the classic
quality-prior signal of web corpora).

The driver's `documents` table carries no URL or link columns, so both
are SYNTHESIZED DETERMINISTICALLY from (doc_id, source) — identically in
the Spark query and in the DuckDB oracle — exercising messy real-world
URL variation (casing, www, default ports, tracking params, trailing
slashes, fragments) and a dense link graph.  Everything downstream of
the synthesis is generic: the canonicalizer never inverts the
construction, it applies the standard normalization rules to whatever
string it gets.

Every op is integer-exact (no float anywhere) so the DuckDB oracle
matches to the value hash; PageRank in particular uses integer rank
units because float summation order differs across engines.

Reference parity note: the reference engine (pdftotext++) has no
web/provenance layer — these belong to the task addendum's
training-data surface, like datapipe/dedup.py and datapipe/sampling.py.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from . import (TOKEN_LIST_SQL, _documents, iterate, spread, textstats,
               token_rows, tokens)


# ---------------------------------------------------------------------------
# deterministic raw-URL synthesis (shared by the URL-family ops)
# ---------------------------------------------------------------------------

# Variation is keyed on doc_id residues so that canonicalization collapses
# real groups: same (source, doc_id % 25) => same canonical page unless a
# canonical-significant variant (https scheme, ?id= param) splits it.
_RAW_URL_SPARK = """
concat(
  CASE WHEN doc_id % 19 = 0 THEN 'https' ELSE 'http' END, '://',
  CASE WHEN doc_id % 5 = 0
       THEN upper(concat(CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,
                         source, '.example.com'))
       ELSE concat(CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END,
                   source, '.example.com') END,
  CASE WHEN doc_id % 7 = 0
       THEN CASE WHEN doc_id % 19 = 0 THEN ':443' ELSE ':80' END
       ELSE '' END,
  '/p/', CAST(doc_id % 25 AS STRING),
  CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END,
  CASE WHEN doc_id % 17 = 0 AND doc_id % 2 = 0
         THEN concat('?utm_source=feed&id=', CAST(doc_id % 9 AS STRING))
       WHEN doc_id % 17 = 0
         THEN concat('?id=', CAST(doc_id % 9 AS STRING))
       WHEN doc_id % 2 = 0
         THEN concat('?utm_source=feed&utm_campaign=c',
                     CAST(doc_id % 4 AS STRING))
       ELSE '' END,
  CASE WHEN doc_id % 13 = 0 THEN '#sec2' ELSE '' END)
"""

# Identical construction in DuckDB dialect (|| concat, no CAST-to-STRING
# needed: DuckDB || stringifies integers).
_RAW_URL_DUCK = """
  (CASE WHEN doc_id % 19 = 0 THEN 'https' ELSE 'http' END) || '://' ||
  (CASE WHEN doc_id % 5 = 0
        THEN upper((CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
                   || source || '.example.com')
        ELSE (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
             || source || '.example.com' END) ||
  (CASE WHEN doc_id % 7 = 0
        THEN CASE WHEN doc_id % 19 = 0 THEN ':443' ELSE ':80' END
        ELSE '' END) ||
  '/p/' || (doc_id % 25) ||
  (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END) ||
  (CASE WHEN doc_id % 17 = 0 AND doc_id % 2 = 0
          THEN '?utm_source=feed&id=' || (doc_id % 9)
        WHEN doc_id % 17 = 0 THEN '?id=' || (doc_id % 9)
        WHEN doc_id % 2 = 0
          THEN '?utm_source=feed&utm_campaign=c' || (doc_id % 4)
        ELSE '' END) ||
  (CASE WHEN doc_id % 13 = 0 THEN '#sec2' ELSE '' END)
"""


def _with_raw_url(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.expr(_RAW_URL_SPARK).alias("raw_url"))


# ---------------------------------------------------------------------------
# URL canonicalization — generic string normalization, applied to raw_url
# ---------------------------------------------------------------------------

def _canon_col() -> F.Column:
    """Canonical form of the ``raw_url`` column.

    Standard crawl canonicalization: drop fragment, drop utm_* tracking
    params (keep everything else, original order), lowercase scheme and
    host, strip a leading ``www.``, strip the scheme's default port,
    strip one trailing slash (but keep a bare ``/`` root path).  Pure
    built-in string/regexp expressions — whole-stage codegen, no UDF.
    """
    u1 = F.regexp_replace("raw_url", r"#.*$", "")          # fragment
    base = F.regexp_replace(u1, r"\?.*$", "")
    q = F.regexp_extract(u1, r"\?(.*)$", 1)
    kept = F.filter(F.split(q, "&"),
                    lambda p: (F.length(p) > 0) & (F.substring(p, 1, 4) != "utm_"))
    canon_q = F.when(F.size(kept) > 0,
                     F.concat(F.lit("?"), F.array_join(kept, "&"))
                     ).otherwise(F.lit(""))
    scheme = F.lower(F.regexp_extract(base, r"^[a-zA-Z]+", 0))
    rest = F.regexp_replace(base, r"^[a-zA-Z]+://", "")
    hostport = F.lower(F.regexp_extract(rest, r"^[^/]*", 0))
    path = F.regexp_replace(rest, r"^[^/]*", "")
    # default-port stripping is scheme-specific: ONLY http:80 and
    # https:443 are defaults; any other scheme keeps its port untouched
    host = F.when(scheme == "http", F.regexp_replace(hostport, r":80$", "")) \
            .when(scheme == "https", F.regexp_replace(hostport, r":443$", "")) \
            .otherwise(hostport)
    host = F.regexp_replace(host, r"^www\.", "")
    cpath = F.when(path.isin("", "/"), F.lit("/")) \
             .otherwise(F.regexp_replace(path, r"/$", ""))
    return F.concat(scheme, F.lit("://"), host, cpath, canon_q)


# The same normalization in DuckDB SQL, as a CTE body over `documents`.
# DuckDB string literals do not backslash-escape, so regexes are written
# plainly.  list_filter/array_to_string mirror F.filter/F.array_join.
CANON_URLS_SQL = f"""
SELECT doc_id, raw_url,
       lower(regexp_extract(base, '^[a-zA-Z]+', 0)) || '://' ||
       regexp_replace(
         CASE WHEN lower(regexp_extract(base, '^[a-zA-Z]+', 0)) = 'http'
              THEN regexp_replace(lower(regexp_extract(rest, '^[^/]*', 0)),
                                  ':80$', '')
              WHEN lower(regexp_extract(base, '^[a-zA-Z]+', 0)) = 'https'
              THEN regexp_replace(lower(regexp_extract(rest, '^[^/]*', 0)),
                                  ':443$', '')
              ELSE lower(regexp_extract(rest, '^[^/]*', 0))
         END, '^www\\.', '') ||
       (CASE WHEN regexp_replace(rest, '^[^/]*', '') IN ('', '/') THEN '/'
             ELSE regexp_replace(regexp_replace(rest, '^[^/]*', ''), '/$', '')
        END) ||
       (CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
             ELSE '' END) AS canon_url
FROM (
  SELECT doc_id, raw_url,
         regexp_replace(u1, '\\?.*$', '') AS base,
         regexp_replace(regexp_replace(u1, '\\?.*$', ''),
                        '^[a-zA-Z]+://', '') AS rest,
         list_filter(string_split(regexp_extract(u1, '\\?(.*)$', 1), '&'),
                     p -> length(p) > 0 AND substring(p, 1, 4) <> 'utm_')
           AS kept
  FROM (SELECT doc_id, {_RAW_URL_DUCK} AS raw_url,
               regexp_replace({_RAW_URL_DUCK}, '#.*$', '') AS u1
        FROM documents)
)
"""


def _canon_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, raw_url, canon_url) — shared by the URL-family ops."""
    return _with_raw_url(docs).withColumn("canon_url", _canon_col())


# ---------------------------------------------------------------------------
# URL-level dedup (first copy by doc_id wins)
# ---------------------------------------------------------------------------

def url_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize every document's URL and keep the first doc per page.

    Plan shape at 100 TB: the synthesis + canonicalization is a pure
    map-side projection (whole-stage codegen, no UDF), then ONE hash
    aggregate on canon_url (map-side partial) and one equi-join back —
    exactly the exact_dedup plan with a computed key.  No window, no
    skew risk beyond ordinary hot-page keys, which AQE skew handling
    splits.
    """
    docs = _documents(spark, sf_dir)
    urls = _canon_urls(docs)
    groups = urls.groupBy("canon_url").agg(
        F.min("doc_id").alias("keep_id"),
        F.count("*").alias("group_size"))
    return (urls.join(groups, "canon_url")
            .select("doc_id", "raw_url", "canon_url", "group_size",
                    (F.col("doc_id") == F.col("keep_id")).cast("int")
                    .alias("keep")))


URL_NORMALIZE_DEDUP_SQL = f"""
WITH urls AS ({CANON_URLS_SQL}),
groups AS (
  SELECT canon_url, min(doc_id) AS keep_id, count(*) AS group_size
  FROM urls GROUP BY canon_url
)
SELECT u.doc_id, u.raw_url, u.canon_url, g.group_size,
       CASE WHEN u.doc_id = g.keep_id THEN 1 ELSE 0 END AS keep
FROM urls u JOIN groups g ON g.canon_url = u.canon_url
"""


# ---------------------------------------------------------------------------
# per-domain corpus accounting
# ---------------------------------------------------------------------------

def domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain doc/char accounting with corpus share and size rank.

    Plan shape at 100 TB: one hash aggregate over the domain key (the
    cardinality of REGISTERED DOMAINS, millions not trillions), a 1-row
    broadcast total, and a row_number window over the already-aggregated
    domain frame — the window input is |domains| rows, never |docs|.
    """
    docs = _documents(spark, sf_dir)
    dom = (docs
           .select(F.concat(F.col("source"), F.lit(".example.com"))
                   .alias("domain"), "lang", "n_chars")
           .groupBy("domain")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("total_chars"),
                F.countDistinct("lang").alias("n_langs")))
    tot = dom.agg(F.sum("n_docs").alias("t"))
    w = Window.orderBy(F.desc("n_docs"), F.asc("domain"))
    return (dom.crossJoin(F.broadcast(tot))
            .select("domain", "n_docs", "total_chars",
                    F.expr("div(total_chars, n_docs)").alias("avg_chars"),
                    "n_langs",
                    F.expr("div(n_docs * 10000, t)").alias("share_bp"))
            .withColumn("size_rank", F.row_number().over(w)))


DOMAIN_STATS_SQL = """
WITH dom AS (
  SELECT source || '.example.com' AS domain,
         count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         count(DISTINCT lang) AS n_langs
  FROM documents GROUP BY source
)
SELECT domain, n_docs, total_chars,
       CAST(total_chars // n_docs AS BIGINT) AS avg_chars,
       CAST(n_langs AS BIGINT) AS n_langs,
       CAST(n_docs * 10000 // (SELECT sum(n_docs) FROM dom) AS BIGINT)
         AS share_bp,
       CAST(row_number() OVER (ORDER BY n_docs DESC, domain) AS INTEGER)
         AS size_rank
FROM dom
"""


# ---------------------------------------------------------------------------
# Bloom-filter URL blocklist pre-filter
# ---------------------------------------------------------------------------

# Sandbox-sized filter (m = 256 bits, k = 4 md5-slice hashes) so the
# false-positive path is actually exercised by the test corpus; a
# production deployment sizes m in the billions of bits (still a few
# hundred MB — broadcastable where the blocklist itself is not) for a
# ~1e-4 FP rate.  The FP accounting column is the point: a Bloom
# pre-filter must be followed by an exact check on the survivors only.
BLOOM_M_BITS = 256
BLOOM_K = 4
# Every 17th doc's canonical URL is the deterministic stand-in blocklist.
BLOOM_BLOCK_MOD = 17


def bloom_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Bloom verdict vs a URL blocklist, with FP accounting.

    Plan shape at 100 TB: the blocklist's bitset is a <=m-row distinct
    agg broadcast to every task (the whole point — the blocklist itself
    may be too big to broadcast); candidates explode to k=4 rows, probe
    the broadcast, and fold back with one hash aggregate.  The exact
    check joins ONLY for FP accounting and is dropped in production
    (where the exact pass runs on the tiny bloom-positive slice).
    """
    docs = _documents(spark, sf_dir)
    urls = _canon_urls(docs).select("doc_id", "canon_url")
    md = F.md5("canon_url")
    pos = [(F.conv(F.substring(md, 1 + 8 * j, 8), 16, 10).cast("long")
            % BLOOM_M_BITS).alias("p%d" % j) for j in range(BLOOM_K)]
    probes = urls.select("doc_id", "canon_url",
                         F.explode(F.array(*pos)).alias("bit"))
    block = (urls.filter(F.col("doc_id") % BLOOM_BLOCK_MOD == 0)
             .select("canon_url").distinct())
    bits = (block.select(F.explode(F.array(
                *[(F.conv(F.substring(F.md5("canon_url"), 1 + 8 * j, 8),
                          16, 10).cast("long") % BLOOM_M_BITS)
                  for j in range(BLOOM_K)])).alias("bit"))
            .distinct().withColumn("present", F.lit(1)))
    hit = (probes.join(F.broadcast(bits), "bit", "left")
           .groupBy("doc_id", "canon_url")
           .agg((F.sum(F.coalesce("present", F.lit(0))) == BLOOM_K)
                .cast("int").alias("bloom_hit")))
    exact = block.withColumn("exact_hit", F.lit(1))
    return (hit.join(F.broadcast(exact), "canon_url", "left")
            .select("doc_id", "canon_url", "bloom_hit",
                    F.coalesce("exact_hit", F.lit(0)).alias("exact_hit"),
                    ((F.col("bloom_hit") == 1)
                     & F.col("exact_hit").isNull()).cast("int")
                    .alias("is_fp")))


# the probe indexes 0 .. BLOOM_K - 1 as an inline table t(j)
_BLOOM_J = "(VALUES %s) AS t(j)" % ", ".join(
    "(%d)" % j for j in range(BLOOM_K))

BLOOM_URL_FILTER_SQL = f"""
WITH urls AS ({CANON_URLS_SQL}),
probes AS (
  SELECT doc_id, canon_url,
         ('0x' || substr(md5(canon_url), 1 + 8 * j, 8))::BIGINT
           % {BLOOM_M_BITS} AS bit
  FROM urls CROSS JOIN {_BLOOM_J}
),
block AS (
  SELECT DISTINCT canon_url FROM urls WHERE doc_id % {BLOOM_BLOCK_MOD} = 0
),
bits AS (
  SELECT DISTINCT ('0x' || substr(md5(canon_url), 1 + 8 * j, 8))::BIGINT
           % {BLOOM_M_BITS} AS bit
  FROM block CROSS JOIN {_BLOOM_J}
),
hit AS (
  SELECT p.doc_id, p.canon_url,
         CASE WHEN sum(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END)
                   = {BLOOM_K} THEN 1 ELSE 0 END AS bloom_hit
  FROM probes p LEFT JOIN bits b ON b.bit = p.bit
  GROUP BY p.doc_id, p.canon_url
)
SELECT h.doc_id, h.canon_url, h.bloom_hit,
       CASE WHEN k.canon_url IS NULL THEN 0 ELSE 1 END AS exact_hit,
       CASE WHEN h.bloom_hit = 1 AND k.canon_url IS NULL THEN 1 ELSE 0 END
         AS is_fp
FROM hit h LEFT JOIN block k ON k.canon_url = h.canon_url
"""


# ---------------------------------------------------------------------------
# robots.txt disallow filter
# ---------------------------------------------------------------------------

# Each domain publishes one deterministic Disallow rule derived from its
# source number: Disallow: /p/<src_num mod 7>.  Rule application is the
# REAL robots semantics — string prefix match on the URL path — so
# '/p/1' disallows '/p/1' AND '/p/10'..'/p/19' (paths here run 0..24),
# exercising the prefix (not equality) behavior.


def robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document robots.txt verdict from a broadcast per-domain rule dim.

    Plan shape at 100 TB: the rules table is per-DOMAIN (millions of
    rows, a few hundred MB — the classic broadcast dim), the fact side
    is a pure projection, and the verdict is one broadcast equi-join on
    domain plus a startswith gate — zero fact shuffles.  The same plan
    serves a real robots corpus; only the rule synthesis is sandbox.
    """
    docs = _documents(spark, sf_dir)
    # the URL synthesis + canonicalization is a pure projection of the
    # SAME scan, so source rides along — no doc_id fact-fact join
    facts = (docs.select("doc_id", "source",
                         F.expr(_RAW_URL_SPARK).alias("raw_url"))
             .withColumn("canon_url", _canon_col())
             .select("doc_id",
                     F.concat(F.col("source"), F.lit(".example.com"))
                     .alias("domain"),
                     F.regexp_extract("canon_url",
                                      r"^[a-z]+://[^/]+(/[^?]*)", 1)
                     .alias("path")))
    # rule number parse is TOTAL: a non-'src<digits>' source falls back
    # to its name length.  TRY_CAST on BOTH engines — under Spark 4's
    # default ANSI mode a plain CAST of 'rd-source' would THROW, not
    # yield NULL, so the coalesce branch would be unreachable
    rule_n = (F.coalesce(F.expr("TRY_CAST(substring(source, 4, 10) AS INT)"),
                         F.length("source")) % 7)
    rules = (docs.select("source").distinct()
             .select(F.concat(F.col("source"), F.lit(".example.com"))
                     .alias("domain"),
                     F.concat(F.lit("/p/"), rule_n.cast("string"))
                     .alias("disallow_prefix")))
    return (facts.join(F.broadcast(rules), "domain")
            .select("doc_id", "domain", "path", "disallow_prefix",
                    (~F.col("path").startswith(F.col("disallow_prefix")))
                    .cast("int").alias("allowed")))


ROBOTS_FILTER_SQL = f"""
WITH urls AS ({CANON_URLS_SQL}),
facts AS (
  SELECT d.doc_id, d.source || '.example.com' AS domain,
         regexp_extract(u.canon_url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path
  FROM documents d JOIN urls u ON u.doc_id = d.doc_id
),
rules AS (
  SELECT DISTINCT source || '.example.com' AS domain,
         '/p/' || (COALESCE(TRY_CAST(substring(source, 4, 10) AS INT),
                            length(source)) % 7)
           AS disallow_prefix
  FROM documents
)
SELECT f.doc_id, f.domain, f.path, r.disallow_prefix,
       CASE WHEN starts_with(f.path, r.disallow_prefix) THEN 0 ELSE 1 END
         AS allowed
FROM facts f JOIN rules r ON r.domain = f.domain
"""


# ---------------------------------------------------------------------------
# CCNet head/middle/tail perplexity terciles per language
# ---------------------------------------------------------------------------

def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity terciles over unigram surprisal.

    CCNet sorts each language's documents by LM perplexity and cuts the
    corpus into head/middle/tail thirds; training mixes then upsample
    the head.  The surprisal score is textstats.unigram_surprisal's
    integer-exact mean_centibits (composed, not re-derived) and the cut
    is ntile(3) — rank-based, so integer-exact, with (score, doc_id)
    ordering making ties deterministic.

    Plan shape at 100 TB: the surprisal plan (two hash aggs + a dim
    join) followed by ONE per-language window — per-shard sort, never a
    global one, the sequence_packing shape.  At extreme scale the
    window is replaced by exact per-language tercile thresholds from a
    sort-agg percentile (broadcast, then a map-side gate); ntile is the
    integer-exact form the oracle can hash-match.
    """
    docs = _documents(spark, sf_dir)
    sur = textstats.unigram_surprisal(spark, sf_dir) \
        .select("doc_id", "mean_centibits")
    j = docs.select("doc_id", "lang").join(sur, "doc_id")
    w = Window.partitionBy("lang").orderBy("mean_centibits", "doc_id")
    out = j.withColumn("bucket", F.ntile(3).over(w))
    return out.select(
        "doc_id", "lang", "mean_centibits", "bucket",
        F.when(F.col("bucket") == 1, F.lit("head"))
        .when(F.col("bucket") == 2, F.lit("middle"))
        .otherwise(F.lit("tail")).alias("band"))


PERPLEXITY_BUCKETS_SQL = f"""
WITH sur AS ({textstats.UNIGRAM_SURPRISAL_SQL}),
j AS (
  SELECT d.doc_id, d.lang, s.mean_centibits
  FROM documents d JOIN sur s ON s.doc_id = d.doc_id
),
b AS (
  SELECT doc_id, lang, mean_centibits,
         CAST(ntile(3) OVER (PARTITION BY lang
                             ORDER BY mean_centibits, doc_id) AS INTEGER)
           AS bucket
  FROM j
)
SELECT doc_id, lang, mean_centibits, bucket,
       CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS band
FROM b
"""


# ---------------------------------------------------------------------------
# integer-exact fixed-iteration PageRank over the synthetic outlink graph
# ---------------------------------------------------------------------------

# doc i links to (7i + j) mod N for j in {1 .. 1 + i mod 3} (self-loops
# removed) — a deterministic expander with VARYING out-degree 1-3, so
# in-degrees (and hence ranks) spread instead of collapsing to the
# uniform fixpoint.  Integer rank units (1e6 = rank 1.0) with
# damping 0.85 as the exact recurrence
#     r' = 150000 + (850 * sum(r_u // deg_u)) // 1000
# make every iteration order-independent (integer sums commute exactly,
# float sums do not), so a 3-CTE DuckDB oracle hashes identically.
PAGERANK_ITERS = 3
PAGERANK_UNIT = 1_000_000
PAGERANK_FANOUT = 3

# The synthetic outlink-graph construction as a WITH-clause fragment
# (DuckDB dialect) — the SINGLE SQL source of truth for the edge list,
# shared by every oracle over the graph (pagerank, anchors, frontier,
# host rollup); it mirrors :func:`_edges` exactly, with the VALUES list
# and the fanout filter both generated from PAGERANK_FANOUT so the
# Python and SQL forms cannot drift apart.
EDGES_SQL = f"""n AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT d.doc_id AS src, (d.doc_id * 7 + t.j) % n.n AS dst
  FROM documents d CROSS JOIN n
  CROSS JOIN (VALUES {', '.join('(%d)' % (j + 1)
                                for j in range(PAGERANK_FANOUT))}) AS t(j)
  WHERE t.j <= 1 + d.doc_id % {PAGERANK_FANOUT}
    AND (d.doc_id * 7 + t.j) % n.n <> d.doc_id
)"""


def _edges(docs: DataFrame) -> DataFrame:
    n = docs.agg(F.count("*").alias("n"))
    js = F.array(*[F.lit(j + 1) for j in range(PAGERANK_FANOUT)])
    e = (docs.select("doc_id").crossJoin(F.broadcast(n))
         .select(F.col("doc_id").alias("src"),
                 F.explode(js).alias("j"), "n")
         .filter(F.col("j") <= 1 + F.col("src") % PAGERANK_FANOUT)
         .select("src", F.expr("pmod(src * 7 + j, n)").alias("dst"))
         .filter(F.col("src") != F.col("dst")))
    return e


def rank_iterations(docs: DataFrame, edges: DataFrame,
                    init: F.Column, teleport: F.Column):
    """The shared fixed-iteration rank loop (PageRank AND TrustRank —
    the two differ ONLY in where the teleport mass goes): per round one
    keyed edges⋈rank equi-join + one dst hash aggregate, rank' =
    div(850 * Σ contrib, 1000) + teleport, all in integer rank units.
    Returns (ranks DataFrame with columns (doc_id, r), out-degree dim).
    """
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    ed = edges.join(deg, "src")

    def step(ranks: DataFrame) -> DataFrame:
        contrib = (ed.join(ranks, ed.src == ranks.doc_id)
                   .select("dst", F.expr("div(r, deg)").alias("c")))
        sums = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        return (docs.select("doc_id")
                .join(sums, F.col("doc_id") == F.col("dst"), "left")
                .select("doc_id",
                        (F.expr("div(850 * coalesce(s, 0), 1000)")
                         + teleport).cast("long").alias("r")))

    ranks, _ = iterate(docs.select("doc_id", init.cast("long").alias("r")),
                       step, PAGERANK_ITERS)
    return ranks, deg


def link_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three exact PageRank iterations over the synthetic outlink graph.

    Plan shape at 100 TB: per iteration, one equi-join of the edge list
    with the current rank vector on src and one hash aggregate on dst —
    the canonical distributed PageRank shuffle pair, both keyed, both
    AQE-skew-splittable.  Iterations chain as a fixed-depth DAG (3 here);
    an open-ended fixpoint gives :func:`iterate` ``checkpoint=True`` and
    a convergence test, so lineage stays bounded.
    """
    docs = _documents(spark, sf_dir)
    edges = _edges(docs)
    indeg = edges.groupBy("dst").agg(F.count("*").alias("in_deg"))
    ranks, deg = rank_iterations(docs, edges,
                                 init=F.lit(PAGERANK_UNIT),
                                 teleport=F.lit(150_000))
    return (ranks
            .join(deg, ranks.doc_id == deg.src, "left")
            .join(indeg, ranks.doc_id == indeg.dst, "left")
            .select("doc_id",
                    F.coalesce("deg", F.lit(0)).alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
                    F.col("r").alias("rank_ppm")))


# one iteration of the shared rank loop in SQL; `teleport` is the only
# difference between PageRank (constant) and TrustRank (seed-gated) —
# substituted FIRST, leaving {prev} for the CTE chain
_RANK_ITER_SQL = """
SELECT d.doc_id,
       CAST((850 * COALESCE(s.s, 0)) // 1000 + {teleport} AS BIGINT) AS r
FROM documents d LEFT JOIN (
  SELECT e.dst, sum(r.r // g.deg) AS s
  FROM edges e
  JOIN {prev} r ON r.doc_id = e.src
  JOIN deg g ON g.src = e.src
  GROUP BY e.dst
) s ON s.dst = d.doc_id
"""


def rank_iter_sql(teleport: str) -> str:
    """The iteration template with the teleport expression filled in;
    `{prev}` stays open for the caller's CTE chain."""
    return _RANK_ITER_SQL.replace("{teleport}", teleport)


_PR_ITER_SQL = rank_iter_sql("150000")

LINK_PAGERANK_SQL = f"""
WITH {EDGES_SQL},
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
indeg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst),
r0 AS (SELECT doc_id, CAST({PAGERANK_UNIT} AS BIGINT) AS r FROM documents),
it1 AS ({_PR_ITER_SQL.format(prev="r0")}),
it2 AS ({_PR_ITER_SQL.format(prev="it1")}),
it3 AS ({_PR_ITER_SQL.format(prev="it2")})
SELECT r.doc_id,
       CAST(COALESCE(g.deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg,
       r.r AS rank_ppm
FROM it3 r
LEFT JOIN deg g ON g.src = r.doc_id
LEFT JOIN indeg i ON i.dst = r.doc_id
"""


# ---------------------------------------------------------------------------
# HITS (hubs & authorities) — the link-analysis complement of PageRank
# ---------------------------------------------------------------------------

# Kleinberg's HITS (JACM 1999) over the same synthetic outlink graph the
# PageRank/TrustRank family uses: authority(v) = sum of hub scores of
# pages linking TO v; hub(u) = sum of authority scores of pages u links
# to; alternate and normalize.  A crawl pipeline runs it beside PageRank
# because the two scores separate DIRECTORY pages (high hub) from
# CONTENT pages (high authority) — a seed-selection and link-spam signal
# PageRank's single score conflates.
#
# INTEGER-EXACT normalization so the DuckDB oracle matches to the hash:
# instead of the classical L2 norm (a float sqrt), each half-step
# rescales to parts-per-million of the corpus TOTAL — score' =
# score_raw * 10^6 // sum(score_raw) — which preserves the ranking
# (scale-invariance is the only property the iteration needs), keeps
# every value a bounded integer, and is one 1-row aggregate broadcast
# back.  int64 headroom: score_raw <= in_deg * 10^6, so the rescale
# product is < 2^63 for any in_deg < 9.2e6; a 10^12-page graph with
# hotter hubs rescales by // (sum // 10^6) first (noted, not needed at
# fixture scale).
HITS_ITERS = 3
HITS_SCALE = 1_000_000


def hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page (authority_ppm, hub_ppm) after HITS_ITERS alternating
    iterations, plus the degree dims.

    Plan shape at 100 TB: per iteration TWO keyed edge⋈score equi-joins
    and TWO hash aggregates (one keyed on dst for the authority
    half-step, one on src for the hub half-step) — the PageRank shuffle
    pair run in both directions — plus two 1-row total aggregates that
    broadcast back for the ppm rescale.  Hot pages are ordinary skewed
    agg keys (AQE-splittable).  :func:`iterate` runs the half-steps as
    authority, (hub, authority) x (HITS_ITERS - 1), then hub, and
    checkpoints each authority vector a later round reads: every
    half-step reads its input twice (the join and the total), so an
    unmaterialized chain plans a tree that doubles per half-step."""
    docs = _documents(spark, sf_dir)
    edges = _edges(docs)

    def half(scores: DataFrame, via: str, to: str, name: str) -> DataFrame:
        # (doc_id, score) summed along edges via -> to, as ppm of a total
        # coalesced to 1, so no edges (or all mass on sinks) gives 0, not NULL
        raw = (edges.join(scores, edges[via] == scores.doc_id)
               .groupBy(to).agg(F.sum(scores.columns[1]).alias("raw")))
        tot = raw.agg(F.coalesce(F.sum("raw"), F.lit(1)).alias("tot"))
        return (docs.select("doc_id")
                .join(raw, F.col("doc_id") == F.col(to), "left")
                .crossJoin(F.broadcast(tot))
                .select("doc_id",
                        F.expr(f"div(coalesce(raw, 0) * {HITS_SCALE},"
                               f" greatest(tot, 1))")
                        .cast("long").alias(name)))

    hub0 = docs.select("doc_id", F.lit(1000).cast("long").alias("h"))
    auth, _ = iterate(half(hub0, "src", "dst", "a"),
                      lambda a: half(half(a, "dst", "src", "h"),
                                     "src", "dst", "a"),
                      HITS_ITERS - 1, checkpoint=True)
    hub = half(auth, "dst", "src", "h")
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    indeg = edges.groupBy("dst").agg(F.count("*").alias("in_deg"))
    return (auth.join(hub, "doc_id")
            .join(deg, auth.doc_id == deg.src, "left")
            .join(indeg, auth.doc_id == indeg.dst, "left")
            .select("doc_id",
                    F.col("a").alias("authority_ppm"),
                    F.col("h").alias("hub_ppm"),
                    F.coalesce("deg", F.lit(0)).cast("long")
                    .alias("out_deg"),
                    F.coalesce("in_deg", F.lit(0)).cast("long")
                    .alias("in_deg")))


# one HITS iteration in SQL: {hprev} -> authority CTE pair -> hub CTE
# pair; the 1-row totals are scalar subqueries (DuckDB evaluates them
# once — the broadcast analogue)
def _hits_iter_sql(i: int, hprev: str) -> str:
    return f"""a{i}raw AS (
  SELECT e.dst AS doc_id, sum(h.h) AS ar
  FROM edges e JOIN {hprev} h ON h.doc_id = e.src GROUP BY e.dst
), a{i} AS (
  SELECT d.doc_id,
         CAST(COALESCE(r.ar, 0) * {HITS_SCALE}
              // greatest(COALESCE((SELECT sum(ar) FROM a{i}raw), 1), 1)
              AS BIGINT) AS a
  FROM documents d LEFT JOIN a{i}raw r ON r.doc_id = d.doc_id
), h{i}raw AS (
  SELECT e.src AS doc_id, sum(a.a) AS hr
  FROM edges e JOIN a{i} a ON a.doc_id = e.dst GROUP BY e.src
), h{i} AS (
  SELECT d.doc_id,
         CAST(COALESCE(r.hr, 0) * {HITS_SCALE}
              // greatest(COALESCE((SELECT sum(hr) FROM h{i}raw), 1), 1)
              AS BIGINT) AS h
  FROM documents d LEFT JOIN h{i}raw r ON r.doc_id = d.doc_id
)"""


HITS_SCORES_SQL = f"""
WITH {EDGES_SQL},
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
indeg AS (SELECT dst, count(*) AS in_deg FROM edges GROUP BY dst),
h0 AS (SELECT doc_id, CAST(1000 AS BIGINT) AS h FROM documents),
{','.join(_hits_iter_sql(i + 1, 'h%d' % i) for i in range(HITS_ITERS))}
SELECT a.doc_id AS doc_id,
       a.a AS authority_ppm,
       h.h AS hub_ppm,
       CAST(COALESCE(g.deg, 0) AS BIGINT) AS out_deg,
       CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg
FROM a{HITS_ITERS} a
JOIN h{HITS_ITERS} h ON h.doc_id = a.doc_id
LEFT JOIN deg g ON g.src = a.doc_id
LEFT JOIN indeg i ON i.dst = a.doc_id
"""


# ---------------------------------------------------------------------------
# inverted index build (search over the crawl)
# ---------------------------------------------------------------------------

# The text counterpart of the CDX index: per-token document postings.  The
# postings column is EXPLICITLY capped (the _head suffix says so — no
# silent truncation): full postings for a stop-word-frequency token at
# 10^12 docs would be a multi-GB row, so a serving index shards the tail
# postings by (token, bucket); df/tf_total are computed over the FULL
# set before the cap, so the cap only bounds the materialized sample.
POSTINGS_HEAD = 20


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token (df, tf_total, postings_head).

    Plan shape at 100 TB: counts come from ONE hash aggregate keyed by
    token (map-side partial; hot stop-word keys are ordinary skewed agg
    keys).  The postings sample deliberately does NOT use collect_set —
    a stop word's full posting set would have to materialize in ONE
    final-aggregate buffer (un-splittable, OOM at web scale).  Instead
    the distinct (tok, doc_id) stream takes a row_number window per
    token: Spark's window sort is SPILL-able (sort-based, disk-backed),
    so a billion-posting token degrades to spilled sort time instead of
    an executor OOM, the filter keeps POSTINGS_HEAD rows per token, and
    the bounded collect_list runs over ≤POSTINGS_HEAD rows.  The final
    token-dim equi-join is vocab-sized on both sides.
    """
    docs = spread(_documents(spark, sf_dir))
    toks = token_rows(docs)
    counts = (toks.groupBy("tok")
              .agg(F.countDistinct("doc_id").alias("df"),
                   F.count("*").alias("tf_total")))
    pairs = toks.dropDuplicates(["tok", "doc_id"])
    w = Window.partitionBy("tok").orderBy("doc_id")
    head = (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= POSTINGS_HEAD)
            .groupBy("tok")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("p")))
    return (counts.join(head, "tok")
            .select("tok", "df", "tf_total",
                    F.concat_ws(",", F.transform(
                        "p", lambda x: x.cast("string")))
                    .alias("postings_head")))


INVERTED_INDEX_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT d.doc_id,
               unnest(string_split_regex(trim(d.text, ' '), '\\s+')) AS tok
        FROM documents d)
  WHERE length(tok) > 0
)
SELECT tok,
       count(DISTINCT doc_id) AS df,
       count(*) AS tf_total,
       array_to_string(list_slice(list_sort(list(DISTINCT doc_id)),
                                  1, {POSTINGS_HEAD}), ',') AS postings_head
FROM toks GROUP BY tok
"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval over the index (decontamination lookups)
# ---------------------------------------------------------------------------

# The retrieval product a training-data pipeline actually runs against its
# inverted index: given a handful of probe queries (here: the leading
# word-BIGRAMS of the first BM25_N_QUERIES documents — the "did this
# benchmark leak into the crawl" lookup shape), rank all documents by BM25
# (Robertson et al., TREC-3) and keep the top K.  Terms are word bigrams,
# not unigrams: decontamination lookups are phrase-shaped
# (benchmark_decontaminate's n-grams), and on a bounded-vocabulary web
# corpus every UNIGRAM is stop-word-frequency (df > N/2 -> idf clamps to
# 0, correctly — measured on the fixture corpus: every single token
# appears in ~380 of 500 docs) while bigram df concentrates at ~N/18.
#
# INTEGER-EXACT by construction so the DuckDB oracle matches to the hash
# (the unigram_surprisal discipline — no float log, no float division):
#   * idf is the BIT LENGTH of the integer ratio
#     (2N - 2df + 1) // (2df + 1) — the classic
#     ln((N - df + 0.5) / (df + 0.5)) with the 0.5s scaled to integers and
#     ln replaced by floor(log2)+1; terms in more than ~half the corpus
#     get idf 0 (Lucene clamps negative idf the same way) and are pruned
#     BEFORE the posting join, so stop words never fan out;
#   * the tf saturation k1=1.2, b=0.75 term
#     tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) is evaluated as the
#     integer rational (22 * tf * 10^6) // (10*tf + 3 + dlr) with
#     dlr = (9000 * dl) // avgdl_milli and
#     avgdl_milli = 1000 * sum(dl) // n_docs — numerator and denominator
#     scaled by 10, the length ratio pre-reduced per doc, so the largest
#     intermediate is 22*10^6*tf: int64-safe for any tf < 4.1e11, i.e.
#     for ANY physical document, independent of corpus size AND document
#     size (an earlier form multiplied tf * avgdl_milli * 10^6, which a
#     multi-million-token spam doc could overflow).  dlr's truncation
#     costs < 1 part in the denominator — sub-ppm on the score.
#
# Plan shape at 100 TB: tf is ONE (doc, tok) hash agg and df ONE (tok)
# hash agg (both map-side partial — the inverted_index scan); the query
# term table is tiny and idf-pruned -> broadcast; the posting join fans
# out only documents containing a surviving (idf >= 1) query term; the
# per-(query, doc) score is one more hash agg; the final top-K is a
# row_number window per query that Catalyst plans as WindowGroupLimit
# (partial top-K before the exchange).
BM25_N_QUERIES = 5
BM25_QUERY_LEN = 6
BM25_TOP_K = 10


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query BM25 top-K documents in integer micro-units.

    Optimization (r9, guide §2.3/§3.2): the scores only ever involve the
    <= BM25_N_QUERIES * BM25_QUERY_LEN candidate query bigrams, so the
    corpus-wide (doc, tok) tf hash-agg and (tok) df agg that previously
    rebuilt the FULL bigram index inline are pre-filtered with a
    broadcast semi-join on the candidate-term table (built from the
    BM25_N_QUERIES query docs — a pushed-down `doc_id <` scan).  tf/df
    over the filtered stream are IDENTICAL to the full index restricted
    to candidate terms (the only rows the q_terms inner join ever kept),
    so the result is unchanged — but the big hash aggregations and their
    exchanges now carry ~candidate-matching rows instead of every bigram
    in the corpus.  Corpus stats (n_docs, avgdl) come from array lengths
    alone — no bigram materialization on that pass."""
    docs = spread(_documents(spark, sf_dir))
    # terms = word bigrams of the whitespace token stream
    unitoks = docs.select("doc_id", tokens().alias("t"))
    toked = unitoks.select(
        "doc_id",
        # zip_with of the two shifted slices == the old
        # transform(sequence, i -> concat(element_at(i), element_at(i+1)))
        # bigram builder, row for row — but ~9x faster: the element_at
        # lambda form measured 12.4 s for a 265k-row explode at sf0.1
        # where this form measures 1.4 s (r9, guide §1 empirical loop)
        F.expr("CASE WHEN size(t) >= 2 THEN"
               " zip_with(slice(t, 1, size(t) - 1), slice(t, 2, size(t) - 1),"
               "  (a, b) -> concat(a, ' ', b))"
               " ELSE CAST(array() AS array<string>) END")
        .alias("toks"))
    # dl (bigram count) straight from the unigram array length: same value
    # as size(toks) without building the bigram strings for this pass
    lens = unitoks.select(
        "doc_id",
        F.expr("CASE WHEN size(t) >= 2 THEN size(t) - 1 ELSE 0 END")
        .alias("dl"))
    corpus = lens.agg(
        F.count("*").alias("n_docs"),
        F.expr("div(sum(dl) * 1000, count(*))").alias("avgdl_milli"))
    # candidate term dictionary: the distinct leading bigrams of the query
    # docs (<= N_QUERIES * QUERY_LEN rows -> broadcast)
    cand = (toked.filter(F.col("doc_id") < BM25_N_QUERIES)
            .select(F.explode(F.slice("toks", 1, BM25_QUERY_LEN))
                    .alias("tok"))
            .distinct())
    toks = (toked.select("doc_id", F.explode("toks").alias("tok"))
            .join(F.broadcast(cand), "tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df_ = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    idf = (df_.crossJoin(F.broadcast(corpus.select("n_docs")))
           .withColumn("q", F.expr("div(2 * n_docs - 2 * df + 1,"
                                   "    2 * df + 1)"))
           .withColumn("idf_bits",
                       F.when(F.col("q") >= 1, F.length(F.bin("q")))
                       .otherwise(F.lit(0)))
           .select("tok", "idf_bits"))
    q_terms = (toked.filter(F.col("doc_id") < BM25_N_QUERIES)
               .select(F.col("doc_id").alias("query_id"),
                       F.explode(F.slice("toks", 1, BM25_QUERY_LEN))
                       .alias("tok"))
               .distinct()
               .join(idf, "tok")
               .filter(F.col("idf_bits") >= 1))   # stop-word pruning
    lens_r = (lens.crossJoin(F.broadcast(corpus.select("avgdl_milli")))
              .select("doc_id", F.expr(
                  "div(9000 * dl, greatest(avgdl_milli, 1))").alias("dlr")))
    scored = (tf.join(F.broadcast(q_terms), "tok")
              .join(lens_r, "doc_id")
              .withColumn(
                  "term_score",
                  F.col("idf_bits").cast("long")
                  * F.expr("div(22 * tf * 1000000, 10 * tf + 3 + dlr)"))
              .groupBy("query_id", "doc_id")
              .agg(F.sum("term_score").alias("score_u")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score_u"),
                                               F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= BM25_TOP_K)
            .select("query_id", "rank", "doc_id",
                    F.col("score_u").cast("long").alias("score_u")))


BM25_TOPK_SQL = f"""
WITH unitoks AS (
  SELECT doc_id,
         {TOKEN_LIST_SQL} AS t
  FROM documents
), toked AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 2 THEN
           list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1])
         ELSE [] END AS toks
  FROM unitoks
), lens AS (
  SELECT doc_id, len(toks) AS dl FROM toked
), corpus AS (
  SELECT count(*) AS n_docs, sum(dl) * 1000 // count(*) AS avgdl_milli
  FROM lens
), toks AS (
  SELECT doc_id, unnest(toks) AS tok FROM toked
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), idf AS (
  SELECT tok,
         CASE WHEN q >= 1 THEN length(printf('%b', CAST(q AS BIGINT)))
              ELSE 0 END AS idf_bits
  FROM (SELECT tok,
               (2 * (SELECT n_docs FROM corpus) - 2 * count(DISTINCT doc_id)
                + 1) // (2 * count(DISTINCT doc_id) + 1) AS q
        FROM toks GROUP BY tok)
), q_terms AS (
  SELECT DISTINCT q.query_id, q.tok, i.idf_bits
  FROM (SELECT doc_id AS query_id,
               unnest(list_slice(toks, 1, {BM25_QUERY_LEN})) AS tok
        FROM toked WHERE doc_id < {BM25_N_QUERIES}) q
  JOIN idf i ON i.tok = q.tok
  WHERE i.idf_bits >= 1
), lensr AS (
  SELECT doc_id,
         9000 * dl // greatest((SELECT avgdl_milli FROM corpus), 1) AS dlr
  FROM lens
), scored AS (
  SELECT qt.query_id, t.doc_id,
         sum(qt.idf_bits *
             (22 * t.tf * 1000000 // (10 * t.tf + 3 + l.dlr))) AS score_u
  FROM tf t
  JOIN q_terms qt ON qt.tok = t.tok
  JOIN lensr l ON l.doc_id = t.doc_id
  GROUP BY qt.query_id, t.doc_id
), ranked AS (
  SELECT query_id, doc_id, score_u,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_u DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, doc_id, CAST(score_u AS BIGINT) AS score_u
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# round 7 batch #7: anchor text, redirect chains, bitext pairing, crawl diff
# ---------------------------------------------------------------------------

ANCHOR_TOPK = 5
ANCHOR_VOCAB = 50


def anchor_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-target-page anchor-text profile: inlink count, distinct anchor
    count, and the top-K anchors by frequency.

    The classic link-text signal of web search / page-quality pipelines
    (anchor text describes the TARGET page better than its own text).
    Anchors are synthesized deterministically per edge from the same
    outlink graph link_pagerank uses (``t<(src+dst) % vocab>``) —
    identically in the oracle; everything downstream is generic.

    Plan shape at 100 TB: ONE hash aggregate on (dst, anchor) with
    map-side partials, then a row_number window per dst that Catalyst
    plans as WindowGroupLimit (partial top-K BEFORE the exchange — the
    inverted_index postings shape), then a bounded collect over <=K rows.
    Hot pages (a wikipedia.org-scale inlink magnet) are ordinary skewed
    agg keys, AQE-splittable; the unbounded collect_list-per-page this
    avoids would be a single-buffer OOM.
    """
    docs = _documents(spark, sf_dir)
    e = _edges(docs).select(
        "dst", F.concat(F.lit("t"), F.expr("pmod(src + dst, %d)"
                                           % ANCHOR_VOCAB)).alias("anchor"))
    per = e.groupBy("dst", "anchor").agg(F.count("*").alias("c"))
    tot = e.groupBy("dst").agg(
        F.count("*").alias("n_anchors"),
        F.countDistinct("anchor").alias("distinct_anchors"))
    w = Window.partitionBy("dst").orderBy(F.desc("c"), F.asc("anchor"))
    top = (per.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= ANCHOR_TOPK)
           .groupBy("dst")
           .agg(F.array_join(F.transform(
               F.sort_array(F.collect_list(F.struct(
                   "rn",
                   F.concat_ws(":", "anchor", F.col("c").cast("string"))
                   .alias("s")))),
               lambda x: x["s"]), ",").alias("top_anchors")))
    return (tot.join(top, "dst")
            .select(F.col("dst").alias("doc_id"), "n_anchors",
                    "distinct_anchors", "top_anchors"))


ANCHOR_TEXT_TOPK_SQL = f"""
WITH {EDGES_SQL},
e AS (
  SELECT dst, 't' || ((src + dst) % {ANCHOR_VOCAB}) AS anchor
  FROM edges
),
per AS (SELECT dst, anchor, count(*) AS c FROM e GROUP BY dst, anchor),
tot AS (SELECT dst, count(*) AS n_anchors,
               count(DISTINCT anchor) AS distinct_anchors
        FROM e GROUP BY dst),
ranked AS (
  SELECT dst, anchor, c,
         row_number() OVER (PARTITION BY dst ORDER BY c DESC, anchor) AS rn
  FROM per
),
top AS (
  SELECT dst, array_to_string(list(anchor || ':' || c ORDER BY rn), ',')
           AS top_anchors
  FROM ranked WHERE rn <= {ANCHOR_TOPK} GROUP BY dst
)
SELECT t.dst AS doc_id, t.n_anchors, t.distinct_anchors, p.top_anchors
FROM tot t JOIN top p ON p.dst = t.dst
"""


# redirect graph: within each run of 10 consecutive ids, residue k > 0
# redirects one step down (k -> k-1) and residue 0 is the landing page —
# EXCEPT in "cycle decades" ((doc_id // 10) % 97 == 0), where the landing
# page redirects back to the top, closing a 10-cycle (redirect loops are
# a real crawl pathology the resolver must not hang on)
REDIRECT_DOUBLINGS = 4
REDIRECT_MAX_HOPS = 2 ** REDIRECT_DOUBLINGS


def _redirect_edges(docs: DataFrame) -> DataFrame:
    n = docs.agg(F.count("*").alias("n"))
    down = (docs.filter(F.col("doc_id") % 10 != 0)
            .select(F.col("doc_id").alias("src"),
                    (F.col("doc_id") - 1).alias("dst")))
    back = (docs.filter((F.col("doc_id") % 10 == 0)
                        & (F.expr("div(doc_id, 10)") % 97 == 0))
            .crossJoin(F.broadcast(n))
            .filter(F.col("doc_id") + 9 < F.col("n"))
            .select(F.col("doc_id").alias("src"),
                    (F.col("doc_id") + 9).alias("dst")))
    return down.unionByName(back)


def redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve every page's redirect chain to its final landing page in
    O(log max_hops) rounds of pointer doubling, with loop detection.

    Plan shape at 100 TB: the naive resolver follows chains one hop per
    pass — L shuffles for length-L chains, and a redirect LOOP never
    terminates.  Pointer doubling squares the mapping each round
    (f -> f(f)): REDIRECT_DOUBLINGS=4 self-equi-joins of the N-row
    mapping table (each co-partitioned on the join key, AQE-planned)
    resolve any chain up to 16 hops, and a cycle simply stops making
    progress — `resolved` = the final node has no outgoing redirect,
    checked with one broadcast-able left join.  Hop counts accumulate
    exactly (h' = h + h.(f)), so the output is integer-exact.
    """
    docs = _documents(spark, sf_dir)
    edges = _redirect_edges(docs)
    # f^1 with self-loop at final nodes; h = steps actually taken
    m = (docs.select("doc_id")
         .join(edges, F.col("doc_id") == F.col("src"), "left")
         .select("doc_id",
                 F.coalesce("dst", F.col("doc_id")).alias("nxt"),
                 F.when(F.col("dst").isNull(), F.lit(0))
                 .otherwise(F.lit(1)).alias("hops")))

    def double(m: DataFrame) -> DataFrame:
        m2 = m.select(F.col("doc_id").alias("k"),
                      F.col("nxt").alias("nxt2"),
                      F.col("hops").alias("hops2"))
        return (m.join(m2, m.nxt == m2.k)
                .select("doc_id", F.col("nxt2").alias("nxt"),
                        (F.col("hops") + F.col("hops2")).alias("hops")))

    # double reads m twice: checkpointed rounds keep the plan flat
    m, _ = iterate(m, double, REDIRECT_DOUBLINGS, checkpoint=True)
    has_out = edges.select(F.col("src").alias("nxt")).distinct() \
        .withColumn("dangling", F.lit(1))
    return (m.join(has_out, "nxt", "left")
            .select("doc_id", F.col("nxt").alias("final_id"), "hops",
                    F.when(F.col("dangling").isNull(), F.lit(1))
                    .otherwise(F.lit(0)).alias("resolved")))


REDIRECT_RESOLUTION_SQL = f"""
WITH RECURSIVE n AS (SELECT count(*) AS n FROM documents),
edges AS (
  SELECT doc_id AS src, doc_id - 1 AS dst FROM documents
  WHERE doc_id % 10 <> 0
  UNION ALL
  SELECT d.doc_id AS src, d.doc_id + 9 AS dst FROM documents d CROSS JOIN n
  WHERE d.doc_id % 10 = 0 AND (d.doc_id // 10) % 97 = 0
    AND d.doc_id + 9 < n.n
),
walk(doc_id, cur, hops) AS (
  SELECT doc_id, doc_id, 0 FROM documents
  UNION ALL
  SELECT w.doc_id, e.dst, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.cur
  WHERE w.hops < {REDIRECT_MAX_HOPS}
),
final AS (
  SELECT doc_id, cur, hops,
         row_number() OVER (PARTITION BY doc_id ORDER BY hops DESC) AS rn
  FROM walk
)
SELECT f.doc_id, f.cur AS final_id, CAST(f.hops AS BIGINT) AS hops,
       CASE WHEN e.src IS NULL THEN 1 ELSE 0 END AS resolved
FROM final f
LEFT JOIN (SELECT DISTINCT src FROM edges) e ON e.src = f.cur
WHERE f.rn = 1
"""


# bitext URL pairing: localized page slots per source site; slot count
# chosen so several languages share most slots at every SF
BITEXT_SLOTS = 40


def bitext_url_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ParaCrawl-style bitext candidates by URL-pattern matching: pages
    whose URLs differ only in the language marker
    (``site/<lang>/art/<slot>``) pair as translation candidates.

    One representative per (site, slot, lang) — min doc_id, the
    deterministic pick — then the English side equi-joins every other
    language on the slot key.

    Plan shape at 100 TB: one hash aggregate keyed by (site, slot,
    lang), then a single equi-join on (site, slot) — the en side is a
    per-slot dim (<= 1 row per slot), so AQE broadcasts it; no window,
    no skew (slot keys are uniform by construction of the URL space).
    """
    docs = _documents(spark, sf_dir)
    keyed = docs.select(
        F.col("source").alias("site"),
        (F.col("doc_id") % BITEXT_SLOTS).alias("slot"),
        "lang", "doc_id")
    rep = keyed.groupBy("site", "slot", "lang").agg(
        F.min("doc_id").alias("doc_id"))
    en = (rep.filter(F.col("lang") == "en")
          .select("site", "slot", F.col("doc_id").alias("en_doc_id")))
    xx = rep.filter(F.col("lang") != "en")
    return (xx.join(en, ["site", "slot"])
            .select("site", "slot", "en_doc_id",
                    F.col("doc_id").alias("xx_doc_id"),
                    F.col("lang").alias("xx_lang"),
                    F.concat(F.col("site"), F.lit("/"), F.col("lang"),
                             F.lit("/art/"), F.col("slot").cast("string"))
                    .alias("xx_url")))


BITEXT_URL_PAIRS_SQL = f"""
WITH rep AS (
  SELECT source AS site, doc_id % {BITEXT_SLOTS} AS slot, lang,
         min(doc_id) AS doc_id
  FROM documents GROUP BY source, doc_id % {BITEXT_SLOTS}, lang
)
SELECT x.site, x.slot, e.doc_id AS en_doc_id, x.doc_id AS xx_doc_id,
       x.lang AS xx_lang,
       x.site || '/' || x.lang || '/art/' || x.slot AS xx_url
FROM rep x
JOIN rep e ON e.site = x.site AND e.slot = x.slot AND e.lang = 'en'
WHERE x.lang <> 'en'
"""


def crawl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl diff: per-URL verdict between two crawl
    snapshots — added / removed / changed / unchanged.

    Snapshots are carved deterministically from the corpus on the
    ``doc_id DIV 20`` residue — the coordinate that VARIES within a
    host, PHASE-SHIFTED by the host residue: the carving key is
    ``doc_id DIV 20 + doc_id % 20`` (the corpus assigns source =
    doc_id % 20, so keying on doc_id % 4 directly would make every
    host all-in or all-out, and an unshifted DIV-20 key would give
    every host the IDENTICAL mix).  A drops key % 4 == 3, B drops
    == 1, and every key % 5 == 0 page's content changed in B.
    Identical in the oracle; downstream, change_rate_estimate
    aggregates these verdicts per domain, so domains must DIFFER.

    Plan shape at 100 TB: ONE full-outer equi-join on the URL key with
    both sides reduced to (key, domain, content_hash) FIRST — the
    fixed-width md5 crosses the shuffle instead of page bytes (a ~1000x
    shuffle-size cut), and content equality is a hash compare, never a
    byte compare.  The domain rides each side's narrow projection (a
    crawl diff keyed by url knows its host for free), so downstream
    per-domain consumers (change_rate_estimate) aggregate WITHOUT a
    second corpus-sized join.  This is the nightly CommonCrawl-delta
    plan: co-partitioned join, narrow projections, no window, no skew
    (URL keys are unique).
    """
    docs = _documents(spark, sf_dir)
    gen = F.expr("doc_id DIV 20 + doc_id % 20")
    dom = F.concat(F.col("source"), F.lit(".example.com"))
    a = (docs.filter(gen % 4 != 3)
         .select("doc_id", dom.alias("dom_a"),
                 F.md5("text").alias("h_a")))
    b = (docs.filter(gen % 4 != 1)
         .select("doc_id", dom.alias("dom_b"),
                 F.md5(F.when(gen % 5 == 0,
                              F.concat(F.col("text"), F.lit("|v2")))
                       .otherwise(F.col("text"))).alias("h_b")))
    j = a.join(b, "doc_id", "full_outer")
    status = (F.when(F.col("h_a").isNull(), F.lit("added"))
              .when(F.col("h_b").isNull(), F.lit("removed"))
              .when(F.col("h_a") == F.col("h_b"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return j.select("doc_id",
                    F.coalesce("dom_a", "dom_b").alias("domain"),
                    F.col("h_a").isNotNull().cast("int").alias("in_a"),
                    F.col("h_b").isNotNull().cast("int").alias("in_b"),
                    status.alias("status"))


CRAWL_SNAPSHOT_DIFF_SQL = """
WITH a AS (
  SELECT doc_id, source || '.example.com' AS dom_a, md5(text) AS h_a
  FROM documents
  WHERE (doc_id // 20 + doc_id % 20) % 4 <> 3
),
b AS (
  SELECT doc_id, source || '.example.com' AS dom_b,
         md5(CASE WHEN (doc_id // 20 + doc_id % 20) % 5 = 0
                  THEN text || '|v2' ELSE text END) AS h_b
  FROM documents WHERE (doc_id // 20 + doc_id % 20) % 4 <> 1
)
SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
       COALESCE(a.dom_a, b.dom_b) AS domain,
       CASE WHEN a.doc_id IS NULL THEN 0 ELSE 1 END AS in_a,
       CASE WHEN b.doc_id IS NULL THEN 0 ELSE 1 END AS in_b,
       CASE WHEN a.doc_id IS NULL THEN 'added'
            WHEN b.doc_id IS NULL THEN 'removed'
            WHEN a.h_a = b.h_b THEN 'unchanged'
            ELSE 'changed' END AS status
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
"""


# ---------------------------------------------------------------------------
# CCNet-style curation pipeline (dedup -> language -> perplexity band)
# ---------------------------------------------------------------------------

def ccnet_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet curation composed end to end (Wenzek et al., LREC 2020):
    exact dedup (first copy per md5(text) wins), language split, and a
    per-language LM-perplexity tercile cut with the tail band dropped.

    Composition, not re-derivation: the surprisal score is
    textstats.unigram_surprisal's integer-exact mean_centibits and the
    dedup decision is exact_dedup's min-doc_id-per-hash, exactly as
    ``training_mix_pipeline`` composes its stages.  CCNet buckets AFTER
    dedup, so the tercile window partitions on (lang, is_first_copy):
    duplicate rows keep their surprisal but can never shift a band
    boundary, and their bucket is pinned to 0 ('dup').

    Plan shape at 100 TB: one md5 hash-agg with map-side partials (the
    exact_dedup plan) + the surprisal plan (two hash aggs + a dim join)
    + ONE per-(lang, first-copy) window — per-shard sort, never global.
    At extreme scale the ntile window is replaced by broadcast tercile
    thresholds from a percentile sort-agg; ntile is the integer-exact
    form the oracle can hash-match (the perplexity_buckets note).
    """
    # NOTE: no spread() here — the composed unigram_surprisal already
    # spreads the token-heavy branch; this function's own branch is one
    # md5 hash-agg (the exact_dedup shape), for which the extra exchange
    # measured as a pure regression (r9)
    docs = _documents(spark, sf_dir)
    sur = textstats.unigram_surprisal(spark, sf_dir) \
        .select("doc_id", "mean_centibits")
    keyed = docs.select("doc_id", "lang", F.md5("text").alias("h"))
    keep_ids = keyed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    j = (keyed.join(keep_ids, "h")
         .withColumn("is_first_copy",
                     (F.col("doc_id") == F.col("keep_id")).cast("int"))
         .join(sur, "doc_id"))
    w = Window.partitionBy("lang", "is_first_copy") \
              .orderBy("mean_centibits", "doc_id")
    b = j.withColumn("t", F.ntile(3).over(w))
    bucket = F.when(F.col("is_first_copy") == 1, F.col("t")) \
              .otherwise(F.lit(0))
    band = (F.when(F.col("is_first_copy") == 0, F.lit("dup"))
            .when(F.col("t") == 1, F.lit("head"))
            .when(F.col("t") == 2, F.lit("middle"))
            .otherwise(F.lit("tail")))
    keep = ((F.col("is_first_copy") == 1) & (F.col("t") <= 2)).cast("int")
    return b.select("doc_id", "lang", "mean_centibits", "is_first_copy",
                    bucket.alias("bucket"), band.alias("band"),
                    keep.alias("keep"))


CCNET_PIPELINE_SQL = f"""
WITH sur AS ({textstats.UNIGRAM_SURPRISAL_SQL}),
keyed AS (
  SELECT d.doc_id, d.lang, md5(d.text) AS h FROM documents d
),
keep_ids AS (SELECT h, min(doc_id) AS keep_id FROM keyed GROUP BY h),
j AS (
  SELECT k.doc_id, k.lang,
         CASE WHEN k.doc_id = ki.keep_id THEN 1 ELSE 0 END AS is_first_copy,
         s.mean_centibits
  FROM keyed k
  JOIN keep_ids ki ON ki.h = k.h
  JOIN sur s ON s.doc_id = k.doc_id
),
b AS (
  SELECT doc_id, lang, mean_centibits, is_first_copy,
         CAST(ntile(3) OVER (PARTITION BY lang, is_first_copy
                             ORDER BY mean_centibits, doc_id) AS INTEGER)
           AS t
  FROM j
)
SELECT doc_id, lang, mean_centibits, is_first_copy,
       CASE WHEN is_first_copy = 1 THEN t ELSE 0 END AS bucket,
       CASE WHEN is_first_copy = 0 THEN 'dup'
            WHEN t = 1 THEN 'head' WHEN t = 2 THEN 'middle'
            ELSE 'tail' END AS band,
       CASE WHEN is_first_copy = 1 AND t <= 2 THEN 1 ELSE 0 END AS keep
FROM b
"""


# ---------------------------------------------------------------------------
# host-level template (boilerplate) line detection — the CCNet "onion" pass
# ---------------------------------------------------------------------------

# A crawl's per-host boilerplate (nav bars, subscribe banners, copyright
# footers) repeats VERBATIM across most pages of the host while real
# content does not; CCNet / RefinedWeb strip it by line-level document
# frequency within the host.  The driver's documents are single-line
# word streams, so the page's line structure is SYNTHESIZED
# DETERMINISTICALLY (identically in Spark and the oracle): a nav line on
# every page, a promo line on 75% of the host's pages, an ad line on
# 20% (clearly above / below the 50% cut), the body chunked into 8-word
# lines, and a footer line on every page.  The corpus assigns source =
# doc_id % 20, so the optional lines key on doc_id DIV 20 — the residue
# that VARIES within a host (keying on doc_id % 4 would be constant per
# host and make them all-or-nothing).  Detection downstream of the
# synthesis is generic: it never inverts the construction, it just
# computes per-(host, line) document frequency over whatever lines it's
# given.

TEMPLATE_DF_PCT = 50        # line is template when 100*df >= PCT*n_docs
TEMPLATE_MIN_HOST_DOCS = 2  # singleton hosts have no template evidence
TEMPLATE_BODY_WORDS = 8     # words per synthesized body line

_PAGE_LINES_SPARK = f"""
concat(
  filter(array(
    concat('nav: ', source, ' home about contact'),
    CASE WHEN (doc_id div 20) % 4 != 0
         THEN concat('promo: subscribe to ', source) END,
    CASE WHEN (doc_id div 20) % 5 = 0
         THEN concat('ad: special offer ', source) END),
    x -> x IS NOT NULL),
  transform(
    sequence(0, (size(split(text, ' ')) + {TEMPLATE_BODY_WORDS - 1})
                div {TEMPLATE_BODY_WORDS} - 1),
    i -> array_join(slice(split(text, ' '),
                          i * {TEMPLATE_BODY_WORDS} + 1,
                          {TEMPLATE_BODY_WORDS}), ' ')),
  array(concat('footer: (c) ', source, ' all rights reserved')))
"""


def host_template_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page template-line detection by within-host line document
    frequency: a line occurring verbatim in >= 50% of the host's pages
    (host must have >= 2 pages) is boilerplate; emit per page the line
    counts, the integer per-mille template ratio, and an md5 of the
    DETEMPLATED text so the oracle checks surviving content, not counts.

    Plan shape at 100 TB: line explode (narrow) -> distinct on
    (host, line, doc_id) (map-side partial distinct absorbs within-page
    repeats) -> ONE hash agg per (host, line) -> N:1 joins back on
    (host, line) and host -> per-page agg.  The c4_line_dedup plan with
    a host-scoped document-frequency threshold instead of a global
    first-occurrence min — no window, no self-join; the host dimension
    (n_docs) is tiny and broadcasts.
    """
    docs = spread(_documents(spark, sf_dir))
    pages = docs.select(
        "doc_id",
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.expr(_PAGE_LINES_SPARK).alias("ls"))
    lines = pages.select(
        "doc_id", "host", F.posexplode("ls").alias("idx", "line"))
    n_docs = pages.groupBy("host").agg(F.count("*").alias("n_docs"))
    dfreq = (lines.select("host", "line", "doc_id").distinct()
             .groupBy("host", "line").agg(F.count("*").alias("df")))
    flagged = (lines.join(dfreq, ["host", "line"])
               .join(F.broadcast(n_docs), "host")
               .withColumn(
                   "is_template",
                   ((F.col("df") * 100 >= F.col("n_docs")
                     * TEMPLATE_DF_PCT)
                    & (F.col("n_docs") >= TEMPLATE_MIN_HOST_DOCS))
                   .cast("int")))
    kept_struct = F.when(F.col("is_template") == 0,
                         F.struct("idx", "line"))
    return (flagged.groupBy("doc_id", "host")
            .agg(F.count("*").alias("n_lines"),
                 F.sum("is_template").alias("n_template_lines"),
                 F.md5(F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(kept_struct)),
                         lambda s: s["line"]),
                     "\n")).alias("clean_md5"))
            .select("doc_id", "host", "n_lines", "n_template_lines",
                    F.expr("CAST((n_template_lines * 1000) DIV n_lines"
                           " AS INT)").alias("template_permille"),
                    "clean_md5"))


HOST_TEMPLATE_RATIO_SQL = f"""
WITH pages AS (
  SELECT doc_id, source || '.example.com' AS host,
         list_concat(list_concat(
           list_filter([
             'nav: ' || source || ' home about contact',
             CASE WHEN (doc_id // 20) % 4 != 0
                  THEN 'promo: subscribe to ' || source END,
             CASE WHEN (doc_id // 20) % 5 = 0
                  THEN 'ad: special offer ' || source END
           ], x -> x IS NOT NULL),
           list_transform(
             range(0, (len(string_split(text, ' '))
                       + {TEMPLATE_BODY_WORDS - 1})
                      // {TEMPLATE_BODY_WORDS}),
             i -> array_to_string(
                    string_split(text, ' ')
                      [(i * {TEMPLATE_BODY_WORDS} + 1):
                       (i * {TEMPLATE_BODY_WORDS}
                        + {TEMPLATE_BODY_WORDS})], ' '))),
           ['footer: (c) ' || source || ' all rights reserved']) AS ls
  FROM documents
), lines AS (
  SELECT doc_id, host, i - 1 AS idx, ls[i] AS line
  FROM (SELECT doc_id, host, ls,
               unnest(generate_series(1, len(ls))) AS i FROM pages)
), n_docs AS (
  SELECT host, count(*) AS n_docs FROM pages GROUP BY host
), dfreq AS (
  SELECT host, line, count(*) AS df
  FROM (SELECT DISTINCT host, line, doc_id FROM lines)
  GROUP BY host, line
), flagged AS (
  SELECT l.doc_id, l.host, l.idx, l.line,
         CASE WHEN f.df * 100 >= n.n_docs * {TEMPLATE_DF_PCT}
                   AND n.n_docs >= {TEMPLATE_MIN_HOST_DOCS}
              THEN 1 ELSE 0 END AS is_template
  FROM lines l
  JOIN dfreq f ON f.host = l.host AND f.line = l.line
  JOIN n_docs n ON n.host = l.host
)
SELECT doc_id, host, count(*) AS n_lines,
       CAST(sum(is_template) AS BIGINT) AS n_template_lines,
       CAST((CAST(sum(is_template) AS BIGINT) * 1000) // count(*)
            AS INTEGER) AS template_permille,
       md5(COALESCE(string_agg(CASE WHEN is_template = 0 THEN line END,
                               chr(10) ORDER BY idx), ''))
         AS clean_md5
FROM flagged
GROUP BY doc_id, host
"""


# ---------------------------------------------------------------------------
# recrawl-rate estimation — the incremental crawl's scheduling signal
# ---------------------------------------------------------------------------

# Cho & Garcia-Molina (VLDB 2000): estimate each site's change rate from
# observed snapshot diffs and derive the revisit interval.  Composed
# over crawl_snapshot_diff's per-URL verdicts (the nightly-delta join),
# aggregated to the domain, with an integer-exact per-mille change rate
# and a clamped inverse-rate revisit interval — the knob
# fetch_scheduler/warc_revisit consume upstream.

RECRAWL_MAX_HOURS = 720   # revisit at least monthly
RECRAWL_MIN_HOURS = 12    # never more than twice a day
RECRAWL_BASE = 24_000     # 24h at a 1000-permille (always-changed) rate


def change_rate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain change-rate estimate and revisit interval from two
    crawl snapshots.

    Composition, not re-derivation: the input is crawl_snapshot_diff's
    output (ONE hash-reduced full-outer join, domain carried on each
    side's narrow projection); this op adds ONLY one per-domain hash
    agg — no second corpus-sized join anywhere, and the agg output is
    host-dim-sized at any corpus scale.
    """
    diff = crawl_snapshot_diff(spark, sf_dir)
    agg = (diff.groupBy("domain")
           .agg(F.count(F.when(F.col("status").isin("changed",
                                                    "unchanged"), 1))
                .alias("n_common"),
                F.count(F.when(F.col("status") == "changed", 1))
                .alias("n_changed"),
                F.count(F.when(F.col("status") == "added", 1))
                .alias("n_added"),
                F.count(F.when(F.col("status") == "removed", 1))
                .alias("n_removed")))
    return agg.select(
        "domain", "n_common", "n_changed", "n_added", "n_removed",
        F.expr("CAST((1000 * n_changed) DIV greatest(n_common, 1)"
               " AS INT)").alias("change_permille"),
        F.expr(f"CAST(least({RECRAWL_MAX_HOURS}, greatest("
               f"{RECRAWL_MIN_HOURS}, {RECRAWL_BASE} DIV greatest("
               "(1000 * n_changed) DIV greatest(n_common, 1), 1)))"
               " AS INT)").alias("recrawl_hours"))


CHANGE_RATE_ESTIMATE_SQL = f"""
WITH diff AS ({CRAWL_SNAPSHOT_DIFF_SQL}),
agg AS (
  SELECT domain,
         count(*) FILTER (WHERE status IN ('changed', 'unchanged'))
           AS n_common,
         count(*) FILTER (WHERE status = 'changed') AS n_changed,
         count(*) FILTER (WHERE status = 'added') AS n_added,
         count(*) FILTER (WHERE status = 'removed') AS n_removed
  FROM diff GROUP BY domain
)
SELECT domain, n_common, n_changed, n_added, n_removed,
       CAST((1000 * n_changed) // greatest(n_common, 1) AS INTEGER)
         AS change_permille,
       CAST(least({RECRAWL_MAX_HOURS}, greatest({RECRAWL_MIN_HOURS},
              {RECRAWL_BASE} // greatest(
                (1000 * n_changed) // greatest(n_common, 1), 1)))
            AS INTEGER) AS recrawl_hours
FROM agg
"""


# ---------------------------------------------------------------------------
# postings delta-gap accounting — the index-size estimator
# ---------------------------------------------------------------------------

# Inverted indexes store doc-id GAPS, not ids, varint-encoded (the
# standard d-gap + VByte scheme, Witten/Moffat/Bell "Managing
# Gigabytes"); the per-term gap distribution IS the index-size estimate
# and the compression-planning signal.  Integer-exact everywhere:
# varint bytes of a gap g >= 1 is (bit_length(g) + 6) // 7, and
# bit_length(g) = length(bin(g)) in both engines (the HLL rho trick).


def postings_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token d-gap statistics over the full posting list: df, the
    largest gap, the varint-encoded size, and the per-mille compression
    ratio vs fixed 8-byte ids.

    Plan shape at 100 TB: the inverted_index plan's window stage — the
    distinct (tok, doc_id) stream takes ONE lag window per token
    (sort-based, spill-able; a billion-posting stop word degrades to
    spilled sort time, never an OOM) followed by ONE hash agg per
    token.  The first posting's gap is taken against sentinel -1 so
    every gap is >= 1 and sum(gaps) = last_id + 1 (a self-check the
    oracle hashes).
    """
    docs = _documents(spark, sf_dir)
    toks = token_rows(docs).dropDuplicates(["tok", "doc_id"])
    w = Window.partitionBy("tok").orderBy("doc_id")
    gaps = toks.withColumn(
        "gap", F.col("doc_id") - F.coalesce(F.lag("doc_id").over(w),
                                            F.lit(-1)))
    agg = (gaps.groupBy("tok")
           .agg(F.count("*").alias("df"),
                F.max("gap").alias("max_gap"),
                F.sum("gap").alias("sum_gaps"),
                F.sum(F.expr("(length(bin(gap)) + 6) DIV 7"))
                .alias("varint_bytes")))
    return agg.select(
        "tok", "df", "max_gap",
        F.col("sum_gaps").cast("long").alias("sum_gaps"),
        F.col("varint_bytes").cast("long").alias("varint_bytes"),
        (F.col("df") * 8).alias("plain_bytes"),
        F.expr("CAST((1000 * varint_bytes) DIV (df * 8) AS INT)")
        .alias("ratio_permille"))


POSTINGS_GAP_STATS_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT d.doc_id,
               unnest(string_split_regex(trim(d.text, ' '), '\\s+')) AS tok
        FROM documents d)
  WHERE length(tok) > 0
),
gaps AS (
  SELECT tok,
         doc_id - COALESCE(lag(doc_id) OVER (PARTITION BY tok
                                             ORDER BY doc_id), -1) AS gap
  FROM toks
),
agg AS (
  SELECT tok, count(*) AS df, max(gap) AS max_gap,
         CAST(sum(gap) AS BIGINT) AS sum_gaps,
         CAST(sum((length(bin(gap)) + 6) // 7) AS BIGINT) AS varint_bytes
  FROM gaps GROUP BY tok
)
SELECT tok, df, max_gap, sum_gaps, varint_bytes,
       df * 8 AS plain_bytes,
       CAST((1000 * varint_bytes) // (df * 8) AS INTEGER) AS ratio_permille
FROM agg
"""
