"""Corpus sampling / mixing / packing operators for training-data prep.

The ops a web-scale LLM pipeline runs AFTER filtering and dedup decide
what actually enters training: stratified downsampling to a target
language mix, DSIR-style importance weighting toward a target domain
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling"), and GPT-style sequence packing of documents into
fixed-length context windows.  Every op is deterministic and
integer-exact so its DuckDB oracle matches to the value hash — the same
bit-length-of-integer-ratio construction as textstats.unigram_surprisal.

Reference parity note: the reference engine (pdftotext++) has no
sampling layer — these belong to the task addendum's training-data
surface, like datapipe/dedup.py and datapipe/textstats.py.
"""

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from . import _documents, spread, token_rows, tokens


# ---------------------------------------------------------------------------
# stratified downsampling to a balanced language mix
# ---------------------------------------------------------------------------

# Deterministic hash-threshold sampling: every document keeps or drops
# based on a 60-bit integer read from md5(doc_id), thresholded per
# language so each language's EXPECTED kept count equals the smallest
# language's count (the balanced mix).  The hash-threshold form is the
# scale-safe one — a per-stratum exact-m sample needs a rank window per
# stratum (skew magnet at 10^12 rows), while the threshold is a map-side
# gate fed by one tiny broadcast dim.  md5 (not a multiplicative int
# hash) because it is overflow-safe for ANY doc_id — a 64-bit product
# like doc_id * 2654435761 overflows int64 past doc_id ≈ 3.5e9, which
# under Spark 4 ANSI mode is a runtime ARITHMETIC_OVERFLOW at exactly
# the 10^12-doc design point — and because both engines expose the same
# bytes (Spark conv(substr(md5..)) == DuckDB ('0x'||substr(md5..)))::BIGINT.
SAMPLE_BASIS = 10000           # rates quantized to basis points
# 15 hex chars = 60 bits: fits BIGINT exactly on both engines
_SAMPLE_HASH_SPARK = ("pmod(conv(substring(md5(cast(doc_id AS string)), 1, 15),"
                      f" 16, 10), {SAMPLE_BASIS})")
_SAMPLE_HASH_DUCK = ("(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
                     f"::BIGINT % {SAMPLE_BASIS})")


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keep verdict balancing the corpus across languages.

    Plan shape at 100 TB: one k-row count agg (k = #languages), a
    broadcast N:1 join of the 5-row rate dim onto the fact, and a pure
    arithmetic gate — no shuffle of the documents themselves, no window.
    """
    docs = _documents(spark, sf_dir)
    counts = docs.groupBy("lang").agg(F.count("*").alias("n"))
    m = counts.agg(F.min("n").alias("m"))
    rates = (counts.crossJoin(F.broadcast(m))
             .select("lang",
                     F.expr(f"div({SAMPLE_BASIS} * m, n)").alias("rate_bp")))
    h = F.expr(_SAMPLE_HASH_SPARK)
    return (docs.join(F.broadcast(rates), "lang")
            .select("doc_id", "lang", "rate_bp",
                    (h < F.col("rate_bp")).cast("int").alias("keep")))


STRATIFIED_SAMPLE_SQL = f"""
WITH counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY lang
), rates AS (
  SELECT lang,
         CAST({SAMPLE_BASIS} * (SELECT min(n) FROM counts) // n AS BIGINT)
           AS rate_bp
  FROM counts
)
SELECT d.doc_id, d.lang, r.rate_bp,
       CASE WHEN {_SAMPLE_HASH_DUCK} < r.rate_bp
            THEN 1 ELSE 0 END AS keep
FROM documents d JOIN rates r ON r.lang = d.lang
"""


# ---------------------------------------------------------------------------
# DSIR-style importance weights toward a target domain
# ---------------------------------------------------------------------------

# Xie et al. 2023 weight each raw document by the log-likelihood ratio of
# its features under a target-domain LM vs the raw-corpus LM, then sample
# proportionally.  Here the feature LM is the corpus's own unigram table
# (hashed-ngram features reduce to this shape), the target domain is the
# English slice (lang = 'en'), and both LMs use add-one smoothing.  The
# per-token log ratio log2(p_t/p_r) is computed INTEGER-EXACTLY as the
# bit length of the integer ratio of the cross products
#   p = (c_t + 1) * (N_r + V),   q = (c_r + 1) * (N_t + V)
# (sign = which of p, q is larger), so the oracle hash-matches with no
# float log anywhere.
DSIR_TARGET_LANG = "en"


def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight in integer centibits.

    Plan shape at 100 TB: ONE token hash agg computes the raw count AND
    the target count (conditional sum — no second pass over the stream),
    a single-row broadcast carries the totals, an N:1 vocab-dim join puts
    per-token bits back on the stream, one per-doc partial agg.  The
    unigram_surprisal plan with a two-column dim.
    """
    docs = spread(_documents(spark, sf_dir))
    toks = token_rows(docs, "lang")
    cnt = (toks.groupBy("tok")
           .agg(F.count("*").alias("c_r"),
                F.sum((F.col("lang") == DSIR_TARGET_LANG).cast("long"))
                .alias("c_t")))
    tot = cnt.agg(F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t"),
                  F.count("*").alias("v"))
    p = F.expr("(c_t + 1) * (n_r + v)")
    q = F.expr("(c_r + 1) * (n_t + v)")
    bits = (cnt.crossJoin(F.broadcast(tot))
            .withColumn("bits",
                        F.when(p >= q, F.length(F.bin(F.expr(
                            "div((c_t + 1) * (n_r + v),"
                            "    (c_r + 1) * (n_t + v))"))))
                        .otherwise(-F.length(F.bin(F.expr(
                            "div((c_r + 1) * (n_t + v),"
                            "    (c_t + 1) * (n_r + v))")))))
            .select("tok", "bits"))
    per_doc = (toks.join(bits, "tok")
               .groupBy("doc_id", "lang")
               .agg(F.count("*").alias("n_tok"),
                    F.sum("bits").alias("sum_bits")))
    return (per_doc
            .withColumn("weight_centibits",
                        F.expr("div(sum_bits * 100, n_tok)"))
            .select("doc_id", "lang", "n_tok", "sum_bits",
                    "weight_centibits"))


DSIR_IMPORTANCE_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, tok
  FROM (SELECT d.doc_id, d.lang,
               unnest(string_split_regex(trim(d.text, ' '), '\\s+')) AS tok
        FROM documents d)
  WHERE length(tok) > 0
), cnt AS (
  SELECT tok, count(*) AS c_r,
         sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END) AS c_t
  FROM toks GROUP BY tok
), tot AS (
  SELECT sum(c_r) AS n_r, sum(c_t) AS n_t, count(*) AS v FROM cnt
), bits AS (
  SELECT tok,
         CASE WHEN (c_t + 1) * (n_r + v) >= (c_r + 1) * (n_t + v)
              THEN length(printf('%b', CAST((c_t + 1) * (n_r + v)
                         // ((c_r + 1) * (n_t + v)) AS BIGINT)))
              ELSE -length(printf('%b', CAST((c_r + 1) * (n_t + v)
                         // ((c_t + 1) * (n_r + v)) AS BIGINT)))
         END AS bits
  FROM cnt, tot
), per_doc AS (
  SELECT t.doc_id, t.lang, count(*) AS n_tok, sum(b.bits) AS sum_bits
  FROM toks t JOIN bits b ON b.tok = t.tok
  GROUP BY t.doc_id, t.lang
)
SELECT doc_id, lang, n_tok,
       CAST(sum_bits AS BIGINT) AS sum_bits,
       CAST(CASE WHEN sum_bits >= 0 THEN sum_bits * 100 // n_tok
                 ELSE -((-sum_bits) * 100 // n_tok)
                 END AS BIGINT) AS weight_centibits
FROM per_doc
"""


# ---------------------------------------------------------------------------
# sequence packing into fixed-length context windows
# ---------------------------------------------------------------------------

# GPT-style packing: documents are concatenated shard by shard and cut
# into CTX-token windows; each document's placement is fully determined
# by the running token total before it.  The shard here is the language
# (5 bounded partitions in the sandbox); at 10^12 documents the shard key
# is a hash bucket — the window is ALWAYS per-shard, never global, so no
# single task sees more than a shard's rows.
PACK_CTX = 256


def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document (shard, start_bin, start_offset, end_bin) placement.

    Plan shape at 100 TB: one narrow projection computes token counts,
    one running-sum window per shard (sort within shard only), pure
    arithmetic after that.  Nothing global, nothing quadratic.
    """
    docs = _documents(spark, sf_dir)
    n_tokens = F.size(tokens())
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    d = docs.select("doc_id", "lang", n_tokens.alias("n_tokens"))
    d = d.withColumn("cum_before",
                     F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return d.select(
        "doc_id", "lang", "n_tokens",
        F.expr(f"div(cum_before, {PACK_CTX})").alias("start_bin"),
        F.expr(f"cum_before % {PACK_CTX}").alias("start_offset"),
        F.when(F.col("n_tokens") == 0, F.expr(f"div(cum_before, {PACK_CTX})"))
        .otherwise(F.expr(f"div(cum_before + n_tokens - 1, {PACK_CTX})"))
        .alias("end_bin"))


SEQUENCE_PACKING_SQL = f"""
WITH d AS (
  SELECT doc_id, lang,
         len(list_filter(string_split_regex(trim(text, ' '), '\\s+'),
                         t -> length(t) > 0)) AS n_tokens
  FROM documents
), placed AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before
  FROM d
)
SELECT doc_id, lang, CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(cum_before // {PACK_CTX} AS BIGINT) AS start_bin,
       CAST(cum_before % {PACK_CTX} AS BIGINT) AS start_offset,
       CAST(CASE WHEN n_tokens = 0 THEN cum_before // {PACK_CTX}
                 ELSE (cum_before + n_tokens - 1) // {PACK_CTX}
            END AS BIGINT) AS end_bin
FROM placed
"""


# ---------------------------------------------------------------------------
# end-to-end training-mix pipeline (the flagship composition)
# ---------------------------------------------------------------------------

# What a user of this engine actually ships: the composed verdict of the
# pipeline's stages over every document — exact dedup (first copy wins),
# the Gopher quality gate, the surprisal band filter, and the stratified
# language-mix sample.  The Spark side literally composes the registered
# operators (no re-implementation); the oracle nests each operator's own
# SQL as a CTE, so the composition is checked end to end, not re-derived.

from . import dedup as _dedup          # noqa: E402  (section imports)
from . import textstats as _textstats  # noqa: E402


def training_mix_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document final keep verdict with per-stage breakdown.

    Plan shape at 100 TB: every stage is its own scale-safe plan (hash
    agg / map-side gate / broadcast dim); the composition adds only
    doc_id equi-joins, which AQE plans as broadcast or co-partitioned
    shuffles.  Stages run over the SAME scan thanks to Spark's plan
    reuse; nothing is recomputed per stage on the driver.
    """
    docs = _documents(spark, sf_dir)
    dd = (docs.select("doc_id", F.md5("text").alias("text_hash"))
          .join(_dedup.exact_dedup(spark, sf_dir), "text_hash")
          .select("doc_id",
                  (F.col("doc_id") == F.col("keep_id")).cast("int")
                  .alias("keep_dedup")))
    gop = (_textstats.gopher_quality_filter(spark, sf_dir)
           .select("doc_id", F.col("keep").alias("keep_quality")))
    sur = (_textstats.unigram_surprisal(spark, sf_dir)
           .select("doc_id", F.col("keep").alias("keep_surprisal")))
    samp = (stratified_sample(spark, sf_dir)
            .select("doc_id", F.col("keep").alias("keep_sample")))
    out = (docs.select("doc_id", "lang")
           .join(dd, "doc_id")
           .join(gop, "doc_id")
           .join(sur, "doc_id", "left")
           .join(samp, "doc_id")
           .withColumn("keep_surprisal",
                       F.coalesce("keep_surprisal", F.lit(0))))
    keep = ((F.col("keep_dedup") == 1) & (F.col("keep_quality") == 1)
            & (F.col("keep_surprisal") == 1) & (F.col("keep_sample") == 1))
    return out.select("doc_id", "lang", "keep_dedup", "keep_quality",
                      "keep_surprisal", "keep_sample",
                      keep.cast("int").alias("keep"))


def training_mix_sql() -> str:
    """Oracle = the component oracles nested verbatim as CTEs."""
    return f"""
WITH dd AS ({_dedup.EXACT_DEDUP_SQL}),
gop AS ({_textstats.GOPHER_QUALITY_FILTER_SQL}),
sur AS ({_textstats.UNIGRAM_SURPRISAL_SQL}),
samp AS ({STRATIFIED_SAMPLE_SQL})
SELECT d.doc_id, d.lang,
       CASE WHEN d.doc_id = k.keep_id THEN 1 ELSE 0 END AS keep_dedup,
       g.keep AS keep_quality,
       COALESCE(s.keep, 0) AS keep_surprisal,
       p.keep AS keep_sample,
       CASE WHEN d.doc_id = k.keep_id AND g.keep = 1
             AND COALESCE(s.keep, 0) = 1 AND p.keep = 1
            THEN 1 ELSE 0 END AS keep
FROM documents d
JOIN dd k ON k.text_hash = md5(d.text)
JOIN gop g ON g.doc_id = d.doc_id
LEFT JOIN sur s ON s.doc_id = d.doc_id
JOIN samp p ON p.doc_id = d.doc_id
"""


TRAINING_MIX_SQL = training_mix_sql()


# ---------------------------------------------------------------------------
# weighted sampling — the size-biased per-source sample
# ---------------------------------------------------------------------------

# Weighted sampling without replacement a la Efraimidis–Spirakis (A-ES,
# IPL 2006): each item draws a uniform key and the k best
# weight-adjusted keys win.  The float form ranks by u^(1/w); the
# integer-exact form used here runs the equivalent EXPONENTIAL RACE
# with arrival time r = h / w (h the 60-bit md5 integer, w the weight):
# heavier documents draw proportionally smaller arrival times, the k
# smallest r per source win, and every quantity stays in BIGINT so the
# verdict is bit-identical across engines (the md5 idiom of
# stratified_sample — overflow-safe at any doc_id).

WEIGHTED_SAMPLE_K = 5

_WS_HASH_SPARK = ("conv(substring(md5(cast(doc_id AS string)), 1, 15),"
                  " 16, 10)")
_WS_HASH_DUCK = ("('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))"
                 "::BIGINT")


def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K weighted sample per source: weight = greatest(n_chars, 1)
    (the floor keeps empty documents total — weight-0 items never win a
    real race, but the verdict must stay defined on them), arrival
    r = md5_60bit(doc_id) DIV weight, k smallest r win (ties to the
    smaller doc_id).

    Plan shape at 100 TB: pure map-side arithmetic (no dim, no join) +
    ONE row_number window per source that Catalyst plans as
    WindowGroupLimit — the partial top-K runs BEFORE the exchange, so
    each map task ships at most K rows per source (the bounded-shuffle
    top-K shape, never a per-source collect)."""
    docs = _documents(spark, sf_dir)
    scored = docs.select(
        "source", "doc_id",
        F.expr("greatest(n_chars, 1)").alias("weight"),
        F.expr(f"CAST({_WS_HASH_SPARK} AS BIGINT)"
               " DIV greatest(n_chars, 1)").alias("arrival"))
    w = Window.partitionBy("source").orderBy("arrival", "doc_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= WEIGHTED_SAMPLE_K)
            .select("source", "doc_id", "weight", "arrival",
                    F.col("rn").cast("int").alias("rn")))


WEIGHTED_SAMPLE_TOPK_SQL = f"""
WITH scored AS (
  SELECT source, doc_id, greatest(n_chars, 1) AS weight,
         {_WS_HASH_DUCK} // greatest(n_chars, 1) AS arrival
  FROM documents
),
ranked AS (
  SELECT source, doc_id, weight, arrival,
         CAST(row_number() OVER (PARTITION BY source
                                 ORDER BY arrival, doc_id) AS INTEGER)
           AS rn
  FROM scored
)
SELECT source, doc_id, weight, arrival, rn
FROM ranked WHERE rn <= {WEIGHTED_SAMPLE_K}
"""
