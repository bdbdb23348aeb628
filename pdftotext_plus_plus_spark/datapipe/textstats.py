"""Text-analysis operators: language-ID, quality scoring, token counting,
document fingerprinting — all JVM-side expressions (no Python UDFs), each
with an exactly-equivalent DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import (TOKEN_LIST_SQL, TOKS_CTE_SQL, _documents, ngrams, spread,
               token_rows, tokens)

# tiny n-gram-free heuristic: share of English stopword tokens
EN_STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
                "on", "for", "with", "as", "at", "by", "from", "that", "this")
STOPWORD_RATIO_EN = 0.05

FP_WINDOW = 16
FP_STRIDE = 8


def _sw_list_sql() -> str:
    return ", ".join("'%s'" % w for w in EN_STOPWORDS)


# ---------------------------------------------------------------------------
# language ID
# ---------------------------------------------------------------------------

def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-ratio language detector (en vs unknown).

    At 100 TB this is one narrow pass: explode -> partial agg, no joins.
    """
    toks = token_rows(_documents(spark, sf_dir))
    agg = (toks.groupBy("doc_id")
           .agg(F.count("*").alias("n_tok"),
                F.sum(F.col("tok").isin(*EN_STOPWORDS).cast("int"))
                .alias("n_sw")))
    return (agg.withColumn("sw_ratio", F.round(F.col("n_sw") / F.col("n_tok"), 6))
            .withColumn("pred_lang",
                        F.when(F.col("sw_ratio") >= STOPWORD_RATIO_EN,
                               F.lit("en")).otherwise(F.lit("unknown")))
            .select("doc_id", "n_tok", "n_sw", "sw_ratio", "pred_lang"))


LANG_ID_SQL = f"""
WITH {TOKS_CTE_SQL}, agg AS (
  SELECT doc_id, count(*) AS n_tok,
         CAST(sum(CASE WHEN tok IN ({_sw_list_sql()}) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_sw
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_tok, n_sw, round(n_sw / n_tok, 6) AS sw_ratio,
       CASE WHEN round(n_sw / n_tok, 6) >= {STOPWORD_RATIO_EN}
            THEN 'en' ELSE 'unknown' END AS pred_lang
FROM agg
"""


# ---------------------------------------------------------------------------
# quality scoring
# ---------------------------------------------------------------------------

def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / mean-word-length quality features with a
    composite keep/drop flag — the C4-style filter shape."""
    docs = _documents(spark, sf_dir)
    toks = token_rows(docs)
    tok_agg = (toks.groupBy("doc_id")
               .agg(F.count("*").alias("n_tok"),
                    F.sum(F.length("tok")).alias("tok_chars")))
    return (docs.join(tok_agg, "doc_id")
            .withColumn("n_chars_m", F.length("text"))
            .withColumn("n_punct",
                        F.length("text")
                        - F.length(F.regexp_replace("text", r"[.,;:!?]", "")))
            .withColumn("mean_tok_len",
                        F.round(F.col("tok_chars") / F.col("n_tok"), 6))
            .withColumn("punct_ratio",
                        F.round(F.col("n_punct") / F.col("n_chars_m"), 6))
            .withColumn("keep",
                        ((F.col("n_tok") >= 10)
                         & (F.col("mean_tok_len") >= 2.0)
                         & (F.col("mean_tok_len") <= 12.0)).cast("int"))
            .select("doc_id", "n_chars_m", "n_tok", "n_punct",
                    "mean_tok_len", "punct_ratio", "keep"))


QUALITY_SCORE_SQL = f"""
WITH {TOKS_CTE_SQL}, tok_agg AS (
  SELECT doc_id, count(*) AS n_tok, sum(length(tok)) AS tok_chars
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id,
       length(d.text) AS n_chars_m,
       a.n_tok,
       length(d.text) - length(regexp_replace(d.text, '[.,;:!?]', '', 'g')) AS n_punct,
       round(a.tok_chars / a.n_tok, 6) AS mean_tok_len,
       round((length(d.text) - length(regexp_replace(d.text, '[.,;:!?]', '', 'g')))
             / length(d.text), 6) AS punct_ratio,
       CASE WHEN a.n_tok >= 10
                 AND round(a.tok_chars / a.n_tok, 6) >= 2.0
                 AND round(a.tok_chars / a.n_tok, 6) <= 12.0
            THEN 1 ELSE 0 END AS keep
FROM documents d JOIN tok_agg a ON a.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------

def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (ceil(len/4) pieces per whitespace token, integer math)."""
    toks = token_rows(_documents(spark, sf_dir))
    return (toks.groupBy("doc_id")
            .agg(F.count("*").alias("n_ws_tokens"),
                 F.sum(F.floor((F.length("tok") + 3) / 4).cast("bigint"))
                 .alias("n_subwords")))


TOKEN_COUNTS_SQL = f"""
WITH {TOKS_CTE_SQL}
SELECT doc_id, count(*) AS n_ws_tokens,
       CAST(sum(CAST(floor((length(tok) + 3) / 4) AS BIGINT))
            AS BIGINT) AS n_subwords
FROM toks GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# document fingerprinting
# ---------------------------------------------------------------------------

def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: lexicographic min of md5 over 16-char
    windows at stride 8 (one representative hash per document)."""
    docs = spread(_documents(spark, sf_dir))
    return (docs
            .select("doc_id",
                    F.explode(F.expr(
                        f"transform(sequence(1, greatest(1, length(text) - {FP_WINDOW - 1}), {FP_STRIDE}),"
                        f" i -> md5(substr(text, i, {FP_WINDOW})))")).alias("h"))
            .groupBy("doc_id")
            .agg(F.min("h").alias("fingerprint")))


FINGERPRINT_SQL = f"""
SELECT doc_id, min(md5(substr(text, i, {FP_WINDOW}))) AS fingerprint
FROM (SELECT d.doc_id, d.text,
             unnest(generate_series(1, greatest(1, length(d.text) - {FP_WINDOW - 1}), {FP_STRIDE})) AS i
      FROM documents d)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# n-gram language ID (trigram profiles)
# ---------------------------------------------------------------------------

# tiny fixed trigram profiles (the classic n-gram-profile method, rank
# profiles reduced to integer membership scoring so an ANSI-SQL oracle can
# reproduce the computation exactly)
TRIGRAM_PROFILES = {
    "en": ["the", "and", "ing", "he ", " th", "er ", "hat", " an"],
    "de": ["der", "sch", "ein", "ich", "und", "die", "en ", "cht"],
    "fr": ["les", "des", "ent", "que", "ait", "ion", " le", "eur"],
    "es": ["que", "los", "ado", "ión", "nte", " la", "del", "est"],
}
LANG_MIN_HITS = 3


def _profile_rows():
    return [(lang, tri) for lang, tris in TRIGRAM_PROFILES.items()
            for tri in tris]


def lang_id_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-profile language ID: char trigrams joined against broadcast
    integer profiles, argmax score per doc (ties: lexicographically first
    language), 'unknown' below LANG_MIN_HITS.  One explode + broadcast-equi
    join + two narrow aggs — no UDF, no skew (profile keys are bounded)."""
    docs = _documents(spark, sf_dir)
    tris = (docs.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, greatest(1, length(text) - 2)),"
            " i -> substr(text, i, 3))")).alias("tri")))
    prof = spark.createDataFrame(_profile_rows(), "lang string, tri string")
    scores = (tris.join(F.broadcast(prof), "tri")
              .groupBy("doc_id", "lang")
              .agg(F.count("*").alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("lang"))
    best = (scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", "lang", "score"))
    return (docs.select("doc_id").join(best, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("score") >= LANG_MIN_HITS, F.col("lang"))
                .otherwise(F.lit("unknown")).alias("pred_lang"),
                F.coalesce("score", F.lit(0)).alias("score")))


def _profile_values_sql() -> str:
    return ",\n".join("('%s', '%s')" % (lang, tri)
                      for lang, tri in _profile_rows())


LANG_ID_TRIGRAM_SQL = f"""
WITH prof(lang, tri) AS (VALUES
{_profile_values_sql()}
), tris AS (
  SELECT doc_id, substr(text, i, 3) AS tri
  FROM (SELECT d.doc_id, d.text,
               unnest(generate_series(1, greatest(1, length(d.text) - 2))) AS i
        FROM documents d)
), scores AS (
  SELECT t.doc_id, p.lang, count(*) AS score
  FROM tris t JOIN prof p ON p.tri = t.tri
  GROUP BY t.doc_id, p.lang
), best AS (
  SELECT doc_id, lang, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, lang ASC) AS rn
  FROM scores
)
SELECT d.doc_id,
       CASE WHEN b.score >= {LANG_MIN_HITS} THEN b.lang
            ELSE 'unknown' END AS pred_lang,
       COALESCE(b.score, 0) AS score
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# repetition statistics (Gopher-style repetition filter)
# ---------------------------------------------------------------------------

# Gopher's quality rules drop documents whose most frequent word 2-gram
# covers too large a fraction of the text (Rae et al. 2021, "Scaling
# Language Models", table A1 uses 0.20 for the top-2-gram share).
REP_TOP_BIGRAM_SHARE = 0.20


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-bigram repetition metrics + a Gopher-style drop
    flag.

    Bigrams come from pure array expressions (``transform`` over the token
    array — no window function, no shuffle before the per-(doc, gram)
    partial agg); the per-doc top share is one ranking window bounded by
    document length.  At 100 TB this is explode -> two narrow aggs."""
    docs = _documents(spark, sf_dir)
    grams = (docs.select("doc_id", tokens().alias("toks"))
             .select("doc_id", F.explode(ngrams("toks", 2)).alias("gram")))
    counts = grams.groupBy("doc_id", "gram").agg(F.count("*").alias("n"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("gram"))
    per_doc = (counts
               .withColumn("rn", F.row_number().over(w))
               .groupBy("doc_id")
               .agg(F.sum("n").alias("n_bigrams"),
                    F.max(F.when(F.col("rn") == 1, F.col("gram")))
                    .alias("top_bigram"),
                    F.max(F.when(F.col("rn") == 1, F.col("n")))
                    .alias("top_n")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
                F.coalesce("top_bigram", F.lit("")).alias("top_bigram"),
                F.round(F.coalesce(F.col("top_n") / F.col("n_bigrams"),
                                   F.lit(0.0)), 6).alias("top_share"),
                (F.coalesce(F.col("top_n") / F.col("n_bigrams"), F.lit(0.0))
                 > REP_TOP_BIGRAM_SHARE).cast("int").alias("repetitive")))


REPETITION_STATS_SQL = f"""
WITH toked AS (
  SELECT doc_id,
         {TOKEN_LIST_SQL} AS toks
  FROM documents
), grams AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 1, 0))) AS i
        FROM toked)
), counts AS (
  SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY doc_id, gram
), ranked AS (
  SELECT doc_id, gram, n,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY n DESC, gram ASC) AS rn
  FROM counts
), per_doc AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         max(CASE WHEN rn = 1 THEN gram END) AS top_bigram,
         max(CASE WHEN rn = 1 THEN n END) AS top_n
  FROM ranked GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_bigrams, 0) AS n_bigrams,
       COALESCE(p.top_bigram, '') AS top_bigram,
       round(COALESCE(p.top_n / p.n_bigrams, 0.0), 6) AS top_share,
       CASE WHEN COALESCE(p.top_n / p.n_bigrams, 0.0)
                 > {REP_TOP_BIGRAM_SHARE} THEN 1 ELSE 0 END AS repetitive
FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


# ---------------------------------------------------------------------------
# vocabulary building (tokenizer-training prep)
# ---------------------------------------------------------------------------

VOCAB_TOP_N = 256


def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token vocabulary: the VOCAB_TOP_N most frequent tokens
    with term and document frequencies — the counting pass a tokenizer
    training run starts from.

    ``orderBy().limit()`` compiles to TakeOrderedAndProject: each partition
    keeps its local top-N and the driver merges N-sized heaps — no global
    sort materialization at 100 TB."""
    toks = token_rows(_documents(spark, sf_dir))
    return (toks.groupBy("tok")
            .agg(F.count("*").alias("tf"),
                 F.countDistinct("doc_id").alias("df"))
            .orderBy(F.desc("tf"), F.asc("tok"))
            .limit(VOCAB_TOP_N))


VOCAB_TOP_TOKENS_SQL = f"""
WITH {TOKS_CTE_SQL}
SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM toks GROUP BY tok
ORDER BY tf DESC, tok ASC
LIMIT {VOCAB_TOP_N}
"""


# ---------------------------------------------------------------------------
# tf-idf keyword extraction
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-k keywords by tf-idf with a LINEAR idf
    (tf * n_docs / df) so the score is a correctly-rounded IEEE expression
    on both engines (ln() is not correctly rounded across libms and could
    flip a rank at a rounding boundary).

    Plan shape at scale: explode -> (doc, tok) partial agg; token df is a
    second agg over that result; the df join back is N:1 per token (one df
    row per token), so Zipf-skewed tokens fan out but never blow up; the
    corpus doc count joins as a broadcast single-row frame (no driver
    action)."""
    docs = spread(_documents(spark, sf_dir))
    toks = token_rows(docs)
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(df, "tok")
              .crossJoin(F.broadcast(total))
              .withColumn("score",
                          F.round(F.col("tf") * F.col("n_docs") / F.col("df"),
                                  6)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TFIDF_TOP_K)
            .select("doc_id", "rank", "tok", "tf", "df", "score"))


TFIDF_KEYWORDS_SQL = f"""
WITH {TOKS_CTE_SQL}, tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
), df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), scored AS (
  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
         round(tf.tf * (SELECT count(*) FROM documents) / df.df, 6) AS score
  FROM tf JOIN df ON df.tok = tf.tok
), ranked AS (
  SELECT doc_id, tok, tf, df, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, tok ASC) AS rank
  FROM scored
)
SELECT doc_id, rank, tok, tf, df, score FROM ranked
WHERE rank <= {TFIDF_TOP_K}
"""


# ---------------------------------------------------------------------------
# per-source ranking (top-k documents per group)
# ---------------------------------------------------------------------------

SOURCE_TOP_K = 3


def per_source_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents per source by size — the per-group ranking shape
    (row_number over a partitioned window).  Group cardinality bounds the
    window state; the shuffle is one hash exchange on source."""
    docs = _documents(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"),
                                             F.asc("doc_id"))
    return (docs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= SOURCE_TOP_K)
            .select("source", "rank", "doc_id", "n_chars"))


PER_SOURCE_TOPK_SQL = f"""
SELECT source, rank, doc_id, n_chars
FROM (SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rank
      FROM documents)
WHERE rank <= {SOURCE_TOP_K}
"""


# ---------------------------------------------------------------------------
# domain mixing weights
# ---------------------------------------------------------------------------

def source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights for a UNIFORM target mixture: the
    multiplier each source's documents need so the sampled corpus hits the
    target share (the domain-reweighting step of a training-data pipeline;
    cf. The Pile's epoch weights).

    weight_s = target_share / corpus_share = (N / k) / n_s for k sources.
    At 100 TB this is one map-side-partial count agg (k rows) plus a
    broadcast of the single-row total — no wide shuffle."""
    docs = _documents(spark, sf_dir)
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    total = counts.agg(F.sum("n_docs").alias("n_total"),
                       F.count("*").alias("k"))
    return (counts.crossJoin(F.broadcast(total))
            .select("source", "n_docs",
                    F.round(F.col("n_docs") / F.col("n_total"), 6)
                    .alias("corpus_share"),
                    F.round(F.lit(1.0) / F.col("k"), 6).alias("target_share"),
                    F.round(F.col("n_total") / (F.col("k") * F.col("n_docs")),
                            6).alias("sample_weight")))


SOURCE_MIX_WEIGHTS_SQL = """
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY source
), total AS (
  SELECT sum(n_docs) AS n_total, count(*) AS k FROM counts
)
SELECT c.source, c.n_docs,
       round(c.n_docs / t.n_total, 6) AS corpus_share,
       round(1.0 / t.k, 6) AS target_share,
       round(t.n_total / (t.k * c.n_docs), 6) AS sample_weight
FROM counts c CROSS JOIN total t
"""


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# conservative patterns valid in both Java regex (Spark) and RE2 (DuckDB)
PII_EMAIL_RX = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RX = "\\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: count and replace email/phone matches with
    typed placeholders.  The synthetic corpus carries no contact strings,
    so deterministic PII is injected in-query (doc_id % 7 -> an email,
    doc_id % 11 -> a phone) — the same augmentation the SQL oracle
    computes, so the scrubber's hits are real and checkable.

    At 100 TB this is a single narrow projection (regexp count + replace
    per row, JVM-side, no shuffle at all)."""
    docs = _documents(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" user"), F.col("doc_id"),
                        F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.lit(" +1-555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(F.lit("")))
    scrubbed = F.regexp_replace(
        F.regexp_replace(aug, PII_EMAIL_RX, "<EMAIL>"),
        PII_PHONE_RX, "<PHONE>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RX), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_PHONE_RX), F.lit(0)))
        .alias("n_phones"),
        F.length(scrubbed).alias("scrubbed_len"),
        F.md5(scrubbed).alias("scrubbed_hash"))


PII_SCRUB_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         text
           || CASE WHEN doc_id % 7 = 0
                   THEN ' user' || doc_id || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
                                           4, '0')
                   ELSE '' END AS t
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(t, '{PII_EMAIL_RX}')) AS n_emails,
       len(regexp_extract_all(t, '{PII_PHONE_RX}')) AS n_phones,
       length(regexp_replace(regexp_replace(t, '{PII_EMAIL_RX}', '<EMAIL>',
                                            'g'),
                             '{PII_PHONE_RX}', '<PHONE>', 'g'))
         AS scrubbed_len,
       md5(regexp_replace(regexp_replace(t, '{PII_EMAIL_RX}', '<EMAIL>',
                                         'g'),
                          '{PII_PHONE_RX}', '<PHONE>', 'g'))
         AS scrubbed_hash
FROM aug
"""


# ---------------------------------------------------------------------------
# Gopher-style composite quality filter
# ---------------------------------------------------------------------------

GOPHER_MIN_TOKENS = 20
GOPHER_MAX_TOKENS = 100000
GOPHER_MIN_MEAN_LEN = 2
GOPHER_MAX_MEAN_LEN = 12
GOPHER_MIN_STOPWORD_HITS = 1


def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite document-level keep/drop verdict of Rae et al. 2021
    (table A1 subset expressible without duplicating repetition_stats):
    token-count window, mean-token-length window, minimum stopword hits.
    One narrow pass, no shuffle — the map-side gate a 100 TB ingest runs
    before any expensive stage."""
    docs = _documents(spark, sf_dir)
    # tokenize ONCE per row (projected column), then derive all three
    # metrics from it — Catalyst does not reliably CSE repeated split
    # expressions across separate Column trees
    toked = docs.select("doc_id", tokens().alias("toks"))
    d = toked.select(
        "doc_id",
        F.size("toks").alias("n_tok"),
        F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))")
        .alias("sum_len"),
        F.size(F.filter(F.col("toks"),
                        lambda t: t.isin(*EN_STOPWORDS)))
        .alias("stopword_hits"))
    mean_len = F.when(F.col("n_tok") > 0,
                      F.round(F.col("sum_len") / F.col("n_tok"), 6)) \
        .otherwise(F.lit(0.0))
    keep = ((F.col("n_tok") >= GOPHER_MIN_TOKENS)
            & (F.col("n_tok") <= GOPHER_MAX_TOKENS)
            & (mean_len >= GOPHER_MIN_MEAN_LEN)
            & (mean_len <= GOPHER_MAX_MEAN_LEN)
            & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS))
    return d.select("doc_id", "n_tok", mean_len.alias("mean_tok_len"),
                    "stopword_hits", keep.cast("int").alias("keep"))


GOPHER_QUALITY_FILTER_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {TOKEN_LIST_SQL} AS toks
  FROM documents
), m AS (
  SELECT doc_id, len(toks) AS n_tok,
         list_sum(list_transform(toks, x -> length(x))) AS sum_len,
         len(list_filter(toks, x -> x IN ({_sw_list_sql()}))) AS stopword_hits
  FROM t
)
SELECT doc_id, n_tok,
       CASE WHEN n_tok > 0 THEN round(sum_len / n_tok, 6)
            ELSE 0.0 END AS mean_tok_len,
       stopword_hits,
       CASE WHEN n_tok >= {GOPHER_MIN_TOKENS}
             AND n_tok <= {GOPHER_MAX_TOKENS}
             AND (CASE WHEN n_tok > 0 THEN round(sum_len / n_tok, 6)
                       ELSE 0.0 END) >= {GOPHER_MIN_MEAN_LEN}
             AND (CASE WHEN n_tok > 0 THEN round(sum_len / n_tok, 6)
                       ELSE 0.0 END) <= {GOPHER_MAX_MEAN_LEN}
             AND stopword_hits >= {GOPHER_MIN_STOPWORD_HITS}
            THEN 1 ELSE 0 END AS keep
FROM m
"""


# ---------------------------------------------------------------------------
# model-based quality classifier (fastText/DCLM-style linear scorer)
# ---------------------------------------------------------------------------

# The MODEL-SHAPED quality gate modern pipelines run after the rule
# gates: DCLM/FineWeb-Edu score every document with a trained linear
# classifier (fastText over token features / a regression head) and keep
# by threshold.  This implements exactly that scoring plan with FIXED
# integer weights over four integer document features (token count, mean
# token length in milli-chars, type-token ratio in ppm — the repetition
# signal — and stopword rate per mille); a trained model's weights slot
# into QC_W_* without changing any plan shape, the same
# substitute-weights honesty contract as kernel/roles_net.  Everything
# is integer arithmetic (// divisions), so the DuckDB oracle matches to
# the hash; the threshold is corpus-calibrated to keep ~65% (the DCLM
# paper keeps the top ~10-20% of a web crawl — on this already-clean
# synthetic corpus the spread is narrower).
#
# Plan shape at 100 TB: ONE hash aggregate keyed by doc_id over the
# token stream (count, sum-length, distinct-count, conditional count —
# all map-side partial except the distinct, which Spark plans as a
# two-phase partial-distinct agg), then a pure projection.  No joins,
# no window, no UDF.  Zero-token documents have no token rows and emit
# no score (they are un-scorable; the C4/Gopher gates already drop
# them).
QC_W_NTOK = 50          # length reward
QC_W_MLEN = 1           # mean token length (milli), // 2
QC_W_TTR = 1            # type-token ratio (ppm), // 500
QC_W_STOP = 20          # stopword rate (per mille)
QC_THRESHOLD = 6700     # keep iff logit > threshold (~65% of the fixture)


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document integer logit + keep verdict from the fixed-weight
    linear scorer."""
    docs = _documents(spark, sf_dir)
    toks = token_rows(docs)
    feats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        F.expr("div(sum(length(tok)) * 1000, count(*))").alias("mlen_milli"),
        F.expr("div(count(DISTINCT tok) * 1000000, count(*))")
        .alias("ttr_ppm"),
        F.expr("div(sum(CASE WHEN tok IN ({sw}) THEN 1 ELSE 0 END) * 1000,"
               " count(*))".format(sw=_sw_list_sql()))
        .alias("stop_pm"))
    logit = (F.lit(QC_W_NTOK) * F.col("n_tok")
             + F.expr("div(%d * mlen_milli, 2)" % QC_W_MLEN)
             + F.expr("div(%d * ttr_ppm, 500)" % QC_W_TTR)
             + F.lit(QC_W_STOP) * F.col("stop_pm"))
    return (feats
            .withColumn("logit", logit.cast("long"))
            .withColumn("keep",
                        (F.col("logit") > QC_THRESHOLD).cast("int"))
            .select("doc_id", "n_tok", "mlen_milli", "ttr_ppm", "stop_pm",
                    "logit", "keep"))


QUALITY_CLASSIFIER_SQL = f"""
WITH toks AS (
  SELECT doc_id, tok
  FROM (SELECT d.doc_id,
               unnest(string_split_regex(trim(d.text, ' '), '\\s+')) AS tok
        FROM documents d)
  WHERE length(tok) > 0
), feats AS (
  SELECT doc_id,
         count(*) AS n_tok,
         sum(length(tok)) * 1000 // count(*) AS mlen_milli,
         count(DISTINCT tok) * 1000000 // count(*) AS ttr_ppm,
         sum(CASE WHEN tok IN ({_sw_list_sql()}) THEN 1 ELSE 0 END) * 1000
           // count(*) AS stop_pm
  FROM toks GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_tok,
       CAST(mlen_milli AS BIGINT) AS mlen_milli,
       CAST(ttr_ppm AS BIGINT) AS ttr_ppm,
       CAST(stop_pm AS BIGINT) AS stop_pm,
       CAST({QC_W_NTOK} * n_tok + {QC_W_MLEN} * mlen_milli // 2
            + {QC_W_TTR} * ttr_ppm // 500 + {QC_W_STOP} * stop_pm
            AS BIGINT) AS logit,
       CASE WHEN {QC_W_NTOK} * n_tok + {QC_W_MLEN} * mlen_milli // 2
                 + {QC_W_TTR} * ttr_ppm // 500 + {QC_W_STOP} * stop_pm
                 > {QC_THRESHOLD}
            THEN 1 ELSE 0 END AS keep
FROM feats
"""


# ---------------------------------------------------------------------------
# unigram surprisal (train-free perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

# band thresholds are corpus-calibrated percentiles (as in CCNet, where
# the perplexity cutoffs are tuned per language/corpus): the synthetic
# corpus concentrates at ~5.0-5.5 bits/token, so the band splits it
SURPRISAL_KEEP_LO = 480   # below = boilerplate/repetitive
SURPRISAL_KEEP_HI = 530   # above = gibberish/OOV soup


def unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal, the train-free stand-in for
    the LM-perplexity quality filter of CCNet/Gopher-style pipelines:
    documents whose average token surprisal falls outside a band are
    dropped (too low = duplicated boilerplate, too high = gibberish).

    INTEGER-EXACT by construction so the DuckDB oracle matches to the
    hash: token surprisal = floor(log2(total_tokens // tf)) + 1 computed
    as the BIT LENGTH of the integer ratio (``length(bin(x))`` in Spark,
    ``length(printf('%b', x))`` in DuckDB — both exact), never a float
    log whose last-ulp libm differences could flip a rounding boundary.

    Plan shape at scale: one (tok) partial agg for tf, a single-row
    broadcast for the corpus total, an N:1 token-dim join back to the
    token stream, one (doc_id) partial agg — the tfidf plan minus the
    ranking window."""
    docs = spread(_documents(spark, sf_dir))
    toks = token_rows(docs)
    tf = toks.groupBy("tok").agg(F.count("*").alias("tf"))
    total = tf.agg(F.sum("tf").alias("total"))
    bits = (tf.crossJoin(F.broadcast(total))
            .withColumn("bits", F.length(F.bin(F.expr("div(total, tf)")))))
    per_doc = (toks.join(bits.select("tok", "bits"), "tok")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_tok"),
                    F.sum("bits").alias("sum_bits")))
    return (per_doc
            .withColumn("mean_centibits",
                        F.expr("div(sum_bits * 100, n_tok)"))
            .withColumn("keep", ((F.col("mean_centibits") >= SURPRISAL_KEEP_LO)
                                 & (F.col("mean_centibits") <= SURPRISAL_KEEP_HI))
                        .cast("int"))
            .select("doc_id", "n_tok", "sum_bits", "mean_centibits", "keep"))


UNIGRAM_SURPRISAL_SQL = f"""
WITH {TOKS_CTE_SQL}, tf AS (
  SELECT tok, count(*) AS tf FROM toks GROUP BY tok
), bits AS (
  SELECT tok, length(printf('%b',
         CAST((SELECT sum(tf) FROM tf) // tf AS BIGINT))) AS bits
  FROM tf
), per_doc AS (
  SELECT t.doc_id, count(*) AS n_tok, sum(b.bits) AS sum_bits
  FROM toks t JOIN bits b ON b.tok = t.tok
  GROUP BY t.doc_id
)
SELECT doc_id,
       n_tok,
       CAST(sum_bits AS BIGINT) AS sum_bits,
       CAST(sum_bits * 100 // n_tok AS BIGINT) AS mean_centibits,
       CASE WHEN sum_bits * 100 // n_tok BETWEEN {SURPRISAL_KEEP_LO}
                 AND {SURPRISAL_KEEP_HI}
            THEN 1 ELSE 0 END AS keep
FROM per_doc
"""


# ---------------------------------------------------------------------------
# bigram surprisal (conditional-LM perplexity proxy)
# ---------------------------------------------------------------------------

# The bigram extension of unigram_surprisal: token surprisal conditioned on
# the previous token, -log2 P(cur | prev) with P = c(prev,cur) / c(prev,*)
# counted over the corpus itself (train-free, like a CCNet perplexity
# filter whose LM is the corpus's own bigram table).  Same INTEGER-EXACT
# construction: surprisal bits = bit-length of c(prev,*) // c(prev,cur),
# so the DuckDB oracle matches to the hash with no float log anywhere.
# Band calibrated to the synthetic corpus like SURPRISAL_KEEP_*.
BIGRAM_KEEP_LO = 515
BIGRAM_KEEP_HI = 545


def bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal in integer centibits.

    Plan shape at scale: ONE narrow bigram projection feeds (a) the
    (prev, cur) hash agg and (b) the per-doc agg; the context count
    c(prev,*) is a second hash agg over the first's output (tiny — the
    distinct-bigram table), then two N:1 dim joins back onto the bigram
    stream — the unigram_surprisal plan with one extra bounded join.
    """
    docs = spread(_documents(spark, sf_dir))
    toked = docs.select("doc_id", tokens().alias("toks"))
    bigrams = (toked.filter(F.size("toks") >= 2)
               .select("doc_id",
                       F.explode(F.expr(
                           "transform(sequence(1, size(toks) - 1),"
                           " i -> struct(element_at(toks, i) AS prev,"
                           "             element_at(toks, i + 1) AS cur))"))
                       .alias("bg"))
               .select("doc_id", "bg.prev", "bg.cur"))
    c2 = bigrams.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    bits = (c2.join(c1, "prev")
            .withColumn("bits", F.length(F.bin(F.expr("div(c1, c2)"))))
            .select("prev", "cur", "bits"))
    per_doc = (bigrams.join(bits, ["prev", "cur"])
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_bigrams"),
                    F.sum("bits").alias("sum_bits")))
    return (per_doc
            .withColumn("mean_centibits",
                        F.expr("div(sum_bits * 100, n_bigrams)"))
            .withColumn("keep", ((F.col("mean_centibits") >= BIGRAM_KEEP_LO)
                                 & (F.col("mean_centibits") <= BIGRAM_KEEP_HI))
                        .cast("int"))
            .select("doc_id", "n_bigrams", "sum_bits", "mean_centibits",
                    "keep"))


BIGRAM_SURPRISAL_SQL = f"""
WITH toked AS (
  SELECT doc_id,
         {TOKEN_LIST_SQL} AS toks
  FROM documents
), bigrams AS (
  SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
  FROM (SELECT doc_id, toks,
               unnest(generate_series(1, len(toks) - 1)) AS i
        FROM toked WHERE len(toks) >= 2)
), c2 AS (
  SELECT prev, cur, count(*) AS c2 FROM bigrams GROUP BY prev, cur
), c1 AS (
  SELECT prev, sum(c2) AS c1 FROM c2 GROUP BY prev
), bits AS (
  SELECT c2.prev, c2.cur,
         length(printf('%b', CAST(c1.c1 // c2.c2 AS BIGINT))) AS bits
  FROM c2 JOIN c1 ON c1.prev = c2.prev
), per_doc AS (
  SELECT b.doc_id, count(*) AS n_bigrams, sum(t.bits) AS sum_bits
  FROM bigrams b JOIN bits t ON t.prev = b.prev AND t.cur = b.cur
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams,
       CAST(sum_bits AS BIGINT) AS sum_bits,
       CAST(sum_bits * 100 // n_bigrams AS BIGINT) AS mean_centibits,
       CASE WHEN sum_bits * 100 // n_bigrams BETWEEN {BIGRAM_KEEP_LO}
                 AND {BIGRAM_KEEP_HI}
            THEN 1 ELSE 0 END AS keep
FROM per_doc
"""


# ---------------------------------------------------------------------------
# C4-style line/document quality filter
# ---------------------------------------------------------------------------

# The line- and document-level heuristics of Raffel et al. 2020 (C4,
# section 2.2) expressible without a badwords list: keep only lines that
# end in a terminal punctuation mark AND have >= 5 words; drop any page
# with fewer than 3 retained lines, any page containing '{' (code), and
# any page containing the phrase 'lorem ipsum'.  The driver `documents`
# fixture has no line structure, so — like the htmlstrip corpus — a
# deterministic line-structured web-text corpus feeds the query; the
# DuckDB oracle receives the same RAW corpus as a VALUES table and
# re-derives every rule in SQL (a second implementation, not a golden).
C4_N_DOCS = 60
C4_MIN_WORDS_PER_LINE = 5
C4_MIN_KEPT_LINES = 3

_C4_WORDS = ["web", "page", "corpus", "crawl", "filter", "spark", "scale",
             "tokens", "data", "quality", "line", "text", "batch", "clean"]


def build_c4_corpus(n_docs: int = C4_N_DOCS, seed: int = 11):
    """Deterministic (url, text) pages with newline-separated lines of
    varying length/punctuation; ~8% get a '{' code line, ~8% a lorem-ipsum
    prefix, so every rule fires on some page and spares others."""
    import random

    rows = []
    for i in range(n_docs):
        rng = random.Random(seed * 9973 + i)
        lines = []
        for _ in range(rng.randint(1, 8)):
            words = [rng.choice(_C4_WORDS) for _ in range(rng.randint(2, 12))]
            line = " ".join(words)
            r = rng.random()
            if r < 0.55:
                line += "."
            elif r < 0.70:
                line += "!"
            elif r < 0.78:
                line += "?"
            lines.append(line)
        text = "\n".join(lines)
        if rng.random() < 0.08:
            text += "\nvar config = { key: 1 };"
        if rng.random() < 0.08:
            text = "Lorem ipsum dolor sit amet.\n" + text
        rows.append(("https://c4.test/doc-%04d" % i, text))
    return rows


def c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 rules as pure JVM higher-order functions — runs at scan speed.

    Plan shape at 100 TB: a single narrow map over (url, text), zero
    shuffles, zero UDFs — exactly the gate C4 runs over Common Crawl
    before any expensive stage.
    """
    df = spark.createDataFrame(build_c4_corpus(), "url string, text string")
    lines = F.split(F.col("text"), "\n")
    kept = F.filter(
        lines,
        lambda l: l.rlike("[.!?]$")
        & (F.size(tokens(l)) >= C4_MIN_WORDS_PER_LINE))
    d = df.select(
        "url", "text",
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        F.aggregate(kept, F.lit(0),
                    lambda acc, l: acc + F.size(tokens(l)))
        .alias("n_kept_words"))
    keep = ((F.col("n_kept_lines") >= C4_MIN_KEPT_LINES)
            & ~F.col("text").contains("{")
            & ~F.lower(F.col("text")).contains("lorem ipsum"))
    return d.select("url", "n_lines", "n_kept_lines", "n_kept_words",
                    keep.cast("int").alias("keep"))


def c4_quality_filter_oracle_sql() -> str:
    """VALUES table of the RAW corpus + full SQL re-derivation of the
    rules (newlines encoded as chr(10) concatenations)."""
    def lit(text):
        parts = text.split("\n")
        return " || chr(10) || ".join(
            "'%s'" % p.replace("'", "''") for p in parts)

    values = ",\n".join("('%s', %s)" % (url, lit(text))
                        for url, text in build_c4_corpus())
    return f"""
WITH raw(url, text) AS (VALUES
{values}
), lined AS (
  SELECT url, text,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
                     l -> regexp_matches(l, '[.!?]$')
                          AND len(list_filter(
                                string_split_regex(trim(l, ' '), '\\s+'),
                                w -> length(w) > 0)) >= {C4_MIN_WORDS_PER_LINE})
           AS kept
  FROM raw
)
SELECT url,
       len(lines) AS n_lines,
       len(kept) AS n_kept_lines,
       CAST(COALESCE(list_sum(list_transform(kept,
              l -> len(list_filter(string_split_regex(trim(l, ' '), '\\s+'),
                                   w -> length(w) > 0)))), 0) AS INTEGER)
         AS n_kept_words,
       CASE WHEN len(kept) >= {C4_MIN_KEPT_LINES}
             AND NOT contains(text, '{{')
             AND NOT contains(lower(text), 'lorem ipsum')
            THEN 1 ELSE 0 END AS keep
FROM lined
"""


# ---------------------------------------------------------------------------
# C4 cross-page span dedup (line-level, first occurrence wins)
# ---------------------------------------------------------------------------

# C4's other dedup stage (Raffel et al. 2020 §2.2): any span repeated
# verbatim across the corpus is kept ONCE, at its first occurrence, and
# removed everywhere else.  The span unit here is the line (the corpus's
# natural sentence unit); first occurrence = lexicographically smallest
# (url, line_idx), encoded as a fixed-width sort key so Spark and DuckDB
# agree bytewise.  Runs over the same deterministic line-structured
# corpus as c4_quality_filter.


def _c4_first_key():
    return F.concat(F.col("url"), F.lit("|"),
                    F.lpad(F.col("idx").cast("string"), 6, "0"))


def c4_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page line-dedup outcome: total lines, surviving lines, and an
    md5 of the surviving text (so the oracle checks CONTENT, not counts).

    Plan shape at 100 TB: line explode (narrow) -> ONE hash agg taking
    the min first-occurrence key per distinct line (map-side partials
    absorb the duplicate mass) -> N:1 join back on the line -> per-page
    agg.  The suffix-free exact-span dedup shape — no window, no
    self-join; the gram-frequency plan of duplicate_ngram_spans with
    min() instead of count().
    """
    df = spark.createDataFrame(build_c4_corpus(), "url string, text string")
    lines = df.select("url", F.posexplode(F.split("text", "\n"))
                      .alias("idx", "line"))
    first = (lines.select("line", _c4_first_key().alias("k"))
             .groupBy("line").agg(F.min("k").alias("first_k")))
    kept = (lines.join(first, "line")
            .filter(_c4_first_key() == F.col("first_k")))
    n_all = lines.groupBy("url").agg(F.count("*").alias("n_lines"))
    n_kept = (kept.groupBy("url")
              .agg(F.count("*").alias("n_kept_lines"),
                   F.md5(F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct("idx", "line"))),
                           lambda s: s["line"]),
                       "\n")).alias("kept_md5")))
    return (n_all.join(n_kept, "url", "left")
            .select("url", "n_lines",
                    F.coalesce("n_kept_lines", F.lit(0)).alias("n_kept_lines"),
                    F.coalesce("kept_md5", F.md5(F.lit(""))).alias("kept_md5")))


def c4_line_dedup_oracle_sql() -> str:
    """Raw VALUES corpus + SQL re-derivation: same fixed-width first-key,
    string_agg ordered by line index, md5 over the surviving text."""
    def lit(text):
        parts = text.split("\n")
        return " || chr(10) || ".join(
            "'%s'" % p.replace("'", "''") for p in parts)

    values = ",\n".join("('%s', %s)" % (url, lit(text))
                        for url, text in build_c4_corpus())
    return f"""
WITH raw(url, text) AS (VALUES
{values}
), ls AS (
  SELECT url, string_split(text, chr(10)) AS ls FROM raw
), lines AS (
  SELECT url, i - 1 AS idx, ls[i] AS line
  FROM (SELECT url, ls, unnest(generate_series(1, len(ls))) AS i FROM ls)
), keyed AS (
  SELECT url, idx, line,
         url || '|' || lpad(CAST(idx AS VARCHAR), 6, '0') AS k
  FROM lines
), first AS (
  SELECT line, min(k) AS first_k FROM keyed GROUP BY line
), kept AS (
  SELECT k.url, k.idx, k.line
  FROM keyed k JOIN first f ON f.line = k.line AND f.first_k = k.k
), n_all AS (
  SELECT url, count(*) AS n_lines FROM lines GROUP BY url
), n_kept AS (
  SELECT url, count(*) AS n_kept_lines,
         md5(string_agg(line, chr(10) ORDER BY idx)) AS kept_md5
  FROM kept GROUP BY url
)
SELECT a.url, a.n_lines,
       COALESCE(k.n_kept_lines, 0) AS n_kept_lines,
       COALESCE(k.kept_md5, md5('')) AS kept_md5
FROM n_all a LEFT JOIN n_kept k ON k.url = a.url
"""


# ---------------------------------------------------------------------------
# exact length percentiles — the corpus-profiling rollup
# ---------------------------------------------------------------------------

# Pipeline reports profile the document-length distribution per language
# (Gopher/FineWeb-style corpus cards).  Exact percentiles at 10^12 rows
# do NOT need a global sort: lengths live in a small value domain, so
# the scale-correct plan is a VALUE HISTOGRAM — one hash agg keyed on
# (lang, n_chars) whose output is value-domain-sized, then a cumulative
# window over that tiny dim.  Percentile definition: the smallest value
# whose cumulative count covers p% (lower quantile, integer-exact —
# ntile/float interpolation would differ across engines).


def length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact p10/p50/p90 (plus min/max/count) of document
    length via the histogram rollup.

    Plan shape at 100 TB: ONE map-side-combined hash agg on
    (lang, n_chars) — output rows = distinct lengths per language, a
    value-domain count independent of corpus size — then the cumulative
    window and the percentile picks run on that dim (thousands of rows
    at any scale).  No global sort, no per-document window, ever.
    """
    docs = _documents(spark, sf_dir)
    # NULL lengths carry no distribution information AND order
    # differently across engines (Spark windows sort NULLS FIRST,
    # DuckDB NULLS LAST — a latent cum-shift); drop them explicitly in
    # BOTH engines so the histogram domain is total and identical
    hist = (docs.filter(F.col("n_chars").isNotNull())
            .groupBy("lang", "n_chars").agg(F.count("*").alias("c")))
    w = (Window.partitionBy("lang").orderBy("n_chars")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = hist.withColumn("cum", F.sum("c").over(w))
    tot = hist.groupBy("lang").agg(F.sum("c").alias("total"))
    j = cum.join(F.broadcast(tot), "lang")
    pick = lambda num, den: F.min(  # noqa: E731 — local percentile pick
        F.when(F.col("cum") * den >= F.col("total") * num,
               F.col("n_chars")))
    return (j.groupBy("lang")
            .agg(F.max("total").alias("n_docs"),
                 F.min("n_chars").alias("len_min"),
                 pick(1, 10).alias("p10"),
                 pick(1, 2).alias("p50"),
                 pick(9, 10).alias("p90"),
                 F.max("n_chars").alias("len_max"))
            .select("lang",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    "len_min", "p10", "p50", "p90", "len_max"))


LENGTH_PERCENTILES_SQL = """
WITH hist AS (
  SELECT lang, n_chars, count(*) AS c
  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang, n_chars
),
cum AS (
  SELECT lang, n_chars, c,
         sum(c) OVER (PARTITION BY lang ORDER BY n_chars
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM hist
),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS total FROM hist
        GROUP BY lang)
SELECT c.lang,
       CAST(max(t.total) AS BIGINT) AS n_docs,
       min(c.n_chars) AS len_min,
       min(CASE WHEN c.cum * 10 >= t.total * 1 THEN c.n_chars END) AS p10,
       min(CASE WHEN c.cum * 2 >= t.total * 1 THEN c.n_chars END) AS p50,
       min(CASE WHEN c.cum * 10 >= t.total * 9 THEN c.n_chars END) AS p90,
       max(c.n_chars) AS len_max
FROM cum c JOIN tot t ON t.lang = c.lang
GROUP BY c.lang
"""
