"""Large-scale training-data-pipeline operators over the synthetic
``documents`` / ``embeddings`` tables.

Beyond the reference's own operators, these are the ops a 100 TB web-corpus
pipeline needs: deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard,
embedding-cosine), similarity search (brute-force + LSH-bucketed ANN), text
analysis (language-ID, quality scoring, token counting, fingerprinting), and
multimodal binary-column plumbing.

Every SQL-expressible op is written twice with *identical cross-engine
semantics*: a Spark DataFrame implementation and a DuckDB oracle.  The only
primitives used on both sides are md5 (identical hex), substr (1-based),
lexicographic string min, and integer arithmetic — no engine-specific hash
functions, so value-hash comparisons are exact.

Tokenization lives here and nowhere else.  A text's tokens come from
trimming its spaces and splitting it on runs of ``WS``, the class
``[\\t\\n\\f\\r ]``: RE2's ``\\s``, which the oracles' ``'\\s+'`` means.
Spark's Java ``\\s`` would also split on vertical tab (``\\x0B``), so the
Spark side never spells ``\\s``.  There are two rules:

* raw (:func:`split_tokens`): the split array as it falls, empty tokens
  kept — ``""`` and ``"\\t\\r\\n \\r\\n\\t"`` give ``['']`` and
  ``['', '']``.  Chunking, the MinHash shingles, containment and
  decontamination use it (oracle: ``string_split_regex`` unfiltered);
* filtered (:func:`tokens`, :func:`token_rows`): the same array with the
  empty tokens dropped (oracle: ``TOKEN_LIST_SQL``, ``TOKS_CTE_SQL``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

WS = r"[\t\n\f\r ]+"

# the oracle forms of the filtered rule: one (doc_id, tok) row per token,
# and one token list per document (``text`` in scope)
TOKS_CTE_SQL = """toks AS (
  SELECT doc_id, tok
  FROM (SELECT d.doc_id, unnest(string_split_regex(trim(d.text, ' '), '\\s+')) AS tok
        FROM documents d)
  WHERE length(tok) > 0
)"""

TOKEN_LIST_SQL = """list_filter(string_split_regex(trim(text, ' '), '\\s+'),
                     x -> length(x) > 0)"""


def _documents(spark, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def split_tokens(col="text"):
    """The raw rule: ``col`` trimmed of spaces, split on ``WS``."""
    return F.split(F.trim(col), WS)


def tokens(col="text"):
    """The filtered rule: :func:`split_tokens` without empty tokens."""
    return F.filter(split_tokens(col), lambda x: F.length(x) > 0)


def token_rows(docs, *cols):
    """One (doc_id, *cols, tok) row per filtered token of ``text``."""
    return (docs.select("doc_id", *cols,
                        F.explode(split_tokens()).alias("tok"))
            .filter(F.length("tok") > 0))


def ngrams(toks: str, n: int):
    """Every window of ``n`` consecutive tokens of the projected array
    column ``toks``, joined by single spaces; no window (an empty array)
    when the array is shorter than ``n``."""
    return F.expr(f"CASE WHEN size({toks}) >= {n} THEN"
                  f" transform(sequence(1, size({toks}) - {n - 1}),"
                  f" i -> array_join(slice({toks}, i, {n}), ' '))"
                  f" ELSE array() END")


def iterate(state, step, rounds, checkpoint=False, converged=None):
    """The one iteration driver: apply ``step`` to ``state`` for
    ``rounds`` rounds, or until ``converged(old, new)`` is true; return
    ``(state, rounds_run)``.  With ``checkpoint``, each state is
    ``localCheckpoint()``ed once, just before a later round or the test
    reads it, so a step that reads its state twice cannot grow a tree of
    2^rounds base plans; a fixed-round loop's last state is read by
    nothing here and joins the caller's plan unmaterialized."""
    def keep(df):
        return df.localCheckpoint() if checkpoint else df

    state = keep(state)
    for n in range(1, rounds + 1):
        new = step(state)
        if converged is None and n == rounds:
            return new, n
        new = keep(new)
        if converged is not None and converged(state, new):
            return new, n
        state = new
    return state, rounds


def spread(df):
    """Conditional round-robin repartition of a SMALL scan to the
    session's default parallelism (optimization guide §2.5, "input
    skew": one huge unsplittable file -> repartition immediately after
    the read).

    A few-MB parquet table is planned as ONE scan split (splits are
    sized by `spark.sql.files.maxPartitionBytes` BYTES, and a single
    row group cannot be subdivided), which silently serializes every
    downstream narrow stage — tokenize, explode, partial aggregation,
    Arrow kernels — onto one core of the cluster.  Measured at sf0.1:
    an 11 s single-core bigram explode drops to sub-second with the
    scan spread to 32 partitions.  At production scale the scan already
    has more splits than cores and this returns the input unchanged, so
    the exchange only exists in exactly the regime where it pays."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
