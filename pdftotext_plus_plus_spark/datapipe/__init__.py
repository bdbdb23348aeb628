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
"""

from __future__ import annotations


def _documents(spark, sf_dir: str):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


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
