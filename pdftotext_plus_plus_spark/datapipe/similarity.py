"""Similarity search over the ``embeddings`` table.

* brute-force cosine top-k — the exact baseline, JVM-side
  (``zip_with``/``aggregate``), broadcast of the (small) query side;
* LSH-bucketed ANN — the scale path: random-hyperplane signs bucket the
  vectors; candidates come from the query's bucket only, so the join is
  bucket-equi instead of a cross join.  At 10^12 rows you probe multiple
  bucket permutations; here one table is built and recall is tested against
  the brute-force baseline.

Every ANN query ends in the same exact re-rank (:func:`_exact_top_k`, and
its SQL mirror ``_TOP_K_TAIL``); they differ only in how candidates are
generated.  The quantizer kernels share one cosine step (:func:`_cosine_np`).
"""

from __future__ import annotations

import hashlib
import math
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import spread

TOP_K = 10
N_QUERIES = 5
N_PLANES = 4

# multiprobe parameters (ann_lsh_multiprobe_topk): T hash tables of P
# random hyperplanes each, probing all buckets within Hamming distance
# MP_PROBE_HAMMING of the query's bucket.  Candidates per table scale as
# N * sum(C(P,h) for h<=probes) / 2^P — P grows with log N, so the
# candidate fraction SHRINKS at scale; at the fixture's N=500 these values
# give recall@10 ~0.94 at ~52% candidates (test_ann_multiprobe_recall).
MP_TABLES = 12
MP_PLANES = 10
MP_PROBE_HAMMING = 2


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def _with_norm(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "norm",
        F.sqrt(F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x)))


def _queries(emb: DataFrame, *extra) -> DataFrame:
    """The query side of every ANN plan: (query_id, q_emb, q_norm, *extra)
    for the first N_QUERIES vectors of a :func:`_with_norm` frame."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"), *extra)


def _round4_half_up_col(x):
    """:func:`_round4_half_up` as a Column expression, so Spark rounds as
    the kernels and the DuckDB oracles do.  NaN stays NaN (Spark's
    ``floor(NaN)`` is 0)."""
    half_up = F.when(x >= 0, F.floor(x * 1e4 + 0.5)) \
        .otherwise(-F.floor(-x * 1e4 + 0.5))
    return F.when(F.isnan(x), x).otherwise(half_up / 1e4)


def _with_cosine(df: DataFrame, a: str, b: str, norm_a: str,
                 norm_b: str) -> DataFrame:
    """Adds ``cosine`` = round(dot(a, b) / (norm_a * norm_b), 4) over two
    array columns — the oracles' ``round(d.dot / (.. * ..), 4)``.  The raw
    quotient is its own projection, so the rounding's several references
    do not re-run the dot product."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return (df.withColumn("cosine", dot / (F.col(norm_a) * F.col(norm_b)))
            .withColumn("cosine", _round4_half_up_col(F.col("cosine"))))


def _exact_top_k(pairs: DataFrame) -> DataFrame:
    """The exact re-rank every ANN query ends in.  ``pairs`` holds a
    candidate's (vec_id, embedding, norm) beside its query's (query_id,
    q_emb, q_norm); each query keeps its TOP_K by (rounded cosine desc,
    vec_id asc), so the result set is deterministic across engines."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (_with_cosine(pairs, "embedding", "q_emb", "norm", "q_norm")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "rank", "vec_id", "cosine"))


# Oracle fragments shared word for word by the DuckDB oracles below.
# `elems`: one row per (vector, element index); dots and norms sum over it.
_ELEMS_CTE = """elems AS (
  SELECT vec_id, i, embedding[i]::DOUBLE AS x
  FROM (SELECT e.vec_id, e.embedding,
               unnest(generate_series(1, len(e.embedding))) AS i
        FROM embeddings e)
)"""

# the SQL mirror of _exact_top_k: `dots` (query_id, vec_id, dot) ->
# (query_id, rank, vec_id, cosine)
_TOP_K_TAIL = f"""scored AS (
  SELECT d.query_id, d.vec_id, round(d.dot / (nq.norm * ne.norm), 4) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms ne ON ne.vec_id = d.vec_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {TOP_K}
"""


def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for the first N_QUERIES vectors: every vector is
    a candidate; the query side is tiny -> broadcast join."""
    emb = _with_norm(_embeddings(spark, sf_dir))
    return _exact_top_k(emb.join(F.broadcast(_queries(emb)),
                                 F.col("vec_id") != F.col("query_id")))


ANN_BRUTEFORCE_SQL = f"""
WITH {_ELEMS_CTE}, norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS norm FROM elems GROUP BY vec_id
), dots AS (
  SELECT q.vec_id AS query_id, e.vec_id, sum(q.x * e.x) AS dot
  FROM elems q JOIN elems e ON q.i = e.i AND q.vec_id < {N_QUERIES}
       AND e.vec_id != q.vec_id
  GROUP BY q.vec_id, e.vec_id
), scored AS (
  SELECT d.query_id, d.vec_id,
         round(d.dot / (nq.norm * ne.norm), 4) AS cosine
  FROM dots d
  JOIN norms nq ON nq.vec_id = d.query_id
  JOIN norms ne ON ne.vec_id = d.vec_id
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, rank, vec_id, cosine FROM ranked WHERE rank <= {TOP_K}
"""


def _hyperplane_sign_expr(plane: int):
    """Sign of dot(embedding, r_plane) where r_plane[i] is a deterministic
    pseudo-random integer weight in [-1000, 1000] derived from md5(plane:i)
    — integer arithmetic up to the final dot product, so the identical
    weights are computable in ANSI SQL (the DuckDB oracle).
    """
    return (
        "aggregate(zip_with(embedding,"
        f" transform(sequence(1, size(embedding)),"
        f"   i -> cast(cast(conv(substr(md5(concat('{plane}', ':', i)), 1, 6), 16, 10) as bigint) % 2001 - 1000 as double)),"
        "  (x, r) -> cast(x as double) * r), cast(0.0 as double), (acc, x) -> acc + x)"
    )


def lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N_PLANES-bit random-hyperplane signature per vector."""
    emb = _embeddings(spark, sf_dir)
    sig = F.lit(0).cast("bigint")
    for p in range(N_PLANES):
        bit = (F.expr(_hyperplane_sign_expr(p)) > 0).cast("bigint")
        sig = sig + F.shiftleft(bit, p)
    return emb.select("vec_id", sig.alias("bucket"))


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: candidates restricted to the query's LSH bucket, then exact
    cosine rank within candidates."""
    emb = (_with_norm(_embeddings(spark, sf_dir))
           .join(lsh_signatures(spark, sf_dir), "vec_id"))
    queries = _queries(emb, F.col("bucket").alias("q_bucket"))
    return _exact_top_k(emb.join(F.broadcast(queries),
                                 (F.col("bucket") == F.col("q_bucket"))
                                 & (F.col("vec_id") != F.col("query_id"))))


ANN_LSH_SQL = f"""
WITH {_ELEMS_CTE}, planes AS (
  SELECT p.plane, i.i,
         (('0x' || substr(md5(p.plane::VARCHAR || ':' || i.i::VARCHAR), 1, 6))::BIGINT
          % 2001 - 1000)::DOUBLE AS r
  FROM generate_series(0, {N_PLANES - 1}) p(plane),
       (SELECT DISTINCT i FROM elems) i(i)  -- dim derived from data
), signs AS (
  SELECT e.vec_id, p.plane,
         CASE WHEN sum(e.x * p.r) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM elems e JOIN planes p ON p.i = e.i
  GROUP BY e.vec_id, p.plane
), sig AS (
  SELECT vec_id, sum(bit << plane) AS bucket FROM signs GROUP BY vec_id
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS norm FROM elems GROUP BY vec_id
), dots AS (
  SELECT q.vec_id AS query_id, e.vec_id, sum(qe.x * ee.x) AS dot
  FROM sig q
  JOIN sig e ON e.bucket = q.bucket AND e.vec_id != q.vec_id
  JOIN elems qe ON qe.vec_id = q.vec_id
  JOIN elems ee ON ee.vec_id = e.vec_id AND ee.i = qe.i
  WHERE q.vec_id < {N_QUERIES}
  GROUP BY q.vec_id, e.vec_id
), {_TOP_K_TAIL}"""


def _mp_planes(dim: int):
    """[T, P, dim] integer hyperplane weights, derived from
    md5("{table}:{plane}:{i}") — the same formula the DuckDB oracle
    computes in SQL, so both engines bucket identically."""
    planes = np.empty((MP_TABLES, MP_PLANES, dim), dtype=np.float64)
    for t in range(MP_TABLES):
        for p in range(MP_PLANES):
            for i in range(1, dim + 1):
                h = hashlib.md5(f"{t}:{p}:{i}".encode()).hexdigest()
                planes[t, p, i - 1] = int(h[:6], 16) % 2001 - 1000
    return planes


def _vector_batches(batches):
    """(pandas batch, [n, D] float64 embedding matrix) per non-empty Arrow
    batch — a zero-row batch's matrix would have no axis 1."""
    for pdf in batches:
        if not pdf.empty:
            yield pdf, np.array(list(pdf["embedding"]), dtype=np.float64)


def mp_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, table_id, bucket) across MP_TABLES hash tables — one
    vectorized Arrow pass (the per-batch numpy einsum replaces T*P nested
    JVM aggregates, which would bloat codegen at these widths)."""
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    state = {}

    def kernel(batches):
        for pdf, mat in _vector_batches(batches):
            if "planes" not in state:
                state["planes"] = _mp_planes(mat.shape[1])
            sig = (np.einsum("tpd,nd->tnp", state["planes"], mat) > 0)
            buckets = (sig.astype(np.int64)
                       << np.arange(MP_PLANES)).sum(axis=2)   # [T, n]
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            n = len(ids)
            yield pd.DataFrame({
                "vec_id": np.tile(ids, MP_TABLES),
                "table_id": np.repeat(np.arange(MP_TABLES, dtype=np.int64), n),
                "bucket": buckets.reshape(-1),
            })

    return emb.mapInPandas(
        kernel, "vec_id bigint, table_id bigint, bucket bigint")


def ann_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe multi-table ANN: candidates are the union over MP_TABLES
    hash tables of every bucket within Hamming distance MP_PROBE_HAMMING of
    the query's bucket, then exact cosine rank within candidates.

    The probe expansion is on the (tiny, broadcast) query side only; the
    corpus is hashed once per table.  At 10^12 rows the bucket join stays
    an equi-join on (table_id, bucket) with bounded per-bucket population.
    """
    sig = mp_signatures(spark, sf_dir)
    qsig = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "table_id",
        F.col("bucket").alias("q_bucket"))

    # Hamming <= MP_PROBE_HAMMING probe masks (1 + P + C(P,2) buckets)
    masks = [0]
    masks += [1 << b for b in range(MP_PLANES)]
    if MP_PROBE_HAMMING >= 2:
        masks += [(1 << a) | (1 << b)
                  for a, b in combinations(range(MP_PLANES), 2)]
    mask_df = spark.createDataFrame([(m,) for m in masks], "mask bigint")
    probes = (qsig.crossJoin(F.broadcast(mask_df))
              .select("query_id", "table_id",
                      F.col("q_bucket").bitwiseXOR(F.col("mask"))
                      .alias("bucket")))

    cand = (sig.join(F.broadcast(probes), ["table_id", "bucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id").distinct())

    emb = _with_norm(_embeddings(spark, sf_dir))
    return _exact_top_k(cand.join(emb, "vec_id")
                        .join(F.broadcast(_queries(emb)), "query_id"))


ANN_MULTIPROBE_SQL = f"""
WITH {_ELEMS_CTE}, planes AS (
  SELECT t.t AS table_id, p.plane, i.i,
         (('0x' || substr(md5(t.t::VARCHAR || ':' || p.plane::VARCHAR || ':'
                               || i.i::VARCHAR), 1, 6))::BIGINT
          % 2001 - 1000)::DOUBLE AS r
  FROM generate_series(0, {MP_TABLES - 1}) t(t),
       generate_series(0, {MP_PLANES - 1}) p(plane),
       (SELECT DISTINCT i FROM elems) i(i)  -- dim derived from data
), signs AS (
  SELECT e.vec_id, p.table_id, p.plane,
         CASE WHEN sum(e.x * p.r) > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
  FROM elems e JOIN planes p ON p.i = e.i
  GROUP BY e.vec_id, p.table_id, p.plane
), sig AS (
  SELECT vec_id, table_id,
         CAST(sum(bit << plane) AS BIGINT) AS bucket
  FROM signs GROUP BY vec_id, table_id
), masks AS (
  SELECT 0::BIGINT AS mask
  UNION ALL
  SELECT (1::BIGINT << b) FROM generate_series(0, {MP_PLANES - 1}) g(b)
  UNION ALL
  SELECT (1::BIGINT << a) | (1::BIGINT << b)
  FROM generate_series(0, {MP_PLANES - 1}) ga(a),
       generate_series(0, {MP_PLANES - 1}) gb(b)
  WHERE a < b
), probes AS (
  SELECT q.vec_id AS query_id, q.table_id, xor(q.bucket, m.mask) AS bucket
  FROM sig q, masks m WHERE q.vec_id < {N_QUERIES}
), cand AS (
  SELECT DISTINCT p.query_id, s.vec_id
  FROM probes p JOIN sig s
    ON s.table_id = p.table_id AND s.bucket = p.bucket
  WHERE s.vec_id != p.query_id
), norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS norm FROM elems GROUP BY vec_id
), dots AS (
  SELECT c.query_id, c.vec_id, sum(qe.x * ee.x) AS dot
  FROM cand c
  JOIN elems qe ON qe.vec_id = c.query_id
  JOIN elems ee ON ee.vec_id = c.vec_id AND ee.i = qe.i
  GROUP BY c.query_id, c.vec_id
), {_TOP_K_TAIL}"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the cluster-routed scale path
# ---------------------------------------------------------------------------

# Coarse quantizer: K = min(IVF_K_CAP, ceil(sqrt(N))) centroid seeds taken
# at a uniform stride ceil(N / K) over vec_id (deterministic, data-derived
# — no iterative training, so the identical quantizer is expressible in
# ANSI SQL).  K is DECOUPLED from N: with K ~ sqrt(N) the assignment stage
# is O(N * sqrt(N)) similarity rows and the centroid broadcast is
# sqrt(N)-sized (capped at IVF_K_CAP rows — at 10^12 vectors the broadcast
# is IVF_K_CAP rows, a few MB, and assignment is N * IVF_K_CAP, i.e.
# linear in N with a constant-bounded fan-out).  Each vector joins the
# inverted list of its nearest centroid; a query probes its IVF_NPROBE
# nearest lists and ranks exactly within them, scanning ~IVF_NPROBE/K of
# the corpus.  Beyond the cap, the standard extension is a two-level
# (hierarchical) quantizer: sqrt(K) super-lists routing to K lists, which
# keeps every broadcast and fan-out at most IVF_K_CAP while K itself grows
# — same bucket-equi plan shape, applied twice.
IVF_K_CAP = 4096
IVF_NPROBE = 3

# two-level quantizer (ann_ivf2_topk): number of SUPER lists probed per
# query before the fine-list probe (the level-1 analogue of IVF_NPROBE)
IVF2_NPROBE_SUPER = 2


def ivf_stride(n: int) -> int:
    """Centroid-seed stride for an n-vector corpus: vec_id % stride == 0
    marks a seed.  K = min(IVF_K_CAP, ceil(sqrt(n))); stride = ceil(n / K).
    Both ceils are IEEE-double computations so the DuckDB oracle's
    ceil(sqrt(...)) arithmetic reproduces them bit-for-bit."""
    if n <= 1:
        return 1
    k = min(IVF_K_CAP, int(math.ceil(math.sqrt(float(n)))))
    return max(1, int(math.ceil(n / float(k))))


def _round4_half_up(x):
    """Round to 4 decimals, ties away from zero, on the binary double
    ``x * 1e4`` — what DuckDB's ``round(v, 4)`` computes for doubles, so
    the kernels rank exactly as the oracles do.  Spark's ``F.round``
    differs on some four-decimal ties: it rounds the shortest decimal
    form of ``x`` half-up, so ``-0.81695`` is ``-0.817`` there but
    ``-0.8169`` here and in DuckDB (:func:`_round4_half_up_col` is the
    Spark form)."""
    return np.where(x >= 0, np.floor(x * 1e4 + 0.5),
                    -np.floor(-x * 1e4 + 0.5)) / 1e4


def _cosine_np(v, mat, mat_norm):
    """[n, K] rounded cosines of each row of ``v`` against each row of
    ``mat`` (row norms ``mat_norm``): the kernels' :func:`_with_cosine`.
    NaN (a zero norm) becomes +inf, the place the oracles sort NaN
    (greatest), so argmax and lexsort order it alike."""
    vn = np.sqrt((v * v).sum(axis=1))
    sims = _round4_half_up(v @ mat.T / (vn[:, None] * mat_norm[None, :]))
    return np.nan_to_num(sims, nan=np.inf)


def _collect_centroid_matrix(emb: DataFrame, stride: int):
    """(ids asc, matrix, norms) of the vectors at vec_id % stride == 0.

    The collect is BOUNDED BY CONSTRUCTION for ANY corpus size: centroid
    seeds are at most IVF_K_CAP rows (a few MB), codebook seeds ~PQ_CODES
    rows.  Collected once, the centroids ride a broadcast into the
    vectorized numpy assignment instead of an O(N*K) row fan-out."""
    rows = (emb.filter(F.col("vec_id") % stride == 0)
            .select("vec_id", "embedding").collect())
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    norm = np.sqrt((mat * mat).sum(axis=1))
    return ids, mat, norm


def _probe_frame(qids, list_ids, sims):
    """(query_id, cent_id) rows: each query's IVF_NPROBE best lists by
    (sim desc, list id asc).  A list whose sim is -inf is not probed."""
    q_out, c_out = [], []
    for r, qid in enumerate(qids):
        order = np.lexsort((list_ids, -sims[r]))[:IVF_NPROBE]
        order = order[sims[r, order] > -np.inf]
        q_out.extend([int(qid)] * len(order))
        c_out.extend(list_ids[order])
    return pd.DataFrame({"query_id": pd.Series(q_out, dtype="int64"),
                         "cent_id": pd.Series(c_out, dtype="int64")})


def _assign_and_probe(emb: DataFrame, assign_kernel, probe_kernel):
    """(assigned, probes): the per-vector list assignment (vec_id,
    cent_id) and the query side's probed lists (query_id, cent_id), each
    an Arrow-batched kernel over (vec_id, embedding)."""
    narrow = emb.select("vec_id", "embedding")
    return (narrow.mapInPandas(assign_kernel, "vec_id bigint, cent_id bigint"),
            narrow.filter(F.col("vec_id") < N_QUERIES)
            .mapInPandas(probe_kernel, "query_id bigint, cent_id bigint"))


def _ivf_assign_probes_np(spark: SparkSession, emb: DataFrame, stride: int):
    """(assigned, probes) of the single-level stride quantizer:
    sim = round4(dot / (norm*c_norm)), assignment = highest sim with ties
    to the smallest cent_id, probes = the query rows' IVF_NPROBE best
    lists by (sim desc, cent_id asc) — the ``csim`` window of the oracle.

    One [batch, K] matmul per Arrow batch, so the per-vector cost is a
    dense BLAS row — linear in N with a K-bounded constant, and the only
    shuffle left is the (tiny) probes-side exchange."""
    cid, cmat, cnorm = _collect_centroid_matrix(emb, stride)
    bc = spark.sparkContext.broadcast((cid, cmat, cnorm))

    def assign_kernel(batches):
        ids_c, C, cn = bc.value
        for pdf, v in _vector_batches(batches):
            j = _cosine_np(v, C, cn).argmax(axis=1)  # first max = smallest id
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64),
                "cent_id": ids_c[j]})

    def probe_kernel(batches):
        ids_c, C, cn = bc.value
        for pdf, v in _vector_batches(batches):
            yield _probe_frame(pdf["vec_id"], ids_c, _cosine_np(v, C, cn))

    return _assign_and_probe(emb, assign_kernel, probe_kernel)


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: vectorized centroid assignment (numpy matmul per
    Arrow batch against the IVF_K_CAP-bounded centroid matrix),
    bucket-equi candidate join on the inverted-list id, exact rescoring
    within probed lists.

    The centroid table is K = min(IVF_K_CAP, ceil(sqrt(N))) rows ->
    bounded at any corpus size; assignment is one [batch, K] BLAS matmul
    per Arrow batch (linear in N); the candidate join is equi on cent_id
    with list sizes ~N / K.  The driver-side ``count()`` sizing the
    quantizer is an O(1)-result scalar job and the centroid collect is
    IVF_K_CAP-bounded (see _collect_centroid_matrix)."""
    emb = _with_norm(_embeddings(spark, sf_dir))
    stride = ivf_stride(emb.count())
    assigned, probes = _ivf_assign_probes_np(spark, emb, stride)
    cands = (assigned.join(F.broadcast(probes), "cent_id")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id"))
    return _exact_top_k(cands.join(emb, "vec_id")
                        .join(F.broadcast(_queries(emb)), "query_id"))


# the single-level quantizer's vector-to-centroid sims, ranked per vector
# (`rn` = 1 is the assignment), shared by ANN_IVF_SQL and SEMDEDUP_PRUNE_SQL
_IVF_CSIM_CTES = """cdots AS (
  SELECT v.vec_id, c.vec_id AS cent_id, sum(v.x * c.x) AS dot
  FROM elems v JOIN elems c ON c.i = v.i
       AND c.vec_id % (SELECT s FROM stride) = 0
  GROUP BY v.vec_id, c.vec_id
), csim AS (
  SELECT d.vec_id, d.cent_id,
         round(d.dot / (nv.norm * nc.norm), 4) AS sim,
         row_number() OVER (PARTITION BY d.vec_id
                            ORDER BY round(d.dot / (nv.norm * nc.norm), 4)
                                     DESC, d.cent_id ASC) AS rn
  FROM cdots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms nc ON nc.vec_id = d.cent_id
)"""

# candidates = the probed lists' members, re-ranked exactly; shared by
# ANN_IVF_SQL and ANN_IVF2_SQL
_PROBED_TOP_K = f"""cands AS (
  SELECT p.query_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
  WHERE a.vec_id != p.query_id
), dots AS (
  SELECT c.query_id, c.vec_id, sum(qe.x * ee.x) AS dot
  FROM cands c
  JOIN elems qe ON qe.vec_id = c.query_id
  JOIN elems ee ON ee.vec_id = c.vec_id AND ee.i = qe.i
  GROUP BY c.query_id, c.vec_id
), {_TOP_K_TAIL}"""


ANN_IVF_SQL = f"""
WITH {_ELEMS_CTE}, norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS norm FROM elems GROUP BY vec_id
), stride AS (
  -- K = min(cap, ceil(sqrt(N))), stride = ceil(N / K): the same
  -- IEEE-double arithmetic as similarity.ivf_stride
  SELECT greatest(1, CAST(ceil(count(*) /
           least({IVF_K_CAP}, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)))
                                   AS BIGINT))::DOUBLE) AS BIGINT)) AS s
  FROM embeddings
), {_IVF_CSIM_CTES}, assigned AS (
  SELECT vec_id, cent_id FROM csim WHERE rn = 1
), probes AS (
  SELECT vec_id AS query_id, cent_id FROM csim
  WHERE vec_id < {N_QUERIES} AND rn <= {IVF_NPROBE}
), {_PROBED_TOP_K}"""


def ivf2_strides(n: int) -> tuple:
    """(fine_stride, super_stride) for the TWO-LEVEL quantizer.

    Level 2 (fine) is the single-level quantizer: K = min(IVF_K_CAP,
    ceil(sqrt(N))) lists seeded at stride s = ceil(N / K).  Level 1
    (super) takes K1 = ceil(sqrt(K)) super-lists seeded at stride
    S = s * ceil(K / K1) — super seeds are a sub-stride of the fine
    seeds, so both levels are closed-form functions of N and the DuckDB
    oracle reproduces them with the same IEEE-double ceil/sqrt math.

    Scale story: single-level assignment compares every vector against
    all K centroids (O(N*K)); two-level routes through K1 supers first
    and then only the ~K/K1 fine lists of the chosen super —
    O(N*(K1 + K/K1)) ~ O(N*2*sqrt(K)).  Every broadcast (supers = K1
    rows, routed fine table = K rows) stays below IVF_K_CAP, so beyond
    the cap K itself can grow as sqrt(N) while each level's fan-out and
    broadcast remain bounded — the hierarchical extension SCALE.md
    describes, as code.
    """
    if n <= 1:
        return 1, 1
    k = min(IVF_K_CAP, int(math.ceil(math.sqrt(float(n)))))
    s = max(1, int(math.ceil(n / float(k))))
    k1 = int(math.ceil(math.sqrt(float(k))))
    s2 = max(1, int(math.ceil(k / float(k1))))
    return s, s * s2


def _ivf2_assign_probes(emb: DataFrame, n: int):
    """The two-level quantizer core shared by ann_ivf2_topk (exact rescore
    within the probed lists) and ann_ivfpq_topk (PQ-coded fine scan
    within the same lists): returns (assigned, probes, bc) — the
    per-vector fine-list assignment, the query side's probed fine lists,
    and the broadcast (fine ids, matrix, norms, super ids, matrix, norms,
    super of each fine list) the kernels read.

    Both are Arrow-batched numpy kernels against the collected
    (IVF_K_CAP-bounded) fine-centroid matrix: vector -> best super ->
    best fine centroid routed to that super, round4 half-up sims, ties
    to the smallest id at both levels, fine->super routing computed once
    on the driver from the same matrices (the oracle's ``route``)."""
    s, big_s = ivf2_strides(n)
    fid, fmat, fnorm = _collect_centroid_matrix(emb, s)
    sup_mask = fid % big_s == 0
    sid, smat, snorm = fid[sup_mask], fmat[sup_mask], fnorm[sup_mask]
    # fine -> super routing (K x K1, driver-side): best super per fine
    # seed, ties to the smallest super_id
    super_of_fine = sid[_cosine_np(fmat, smat, snorm).argmax(axis=1)]
    bc = emb.sparkSession.sparkContext.broadcast(
        (fid, fmat, fnorm, sid, smat, snorm, super_of_fine))

    def assign_kernel(batches):
        for pdf, v in _vector_batches(batches):
            cent, valid = _ivf2_assign_matrix(v, bc.value)
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)[valid],
                "cent_id": cent[valid]})

    def probe_kernel(batches):
        # IVF_NPROBE fine lists among those routed to the query's
        # IVF2_NPROBE_SUPER best supers
        f_id, f_mat, f_norm, s_id, s_mat, s_norm, sof = bc.value
        for pdf, v in _vector_batches(batches):
            ssim = _cosine_np(v, s_mat, s_norm)
            qsim = _cosine_np(v, f_mat, f_norm)
            for r in range(len(v)):
                sup = s_id[np.lexsort((s_id, -ssim[r]))[:IVF2_NPROBE_SUPER]]
                qsim[r, ~np.isin(sof, sup)] = -np.inf
            yield _probe_frame(pdf["vec_id"], f_id, qsim)

    return (*_assign_and_probe(emb, assign_kernel, probe_kernel), bc)


def _ivf2_assign_matrix(v, bc_value):
    """Two-level assignment of an in-memory [n, D] matrix: returns
    (cent_ids int64, valid bool mask).  A vector goes to the best fine
    list routed to its best super; one whose super has NO routed fine
    list is invalid (dropped, as the oracle's inner join drops it)."""
    f_id, f_mat, f_norm, s_id, s_mat, s_norm, sof = bc_value
    best_super = s_id[_cosine_np(v, s_mat, s_norm).argmax(axis=1)]
    fsim = _cosine_np(v, f_mat, f_norm)
    fsim[sof[None, :] != best_super[:, None]] = -np.inf
    j = fsim.argmax(axis=1)
    valid = fsim[np.arange(len(j)), j] > -np.inf
    return f_id[j], valid


def _ivf2_residuals(v, bc_value):
    """(v - assigned fine centroid, valid mask) for an [n, D] matrix; the
    residuals cover the valid rows only."""
    cent, valid = _ivf2_assign_matrix(v, bc_value)
    f_id, f_mat = bc_value[0], bc_value[1]
    return v[valid] - f_mat[np.searchsorted(f_id, cent[valid])], valid


def ann_ivf2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (hierarchical) IVF ANN top-k.

    Plan shape, bottom-up:
      1. every vector picks its best of the K1 supers, then its best of
         the ~K/K1 fine centroids routed to that super (one Arrow kernel;
         see _ivf2_assign_probes);
      2. fine centroids route to supers on the driver (K*K1 sims, not
         N*K1);
      3. queries probe IVF2_NPROBE_SUPER super lists, then IVF_NPROBE
         fine lists within them (on the tiny query slice);
      4. candidates = probed fine lists, rescored exactly.
    """
    emb = _with_norm(_embeddings(spark, sf_dir))
    assigned, probes, _bc = _ivf2_assign_probes(emb, emb.count())
    cands = (probes.join(assigned, "cent_id")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "vec_id"))
    return _exact_top_k(cands.join(emb, "vec_id")
                        .join(F.broadcast(_queries(emb)), "query_id"))


# the two-level quantizer core CTEs (through `assigned` + `probes`),
# shared verbatim by ANN_IVF2_SQL and ANN_IVFPQ_SQL — the SQL mirror of
# _ivf2_assign_probes
_IVF2_CORE_CTES = f"""{_ELEMS_CTE}, norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS norm FROM elems GROUP BY vec_id
), params AS (
  -- the same IEEE-double arithmetic as similarity.ivf2_strides:
  -- k = min(cap, ceil(sqrt(n))), s = ceil(n/k),
  -- k1 = ceil(sqrt(k)), S = s * ceil(k/k1)
  SELECT s, s * greatest(1, CAST(ceil(k / CAST(ceil(sqrt(k::DOUBLE))
                                               AS BIGINT)::DOUBLE)
                                 AS BIGINT)) AS ss
  FROM (SELECT greatest(1, CAST(ceil(n / k::DOUBLE) AS BIGINT)) AS s, k
        FROM (SELECT count(*) AS n,
                     least({IVF_K_CAP},
                           CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)))
                                AS BIGINT)) AS k
              FROM embeddings))
), vs_dots AS (
  -- every vector against every super seed (super stride divides fine
  -- stride, so super seeds are a subset of fine seeds)
  SELECT v.vec_id, sp.vec_id AS super_id, sum(v.x * sp.x) AS dot
  FROM elems v JOIN elems sp
    ON sp.i = v.i AND sp.vec_id % (SELECT ss FROM params) = 0
  GROUP BY v.vec_id, sp.vec_id
), vs_sims AS (
  SELECT d.vec_id, d.super_id,
         round(d.dot / (nv.norm * ns.norm), 4) AS ssim,
         row_number() OVER (PARTITION BY d.vec_id
                            ORDER BY round(d.dot / (nv.norm * ns.norm), 4)
                                     DESC, d.super_id ASC) AS rn
  FROM vs_dots d
  JOIN norms nv ON nv.vec_id = d.vec_id
  JOIN norms ns ON ns.vec_id = d.super_id
), vsup AS (
  SELECT vec_id, super_id FROM vs_sims WHERE rn = 1
), route AS (
  -- fine centroids are vectors, so their routing is vsup restricted to
  -- the fine seeds
  SELECT vec_id AS cent_id, super_id FROM vsup
  WHERE vec_id % (SELECT s FROM params) = 0
), vf_dots AS (
  -- vector against the fine centroids of ITS super list only
  SELECT v.vec_id, r.cent_id, sum(ve.x * ce.x) AS dot
  FROM vsup v JOIN route r ON r.super_id = v.super_id
  JOIN elems ve ON ve.vec_id = v.vec_id
  JOIN elems ce ON ce.vec_id = r.cent_id AND ce.i = ve.i
  GROUP BY v.vec_id, r.cent_id
), assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT d.vec_id, d.cent_id,
           row_number() OVER (PARTITION BY d.vec_id
                              ORDER BY round(d.dot / (nv.norm * nc.norm), 4)
                                       DESC, d.cent_id ASC) AS rn
    FROM vf_dots d
    JOIN norms nv ON nv.vec_id = d.vec_id
    JOIN norms nc ON nc.vec_id = d.cent_id
  ) WHERE rn = 1
), qsuper AS (
  SELECT vec_id AS query_id, super_id FROM vs_sims
  WHERE vec_id < {N_QUERIES} AND rn <= {IVF2_NPROBE_SUPER}
), qf_dots AS (
  SELECT q.query_id, r.cent_id, sum(qe.x * ce.x) AS dot
  FROM qsuper q JOIN route r ON r.super_id = q.super_id
  JOIN elems qe ON qe.vec_id = q.query_id
  JOIN elems ce ON ce.vec_id = r.cent_id AND ce.i = qe.i
  GROUP BY q.query_id, r.cent_id
), probes AS (
  SELECT query_id, cent_id FROM (
    SELECT d.query_id, d.cent_id,
           row_number() OVER (PARTITION BY d.query_id
                              ORDER BY round(d.dot / (nq.norm * nc.norm), 4)
                                       DESC, d.cent_id ASC) AS rn
    FROM qf_dots d
    JOIN norms nq ON nq.vec_id = d.query_id
    JOIN norms nc ON nc.vec_id = d.cent_id
  ) WHERE rn <= {IVF_NPROBE}
)"""


ANN_IVF2_SQL = f"""
WITH {_IVF2_CORE_CTES}, {_PROBED_TOP_K}"""


# ---------------------------------------------------------------------------
# IVF-PQ (product-quantized residuals + ADC scan + exact re-rank)
# ---------------------------------------------------------------------------

# The design every 100-TB embedding store actually ships (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search"; FAISS IVFPQ): the
# coarse quantizer routes queries to inverted lists, and within a list
# the FINE scan reads PQ codes — PQ_M small integers per vector instead of
# D float64s — scored against a per-(query, list) asymmetric-distance
# lookup table (ADC).  Memory per vector drops from 8*D bytes to PQ_M
# bytes (64-dim float64 = 512 B -> 4 B here, a 128x scan-size reduction),
# which is what makes a 10^12-vector fine scan I/O-feasible.  The coarse
# stage here is the TWO-LEVEL quantizer (_ivf2_assign_probes) rather than
# the single-level one: single-level assignment is O(N*K) ~ N^1.5 (the
# measured ann_ivf 10x exponent is ~1.1), which would dominate exactly
# the regime PQ exists for — two-level keeps assignment O(N*2*sqrt(K))
# (ann_ivf2's measured exponent ~0.49), so the PQ path inherits the
# scale-correct routing.  The ADC shortlist is then re-ranked EXACTLY
# (true cosine over the shortlist vectors only), so the output contract
# stays "exact top-K within the probed lists" — identical to
# ann_ivf2_topk's, just computed through the compressed path.
#
# Everything is deterministic and closed-form so the DuckDB oracle
# reproduces it bit-for-bit (the ivf2_strides precedent): codebooks are
# NOT trained k-means — codeword c of subspace m is the residual
# subvector of the c-th codebook-seed vector (seeds at
# vec_id % (N // PQ_CODES) == 0, the PQ_CODES smallest), and every
# distance is round(.., 4) with ties to the smaller code / vec_id.
PQ_M = 4            # subspaces (D/PQ_M contiguous dims each)
PQ_CODES = 16       # codewords per subspace -> 4 bits/code, PQ_M*4=16 bits
# ADC shortlist size re-ranked exactly.  6.4x TOP_K: with the seeded
# (untrained) codebooks the ADC ranking is crude, and a 4x shortlist
# measurably dropped exact-top-K members (fixture overlap vs ann_ivf2
# 0.68 at 40); 64 recovers >=0.8 while the re-rank stays a
# constant-size-per-query join at any corpus scale.
PQ_SHORTLIST = 64


def pq_seed_stride(n: int) -> int:
    """Codebook-seed stride: ~PQ_CODES evenly-spaced ids; the PQ_CODES
    smallest qualifying ids become codewords 0..PQ_CODES-1."""
    return max(1, n // PQ_CODES)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-k: coarse IVF routing, PQ-coded residual fine scan
    via an ADC lookup table, exact re-rank of the shortlist.

    Plan shape, bottom-up:
      1. coarse assignment + query probes = ann_ivf2_topk's two-level
         core (_ivf2_assign_probes: bounded broadcasts at BOTH levels,
         O(N*2*sqrt(K)) assignment);
      2. residual r(v) = v - centroid(v), computed in the encoding kernel
         from the same broadcast;
      3. codebook = PQ_CODES seed residuals split into PQ_M subvectors
         (collected on the driver, ~PQ_CODES rows at any corpus size,
         broadcast); per-(vector, subspace) encoding argmin in the same
         Arrow kernel — O(N * PQ_M * PQ_CODES), embarrassingly parallel;
      4. ADC table: per (query, probed list, subspace, codeword) squared
         distance between the QUERY residual subvector and the codeword
         — N_QUERIES * IVF_NPROBE * PQ_M * PQ_CODES rows, broadcast;
      5. candidate scoring reads ONLY codes: cands join codes join ADC,
         summed per (query, vec) — the scan that at 10^12 rows streams
         bytes instead of vectors;
      6. the PQ_SHORTLIST best ADC rows per query are re-scored with the
         true cosine (a shortlist-sized join back to the vectors) and
         ranked; output schema matches the rest of the ANN ladder.
    """
    emb = _with_norm(_embeddings(spark, sf_dir))
    n = emb.count()
    assigned, probes, bc = _ivf2_assign_probes(emb, n)
    queries = _queries(emb)
    cents = (emb.filter(F.col("vec_id") % ivf2_strides(n)[0] == 0)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("embedding").alias("c_emb")))

    # Codebook, driver-side: codeword c is the residual of the c-th
    # ASSIGNED codebook seed (ascending vec_id, first PQ_CODES), under
    # the same assignment math as the kernels
    _, seed_mat, _ = _collect_centroid_matrix(emb, pq_seed_stride(n))
    seed_resid = _ivf2_residuals(seed_mat, bc.value)[0][:PQ_CODES]
    sublen = seed_mat.shape[1] // PQ_M
    # [PQ_CODES, PQ_M, sublen] codeword tensor; trailing dims of a
    # D % PQ_M != 0 vector are dropped
    cb = seed_resid[:, :PQ_M * sublen].reshape(-1, PQ_M, sublen)
    bc_cb = spark.sparkContext.broadcast(cb)

    # per-(vector, subspace) encoding: residual against the assigned
    # centroid, round4 squared distances, argmin = ties to the smaller code
    def codes_kernel(batches):
        codebook = bc_cb.value      # [C, M, L]
        for pdf, v in _vector_batches(batches):
            r, valid = _ivf2_residuals(v, bc.value)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)[valid]
            if not len(ids):
                continue
            r = r[:, :PQ_M * sublen].reshape(-1, PQ_M, sublen)
            # [b, M, C] squared distances
            d = _round4_half_up(
                ((r[:, :, None, :] - codebook.transpose(1, 0, 2)[None]) ** 2
                 ).sum(axis=3))
            code = d.argmin(axis=2)      # first min = smallest code
            b = len(ids)
            yield pd.DataFrame({
                "vec_id": np.repeat(ids, PQ_M),
                "m": np.tile(np.arange(PQ_M, dtype=np.int32), b),
                "code": code.reshape(-1).astype(np.int32)})

    codes = emb.select("vec_id", "embedding").mapInPandas(
        codes_kernel, "vec_id bigint, m int, code int")

    # codebook as a (PQ_M * PQ_CODES)-row DataFrame for the (tiny) ADC
    # subtree below
    codebook = spark.createDataFrame(
        [(c, m, [float(x) for x in cb[c, m]])
         for c in range(cb.shape[0]) for m in range(PQ_M)],
        "code int, m int, cw array<double>")

    sqdist = F.round(F.aggregate(
        F.zip_with("sub", "cw", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x), 4)

    # ADC lookup table: query residual vs every codeword, per probed list
    q_resid = (probes
               .join(F.broadcast(queries.select("query_id", "q_emb")),
                     "query_id")
               .join(F.broadcast(cents), "cent_id")
               .select("query_id", "cent_id",
                       F.zip_with("q_emb", "c_emb",
                                  lambda x, y: x.cast("double")
                                  - y.cast("double")).alias("r")))
    qr_sublen = F.expr("div(size(r), %d)" % PQ_M)
    q_subs = q_resid.select(
        "query_id", "cent_id",
        F.explode(F.array(*[
            F.struct(F.lit(m).alias("m"),
                     F.slice("r", F.lit(m) * qr_sublen + 1, qr_sublen)
                     .alias("sub"))
            for m in range(PQ_M)])).alias("e")
    ).select("query_id", "cent_id", "e.m", "e.sub")
    adc = (q_subs.join(F.broadcast(codebook), "m")
           .withColumn("qd", sqdist)
           .select("query_id", "cent_id", "m", "code", "qd"))

    # the compressed fine scan: candidates x their PQ_M codes x ADC rows
    cands = (probes.join(assigned, "cent_id")
             .filter(F.col("vec_id") != F.col("query_id"))
             .select("query_id", "cent_id", "vec_id"))
    approx = (cands.join(codes, "vec_id")
              .join(F.broadcast(adc), ["query_id", "cent_id", "m", "code"])
              .groupBy("query_id", "vec_id")
              .agg(F.round(F.sum("qd"), 4).alias("adc_dist")))
    w_short = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                                     F.asc("vec_id"))
    shortlist = (approx.withColumn("rn", F.row_number().over(w_short))
                 .filter(F.col("rn") <= PQ_SHORTLIST)
                 .select("query_id", "vec_id"))

    # exact re-rank of the shortlist only
    return _exact_top_k(shortlist.join(emb, "vec_id")
                        .join(F.broadcast(queries), "query_id"))


ANN_IVFPQ_SQL = f"""
WITH {_IVF2_CORE_CTES}, pqparams AS (
  -- integer-exact (similarity.pq_seed_stride, D // PQ_M); the coarse
  -- strides live in the shared two-level `params` CTE
  SELECT greatest(1, (SELECT count(*) FROM embeddings) // {PQ_CODES})
           AS cbs,
         (SELECT max(i) FROM elems) // {PQ_M} AS sublen
), relems AS (
  -- residual elements: vector minus its assigned centroid, aligned on i;
  -- m/j split the element index into (subspace, offset).  Trailing
  -- dims of a D % PQ_M != 0 vector are DROPPED (m < PQ_M), mirroring
  -- the Spark path's fixed-length slices exactly — without the filter
  -- they would form a phantom (PQ_M+1)-th subspace here only
  SELECT v.vec_id, a.cent_id,
         (v.i - 1) // (SELECT sublen FROM pqparams) AS m,
         (v.i - 1) % (SELECT sublen FROM pqparams) AS j,
         v.x - c.x AS x
  FROM elems v
  JOIN assigned a ON a.vec_id = v.vec_id
  JOIN elems c ON c.vec_id = a.cent_id AND c.i = v.i
  WHERE (v.i - 1) // (SELECT sublen FROM pqparams) < {PQ_M}
), seeds AS (
  SELECT vec_id, code FROM (
    SELECT vec_id,
           row_number() OVER (ORDER BY vec_id) - 1 AS code
    FROM embeddings WHERE vec_id % (SELECT cbs FROM pqparams) = 0
  ) WHERE code < {PQ_CODES}
), cwelems AS (
  SELECT s.code, r.m, r.j, r.x
  FROM seeds s JOIN relems r ON r.vec_id = s.vec_id
), codes AS (
  -- per-(vector, subspace) encoding argmin, ties to the smaller code
  SELECT vec_id, m, code FROM (
    SELECT d.vec_id, d.m, d.code,
           row_number() OVER (PARTITION BY d.vec_id, d.m
                              ORDER BY d.dist ASC, d.code ASC) AS rn
    FROM (SELECT r.vec_id, r.m, c.code,
                 round(sum((r.x - c.x) * (r.x - c.x)), 4) AS dist
          FROM relems r
          JOIN cwelems c ON c.m = r.m AND c.j = r.j
          GROUP BY r.vec_id, r.m, c.code) d
  ) WHERE rn = 1
), qrelems AS (
  -- QUERY residual vs each PROBED list's centroid (probes: the shared
  -- two-level core CTE); same trailing-dim drop as relems
  SELECT p.query_id, p.cent_id,
         (q.i - 1) // (SELECT sublen FROM pqparams) AS m,
         (q.i - 1) % (SELECT sublen FROM pqparams) AS j,
         q.x - c.x AS x
  FROM probes p
  JOIN elems q ON q.vec_id = p.query_id
  JOIN elems c ON c.vec_id = p.cent_id AND c.i = q.i
  WHERE (q.i - 1) // (SELECT sublen FROM pqparams) < {PQ_M}
), adc AS (
  SELECT r.query_id, r.cent_id, r.m, c.code,
         round(sum((r.x - c.x) * (r.x - c.x)), 4) AS qd
  FROM qrelems r
  JOIN cwelems c ON c.m = r.m AND c.j = r.j
  GROUP BY r.query_id, r.cent_id, r.m, c.code
), cands AS (
  SELECT p.query_id, p.cent_id, a.vec_id
  FROM probes p JOIN assigned a ON a.cent_id = p.cent_id
  WHERE a.vec_id != p.query_id
), approx AS (
  SELECT c.query_id, c.vec_id, round(sum(t.qd), 4) AS adc_dist
  FROM cands c
  JOIN codes k ON k.vec_id = c.vec_id
  JOIN adc t ON t.query_id = c.query_id AND t.cent_id = c.cent_id
            AND t.m = k.m AND t.code = k.code
  GROUP BY c.query_id, c.vec_id
), shortlist AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY adc_dist ASC, vec_id ASC) AS rn
    FROM approx
  ) WHERE rn <= {PQ_SHORTLIST}
), dots AS (
  SELECT s.query_id, s.vec_id, sum(qe.x * ee.x) AS dot
  FROM shortlist s
  JOIN elems qe ON qe.vec_id = s.query_id
  JOIN elems ee ON ee.vec_id = s.vec_id AND ee.i = qe.i
  GROUP BY s.query_id, s.vec_id
), {_TOP_K_TAIL}"""


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style cluster-then-prune)
# ---------------------------------------------------------------------------

# Embedding-space semantic dedup in the style of Abbas et al. 2023
# ("SemDeDup: Data-efficient learning at web-scale through semantic
# deduplication"): cluster the embeddings, then within each cluster drop
# every vector that is near-identical (cosine >= tau) to a cluster-mate,
# keeping one representative.  The paper clusters with k-means; here the
# clustering is the SAME deterministic stride quantizer as ann_ivf_topk
# (seeds at vec_id % stride == 0, nearest-centroid assignment), so the
# identical clusters are expressible in ANSI SQL and the pairwise stage
# stays a bounded cluster-equi self-join — never an all-pairs cross join.
# tau reuses the corpus-calibrated cosine threshold of embedding_near_dup.
SEMDEDUP_TAU = 0.38


def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector (cluster_id, keep) verdict: keep=0 iff a LOWER-id member
    of the same cluster is within cosine >= SEMDEDUP_TAU (single-hop rule
    — the survivor of a duplicate neighborhood is its minimum vec_id).

    Scale shape at 100 TB: centroid assignment is ann_ivf_topk's
    vectorized kernel (broadcast of <= IVF_K_CAP centroid rows); the
    pairwise stage shuffles once on cluster_id and compares only
    within clusters of expected size N/K ~ sqrt(N) (capped in practice by
    cluster-size limits in production SemDeDup).  Nothing quadratic in N.
    """
    emb = _with_norm(_embeddings(spark, sf_dir))
    stride = ivf_stride(emb.count())
    assigned_np, _probes = _ivf_assign_probes_np(spark, emb, stride)
    assigned = assigned_np.select(
        "vec_id", F.col("cent_id").alias("cluster_id"))
    members = assigned.join(emb.select("vec_id", "embedding", "norm"),
                            "vec_id")
    a = members.select(F.col("cluster_id"),
                       F.col("vec_id").alias("id_a"),
                       F.col("embedding").alias("emb_a"),
                       F.col("norm").alias("norm_a"))
    b = members.select(F.col("cluster_id"),
                       F.col("vec_id").alias("id_b"),
                       F.col("embedding").alias("emb_b"),
                       F.col("norm").alias("norm_b"))
    dups = (_with_cosine(a.join(b, "cluster_id")
                         .filter(F.col("id_a") < F.col("id_b")),
                         "emb_a", "emb_b", "norm_a", "norm_b")
            .filter(F.col("cosine") >= SEMDEDUP_TAU)
            .select(F.col("id_b").alias("vec_id")).distinct()
            .withColumn("dup", F.lit(1)))
    return (assigned.join(dups, "vec_id", "left")
            .select("vec_id", "cluster_id",
                    F.when(F.col("dup").isNull(), F.lit(1)).otherwise(F.lit(0))
                    .alias("keep")))


SEMDEDUP_PRUNE_SQL = f"""
WITH {_ELEMS_CTE}, norms AS (
  SELECT vec_id, sqrt(sum(x * x)) AS norm FROM elems GROUP BY vec_id
), stride AS (
  SELECT greatest(1, CAST(ceil(count(*) /
           least({IVF_K_CAP}, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)))
                                   AS BIGINT))::DOUBLE) AS BIGINT)) AS s
  FROM embeddings
), {_IVF_CSIM_CTES}, assigned AS (
  SELECT vec_id, cent_id AS cluster_id FROM csim WHERE rn = 1
), pdots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(ea.x * eb.x) AS dot
  FROM assigned a
  JOIN assigned b ON b.cluster_id = a.cluster_id AND a.vec_id < b.vec_id
  JOIN elems ea ON ea.vec_id = a.vec_id
  JOIN elems eb ON eb.vec_id = b.vec_id AND eb.i = ea.i
  GROUP BY a.vec_id, b.vec_id
), dups AS (
  SELECT DISTINCT p.id_b AS vec_id
  FROM pdots p
  JOIN norms na ON na.vec_id = p.id_a
  JOIN norms nb ON nb.vec_id = p.id_b
  WHERE round(p.dot / (na.norm * nb.norm), 4) >= {SEMDEDUP_TAU}
)
SELECT a.vec_id, a.cluster_id,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS keep
FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
"""
