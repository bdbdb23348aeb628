"""Training-data chunking + dedup cluster assignment.

* ``chunk_documents`` — overlapping token windows (the standard LLM
  training-corpus chunker): windows of CHUNK_TOKENS tokens at stride
  CHUNK_STRIDE.  Pure JVM array expressions; one narrow pass.
* ``dedup_clusters`` — assigns each document the minimum doc_id reachable
  within K hops of the MinHash-LSH near-dup graph (bounded min-label
  propagation).  K fixed rounds keeps it SQL-expressible and
  oracle-checkable.  The graph is the STAR-EDGE form (member <-> bucket
  hub), never the all-pairs LSH pair list: identical connected
  components at O(M) instead of O(M^2) edges per bucket — the quadratic
  pair blow-up inside degenerate boilerplate buckets is exactly the
  100 TB skew case.
* ``dedup_clusters_fixpoint`` — the full components, labelled with their
  minimum doc_id: a union-find over the (band, minhash) buckets on the
  driver while the signature table fits DRIVER_UNION_MAX_ROWS rows, and
  above that the same propagation iterated to a fixpoint with pointer doubling,
  checkpointing labels between rounds.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import WS, _documents, iterate, spread, split_tokens, textstats
from .dedup import MINHASH_LSH_PAIRS_SQL, MINHASH_SIG_CTES, _minhash_sig

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48
PROP_ROUNDS = 3
FIXPOINT_MAX_ROUNDS = 50
# dedup_clusters_fixpoint solves components on the driver when both its
# signature table (N_BANDS rows per document) and its doc ids fit this
# many rows.  Measured on
# synthetic tables of 0.4M-8M rows, the driver holds ~75 bytes per row
# while it does (20 for the Arrow columns, ~55 at peak for the sort
# arrays and the Python edge lists), so 2M rows stay under ~200 MB with
# the collect's own buffers, a tenth of a 2 GB driver, and solve in
# under a second.  A larger table stays distributed in
# propagate_to_fixpoint.
DRIVER_UNION_MAX_ROWS = 2_000_000


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(_documents(spark, sf_dir))
    return (docs
            .select("doc_id", split_tokens().alias("toks"))
            .select("doc_id",
                    F.posexplode(F.expr(
                        f"transform(sequence(1, greatest(1, size(toks) - {CHUNK_TOKENS - CHUNK_STRIDE}), {CHUNK_STRIDE}),"
                        f" i -> array_join(slice(toks, i, {CHUNK_TOKENS}), ' '))"))
                    .alias("chunk_idx", "chunk_text"))
            .withColumn("n_chunk_tokens",
                        F.size(F.split("chunk_text", WS))))


CHUNK_DOCUMENTS_SQL = f"""
WITH toked AS (
  SELECT doc_id, string_split_regex(trim(text, ' '), '\\s+') AS toks
  FROM documents
), grid AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, greatest(1, len(toks) - {CHUNK_TOKENS - CHUNK_STRIDE}), {CHUNK_STRIDE})) AS i
  FROM toked
)
SELECT doc_id,
       CAST((i - 1) / {CHUNK_STRIDE} AS INT) AS chunk_idx,
       array_to_string(toks[i:i + {CHUNK_TOKENS - 1}], ' ') AS chunk_text,
       len(toks[i:i + {CHUNK_TOKENS - 1}]) AS n_chunk_tokens
FROM grid
"""


def _undirected_edges(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Undirected edges incl. self-loops from an explicit pair list —
    the generic graph builder :func:`propagate_to_fixpoint` tests run
    on; the production cluster path builds :func:`_star_edges` from the
    signature table instead and never materializes pairs."""
    return (pairs.selectExpr("id_a AS src", "id_b AS dst")
            .union(pairs.selectExpr("id_b AS src", "id_a AS dst"))
            .union(docs.selectExpr("doc_id AS src", "doc_id AS dst")))


def _star_edges(docs: DataFrame, sig: DataFrame) -> DataFrame:
    """Undirected near-dup edges: ONE star per (band, minhash) bucket.

    The all-pairs LSH edge list (every pair of docs sharing a bucket)
    is O(M^2) edges for an M-member bucket — post-dedup boilerplate
    buckets are exactly the skew case that makes this the one
    quadratic exposure at 100 TB.  Star edges connect every bucket
    member to the bucket's HUB (its minimum doc_id) instead: any two
    members of a bucket are 2-hop connected through the hub, so the
    connected components — and therefore every fixpoint cluster label
    — are IDENTICAL to the all-pairs graph's, at O(M) edges per bucket
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    use the same star contraction).  Built straight from the signature
    table: one (band, minhash) hash agg for the hubs, one join back —
    the pair self-join never runs.  Self-loops keep isolated docs in
    the label frame."""
    hubs = sig.groupBy("band", "minhash").agg(F.min("doc_id").alias("hub"))
    star = (sig.join(hubs, ["band", "minhash"])
            .filter(F.col("doc_id") != F.col("hub"))
            .select(F.col("doc_id").alias("src"), F.col("hub").alias("dst"))
            .distinct())
    return (star
            .union(star.selectExpr("dst AS src", "src AS dst"))
            .union(docs.selectExpr("doc_id AS src", "doc_id AS dst")))


def _propagate_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation step over the undirected edge list."""
    return (edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src").agg(F.min("label").alias("label"))
            .select(F.col("src").alias("doc_id"), "label"))


def _double_labels(labels: DataFrame) -> DataFrame:
    """Pointer doubling: l(u) <- min(l(u), l(l(u))).

    The label IS a doc id, so one self-join dereferences it; taking the min
    keeps the update monotone (labels only ever decrease toward the
    component minimum).  This is the Shiloach–Vishkin–style shortcut that
    the large-star operation of the alternating algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") performs on the edge
    set: it halves the pointer-path length every round."""
    deref = labels.selectExpr("doc_id AS ref_id", "label AS ref_label")
    return (labels.join(deref, labels.label == deref.ref_id, "left")
            .select(F.col("doc_id"),
                    F.least(F.col("label"), F.col("ref_label"))
                    .alias("label")))


def propagate_to_fixpoint(edges: DataFrame, labels: DataFrame):
    """Min-label propagation + pointer doubling, iterated to a fixpoint;
    returns ``(labels, rounds)``.

    Plain propagation needs diameter(graph) rounds — a 10^12-row graph
    with a long near-dup chain would iterate unboundedly.  Interleaving a
    pointer-doubling step (see :func:`_double_labels`) after each
    propagation halves the remaining path length per round, so convergence
    is O(log diameter) — the round-count bound the large-star/small-star
    alternating algorithm provides, expressed as two joins per round.

    :func:`iterate` checkpoints every round's labels, so the DAG stays
    flat at scale; FIXPOINT_MAX_ROUNDS is a safety bound only."""
    def unchanged(old: DataFrame, new: DataFrame) -> bool:
        return (new.alias("n").join(old.alias("o"), "doc_id")
                .filter(F.col("n.label") != F.col("o.label"))
                .limit(1).count()) == 0

    return iterate(labels,
                   lambda cur: _double_labels(_propagate_round(edges, cur)),
                   FIXPOINT_MAX_ROUNDS, checkpoint=True, converged=unchanged)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster label per doc: bounded min-label propagation over
    the star-edge MinHash-LSH bucket graph.

    A star round covers half a pair-hop (member -> hub -> member), so
    the bounded variant runs 2*PROP_ROUNDS star rounds — at least the
    reach of PROP_ROUNDS rounds over the all-pairs graph (measured at
    sf0.01: strictly closer to the fixpoint labels than the pair-graph
    variant ever was), at O(M) instead of O(M^2) edges per bucket."""
    table = _documents(spark, sf_dir)
    docs = table.select("doc_id")
    edges = _star_edges(docs, _minhash_sig(table))
    labels = docs.select(F.col("doc_id"), F.col("doc_id").alias("label"))
    labels, _ = iterate(labels, lambda cur: _propagate_round(edges, cur),
                        2 * PROP_ROUNDS)
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def _bucket_components(doc_ids: np.ndarray, sig: pa.Table):
    """``(doc_id, cluster_id)`` arrays for the distinct ``doc_ids``: the
    docs of each (band, minhash) bucket of the Arrow signature table
    ``sig`` unioned on the driver, each component labelled with its
    minimum doc_id.  A bucket's union is its star (every member joined
    to the bucket's minimum), so these are the components, and the
    labels, :func:`propagate_to_fixpoint` reaches over
    :func:`_star_edges`; a doc in no bucket is its own component."""
    ids = np.unique(doc_ids)  # node order = doc_id order
    node = np.searchsorted(ids, sig.column("doc_id").to_numpy())
    band = sig.column("band").to_numpy()
    minhash = sig.column("minhash").to_numpy()
    order = np.lexsort((node, minhash, band))
    node, band, minhash = node[order], band[order], minhash[order]
    first = np.ones(len(node), dtype=bool)
    first[1:] = (band[1:] != band[:-1]) | (minhash[1:] != minhash[:-1])
    hub = node[np.flatnonzero(first)[np.cumsum(first) - 1]]

    # union-find whose root is always its set's minimum node
    parent = list(range(len(ids)))

    def root(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for member, h in zip(node[~first].tolist(), hub[~first].tolist()):
        a, b = root(member), root(h)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return ids, ids[[root(x) for x in range(len(ids))]]


def _components(docs: DataFrame, sig: DataFrame) -> DataFrame:
    """``(doc_id, cluster_id)`` for every doc: the minimum doc_id of its
    component in the star-edge bucket graph of ``sig`` (whose docs are
    among ``docs``).  While the signature table and the doc ids each fit
    DRIVER_UNION_MAX_ROWS rows, both are collected and unioned on the
    driver (:func:`_bucket_components`); otherwise
    :func:`propagate_to_fixpoint` runs over the star edges.  Docs without
    a signature row keep their own id either way."""
    sig = sig.persist()
    table = sig.limit(DRIVER_UNION_MAX_ROWS + 1).toArrow()
    if table.num_rows <= DRIVER_UNION_MAX_ROWS:
        doc_ids = docs.limit(DRIVER_UNION_MAX_ROWS + 1).toArrow()
        if doc_ids.num_rows <= DRIVER_UNION_MAX_ROWS:
            sig.unpersist()
            ids, labels = _bucket_components(
                doc_ids.column("doc_id").to_numpy(), table)
            return docs.sparkSession.createDataFrame(pa.table(
                {"doc_id": ids, "cluster_id": labels}))
    edges = _star_edges(docs, sig).persist()
    labels = docs.select(F.col("doc_id"), F.col("doc_id").alias("label"))
    out, _ = propagate_to_fixpoint(edges, labels)
    # the loop's last labels are checkpointed: nothing reads the caches
    edges.unpersist()
    sig.unpersist()
    return out.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path: the full components of the star-edge bucket graph
    (:func:`_components`), which the bounded variant under-merges when a
    chain is longer than PROP_ROUNDS hops.  The oracle deliberately stays
    the all-pairs brute-force graph: star edges produce identical
    components, and the independent construction is what PROVES it."""
    table = _documents(spark, sf_dir)
    return _components(table.select("doc_id"), _minhash_sig(table))


# the all-pairs reachability CTEs of the three fixpoint oracles: LSH
# pairs -> symmetric edges plus self loops -> recursive reach, whose
# min(label) per doc_id is the component label
_FIXPOINT_REACH_CTES = f"""
WITH RECURSIVE pairs AS ({MINHASH_LSH_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
  UNION ALL SELECT doc_id AS src, doc_id AS dst FROM documents
),
reach(doc_id, label) AS (
  SELECT doc_id, doc_id AS label FROM documents
  UNION
  SELECT e.src AS doc_id, r.label
  FROM edges e JOIN reach r ON e.dst = r.doc_id
)"""

DEDUP_CLUSTERS_FIXPOINT_SQL = f"""{_FIXPOINT_REACH_CTES}
SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
"""


# bounded-round labels depend on the GRAPH round for round, so this
# oracle mirrors the star-edge construction exactly (the fixpoint
# oracles below keep the independent all-pairs definition instead —
# components are provably identical, and only fixpoint labels are
# graph-shape-independent)
DEDUP_CLUSTERS_SQL = f"""
WITH {MINHASH_SIG_CTES},
hubs AS (
  SELECT band, minhash, min(doc_id) AS hub FROM sig GROUP BY band, minhash
),
star AS (
  SELECT DISTINCT s.doc_id AS src, h.hub AS dst
  FROM sig s JOIN hubs h ON h.band = s.band AND h.minhash = s.minhash
  WHERE s.doc_id <> h.hub
),
edges AS (
  SELECT src, dst FROM star
  UNION ALL SELECT dst AS src, src AS dst FROM star
  UNION ALL SELECT doc_id AS src, doc_id AS dst FROM documents
),
l0 AS (SELECT doc_id, doc_id AS label FROM documents),
{chr(10).join(
    f"l{i} AS (SELECT e.src AS doc_id, min(l.label) AS label"
    f" FROM edges e JOIN l{i - 1} l ON e.dst = l.doc_id GROUP BY e.src),"
    for i in range(1, 2 * PROP_ROUNDS))}
l{2 * PROP_ROUNDS} AS (SELECT e.src AS doc_id, min(l.label) AS label
       FROM edges e JOIN l{2 * PROP_ROUNDS - 1} l ON e.dst = l.doc_id
       GROUP BY e.src)
SELECT doc_id, label AS cluster_id FROM l{2 * PROP_ROUNDS}
"""


def dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the dedup pipeline: per-document keep/drop decision.

    MinHash-LSH pairs -> fixpoint connected components -> keep exactly
    one representative per near-dup cluster.  The component label IS the
    minimum doc_id of the component (min-label propagation invariant), so
    ``keep = (doc_id == cluster_id)`` — no extra ranking pass; cluster
    sizes come from one k-row count agg joined back N:1.  This is the
    frame a 100 TB ingest semi-joins against before training."""
    labels = dedup_clusters_fixpoint(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(
        F.count("*").alias("cluster_size"))
    return (labels.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "cluster_size",
                    (F.col("doc_id") == F.col("cluster_id"))
                    .cast("int").alias("keep")))


DEDUP_KEEP_LIST_SQL = f"""{_FIXPOINT_REACH_CTES},
labels AS (
  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM labels GROUP BY cluster_id
)
SELECT l.doc_id, l.cluster_id, s.cluster_size,
       CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END AS keep
FROM labels l JOIN sizes s ON s.cluster_id = l.cluster_id
"""


# ---------------------------------------------------------------------------
# representative selection — keep the BEST member of each near-dup cluster
# ---------------------------------------------------------------------------

# Production dedup does not keep the lowest doc_id — it keeps the
# highest-QUALITY member of each near-duplicate cluster (RefinedWeb,
# FineWeb both select representatives by quality signals).  Composed
# from dedup_clusters_fixpoint (the near-dup components) and
# textstats.quality_classifier's integer logit; ties break to the
# smallest doc_id so the verdict is total and engine-exact.


def dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cluster assignment + the quality-argmax
    representative verdict.

    Plan shape: the component labels (a driver-side union-find up to
    DRIVER_UNION_MAX_ROWS signature rows; at 100 TB, O(log d)
    pointer-doubling rounds over star edges) + the classifier's one
    token hash-agg, then ONE per-cluster partial agg and ONE join back
    (cluster dim: one row per cluster).  The agg decides size and
    representative together: ``min(struct(-logit, doc_id))`` is the
    max-logit member with the min-doc_id tie-break — never a per-cluster
    sort of the members, which a window would do.
    """
    j = dedup_clusters_fixpoint(spark, sf_dir).join(
        textstats.quality_classifier(spark, sf_dir).select("doc_id", "logit"),
        "doc_id")
    rep = (j.groupBy("cluster_id")
           .agg(F.count("*").alias("cluster_size"),
                F.min(F.struct(-F.col("logit"), F.col("doc_id")))
                .getField("doc_id").alias("rep_doc_id")))
    return (j.join(rep, "cluster_id")
            .select("doc_id", "cluster_id", "cluster_size", "logit",
                    "rep_doc_id",
                    (F.col("doc_id") == F.col("rep_doc_id")).cast("int")
                    .alias("is_representative")))


DEDUP_REPRESENTATIVES_SQL = f"""{_FIXPOINT_REACH_CTES},
labels AS (
  SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
),
qual AS ({textstats.QUALITY_CLASSIFIER_SQL}),
j AS (
  SELECT l.doc_id, l.cluster_id, q.logit
  FROM labels l JOIN qual q ON q.doc_id = l.doc_id
),
best AS (
  SELECT cluster_id, count(*) AS cluster_size,
         max(logit) AS best_logit
  FROM j GROUP BY cluster_id
),
rep AS (
  SELECT j.cluster_id, min(j.doc_id) AS rep_doc_id
  FROM j JOIN best b ON b.cluster_id = j.cluster_id
                    AND j.logit = b.best_logit
  GROUP BY j.cluster_id
)
SELECT j.doc_id, j.cluster_id, b.cluster_size, j.logit, r.rep_doc_id,
       CASE WHEN j.doc_id = r.rep_doc_id THEN 1 ELSE 0 END
         AS is_representative
FROM j
JOIN best b ON b.cluster_id = j.cluster_id
JOIN rep r ON r.cluster_id = j.cluster_id
"""
