"""Scale-property regression tests: plan shape, pruning, skew spreading.

These pin the properties that make the job viable at 100 TB — if a change
reintroduces a scan of all columns, an extra shuffle, or lets jumbo
documents pile into one task, these fail.
"""

import pytest
from pyspark.sql import functions as F

from pdftotext_plus_plus_spark import engine, fixtures


def test_plan_prunes_columns_and_has_single_exchange(spark, pages_df, tmp_path):
    path = str(tmp_path / "pages_wide")
    pages_df.write.parquet(path)
    pages = spark.read.parquet(path)
    out = engine.extract_pages(pages, num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # column pruning reaches the scan: only url + html are read
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    # exactly one exchange (the salting repartition), no hidden shuffles
    assert plan.count("Exchange") == 1
    assert "MapInArrow" in plan


def test_salting_spreads_jumbo_documents(spark):
    """With size-bucket salting, the jumbo tail must not serialize into one
    task: no partition may hold more than half of all jumbo kernel time."""
    from pyspark.sql import types as T

    rows = fixtures.build_corpus(64, jumbo_every=4)  # 25% jumbos
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("family", T.StringType()),
    ])
    df = spark.createDataFrame(
        [(r["url"], r["html"], r["family"]) for r in rows], schema)
    out = engine.extract_pages(df, num_partitions=8)
    jumbo = (out.filter(F.col("url").contains("/jumbo/"))
             .groupBy("part_id").agg(F.sum("extract_ms").alias("ms"))
             .collect())
    assert len(jumbo) >= 3  # jumbos spread over several tasks
    total = sum(r["ms"] for r in jumbo)
    assert max(r["ms"] for r in jumbo) < 0.6 * total


def test_broadcast_in_ann_plan(spark):
    """The ANN query must broadcast the small query side, not sort-merge."""
    from pdftotext_plus_plus_spark.datapipe import similarity

    df = similarity.ann_bruteforce_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_embedding_near_dup_is_tiled_no_driver_collect(spark):
    """embedding_near_dup must be a distributed tiled self-join: grouped
    Arrow kernel in the plan, no driver-side collect/broadcast of the
    table (the round-1 scale-killer), and every tile bounded to ~2N/B
    rows so per-task memory is controlled."""
    import inspect

    from pdftotext_plus_plus_spark.datapipe import dedup

    src = inspect.getsource(dedup.embedding_near_dup)
    assert ".collect()" not in src and "broadcast(" not in src

    df = dedup.embedding_near_dup(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n = emb.count()
    b = dedup.EMB_TILES
    # replication factor is exactly B+1 copies per row across all tiles
    tile_rows = (emb
                 .withColumn("blk", (F.col("vec_id") % b).cast("int"))
                 .withColumn("tj", F.explode(F.sequence(F.col("blk"), F.lit(b - 1))))
                 .groupBy(F.col("blk").alias("ti"), "tj").count().collect())
    assert sum(r["count"] for r in tile_rows) <= n * (b + 1)
    assert max(r["count"] for r in tile_rows) <= (n // b) + b


def test_ngram_jaccard_prefix_kills_hot_shingles(spark):
    """Prefix filtering must keep near-universal stop-grams out of the
    candidate join keys: the max document-frequency among prefix shingles
    must be far below the global max, and the candidate pair count far
    below the unfiltered shingle self-join's."""
    from pdftotext_plus_plus_spark.datapipe import dedup

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    sh = dedup._shingles(docs)
    dfreq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    n_docs = docs.count()
    global_max_df = dfreq.agg(F.max("df")).collect()[0][0]
    assert global_max_df > 0.9 * n_docs  # stop-grams ARE near-universal

    from pyspark.sql import Window
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("sh"))
    prefix = (sh.join(dfreq, "sh")
              .withColumn("pos", F.row_number().over(w))
              .join(sizes, "doc_id")
              .filter(F.col("pos") <= F.col("n_sh")
                      - F.ceil(F.lit(dedup.JACCARD_THRESHOLD) * F.col("n_sh")) + 1))
    # the actual skew driver is join-key multiplicity: how many docs carry
    # a given shingle IN THEIR PREFIX (what gets joined), not global df
    prefix_max_key = (prefix.groupBy("sh").agg(F.count("*").alias("c"))
                      .agg(F.max("c")).collect()[0][0])
    assert prefix_max_key < 0.25 * global_max_df

    # candidate blowup check: sum over join keys of multiplicity^2
    naive = (sh.groupBy("sh").agg(F.count("*").alias("c"))
             .agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0])
    filtered = (prefix.groupBy("sh").agg(F.count("*").alias("c"))
                .agg(F.sum(F.col("c") * F.col("c"))).collect()[0][0])
    assert filtered < 0.1 * naive


def test_multiprobe_plan_broadcasts_probe_side(spark):
    """ann_lsh_multiprobe_topk must broadcast the (tiny) probe/query side
    onto the corpus signatures — never shuffle the corpus against it."""
    from pdftotext_plus_plus_spark.datapipe import similarity

    df = similarity.ann_lsh_multiprobe_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the signature pass is one vectorized Arrow kernel, not T*P JVM aggs
    assert "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan


def test_ngram_jaccard_no_cartesian(spark):
    """The prefix-filtered Jaccard plan must stay equi-join-only (no
    BroadcastNestedLoopJoin / CartesianProduct anywhere)."""
    from pdftotext_plus_plus_spark.datapipe import dedup

    df = dedup.ngram_jaccard_pairs(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_embedding_near_dup_tile_count_invariant(spark, monkeypatch):
    """The tiled self-join's output must be EXACTLY invariant under the
    tile count B (the scale knob): raising B changes task granularity,
    never the pair set."""
    from pdftotext_plus_plus_spark.datapipe import dedup

    base = {(r["id_a"], r["id_b"], r["cosine"]) for r in
            dedup.embedding_near_dup(spark, "/root/testdata/sf0.001").collect()}
    monkeypatch.setattr(dedup, "EMB_TILES", 7)
    alt = {(r["id_a"], r["id_b"], r["cosine"]) for r in
           dedup.embedding_near_dup(spark, "/root/testdata/sf0.001").collect()}
    assert base == alt and len(base) > 0


def test_q3_q5_join_plans_broadcast_dims(spark):
    """Multi-join relational queries: the dim sides must not sort-merge.

    * shipping_priority (Q3 shape): the segment-filtered customer dim is
      left to AQE/stats — at test scale it MUST resolve to a broadcast
      hash join (no SortMergeJoin anywhere in the plan).
    * regional_revenue (Q5 shape): nation/region are forced broadcasts
      (constant-size dims at any scale); no cartesian product.
    """
    from pdftotext_plus_plus_spark.datapipe import relational

    q3 = relational.shipping_priority(spark, "/root/testdata/sf0.001")
    q3.collect()  # let AQE finalize the adaptive plan
    plan3 = q3._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan3
    assert "SortMergeJoin" not in plan3
    assert "CartesianProduct" not in plan3

    q5 = relational.regional_revenue(spark, "/root/testdata/sf0.001")
    q5.collect()
    plan5 = q5._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan5
    assert "CartesianProduct" not in plan5
    # the pushed filters reach the scans (scan-level pruning, not post-hoc)
    assert "PushedFilters: [IsNotNull(c_mktsegment)" in plan3 \
        or "c_mktsegment" in plan3


def test_ivf_plan_broadcasts_centroids_no_cartesian(spark):
    """IVF assignment must broadcast the centroid table; the only
    nested-loop joins in the plan are broadcast ones (the constant-size
    centroid/query frames), never a shuffled cartesian."""
    from pdftotext_plus_plus_spark.datapipe import similarity

    df = similarity.ann_ivf_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ivf2_plan_broadcasts_both_levels_no_cartesian(spark):
    """Two-level IVF (r9 form): the assignment and probe stages run as
    Arrow-batched numpy kernels against the collected (IVF_K_CAP-bounded)
    centroid matrices — the plan carries MapInPandas nodes instead of the
    old N x K1 aggregate fan-out — and the candidate stage joins the
    tiny probes frame by broadcast; never a shuffled cartesian."""
    from pdftotext_plus_plus_spark.datapipe import similarity

    df = similarity.ann_ivf2_topk(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert ("BroadcastNestedLoopJoin" in plan
            or "BroadcastHashJoin" in plan)
    # assignment + probe kernels (vectorized argmax, no N x K1 fan-out)
    assert plan.count("MapInPandas") >= 2


def test_ivf2_assignment_matches_bruteforce_argmax(spark):
    """The vectorized two-level assignment must agree with a brute-force
    reconstruction of the old plan's semantics: round4 half-up sims,
    best super by (sim desc, id asc), then best routed fine centroid by
    (sim desc, id asc) — computed independently with plain Python."""
    import numpy as np

    from pdftotext_plus_plus_spark.datapipe import similarity

    sf = "/root/testdata/sf0.001"
    emb = similarity._with_norm(similarity._embeddings(spark, sf))
    n = emb.count()
    assigned, _p, _bc = similarity._ivf2_assign_probes(emb, n)
    got = {r["vec_id"]: r["cent_id"] for r in assigned.collect()}

    rows = sorted(emb.select("vec_id", "embedding").collect(),
                  key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    s, big_s = similarity.ivf2_strides(n)
    fmask = ids % s == 0
    fid, fmat = ids[fmask], mat[fmask]
    smask = ids % big_s == 0
    sid, smat = ids[smask], mat[smask]

    def r4(x):
        return (np.floor(x * 1e4 + 0.5) if x >= 0
                else -np.floor(-x * 1e4 + 0.5)) / 1e4

    def best(v, cids, cmat):
        vn = np.sqrt((v * v).sum())
        sims = [r4(float(v @ c) / (vn * np.sqrt((c * c).sum())))
                for c in cmat]
        order = sorted(range(len(cids)), key=lambda k: (-sims[k], cids[k]))
        return cids[order[0]]

    route = {int(fid[k]): best(fmat[k], sid, smat) for k in range(len(fid))}
    for k in range(len(ids)):
        sup = best(mat[k], sid, smat)
        fine_in = [j for j in range(len(fid)) if route[int(fid[j])] == sup]
        if not fine_in:
            assert int(ids[k]) not in got
            continue
        want = best(mat[k], fid[fine_in], fmat[fine_in])
        assert got[int(ids[k])] == int(want), ids[k]


def test_vocab_topk_is_take_ordered(spark):
    """vocab_top_tokens must compile to TakeOrderedAndProject (per-partition
    heaps merged on the driver), not a global Sort materialization."""
    from pdftotext_plus_plus_spark.datapipe import textstats

    df = textstats.vocab_top_tokens(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_tfidf_no_cartesian(spark):
    """The tf-idf corpus-count join is a broadcast of a single-row agg; no
    shuffled cartesian may appear."""
    from pdftotext_plus_plus_spark.datapipe import textstats

    df = textstats.tfidf_keywords(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_inactive_customers_is_anti_join(spark):
    """The NOT-EXISTS shape must compile to a hash anti join (broadcast or
    shuffled), with the date filter pushed below it — not a distinct +
    outer-join emulation."""
    from pdftotext_plus_plus_spark.datapipe import relational

    df = relational.inactive_customers(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate)" in plan or \
        "GreaterThanOrEqual(o_orderdate" in plan


def test_decontaminate_plan_broadcasts_benchmark_grams(spark):
    """The benchmark gram table must reach the corpus gram stream as a
    broadcast (it is thousands of prompts at any corpus scale); the corpus
    side must NOT be globally distinct'd or sorted."""
    from pdftotext_plus_plus_spark.datapipe import dedup

    df = dedup.benchmark_decontaminate(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pii_and_gopher_are_shuffle_free(spark):
    """The map-side gate ops (PII scrub, Gopher composite filter) must
    compile to a single narrow projection — zero Exchange operators."""
    from pdftotext_plus_plus_spark.datapipe import textstats

    for fn in (textstats.pii_scrub, textstats.gopher_quality_filter):
        plan = fn(spark, "/root/testdata/sf0.001") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, fn.__name__


def test_duplicate_ngram_and_bigram_no_cartesian(spark):
    """The span-dedup and bigram-surprisal frequency joins are shuffled
    equi-joins on flat gram keys — never a cartesian, and every aggregate
    folds through a map-side partial."""
    from pdftotext_plus_plus_spark.datapipe import dedup, textstats

    for fn in (dedup.duplicate_ngram_spans, textstats.bigram_surprisal):
        plan = fn(spark, "/root/testdata/sf0.001") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, fn.__name__
        assert "HashAggregate" in plan, fn.__name__


def test_semdedup_plan_broadcasts_centroids_no_cartesian(spark):
    """SemDeDup assignment reuses the IVF shape: centroid side broadcast
    (bounded by IVF_K_CAP), pairwise stage a cluster-equi self-join; the
    only nested-loop joins are broadcast ones."""
    from pdftotext_plus_plus_spark.datapipe import similarity

    df = similarity.semdedup_prune(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_c4_filter_is_shuffle_free(spark):
    """The C4 gate is a single narrow map over (url, text): zero Exchange
    operators, zero Python UDFs — it must run at scan speed."""
    from pdftotext_plus_plus_spark.datapipe import textstats

    plan = textstats.c4_quality_filter(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_sample_is_broadcast_gate_no_window(spark):
    """The sampling gate must be a broadcast of the k-row rate dim plus
    arithmetic — no rank window over the fact, no shuffled join."""
    from pdftotext_plus_plus_spark.datapipe import sampling

    plan = sampling.stratified_sample(spark, "/root/testdata/sf0.001") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dsir_no_cartesian_single_token_pass(spark):
    """DSIR computes raw AND target counts in ONE token aggregation (a
    conditional sum), so the token stream is aggregated exactly once
    before the dim join — and nothing is a cartesian."""
    from pdftotext_plus_plus_spark.datapipe import sampling

    df = sampling.dsir_importance_weights(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_sequence_packing_window_is_per_shard(spark):
    """The running-sum window must partition by the shard key: exactly one
    exchange (hash by lang) feeding the window sort — never a global
    single-partition sort."""
    from pdftotext_plus_plus_spark.datapipe import sampling

    df = sampling.sequence_packing(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") == 1
