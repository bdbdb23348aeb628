"""The traced run: per-layer metrics for codec, kernel, serializers, pipeline,
engine and datapipe.

Spans (name, start, end, parent) are recorded from this file around calls
into each layer's public functions; every span is also a Spark job group, so
the jobs a call runs are counted where it runs.  Task times and shuffle bytes
come from Spark's status store.  The spans are written to
``perfbench/_cache/traces/`` when the run ends.

The profile is the same for every workload: it covers the extraction layers
on the seed's extraction corpus and the datapipe layer on the seed's
curation tables, so each traced run reports every per-layer metric.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

import ladder
import workloads

SINGLE_PROCESS_DOCS = 200
RESUME_DONE_SHARE = 0.95
# the five costliest kernel stages on the densest ladder page
LADDER_STAGES = ("Detect words", "Detect text blocks", "Segment pages",
                 "Detect lines", "Calculate words statistics")


def lineage_column(stage: str) -> str:
    """The lineage column that holds ``stage``'s summed milliseconds."""
    from pdftotext_plus_plus_spark import engine

    return engine._stage_slug(stage)


def slug(stage: str) -> str:
    """``stage`` as it appears in metric names: its lineage column without
    the ``ms_`` prefix."""
    return lineage_column(stage)[len("ms_"):]


class Tracer:
    """In-memory spans; each open span is the current Spark job group."""

    def __init__(self):
        self.spans = []
        self._stack = []
        self.sc = None

    def span(self, name: str):
        return _Span(self, name)

    def jobs(self, span) -> list:
        return list(self.sc.statusTracker().getJobIdsForGroup(span["group"]))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        parent = tracer._stack[-1]["id"] if tracer._stack else None
        self.rec = {"id": len(tracer.spans), "name": name, "parent": parent}
        self.rec["group"] = "span-%d" % self.rec["id"]

    def _set_group(self, rec):
        if self.tracer.sc is not None and rec is not None:
            self.tracer.sc.setJobGroup(rec["group"], rec["name"])

    def __enter__(self):
        self.tracer.spans.append(self.rec)
        self.tracer._stack.append(self.rec)
        self._set_group(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.rec["s"] = self.rec["end"] - self.rec["start"]
        self.tracer._stack.pop()
        if self.tracer.sc is not None:
            self.rec["jobs"] = self.tracer.jobs(self.rec)
            self._set_group(self.tracer._stack[-1] if self.tracer._stack
                            else None)


def stage_data(sc, job_ids) -> list:
    """(stage data, task run times in s) of every stage the jobs ran."""
    store = sc._jsc.sc().statusStore()
    out = []
    for job in job_ids:
        for sid in sc.statusTracker().getJobInfo(job).stageIds:
            s = store.lastStageAttempt(sid)
            if s.status().toString() != "COMPLETE":
                continue
            tasks = store.taskList(sid, s.attemptId(), 1 << 20)
            out.append((s, [tasks.apply(i).taskMetrics().get()
                            .executorRunTime() / 1000.0
                            for i in range(tasks.size())]))
    return out


class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def single_process(tracer, checks, corpus, m) -> list:
    """Uncontended per-layer split: ``pipeline.extract`` in this process.
    Returns the kernel stages that ran, in pipeline order (stages that the
    default config skips are absent)."""
    from pdftotext_plus_plus_spark import pipeline
    from pdftotext_plus_plus_spark.pipeline import (STAGE_DECODE,
                                                    STAGE_SERIALIZE)

    pages = pq.read_table(corpus["pages"], columns=["url", "html"])
    pages = pages.slice(0, SINGLE_PROCESS_DOCS).to_pydict()
    goldens = dict(zip(*pq.read_table(corpus["goldens"], columns=[
        "url", "golden_text"]).to_pydict().values()))
    with tracer.span("pipeline.extract") as sp:
        results = [pipeline.extract(h, with_spans=False, with_timings=True)
                   for h in pages["html"]]
    stages = [k for k in results[0].timings_ms
              if k not in (STAGE_DECODE, STAGE_SERIALIZE)]
    totals = dict.fromkeys(results[0].timings_ms, 0.0)
    for res in results:
        for k, v in res.timings_ms.items():
            totals[k] += v
    n = len(results)
    checks.add(n, sum(r.extracted_text != goldens[u]
                      for u, r in zip(pages["url"], results)))
    m["codec.parse_payload_ms"] = (totals[STAGE_DECODE] / n, "ms")
    for st in stages:
        m["kernel.%s_ms" % slug(st)] = (totals[st] / n, "ms")
    m["serializers.serialize_ms"] = (totals[STAGE_SERIALIZE] / n, "ms")
    m["pipeline.docs_per_s_1core"] = (n / sp["s"], "docs/s")
    return stages


def ladder_metrics(tracer, seed, m, smoke) -> None:
    with tracer.span("ladder"):
        if smoke:
            levels = ladder.run(seed, (250, 500), (100, 200))
        else:
            levels = ladder.run(seed)
    for st in LADDER_STAGES:
        m["kernel.%s.exponent" % slug(st)] = (
            ladder.exponent(levels["dense"], st), "ratio")
    m["kernel.detect_lines.scattered_exponent"] = (
        ladder.exponent(levels["scattered"], "Detect lines"), "ratio")
    top = max(levels["scattered"])
    m["kernel.detect_lines.scattered_top_ms"] = (
        levels["scattered"][top]["Detect lines"], "ms")


def engine_metrics(tracer, checks, ctx, spark, corpus, stages, m) -> None:
    from pyspark.sql import functions as F

    from pdftotext_plus_plus_spark import engine
    from pdftotext_plus_plus_spark.pipeline import (STAGE_DECODE,
                                                    STAGE_SERIALIZE)

    goldens = pq.read_table(corpus["goldens"]).to_pydict()
    n_docs = len(goldens["url"])
    out = ctx.fresh_dir("trace_out")

    # warm-up: the slice, then a pass over the first RESUME_DONE_SHARE of
    # the documents, whose output is the snapshot the resumed run extends
    os.makedirs(ctx.work_dir, exist_ok=True)
    done_path = os.path.join(ctx.work_dir, "pages_done.parquet")
    n_done = int(n_docs * RESUME_DONE_SHARE)
    pq.write_table(pq.read_table(corpus["pages"]).slice(0, n_done), done_path)
    resume_out = ctx.fresh_dir("resume_out")
    with tracer.span("warm"):
        workloads.warm_extraction(ctx, spark, dict(corpus, pages=done_path),
                                  resume_out)

    def untraced_run_job():
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        engine.run_job(spark, corpus["pages"], out)
        return time.perf_counter() - t0

    # the traced run_job between two untraced ones, whose mean is the
    # reference for the tracing overhead (pass times still fall a few
    # percent a pass here)
    untraced = [untraced_run_job()]
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.perf_counter()
    with tracer.span("engine.run_job") as sp:
        result = engine.run_job(spark, corpus["pages"], out)
    traced = time.perf_counter() - t0
    n, wrong, _ = workloads.check_extraction(result["output"], goldens)
    checks.add(n, wrong)
    m["engine.run_job_s"] = (sp["s"], "s")
    m["engine.run_job.spark_jobs"] = (len(sp["jobs"]), "count")
    lineage = pq.read_table(result["lineage"]).to_pydict()

    untraced.append(untraced_run_job())
    reference = statistics.fmean(untraced)
    m["trace.overhead_pct"] = (100.0 * (traced - reference) / reference, "%")

    # contended stage split: the lineage ms_* rollup of the traced run
    for name, key in ([(STAGE_DECODE, "codec.parse_payload.contended_ms"),
                       (STAGE_SERIALIZE, "serializers.serialize.contended_ms")]
                      + [(st, "kernel.%s.contended_ms" % slug(st))
                         for st in stages]):
        m[key] = (sum(lineage[lineage_column(name)]) / n_docs, "ms")

    pages = spark.read.parquet(corpus["pages"])
    with tracer.span("engine.salted_repartition") as sp:
        (engine.salted_repartition(pages.select("url", "html"))
         .write.format("noop").mode("overwrite").save())
    m["engine.scan_exchange_s"] = (sp["s"], "s")

    with tracer.span("engine.extract_pages") as sp:
        total_ms, rows = (engine.extract_pages(pages)
                          .agg(F.sum("extract_ms"), F.count("*")).first())
    checks.add(n_docs, rows != n_docs)
    stages = stage_data(spark.sparkContext, sp["jobs"])
    kernel_stage, task_s = max(stages, key=lambda s: s[0].executorRunTime())
    m["engine.extract_pages_s"] = (sp["s"], "s")
    m["engine.boundary_core_s"] = (
        kernel_stage.executorRunTime() / 1000.0 - total_ms / 1000.0, "s")
    m["engine.max_task_s"] = (max(task_s), "s")
    m["engine.median_task_s"] = (statistics.median(task_s), "s")
    m["engine.shuffle_bytes"] = (
        sum(s.shuffleWriteBytes() for s, _ in stages), "bytes")
    m["engine.post_write_s"] = (m["engine.run_job_s"][0] - sp["s"], "s")

    # resume: the warm-up's snapshot holds RESUME_DONE_SHARE of the urls
    with tracer.span("engine.resume") as sp:
        result = engine.run_job(spark, corpus["pages"], resume_out)
    m["engine.resume_s"] = (sp["s"], "s")
    m["engine.resume.spark_jobs"] = (len(sp["jobs"]), "count")
    snap = pq.read_table(result["output"], columns=[
        "url", "parse_failure_code"]).to_pydict()
    done_urls = set(goldens["url"][:n_done])
    new = [c for u, c in zip(snap["url"], snap["parse_failure_code"])
           if u not in done_urls]
    extracted, failed = sum(c == 0 for c in new), sum(c != 0 for c in new)
    dupes = len(snap["url"]) - len(set(snap["url"]))
    checks.add(n_docs, dupes + (n_docs != n_done + extracted + failed)
               + (result["n_docs"] != n_docs))

    with tracer.span("engine.lineage_frame") as sp:
        (engine.lineage_frame(spark.read.option("mergeSchema", "true")
                              .parquet(result["output"]))
         .write.format("noop").mode("overwrite").save())
    m["engine.lineage_frame_s"] = (sp["s"], "s")


def datapipe_metrics(tracer, checks, ctx, spark, m) -> None:
    """Each query's first run in the session, as in the curate workload."""
    tables = ctx.curation_tables()
    expected = workloads.load_digests(ctx.size_key)
    for q in workloads.CURATE_QUERIES:
        with tracer.span("datapipe." + q) as sp:
            got = workloads.collect_query(spark, q, tables["dir"])
        checks.add(1, workloads.digest(*got) != expected[q])
        m["datapipe.%s_s" % q] = (sp["s"], "s")
        m["datapipe.%s.spark_jobs" % q] = (len(sp["jobs"]), "count")


def run(ctx, workload: str) -> dict:
    tracer, checks, m = Tracer(), Checks(), {}
    corpus = ctx.extraction_corpus()
    with tracer.span("profile"):
        # uncontended layers first, before the JVM exists
        stages = single_process(tracer, checks, corpus, m)
        ladder_metrics(tracer, ctx.seed, m, ctx.size_name == "smoke")
        with tracer.span("session"):
            spark = workloads.start_session()
        tracer.sc = spark.sparkContext
        try:
            engine_metrics(tracer, checks, ctx, spark, corpus, stages, m)
            datapipe_metrics(tracer, checks, ctx, spark, m)
        finally:
            tracer.sc = None
            spark.stop()
    tracer.dump(os.path.join(os.path.dirname(ctx.work_dir), "traces",
                             "%s-s%d.json" % (workload, ctx.seed)))
    return {"attempted": checks.attempted, "failed": checks.failed,
            "metrics": {k: {"value": float(v), "unit": u}
                        for k, (v, u) in m.items()}}
