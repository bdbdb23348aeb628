#!/usr/bin/env python3
"""Job ledger: Spark jobs, wall time, rows and row digest per datapipe
query, over fresh sessions.

Usage:
  python3 scripts/job_sweep.py SF_DIR QUERY [QUERY ...] [--sessions N]
                               [--plan DIR] [--noop] [--probe]

Each of the N sessions is a fresh Python process with its own Spark
session at local[$SPARK_GRAFT_CPUS] (unset: every core), shuffle
partitions = cpus.  Inside a session the tables are read once as a
warmup, then each query runs twice under its own job group:

* cold: build the DataFrame and ``collect()`` it; the job count is the
  number of jobs this pass ran (actions taken while the DataFrame is
  built, such as per-round checkpoints, included);
* warm: the same again; ``warm_s`` is its wall time.

The cold pass's rows give the row count and the digest: md5 over the
rows sorted, with the columns ordered by name (the normalization
``check_oracles.py`` compares with).  Options:

* ``--plan DIR``: the first session builds each query once more and
  writes ``DIR/<query>.txt``, the formatted explain of its physical plan
  as planned (before adaptive execution re-plans it at run time, which
  depends on stage timing) followed by the optimized logical plan;
* ``--noop``: also time a warm pass into the noop sink, which computes
  every column without collecting it (``warm_noop_s``);
* ``--probe``: also time a warm pass over bench.py's 10x scale corpus
  (``sec_10x``, and ``exponent`` = log10 of the 10x/1x warm ratio).

Prints one JSON line per query per session, then one summary line per
query (jobs as min/median/max, median cold and warm seconds, and the
row counts and digests seen; more than one digest means the query is
not deterministic across sessions).
"""
from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "scripts"))

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def _timed(run) -> float:
    t0 = time.perf_counter()
    run()
    return round(time.perf_counter() - t0, 3)


def _plan(df) -> str:
    qe = df._jdf.queryExecution()
    return (df._sc._jvm.PythonSQLUtils.explainString(qe, "formatted")
            + "\n== Optimized Logical Plan ==\n"
            + qe.optimizedPlan().toString())


def _session(args) -> None:
    """One fresh session: one JSON line per query on stdout."""
    from check_oracles import normalize

    from pdftotext_plus_plus_spark import engine
    from pdftotext_plus_plus_spark.datapipe import registry

    spark = engine.build_session(app_name="job-sweep", cpus=CPUS,
                                 shuffle_partitions=CPUS,
                                 driver_memory="6g")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for table in ("documents", "embeddings", "events"):
        path = f"{args.sf_dir}/{table}.parquet"
        if os.path.exists(path):
            spark.read.parquet(path).count()
    if args.probe:
        import bench
        scale_dir = bench.ensure_scale_corpus(spark, args.sf_dir)
    qs = registry.queries()
    for name in args.queries:
        fn = qs[name]
        group = f"job_sweep:{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = fn(spark, args.sf_dir)
        rows = df.collect()
        cold = round(time.perf_counter() - t0, 3)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(f"{group}:warm", name)
        rec = {"query": name, "jobs": jobs, "cold_s": cold,
               "warm_s": _timed(lambda: fn(spark, args.sf_dir).collect()),
               "rows": len(rows),
               "digest": hashlib.md5(repr(normalize(
                   [tuple(r) for r in rows], df.columns)).encode())
               .hexdigest()}
        if args.plan:
            sc.setJobGroup(f"{group}:plan", name)
            with open(os.path.join(args.plan, f"{name}.txt"), "w") as f:
                f.write(_plan(fn(spark, args.sf_dir)))
        if args.noop:
            def noop():
                fn(spark, args.sf_dir).write.format("noop") \
                    .mode("overwrite").save()
            noop()
            rec["warm_noop_s"] = _timed(noop)
        if args.probe:
            fn(spark, scale_dir).count()
            lo = max(_timed(lambda: fn(spark, args.sf_dir).count()), 1e-3)
            hi = _timed(lambda: fn(spark, scale_dir).count())
            rec["sec_10x"] = hi
            rec["exponent"] = round(math.log(hi / lo) / math.log(10), 3)
        print(json.dumps(rec), flush=True)
    spark.stop()


def _summary(name: str, recs: list) -> dict:
    jobs = [r["jobs"] for r in recs]
    out = {"query": name, "sessions": len(recs),
           "jobs": [min(jobs), statistics.median(jobs), max(jobs)],
           "cold_s": statistics.median(r["cold_s"] for r in recs),
           "warm_s": statistics.median(r["warm_s"] for r in recs),
           "rows": sorted({r["rows"] for r in recs}),
           "digests": sorted({r["digest"] for r in recs})}
    for key in ("warm_noop_s", "sec_10x", "exponent"):
        if key in recs[0]:
            out[key] = statistics.median(r[key] for r in recs)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sessions", type=int, default=3)
    ap.add_argument("--plan", metavar="DIR")
    ap.add_argument("--noop", action="store_true")
    ap.add_argument("--probe", action="store_true")
    ap.add_argument("--one-session", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.one_session:
        _session(args)
        return
    if args.plan:
        os.makedirs(args.plan, exist_ok=True)
    per_query = {name: [] for name in args.queries}
    for s in range(args.sessions):
        cmd = [sys.executable, os.path.abspath(__file__), "--one-session",
               args.sf_dir, *args.queries]
        cmd += ["--noop"] * args.noop + ["--probe"] * args.probe
        if args.plan and s == 0:
            cmd += ["--plan", args.plan]
        child = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                               check=True)
        for line in child.stdout.splitlines():
            if line.startswith("{"):
                rec = json.loads(line)
                rec["session"] = s
                per_query[rec["query"]].append(rec)
                print(json.dumps(rec), flush=True)
    for name, recs in per_query.items():
        print(json.dumps({"summary": _summary(name, recs)}), flush=True)


if __name__ == "__main__":
    main()
