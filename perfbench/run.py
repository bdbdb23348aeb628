"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 10 --trace 0

Run it from the repository root.  ``--trace 0`` runs the workload untraced
and reports the end-to-end metrics; ``--trace 1`` runs the traced layer
profile (profile_layers.py) and reports every per-layer metric that
BENCHMARK.json lists.  That profile covers both workloads' layers, so it is
the same whichever ``--workload`` is given; the workload only names the
trace file, and one traced run per seed is enough.  ``--smoke``
shrinks every input to a few dozen documents for a quick self-test.  The
last line of standard output is the result object; progress and notes go to
stderr.  Inputs, Spark scratch space and traces live under perfbench/_cache.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

import inputs
import profile_layers
import workloads

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, "_cache")

# input sizes; "full" is what the benchmark measures, "smoke" is a self-test
SIZES = {
    "full": {"extract_docs": 600, "warm_docs": 8,
             "curate_docs": 5000, "curate_vecs": 2000},
    "smoke": {"extract_docs": 48, "warm_docs": 8,
              "curate_docs": 300, "curate_vecs": 120},
}


class Context:
    """Run-wide settings, input accessors and a notes record."""

    def __init__(self, seed: int, seconds: float, smoke: bool):
        self.seed = seed
        self.seconds = seconds
        self.size_name = "smoke" if smoke else "full"
        self.size = SIZES[self.size_name]
        self.size_key = "d%d_v%d" % (self.size["curate_docs"],
                                     self.size["curate_vecs"])
        self.work_dir = os.path.join(CACHE_DIR, "work-%d" % os.getpid())
        self.notes = {}

    def extraction_corpus(self) -> dict:
        t0 = time.perf_counter()
        corpus = inputs.extraction_corpus(
            CACHE_DIR, self.size["extract_docs"], self.seed,
            self.size["warm_docs"])
        self.note("inputs_s", time.perf_counter() - t0)
        self.note("corpus", {k: corpus[k] for k in ("docs", "bytes",
                                                    "families")})
        return corpus

    def curation_tables(self) -> dict:
        tables = inputs.curation_tables(
            CACHE_DIR, self.size["curate_docs"], self.size["curate_vecs"],
            self.seed)
        self.note("tables", {k: tables[k] for k in ("docs", "vecs", "bytes")})
        return tables

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def note(self, key: str, value) -> None:
        self.notes[key] = value


def _prepare_environment() -> None:
    """Keep Spark's and Python's scratch files inside the checkout and make
    the package importable by the Python workers."""
    tmp = os.path.join(CACHE_DIR, "tmp")
    local = os.path.join(CACHE_DIR, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [p for p in
                             os.environ.get("PYTHONPATH", "").split(os.pathsep)
                             if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options -Djava.io.tmpdir=%s "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell" % tmp)
    sys.path[:0] = [ROOT, BENCH_DIR]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for testing the benchmark itself")
    args = ap.parse_args(argv)

    ctx = Context(args.seed, args.seconds, args.smoke)
    try:
        if args.trace:
            result = profile_layers.run(ctx, args.workload)
        else:
            result = workloads.WORKLOADS[args.workload](ctx)
    finally:
        t0 = time.perf_counter()
        workloads.stop_spark()
        ctx.note("stop_s", time.perf_counter() - t0)
        shutil.rmtree(ctx.work_dir, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "size": ctx.size_name, "notes": ctx.notes}),
          file=sys.stderr)
    print(json.dumps({"correct": result["failed"] == 0,
                      "attempted": result["attempted"],
                      "failed": result["failed"],
                      "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    if not os.path.isdir(os.path.join(ROOT, "pdftotext_plus_plus_spark")):
        print("perfbench: pdftotext_plus_plus_spark/ not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        sys.exit(2)
    _prepare_environment()
    sys.exit(main())
