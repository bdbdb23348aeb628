#!/usr/bin/env python3
"""Batch extraction job — the spark-submit entry point.

Cluster usage (north rule):

    cd /root/repo && zip -qr /tmp/engine.zip pdftotext_plus_plus_spark
    spark-submit --py-files /tmp/engine.zip scripts/extract_job.py \
        --input  s3://corpus/pages/          \
        --output s3://corpus/extracted/      \
        --partitions 4096 --with-spans

Local smoke:

    python3 scripts/extract_job.py --demo

The job appends to a data snapshot and resumes exactly from it on re-run
(anti-join on url).  Each run also appends one lineage row per task under
``lineage/`` and its input-file manifest under ``lineage_files/``, both
stamped with the run's ``run_id``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--input", help="input pages parquet path")
    parser.add_argument("--output", help="output snapshot directory")
    parser.add_argument("--partitions", type=int, default=None)
    parser.add_argument("--with-spans", action="store_true")
    parser.add_argument("--no-resume", action="store_true")
    # reference-CLI parity (pdftotext++.cpp options)
    parser.add_argument("--role", action="append", default=None,
                        help="only serialize blocks with these roles "
                             "(repeatable; default: all roles)")
    parser.add_argument("--type", action="append", default=None,
                        dest="units",
                        help="also emit a JSONL column with these element "
                             "types (pages/blocks/words/characters/figures/"
                             "shapes; repeatable)")
    parser.add_argument("--skip-dehyphenation", action="store_true")
    parser.add_argument("--skip-reading-order", action="store_true")
    parser.add_argument("--skip-diacritics-merging", action="store_true")
    parser.add_argument("--skip-glyph-statistics", action="store_true")
    parser.add_argument("--skip-word-statistics", action="store_true")
    parser.add_argument("--skip-line-statistics", action="store_true")
    parser.add_argument("--predict-semantic-roles", action="store_true",
                        help="enable semantic-role prediction (default off, "
                             "like --skip-semantic-roles-prediction in the "
                             "reference)")
    parser.add_argument("--role-head", choices=("heuristic", "model"),
                        default="heuristic",
                        help="role classifier: deterministic heuristic or "
                             "the reference-architecture numpy net (resources/role_net.npz)")
    parser.add_argument("--demo", action="store_true",
                        help="run on a generated 200-doc fixture corpus in /tmp")
    args = parser.parse_args()

    from dataclasses import replace

    from pyspark.sql import SparkSession

    from pdftotext_plus_plus_spark import engine
    from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG

    spark = SparkSession.builder.appName("pdftotext++-spark").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.demo:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pdftotext_plus_plus_spark import fixtures

        rows = fixtures.build_corpus(200, jumbo_every=40)
        demo_in = "/tmp/extract_job_demo_pages.parquet"
        pq.write_table(pa.table({
            "url": [r["url"] for r in rows],
            "html": [r["html"] for r in rows]}), demo_in)
        args.input = demo_in
        args.output = args.output or "/tmp/extract_job_demo_out"

    if not args.input or not args.output:
        parser.error("--input and --output are required (or use --demo)")

    config = replace(
        DEFAULT_CONFIG,
        skip_dehyphenation=args.skip_dehyphenation,
        skip_reading_order=args.skip_reading_order,
        skip_diacritics_merging=args.skip_diacritics_merging,
        skip_glyph_statistics=args.skip_glyph_statistics,
        skip_word_statistics=args.skip_word_statistics,
        skip_line_statistics=args.skip_line_statistics,
        skip_semantic_roles=not args.predict_semantic_roles,
        role_head=args.role_head)
    summary = engine.run_job(
        spark, args.input, args.output,
        config=config,
        with_spans=args.with_spans,
        num_partitions=args.partitions,
        resume=not args.no_resume,
        roles=set(args.role) if args.role else None,
        jsonl_units=tuple(args.units) if args.units else None)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
