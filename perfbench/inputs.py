"""Seeded benchmark inputs, generated once per (kind, size, seed) and cached.

Two kinds of input exist:

* the extraction corpus: rows of ``fixtures.build_corpus(..., jumbo_every=50)``
  written as a pages parquet (``url``, ``html``, ``text``, ``lang``) plus a
  goldens parquet (``url``, ``golden_text``, ``golden_text_extended``) that
  the correctness check reads;
* the curation tables: ``documents.parquet`` and ``embeddings.parquet``,
  copies of the 5 000-document / 2 000-vector datapipe tables of the
  sf0.1 test data set (seed 42), kept in ``perfbench/data/``, cut to their
  first rows at the smoke size, in a row order permuted by the seed.

Generation time is kept out of every timed section and out of ``setup_s``.
"""

from __future__ import annotations

import multiprocessing
import os
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import resource_tracker

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_PROCS = 4
CHUNK_DOCS = 250
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _corpus_chunk(args):
    """One chunk of the corpus: its own build_corpus seed, URLs prefixed by
    the chunk so that they stay unique across chunks.  The URLs do not
    depend on the seed (see extraction_corpus)."""
    from pdftotext_plus_plus_spark import fixtures

    seed, chunk, n = args
    rows = fixtures.build_corpus(n, seed=seed * 64 + chunk, jumbo_every=50)
    prefix = "https://bench.test/c%d/" % chunk
    return [(prefix + r["url"].split("/", 3)[3], r["html"], r["golden_text"],
             fixtures.golden_extended_for_row(r), r["family"], r["n_pages"])
            for r in rows]


def extraction_corpus(cache_dir: str, n_docs: int, seed: int,
                      warm_docs: int) -> dict:
    """Pages + goldens parquet for ``n_docs`` documents, plus a pages parquet
    of the first ``warm_docs`` for set-up; returns paths and input
    statistics.  Chunks are built in parallel worker processes.

    The seed sets every payload but not the URLs.  ``engine.run_job`` hashes
    the URL into one of only two partitions at ``local[2]``, so seeded URLs
    would deal the 12 jumbo documents (about 40% of the payload bytes) out
    anew for each seed: over 42 seeds the split ran from 6/6 to 10/2, and
    the busier task's share of the bytes from 1.00 to 1.30 times the mean,
    a spread from seed to seed that no number of timed passes removes.
    With fixed URLs the layout is the same for every seed."""
    out = os.path.join(cache_dir, "corpus_n%d_s%d" % (n_docs, seed))
    pages_path = os.path.join(out, "pages.parquet")
    warm_path = os.path.join(out, "warm_%d.parquet" % warm_docs)
    golden_path = os.path.join(out, "goldens.parquet")
    if not os.path.exists(golden_path):
        sizes = [CHUNK_DOCS] * (n_docs // CHUNK_DOCS)
        if n_docs % CHUNK_DOCS:
            sizes.append(n_docs % CHUNK_DOCS)
        jobs = [(seed, c, n) for c, n in enumerate(sizes)]
        if len(jobs) > 1:
            ctx = multiprocessing.get_context("spawn")
            with ProcessPoolExecutor(min(GEN_PROCS, len(jobs)),
                                     mp_context=ctx) as pool:
                chunks = list(pool.map(_corpus_chunk, jobs))
            # the pool's locks started multiprocessing's resource-tracker
            # process, which otherwise lives as long as this one
            resource_tracker._resource_tracker._stop()
        else:
            chunks = [_corpus_chunk(j) for j in jobs]
        rows = [r for chunk in chunks for r in chunk]
        urls, htmls, goldens, goldens_ext, families, n_pages = map(
            list, zip(*rows))
        os.makedirs(out, exist_ok=True)
        pq.write_table(pa.table({
            "url": pa.array(urls, pa.string()),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array([""] * len(urls), pa.string()),
            "lang": pa.array(["en"] * len(urls), pa.string()),
        }), pages_path, row_group_size=256)
        # goldens last: their presence marks a complete cache entry
        pq.write_table(pa.table({
            "url": urls, "golden_text": goldens,
            "golden_text_extended": goldens_ext, "family": families,
            "n_pages": pa.array(n_pages, pa.int32()),
            "payload_bytes": pa.array([len(h) for h in htmls], pa.int64()),
        }), golden_path)
    if not os.path.exists(warm_path):
        pq.write_table(pq.read_table(pages_path).slice(0, warm_docs),
                       warm_path)
    g = pq.read_table(golden_path)
    return {"pages": pages_path, "goldens": golden_path,
            "warm_pages": warm_path,
            "docs": g.num_rows,
            "bytes": int(pa.compute.sum(g.column("payload_bytes")).as_py()),
            "families": len(set(g.column("family").to_pylist()))}


def curation_tables(cache_dir: str, n_docs: int, n_vecs: int,
                    seed: int) -> dict:
    """documents + embeddings parquet for the datapipe queries.

    The contents are the first ``n_docs`` / ``n_vecs`` rows of the tables in
    ``DATA_DIR``, so that every query's result digest can be recorded once
    and checked on every run; ``seed`` permutes the row order, which changes
    the scan and partition layout but must not change any query result."""
    out = os.path.join(cache_dir,
                       "tables_d%d_v%d_s%d" % (n_docs, n_vecs, seed))
    emb_path = os.path.join(out, "embeddings.parquet")
    if not os.path.exists(emb_path):
        order = np.random.default_rng(seed)
        os.makedirs(out, exist_ok=True)
        # embeddings last: their presence marks a complete cache entry
        for name, n in (("documents", n_docs), ("embeddings", n_vecs)):
            table = pq.read_table(os.path.join(DATA_DIR, name + ".parquet"))
            if n > table.num_rows:
                raise ValueError("%s has %d rows, %d asked for"
                                 % (name, table.num_rows, n))
            pq.write_table(table.slice(0, n).take(order.permutation(n)),
                           os.path.join(out, name + ".parquet"))
    return {"dir": out, "docs": n_docs, "vecs": n_vecs,
            "bytes": sum(os.path.getsize(os.path.join(out, f))
                         for f in os.listdir(out))}
