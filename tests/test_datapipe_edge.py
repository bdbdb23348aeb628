"""Adversarial edge-corpus oracle gate (VERDICT r4 item #2).

The driver corpus is "friendly" — the sub-2-token `repetition_stats`
crash was found by review, not tests.  This module runs EVERY
documents-table datapipe query over a hostile corpus (empty string,
single token, whitespace-only, unicode whitespace/combining marks,
emoji/non-BMP, CRLF, quotes/backslashes, regex metacharacters, a jumbo
doc, an 8k-char single token, exact duplicates, massive repetition) and
compares Spark against the DuckDB oracle with the SAME normalization the
driver uses — so an engine-vs-engine divergence on any edge class fails
the suite.
"""

import math

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pdftotext_plus_plus_spark.datapipe import registry

# ---------------------------------------------------------------------------
# edge corpus
# ---------------------------------------------------------------------------

EDGE_TEXTS = [
    "",                                        # 0 empty string
    "x",                                       # 1 single 1-char token
    "   ",                                     # 2 spaces only
    "\t\r\n \r\n\t",                           # 3 whitespace mix + CRLF
    "\u00a0\u2003word\u00a0after",              # 4 unicode (non-ASCII) spaces
    "caf\u00e9 nai\u0308ve caf\u00e9",           # 5 composed + combining marks
    "a b",                                     # 6 two minimal tokens
    " ".join(f"tok{i % 97}" for i in range(6000)),    # 7 jumbo doc
    'he said "hi" \\ back\\slash \x08 bell',   # 8 quotes/backslashes/ctrl
    "!!! ??? ... ,,, ;;;",                     # 9 punctuation only
    "a b",                                     # 10 exact duplicate of 6
    "\U0001f600 \U0001f680 \U0001d518nicode",  # 11 emoji / non-BMP
    " ".join(["spam"] * 500),                  # 12 one token repeated 500x
    "123 456.789 -1e10 NaN Infinity",          # 13 numeric-looking tokens
    "\u041f\u0440\u0438\u0432\u0435\u0442 \u4f60\u597d\u4e16\u754c \u0645\u0631\u062d\u0628\u0627",  # 14 ru/zh/ar scripts
    "a.b a*b a(b a[b a{b a|b a+b a?b",         # 15 regex metacharacters
    "t" * 8000,                                # 16 one 8k-char token
    "  padded  ",                              # 17 leading/trailing spaces
    "line1\r\nline2\rline3\nline4",            # 18 every newline convention
    "the quick brown fox jumps over the lazy dog and runs away today",  # 19
    "tab\x0bbed vertical\x0btab text",         # 20 vertical tab: not RE2 \s
]


# every registry query that reads ONLY the documents table
EDGE_QUERIES = [
    "exact_dedup", "ngram_jaccard_pairs", "minhash_signatures",
    "minhash_lsh_pairs", "simhash", "simhash_near_pairs",
    "benchmark_decontaminate",
    "lang_id", "lang_id_trigram", "quality_score", "token_counts",
    "fingerprint", "repetition_stats", "gopher_quality_filter",
    "unigram_surprisal",
    # round-6 batch #2 (documents-only members)
    "duplicate_ngram_spans", "bigram_surprisal",
    # round-6 batch #3 (documents-only members)
    "stratified_sample", "dsir_importance_weights", "sequence_packing",
    "pii_scrub", "source_mix_weights", "vocab_top_tokens",
    "tfidf_keywords", "per_source_topk",
    "chunk_documents", "dedup_clusters", "dedup_clusters_fixpoint",
    "dedup_keep_list",
    # round-8 batch #16 (documents-only members; weighted_sample's
    # zero-weight floor and the representative argmax on degenerate
    # single-member clusters are exactly edge-corpus territory)
    "dedup_representatives", "weighted_sample_topk",
    "multimodal_meta", "image_resize_meta", "audio_meta",
    "video_frame_sample", "image_phash", "image_phash_near_pairs",
    "audio_energy_fingerprint",
    # r9 (ADVICE r8, low): the seven documents-only batch 14-17 ops that
    # were missing from this list — pure regression guard so future
    # Spark/DuckDB string-edge divergences in these kernels fail here
    "host_template_ratio", "sitemap_extract", "content_type_sniff",
    "mirror_host_pairs", "length_percentiles", "change_rate_estimate",
    "postings_gap_stats",
    # the remaining documents-only token queries: every query that
    # tokenizes through datapipe's split helpers is gated here
    "containment_pairs", "quality_classifier", "inverted_index",
    "bm25_topk", "perplexity_buckets",
    # the graph queries on the iteration driver: with 21 documents the
    # outlink graph's pmod(.., n) wraps at a small n, ids 0-9 form one
    # redirect cycle and ids 19 -> 10 a 9-hop redirect chain
    "link_pagerank", "trust_propagation", "hits_scores",
    "redirect_resolution",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    tbl = pa.table({
        "doc_id": pa.array(range(len(EDGE_TEXTS)), type=pa.int64()),
        "text": pa.array(EDGE_TEXTS, type=pa.string()),
        "lang": pa.array("en" if i % 3 else "xx"
                         for i in range(len(EDGE_TEXTS))),
        "source": pa.array(f"src{i % 4}" for i in range(len(EDGE_TEXTS))),
        "n_chars": pa.array([len(t) for t in EDGE_TEXTS], type=pa.int64()),
    })
    pq.write_table(tbl, d / "documents.parquet")
    return str(d)


@pytest.fixture(scope="module")
def edge_con(edge_dir):
    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS "
            f"SELECT * FROM '{edge_dir}/documents.parquet'")
    yield con
    con.close()


def _normalize(rows, columns):
    """The driver's comparison: columns sorted by name, floats rounded,
    rows sorted by repr (scripts/check_oracles.py)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=repr)
    return out


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_corpus_oracle_parity(spark, edge_dir, edge_con, name):
    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    sdf = fn(spark, edge_dir)
    srows = [tuple(r) for r in sdf.collect()]
    rel = edge_con.sql(sql)
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(dcols), name
    sn, dn = _normalize(srows, sdf.columns), _normalize(drows, dcols)
    assert sn == dn, (
        f"{name}: spark={len(sn)} duck={len(dn)}\n"
        f"only-spark: {[r for r in sn if r not in dn][:3]}\n"
        f"only-duck:  {[r for r in dn if r not in sn][:3]}")
