"""Central registry: query name -> (spark callable, DuckDB oracle).

This feeds the driver contract in ``__spark_entry__.py``.  The extraction
queries run the full engine over the deterministic fixture corpus and are
checked against a VALUES-table oracle built from the intent-level goldens —
so the driver's DuckDB comparison exercises the whole extraction engine,
not just relational ops.
"""

from __future__ import annotations

import copy
import functools
import hashlib
import random
import shutil
import tempfile
from collections import defaultdict
from dataclasses import replace
from typing import Callable, Dict, Tuple, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import engine, fixtures, streaming
from .. import warc as warcmod
from ..config import DEFAULT_CONFIG
from . import (_documents, chunking, crawlops, dedup, events, htmlstrip,
               multimodal, relational, sampling, similarity, textstats,
               webtext)

N_EXTRACT_DOCS = 48

# the ONE WARC fixture shard count shared by every WARC-sourced query AND
# its oracle — change it here and nowhere else, or the 'checked against the
# SAME golden' claims drift
WARC_FIXTURE_N_FILES = 4


@functools.cache
def _fixture_corpus() -> tuple:
    return tuple(fixtures.build_corpus(N_EXTRACT_DOCS, jumbo_every=16))


def _fixture_rows():
    """The fixture corpus behind the extraction and WARC queries and their
    golden oracles: 48 documents, a jumbo one every 16th.  Built once per
    process; each call returns a deep copy, so no caller can change what
    the next one sees."""
    return copy.deepcopy(list(_fixture_corpus()))


def _make_pages_df(spark: SparkSession, rows):
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("golden_text", T.StringType()),
        T.StructField("family", T.StringType()),
    ])
    return spark.createDataFrame(rows, schema)


def _extract(spark: SparkSession, rows, **options) -> DataFrame:
    """The engine over fixture rows, at the registry's 8 partitions."""
    return engine.extract_pages(_make_pages_df(spark, rows),
                                num_partitions=8, **options)


def _block_rows(out: DataFrame) -> DataFrame:
    """Block spans in reading order: (url, pos, block_text, role)."""
    return (out.select("url", F.posexplode("blocks").alias("pos", "block"))
            .select("url", "pos",
                    F.col("block.text").alias("block_text"),
                    F.col("block.role").alias("role")))


def _jsonl_lines(out: DataFrame) -> DataFrame:
    """The JSONL sink's records, one per row: (url, pos, line)."""
    return (out.select(
        "url", F.posexplode(F.split(F.col("jsonl"), "\n")).alias("pos", "line"))
        .filter(F.col("line") != ""))  # the sink's trailing newline


def extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: full 13-stage extraction over the fixture corpus."""
    return _extract(spark, _fixture_rows()).select("url", "extracted_text")


def extract_text_oracle_sql() -> str:
    """VALUES-table oracle: the intent-level goldens, computed without
    running the pipeline (fixtures.golden_from_blocks)."""
    values = ",\n".join(
        "('%s', '%s')" % (r["url"], r["golden_text"].replace("'", "''"))
        for r in _fixture_rows())
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, extracted_text)" % values)


def _on_scratch(prefix: str, build: Callable[[str], DataFrame]) -> DataFrame:
    """``build(root)`` over a fresh scratch directory ``root``, eagerly
    checkpointed on the executors so the result outlives the directory,
    which is then removed.  No registered query path materializes
    through the driver (VERDICT r5 item #2)."""
    root = tempfile.mkdtemp(prefix=prefix)
    try:
        return build(root).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _warc_shards(root: str) -> str:
    """``root``, after writing the fixture corpus's WARC shards there."""
    warcmod.write_warc_dir(_fixture_rows(), root,
                           n_files=WARC_FIXTURE_N_FILES)
    return root


def stream_extract_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming == batch equivalence, driver-visible: the
    fixture corpus is drained through :func:`streaming.stream_extract`
    (file source -> foreachBatch -> idempotent batch_id-partitioned sink,
    multiple micro-batches via maxFilesPerTrigger) and the streamed output
    is compared against the SAME intent-level golden oracle as the batch
    path (ref: the one 13-stage pipeline, PdfToTextPlusPlus.cpp:72-267 —
    streaming is an ingestion mode, not a different engine)."""
    def build(root):
        # write the corpus as FOUR files so availableNow +
        # maxFilesPerTrigger yields several micro-batches (the equivalence
        # must hold across batch boundaries, not just for a single batch)
        pages = _make_pages_df(spark, _fixture_rows())
        pages.repartition(4).write.parquet(f"{root}/in")
        stream = (spark.readStream
                  .schema(pages.schema)
                  .option("maxFilesPerTrigger", 1)
                  .format("parquet")
                  .load(f"{root}/in"))
        streaming.stream_extract_from(stream, f"{root}/out",
                                      f"{root}/ckpt", num_partitions=8)
        return (spark.read.parquet(f"{root}/out")
                .select("url", "extracted_text"))

    return _on_scratch("stream_equiv_", build)


def _warc_extracted_pages(spark: SparkSession) -> DataFrame:
    """The fixture corpus round-tripped WARC-shards -> binaryFile +
    tolerant splitter -> the SAME 13-stage engine: (url, extracted_text).
    Shared by warc_extract_equivalence and warc_wet_records."""
    return _on_scratch("warc_equiv_", lambda root: engine.extract_pages(
        warcmod.read_warc(spark, _warc_shards(root)), num_partitions=8)
        .select("url", "extracted_text"))


def warc_extract_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC-source ingestion == parquet-source extraction, driver-visible:
    the fixture corpus is serialized as four spec-shaped ISO 28500 WARC
    files (warcinfo head record + HTTP-framed response records), read
    back through ``binaryFile`` + the Arrow-batched record splitter
    (:mod:`..warc`), and run through the SAME 13-stage engine — checked
    against the SAME intent-level golden oracle as ``extract_text``
    (ref: the reference walks a directory of PDFs, pdftotext++.cpp;
    WARC is this repo's crawl-native form of that S1 source surface)."""
    return _warc_extracted_pages(spark)


def warc_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style random-access index over the fixture WARC shards:
    (url, warc_date, filename, offset, length) per response record,
    with blob[offset:offset+length] a complete standalone record (the
    contract is pytest-verified by fetching and byte-comparing payloads;
    here the index itself is oracled against the deterministic
    construction)."""
    return _on_scratch("warc_cdx_", lambda root: warcmod.cdx_index(
        spark, _warc_shards(root)))


def warc_wet_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl WARC->WET product, round-tripped end to end:
    fixture WARC shards -> binaryFile + tolerant splitter -> the SAME
    13-stage engine -> WET ``conversion`` shards (one applyInPandas per
    url-hash bucket, deterministic shard bytes) -> tolerant WET
    parse-back.  The parsed-back (url, extracted_text) rows are checked
    against the SAME intent-level golden oracle as ``extract_text``, so
    the WET writer/parser pair is proven byte-faithful to the engine's
    text surface (ref: the reference's TXT sink, TextSerializer.cpp —
    WET is that sink's crawl-native container form, as WARC is the
    crawl-native form of its directory-walk source).

    Plan shape at 100 TB: WET conversion is ONE keyed applyInPandas
    whose per-task state is a single output shard's text (the
    post-extraction product, ~10x under the WARC input); parse-back is
    the same one-task-per-shard scan as read_warc.
    """
    wet = warcmod.wet_convert(_warc_extracted_pages(spark))
    return warcmod.read_wet_blobs(wet).localCheckpoint(eager=True)


def warc_wat_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CommonCrawl WAT product over the fixture WARC shards — one
    JSON ``metadata`` record per response record (original headers,
    md5 payload digest + length, container filename/offset/length),
    built AND parsed back inside each shard's task (:func:`warc.
    wat_index`), completing the WARC/WAT/WET triad.  Oracled against an
    INDEPENDENT construction: index_warc + read_record + hashlib over
    the same shard layout, never touching the WAT writer/parser pair —
    so a JSON field drift or a digest bug fails the hash."""
    return _on_scratch("warc_wat_", lambda root: warcmod.wat_index(
        spark, _warc_shards(root)))


def warc_revisit_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot payload dedup at WARC write time (ISO 28500 §6.7
    revisit records — how CommonCrawl-style archives avoid storing the
    unchanged web twice): snapshot B of the documents corpus is written
    against snapshot A's digest journal, unchanged payloads becoming
    EMPTY ``revisit`` records (WARC-Profile identical-payload-digest,
    WARC-Refers-To-Target-URI, WARC-Payload-Digest) and new/changed
    payloads full ``response`` records; the shards are then parsed back
    and each stored record reported as (url, record_type,
    payload_digest, stored_len).

    The OPERATOR decides by digest comparison (a url-keyed equi-join
    against the journal, hash join at 10^12 rows), never by the
    synthesis residues the oracle uses — and the response digests are
    RECOMPUTED from the parsed-back bytes, so a writer/parser byte slip
    fails the hash.  Plan shape at 100 TB: journal equi-join (AQE-
    splittable) -> one applyInPandas per url-hash bucket (deterministic
    shard bytes, the wet_convert shape) -> one-task-per-shard streaming
    parse-back with the splitter's bounded flush discipline.
    """
    docs = _documents(spark, sf_dir)
    url = F.concat(F.lit("https://snap.test/"),
                   F.col("doc_id").cast("string"))
    payload_b = F.when(F.col("doc_id") % 5 == 0,
                       F.concat(F.col("text"), F.lit("|v2"))) \
                 .otherwise(F.col("text"))
    b = docs.select(url.alias("url"),
                    F.encode(payload_b, "UTF-8").alias("payload"))
    journal = (docs.filter(F.col("doc_id") % 7 != 3)
               .select(url.alias("url"),
                       F.md5(F.encode(F.col("text"), "UTF-8"))
                       .alias("journal_digest")))
    joined = b.join(journal, "url", "left")
    shards = warcmod.snapshot_warc_shards(joined)
    return warcmod.read_snapshot_records(shards).localCheckpoint(eager=True)


WARC_REVISIT_RECORDS_SQL = """
WITH b AS (
  SELECT doc_id, 'https://snap.test/' || doc_id AS url,
         CASE WHEN doc_id % 5 = 0 THEN text || '|v2' ELSE text END
           AS payload
  FROM documents
),
a AS (
  SELECT 'https://snap.test/' || doc_id AS url, md5(text) AS digest_a
  FROM documents WHERE doc_id % 7 <> 3
)
SELECT b.url,
       CASE WHEN a.digest_a IS NOT NULL AND md5(b.payload) = a.digest_a
            THEN 'revisit' ELSE 'response' END AS record_type,
       md5(b.payload) AS payload_digest,
       CAST(CASE WHEN a.digest_a IS NOT NULL AND md5(b.payload) = a.digest_a
                 THEN 0 ELSE strlen(b.payload) END AS BIGINT) AS stored_len
FROM b LEFT JOIN a ON a.url = b.url
"""


def _warc_fixture_index():
    """(filename, blob, url, warc_date, offset, length) per response
    record of the fixture shards, computed over warc.shard_files — the
    same shard layout the queries write — without Spark."""
    for name, blob in warcmod.shard_files(_fixture_rows(),
                                          n_files=WARC_FIXTURE_N_FILES):
        for url, date, off, ln in warcmod.index_warc(blob):
            yield name, blob, url, date, off, ln


def _sql_str(s: str) -> str:
    return s.replace("'", "''")


def warc_wat_records_oracle_sql() -> str:
    """VALUES oracle built WITHOUT the WAT writer/parser: CDX-walk each
    shard (index_warc), fetch each record slice (read_record), hash the
    payload directly."""
    values = []
    for name, blob, url, date, off, ln in _warc_fixture_index():
        _, payload = warcmod.read_record(blob[off:off + ln])
        values.append(
            "('%s', '%s', '%s', %d, %d, 'md5:%s', %d)"
            % (_sql_str(url), _sql_str(date), _sql_str(name), off, ln,
               hashlib.md5(payload).hexdigest(), len(payload)))
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, warc_date, filename,"
            " \"offset\", length, payload_digest, payload_len)"
            % ",\n".join(values))


def warc_cdx_index_oracle_sql() -> str:
    """VALUES oracle: the index computed over warc.shard_files — the
    same shard layout the query writes — without Spark."""
    values = ["('%s', '%s', '%s', %d, %d)"
              % (_sql_str(url), _sql_str(date), _sql_str(name), off, ln)
              for name, _, url, date, off, ln in _warc_fixture_index()]
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, warc_date, filename,"
            " \"offset\", length)" % ",\n".join(values))


def streaming_url_dedup_equivalence(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Streaming stateful URL dedup == batch url_normalize_dedup keeps:
    the documents table's canonical URLs are drained through
    :func:`..streaming.streaming_url_dedup` (applyInPandasWithState,
    emit-on-improvement suppression) in several micro-batches; min() over
    the sink per URL must equal the batch keep set, which is what the
    DuckDB oracle computes directly."""
    def build(root):
        urls = webtext._canon_urls(_documents(spark, sf_dir))
        urls.select("doc_id", "canon_url").repartition(4).write.parquet(
            f"{root}/in")
        streaming.streaming_url_dedup(spark, f"{root}/in", f"{root}/out",
                                      f"{root}/ckpt")
        return (spark.read.parquet(f"{root}/out")
                .groupBy("canon_url")
                .agg(F.min("doc_id").alias("doc_id")))

    return _on_scratch("stream_urldedup_", build)


STREAMING_URL_DEDUP_SQL = f"""
WITH urls AS ({webtext.CANON_URLS_SQL})
SELECT canon_url, min(doc_id) AS doc_id FROM urls GROUP BY canon_url
"""


def extract_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block spans in reading order: (url, pos, block_text, role).

    Checks the structured-span surface (S7/JSONL semantics) through the
    driver: positions are the final reading order, text is the block text
    (no dehyphenation substitution — that is a serializer-level rewrite).
    """
    return _block_rows(_extract(spark, _fixture_rows(), with_spans=True))


def extract_blocks_oracle_sql() -> str:
    values = []
    for r in _fixture_rows():
        for pos, text in enumerate(r["golden_blocks"]):
            values.append("('%s', %d, '%s', 'paragraph')"
                          % (r["url"], pos, text.replace("'", "''")))
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, pos, block_text, role)"
            % ",\n".join(values))


def extract_text_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — TXT-EXTENDED sink over the full fixture corpus: '[ROLE] '
    prefixes, \\x01 emphasis marks, \\n\\x0c page breaks
    (PlainTextExtendedSerializer.cpp:44-110)."""
    return (_extract(spark, _fixture_rows())
            .select("url", "extracted_text_extended"))


def extract_text_extended_oracle_sql() -> str:
    values = ",\n".join(
        "('%s', '%s')" % (r["url"],
                          fixtures.golden_extended_for_row(r).replace("'", "''"))
        for r in _fixture_rows())
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, extracted_text_extended)"
            % values)


# families where per-page block creation rank == emission (reading) order,
# so the deterministic JSONL id "block-{page}-{rank}" is intent-derivable
# (rotated is the one family where the sidebar reorders ranks; jumbo is
# excluded only to bound query runtime)
JSONL_FAMILIES = [
    "plain-1col", "two-col", "hyphenated", "diacritics", "ligatures",
    "charnames", "headings", "multi-page", "degenerate", "centered",
    "enumerations", "subsuper", "stacked-math", "figures", "hanging-indent",
    "three-col", "mixed-two-col", "clipped-figure", "wmode", "article-roles",
]
N_JSONL_DOCS = 40


def _blocks_per_page(r):
    """Output blocks per page of a fixture doc: its family's layout rule,
    else an even split."""
    n_pages = r["n_pages"]
    nb = len(fixtures.golden_dehyphenated_blocks(r["golden_intent"]))
    bpp_fn, _ = fixtures.FAMILY_EXT_META.get(r["family"], (None, None))
    return bpp_fn(nb, n_pages) if bpp_fn else [nb // n_pages] * n_pages


def _jsonl_golden_rows():
    out = []
    for r in fixtures.build_corpus(N_JSONL_DOCS, families=JSONL_FAMILIES):
        texts = fixtures.golden_block_texts(r["golden_intent"])
        pos = 0
        for page_num, n in enumerate(_blocks_per_page(r), start=1):
            for rank in range(n):
                out.append((r["url"], pos, "block-%d-%d" % (page_num, rank),
                            page_num, texts[pos], "paragraph"))
                pos += 1
    return out


def extract_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — the JSONL string sink itself: one JSON line per block
    (JsonlSerializer.cpp:53-270), parsed back into fields so the driver
    checks ids, linkage, escaping, and text through the string surface."""
    out = _extract(spark, fixtures.build_corpus(
        N_JSONL_DOCS, families=JSONL_FAMILIES), jsonl_units=("blocks",))
    return _jsonl_lines(out).select(
        "url", "pos",
        F.get_json_object("line", "$.id").alias("block_id"),
        F.get_json_object("line", "$.page").cast("int").alias("page"),
        F.get_json_object("line", "$.text").alias("block_text"),
        F.get_json_object("line", "$.role").alias("role"))


def extract_jsonl_oracle_sql() -> str:
    values = ",\n".join(
        "('%s', %d, '%s', %d, '%s', '%s')"
        % (url, pos, bid, page, text.replace("'", "''"), role)
        for url, pos, bid, page, text, role in _jsonl_golden_rows())
    return ("SELECT * FROM (VALUES\n%s\n) "
            "AS t(url, pos, block_id, page, block_text, role)" % values)


# families whose per-page word creation order equals reading order AND
# whose word stream is fully intent-derivable (no glyph-name/diacritic
# rewrites): the JSONL words-unit oracle lists every word incl. the
# second parts of hyphenated words (JsonlSerializer.cpp:204-238 emits the
# raw word stream, no hyphen skip)
JSONL_WORD_FAMILIES = ["plain-1col", "hyphenated", "enumerations",
                       "hanging-indent", "multi-page", "headings"]
N_JSONL_WORD_DOCS = 18


def extract_jsonl_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 words unit — the JSONL word stream (raw words, hyphen halves
    separate) parsed back: ids, page, text, block linkage."""
    out = _extract(spark, fixtures.build_corpus(
        N_JSONL_WORD_DOCS, families=JSONL_WORD_FAMILIES),
        jsonl_units=("words",))
    return _jsonl_lines(out).select(
        "url", "pos",
        F.get_json_object("line", "$.id").alias("word_id"),
        F.get_json_object("line", "$.page").cast("int").alias("page"),
        F.get_json_object("line", "$.text").alias("word_text"),
        F.get_json_object("line", "$.block").alias("block_id"))


def extract_jsonl_words_oracle_sql() -> str:
    rows = fixtures.build_corpus(N_JSONL_WORD_DOCS,
                                 families=JSONL_WORD_FAMILIES)
    values = []
    for r in rows:
        pos = 0
        block_idx = 0
        # intent blocks with at least one nonempty line, in order (the same
        # filter golden_block_texts applies)
        blocks = [b for b in r["golden_intent"] if any(line for line in b)]
        for page_num, n in enumerate(_blocks_per_page(r), start=1):
            word_rank = 0
            for block_rank in range(n):
                for line in blocks[block_idx]:
                    for tok in line:
                        values.append(
                            "('%s', %d, 'word-%d-%d', %d, '%s', 'block-%d-%d')"
                            % (r["url"], pos, page_num, word_rank, page_num,
                               tok.replace("'", "''"), page_num, block_rank))
                        pos += 1
                        word_rank += 1
                block_idx += 1
    return ("SELECT * FROM (VALUES\n%s\n) "
            "AS t(url, pos, word_id, page, word_text, block_id)"
            % ",\n".join(values))


N_JSONL_CHAR_DOCS = 6


def extract_jsonl_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 characters unit — per-char records with word/block linkage
    (JsonlSerializer.cpp:101-156), parsed back from the string surface.
    plain-1col only: every char is intent-derivable (one char per letter,
    decode order = reading order, no diacritic rewrites)."""
    out = _extract(spark, fixtures.build_corpus(
        N_JSONL_CHAR_DOCS, families=["plain-1col"]),
        jsonl_units=("characters",))
    return _jsonl_lines(out).select(
        "url", "pos",
        F.get_json_object("line", "$.id").alias("char_id"),
        F.get_json_object("line", "$.text").alias("char_text"),
        F.get_json_object("line", "$.word").alias("word_id"),
        F.get_json_object("line", "$.block").alias("block_id"))


def extract_jsonl_chars_oracle_sql() -> str:
    rows = fixtures.build_corpus(N_JSONL_CHAR_DOCS, families=["plain-1col"])
    values = []
    for r in rows:
        pos = char_rank = word_rank = 0
        blocks = [b for b in r["golden_intent"] if any(line for line in b)]
        for block_rank, block in enumerate(blocks):
            for line in block:
                for tok in line:
                    for ch in tok:
                        values.append(
                            "('%s', %d, 'char-1-%d', '%s', 'word-1-%d', "
                            "'block-1-%d')"
                            % (r["url"], pos, char_rank,
                               ch.replace("'", "''"), word_rank, block_rank))
                        pos += 1
                        char_rank += 1
                    word_rank += 1
    return ("SELECT * FROM (VALUES\n%s\n) "
            "AS t(url, pos, char_id, char_text, word_id, block_id)"
            % ",\n".join(values))


def extract_jsonl_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 pages unit — page records with dimensions
    (JsonlSerializer.cpp:84-97)."""
    out = _extract(spark, fixtures.build_corpus(
        N_JSONL_DOCS, families=JSONL_FAMILIES), jsonl_units=("pages",))
    return _jsonl_lines(out).select(
        "url",
        F.get_json_object("line", "$.num").cast("int").alias("num"),
        F.get_json_object("line", "$.width").cast("double").alias("width"),
        F.get_json_object("line", "$.height").cast("double").alias("height"))


def extract_jsonl_pages_oracle_sql() -> str:
    rows = fixtures.build_corpus(N_JSONL_DOCS, families=JSONL_FAMILIES)
    values = []
    for r in rows:
        for num in range(1, r["n_pages"] + 1):
            # CAST: a bare 612.0 literal is DECIMAL(4,1) in DuckDB,
            # while the Spark side emits DOUBLE (type-parity gate)
            values.append(
                "('%s', %d, CAST(612.0 AS DOUBLE), CAST(792.0 AS DOUBLE))"
                % (r["url"], num))
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, num, width, height)"
            % ",\n".join(values))


# families with non-text elements whose bboxes are construction-derivable
JSONL_FIG_FAMILIES = ["figures", "clipped-figure"]
N_JSONL_FIG_DOCS = 12


def _fig_fixture_pages():
    """(url, pages) per figures/shapes fixture doc, the pages being the
    CONSTRUCTION-TIME page dicts captured before encoding
    (fixtures.build_family_pages), never read back from the decoder or
    serializer."""
    for i in range(N_JSONL_FIG_DOCS):
        family = JSONL_FIG_FAMILIES[i % len(JSONL_FIG_FAMILIES)]
        rng = random.Random(42 * 1000003 + i)  # build_corpus's per-doc rng
        _, _, pages = fixtures.build_family_pages(family, rng)
        yield "https://fixture.test/%s/doc-%05d" % (family, i), pages


def _extract_fig_docs(spark: SparkSession, **options) -> DataFrame:
    return _extract(spark, fixtures.build_corpus(
        N_JSONL_FIG_DOCS, families=JSONL_FIG_FAMILIES), **options)


def extract_jsonl_figures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 figures/shapes units — non-text element records with ids, page
    linkage and bboxes (JsonlSerializer.cpp:159-202), parsed back from the
    string surface.  The clipped-figure family also exercises the
    clip-diverted char path feeding the figure bbox (PdfParsing.cpp:513-591
    — here the diverted chars lie inside the box, so the emitted bbox must
    equal the construction-time one exactly)."""
    out = _extract_fig_docs(spark, jsonl_units=("figures", "shapes"))
    return _jsonl_lines(out).select(
        "url", "pos",
        F.get_json_object("line", "$.type").alias("elem_type"),
        F.get_json_object("line", "$.id").alias("elem_id"),
        F.get_json_object("line", "$.page").cast("int").alias("page"),
        F.get_json_object("line", "$.rank").cast("int").alias("rank"),
        F.get_json_object("line", "$.minX").cast("double").alias("min_x"),
        F.get_json_object("line", "$.minY").cast("double").alias("min_y"),
        F.get_json_object("line", "$.maxX").cast("double").alias("max_x"),
        F.get_json_object("line", "$.maxY").cast("double").alias("max_y"))


def extract_jsonl_figures_oracle_sql() -> str:
    """VALUES oracle from the construction-time page geometry."""
    values = []
    for url, pages in _fig_fixture_pages():
        pos = 0
        for kind_key, kind in (("figures", "figure"), ("shapes", "shape")):
            for page in pages:
                for j, (lx, uy, rx, ly) in enumerate(page.get(kind_key, [])):
                    values.append(
                        "('%s', %d, '%s', '%s-%d-%d', %d, %d, %r, %r, %r, %r)"
                        % (url, pos, kind, kind, page["page_num"], j,
                           page["page_num"], j,
                           float(lx), float(uy), float(rx), float(ly)))
                    pos += 1
    return ("SELECT url, pos, elem_type, elem_id, page, rank,"
            " CAST(min_x AS DOUBLE) AS min_x, CAST(min_y AS DOUBLE) AS min_y,"
            " CAST(max_x AS DOUBLE) AS max_x, CAST(max_y AS DOUBLE) AS max_y"
            " FROM (VALUES\n%s\n) AS t(url, pos, elem_type, elem_id,"
            " page, rank, min_x, min_y, max_x, max_y)" % ",\n".join(values))


def extract_jsonl_shapes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 shapes unit alone — non-text line/path records with ids, page
    linkage and bboxes (JsonlSerializer.cpp:159-202, the `shapes` branch),
    parsed back from the string surface.  Mirrors extract_jsonl_figures but
    requests ONLY the shapes unit, pinning that the serializer's unit
    selection emits shape records independently of figures."""
    out = _extract_fig_docs(spark, jsonl_units=("shapes",))
    return _jsonl_lines(out).select(
        "url", "pos",
        F.get_json_object("line", "$.id").alias("shape_id"),
        F.get_json_object("line", "$.page").cast("int").alias("page"),
        F.get_json_object("line", "$.rank").cast("int").alias("rank"),
        F.get_json_object("line", "$.minX").cast("double").alias("min_x"),
        F.get_json_object("line", "$.minY").cast("double").alias("min_y"),
        F.get_json_object("line", "$.maxX").cast("double").alias("max_x"),
        F.get_json_object("line", "$.maxY").cast("double").alias("max_y"))


def extract_jsonl_shapes_oracle_sql() -> str:
    """VALUES oracle from the construction-time page geometry (same source
    as the figures oracle, restricted to the shapes lists)."""
    values = []
    for url, pages in _fig_fixture_pages():
        pos = 0
        for page in pages:
            for j, (lx, uy, rx, ly) in enumerate(page.get("shapes", [])):
                values.append(
                    "('%s', %d, 'shape-%d-%d', %d, %d, %r, %r, %r, %r)"
                    % (url, pos, page["page_num"], j, page["page_num"], j,
                       float(lx), float(uy), float(rx), float(ly)))
                pos += 1
    return ("SELECT url, pos, shape_id, page, rank,"
            " CAST(min_x AS DOUBLE) AS min_x, CAST(min_y AS DOUBLE) AS min_y,"
            " CAST(max_x AS DOUBLE) AS max_x, CAST(max_y AS DOUBLE) AS max_y"
            " FROM (VALUES\n%s\n) AS t(url, pos, shape_id,"
            " page, rank, min_x, min_y, max_x, max_y)" % ",\n".join(values))


def _rect_rows(out: DataFrame, col: str, rect_rx: str) -> DataFrame:
    """Every ``rect_rx`` match in ``col``, numbered per url and parsed into
    (url, pos, elem_id, x, y, w, h)."""
    rects = (out.select(
        "url",
        F.posexplode(F.regexp_extract_all(col, F.lit(rect_rx), F.lit(0)))
        .alias("pos", "rect")))
    return rects.select(
        "url", "pos",
        F.regexp_extract("rect", rect_rx, 1).alias("elem_id"),
        F.regexp_extract("rect", rect_rx, 2).cast("double").alias("x"),
        F.regexp_extract("rect", rect_rx, 3).cast("double").alias("y"),
        F.regexp_extract("rect", rect_rx, 4).cast("double").alias("w"),
        F.regexp_extract("rect", rect_rx, 5).cast("double").alias("h"))


def _rect_oracle_sql(rect_y) -> str:
    """VALUES oracle for :func:`_rect_rows` from the construction-time page
    geometry, in the writers' emit order (pages outer, figures-then-shapes
    inner) with their %.1f number formatting reproduced exactly;
    ``rect_y(page, upper_y, lower_y)`` is the writer's y coordinate."""
    values = []
    for url, pages in _fig_fixture_pages():
        pos = 0
        for page in pages:
            for kind_key, kind in (("figures", "figure"), ("shapes", "shape")):
                for j, (lx, uy, rx, ly) in enumerate(page.get(kind_key, [])):
                    values.append(
                        "('%s', %d, '%s-%d-%d', %r, %r, %r, %r)"
                        % (url, pos, kind, page["page_num"], j,
                           float("%.1f" % lx),
                           float("%.1f" % rect_y(page, uy, ly)),
                           float("%.1f" % (rx - lx)),
                           float("%.1f" % (ly - uy))))
                    pos += 1
    return ("SELECT url, pos, elem_id, CAST(x AS DOUBLE) AS x,"
            " CAST(y AS DOUBLE) AS y, CAST(w AS DOUBLE) AS w,"
            " CAST(h AS DOUBLE) AS h"
            " FROM (VALUES\n%s\n) AS t(url, pos, elem_id, x, y, w, h)"
            % ",\n".join(values))


def extract_visualization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — the visualization sink through the driver: the figures/shapes
    layers of the per-document SVG (visualization.serialize_svg, ref
    PdfDocumentVisualization.cpp:268-288) parsed back from the string
    surface — ids and box geometry against construction-time page
    geometry."""
    out = _extract_fig_docs(spark, svg_units=("figures", "shapes"))
    return _rect_rows(out, "svg",
                      r'<rect class="(?:figures|shapes)" id="([a-z]+-\d+-\d+)"'
                      r' x="([-\d.]+)" y="([-\d.]+)"'
                      r' width="([-\d.]+)" height="([-\d.]+)"')


def extract_visualization_oracle_sql() -> str:
    """The SVG's y is the element's upper y."""
    return _rect_oracle_sql(lambda page, uy, ly: uy)


def extract_visualization_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 in the reference's LITERAL artifact form — the annotated PDF
    (pdfviz.serialize_pdf, ref PdfDocumentVisualization.cpp:93-640): the
    figures/shapes layers parsed back from the PDF's own content streams
    (/Elem marked-content ids + `re` operators), geometry in PDF
    bottom-left coordinates — the oracle applies the same
    pageHeight-minus-y flip the reference applies per annotation."""
    out = _extract_fig_docs(spark, pdf_units=("figures", "shapes"))
    return _rect_rows(out, "pdf",
                      r'/Elem <</Id \(([a-z]+-\d+-\d+)\)>> BDC\n'
                      r'([-\d.]+) ([-\d.]+) ([-\d.]+) ([-\d.]+) re S')


def extract_visualization_pdf_oracle_sql() -> str:
    """The PDF writer's y flip: y_pdf = clip_lower_y - lower_y."""
    return _rect_oracle_sql(lambda page, uy, ly: page["clip"][3] - ly)


N_ROLE_DOCS = 16


def _role_fixture_rows():
    return fixtures.build_corpus(N_ROLE_DOCS, families=["article-roles"])


def _roles_config(**options):
    return replace(DEFAULT_CONFIG, skip_semantic_roles=False, **options)


def extract_roles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 — role prediction enabled over the article-roles family; the
    oracle carries non-default roles (title/author-info/heading), so a
    regression in role prediction is driver-visible."""
    return _block_rows(_extract(spark, _role_fixture_rows(),
                                config=_roles_config(), with_spans=True))


def extract_roles_oracle_sql() -> str:
    values = []
    for r in _role_fixture_rows():
        texts = fixtures.golden_block_texts(r["golden_intent"])
        for pos, (text, role) in enumerate(zip(texts, fixtures.ARTICLE_ROLES)):
            values.append("('%s', %d, '%s', '%s')"
                          % (r["url"], pos, text.replace("'", "''"), role))
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, pos, block_text, role)"
            % ",\n".join(values))


def extract_roles_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T15 model path — the reference-architecture numpy net (embedding +
    LSTM over shipped BPE ids + layout features; kernel/roles_net.py) run
    end-to-end through Spark; same non-default-role oracle as
    extract_roles."""
    return _block_rows(_extract(spark, _role_fixture_rows(),
                                config=_roles_config(role_head="model"),
                                with_spans=True))


ROLE_FILTER = ("title", "heading")


def extract_text_role_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17 — serializer-level role filter (the reference CLI's --role,
    pdftotext++.cpp:236-241): TXT output restricted to title+heading
    blocks."""
    out = _extract(spark, _role_fixture_rows(), config=_roles_config(),
                   roles=ROLE_FILTER)
    return out.select("url", "extracted_text")


def extract_text_role_filtered_oracle_sql() -> str:
    values = []
    for r in _role_fixture_rows():
        blocks = fixtures.golden_dehyphenated_blocks(r["golden_intent"])
        kept = [" ".join(ws) for ws, role in zip(blocks, fixtures.ARTICLE_ROLES)
                if role in ROLE_FILTER]
        golden = "\n\n".join(kept) + "\n"
        values.append("('%s', '%s')" % (r["url"], golden.replace("'", "''")))
    return ("SELECT * FROM (VALUES\n%s\n) AS t(url, extracted_text)"
            % ",\n".join(values))


def extract_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-url physical word count — checks T2/T3 word segmentation through
    the driver (the intent token count equals the detected word count for
    every fixture family)."""
    return (_extract(spark, _fixture_rows())
            .select("url", "n_words", "n_blocks", "n_pages"))


def extract_word_counts_oracle_sql() -> str:
    values = []
    for r in _fixture_rows():
        intent = r["golden_intent"]
        n_words = sum(len(line) for block in intent for line in block)
        n_blocks = len(r["golden_blocks"])
        n_pages = r["n_pages"]
        values.append("('%s', %d, %d, %d)"
                      % (r["url"], n_words, n_blocks, n_pages))
    return ("SELECT * FROM (VALUES\n%s\n) "
            "AS t(url, n_words, n_blocks, n_pages)" % ",\n".join(values))


def extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-family aggregate over extraction outputs — byte-identity rate and
    block/word totals, checked against intent-level golden aggregates."""
    pages = _make_pages_df(spark, _fixture_rows())
    out = engine.extract_pages(pages, num_partitions=8)
    joined = out.join(pages.select("url", "family", "golden_text"), "url")
    return (joined.groupBy("family")
            .agg(F.count("*").alias("n_docs"),
                 F.sum((F.col("extracted_text") == F.col("golden_text"))
                       .cast("bigint")).alias("n_byte_identical"),
                 F.sum("n_blocks").cast("bigint").alias("total_blocks"),
                 F.sum("n_words").cast("bigint").alias("total_words")))


def extract_stats_oracle_sql() -> str:
    agg = defaultdict(lambda: [0, 0, 0, 0])
    for r in _fixture_rows():
        intent = r["golden_intent"]
        a = agg[r["family"]]
        a[0] += 1                                    # n_docs
        a[1] += 1                                    # byte-identical (all)
        a[2] += len(r["golden_blocks"])              # total_blocks
        a[3] += sum(len(line) for block in intent for line in block)
    values = ",\n".join(
        "('%s', %d, %d, %d, %d)" % (fam, a[0], a[1], a[2], a[3])
        for fam, a in agg.items())
    return ("SELECT * FROM (VALUES\n%s\n) AS t(family, n_docs, "
            "n_byte_identical, total_blocks, total_words)" % values)


# The one query table: name -> (Spark callable, oracle), where the oracle
# is the DuckDB SQL itself or the zero-argument builder that makes it
# (the VALUES-table oracles run the fixture generator, so oracle_sql()
# builds them on first use).  The ORDER is fixed: the driver's
# CORRECTNESS artifact records only the first 50 entries, and
# test_datapipe.py::test_registry_order pins those 50 to the ones in
# CORRECTNESS_r09.json.  Position says nothing about coverage: every
# entry, wherever it sits, is oracle-checked against DuckDB by
# test_datapipe.py (and by scripts/check_oracles.py).
Oracle = Union[str, Callable[[], str]]
QUERIES: Dict[str, Tuple[Callable[[SparkSession, str], DataFrame],
                         Oracle]] = {
    "extract_text": (extract_text, extract_text_oracle_sql),
    "extract_blocks": (extract_blocks, extract_blocks_oracle_sql),
    "extract_jsonl": (extract_jsonl, extract_jsonl_oracle_sql),
    "extract_visualization_pdf": (extract_visualization_pdf,
                                  extract_visualization_pdf_oracle_sql),
    "extract_roles": (extract_roles, extract_roles_oracle_sql),
    "extract_jsonl_figures": (extract_jsonl_figures,
                              extract_jsonl_figures_oracle_sql),
    "minhash_lsh_pairs": (dedup.minhash_lsh_pairs,
                          dedup.MINHASH_LSH_PAIRS_SQL),
    "minhash_signatures": (dedup.minhash_signatures,
                           dedup.MINHASH_SIGNATURES_SQL),
    "simhash": (dedup.simhash, dedup.SIMHASH_SQL),
    "containment_pairs": (dedup.containment_pairs,
                          dedup.CONTAINMENT_PAIRS_SQL),
    "dedup_clusters": (chunking.dedup_clusters,
                       chunking.DEDUP_CLUSTERS_SQL),
    "dedup_clusters_fixpoint": (chunking.dedup_clusters_fixpoint,
                                chunking.DEDUP_CLUSTERS_FIXPOINT_SQL),
    "dedup_keep_list": (chunking.dedup_keep_list,
                        chunking.DEDUP_KEEP_LIST_SQL),
    "dedup_representatives": (chunking.dedup_representatives,
                              chunking.DEDUP_REPRESENTATIVES_SQL),
    "chunk_documents": (chunking.chunk_documents,
                        chunking.CHUNK_DOCUMENTS_SQL),
    "ann_ivf_topk": (similarity.ann_ivf_topk, similarity.ANN_IVF_SQL),
    "ann_ivf2_topk": (similarity.ann_ivf2_topk, similarity.ANN_IVF2_SQL),
    "ann_ivfpq_topk": (similarity.ann_ivfpq_topk, similarity.ANN_IVFPQ_SQL),
    "embedding_near_dup": (dedup.embedding_near_dup,
                           dedup.EMBEDDING_NEAR_DUP_SQL),
    "token_counts": (textstats.token_counts, textstats.TOKEN_COUNTS_SQL),
    "tfidf_keywords": (textstats.tfidf_keywords,
                       textstats.TFIDF_KEYWORDS_SQL),
    "quality_classifier": (textstats.quality_classifier,
                           textstats.QUALITY_CLASSIFIER_SQL),
    "length_percentiles": (textstats.length_percentiles,
                           textstats.LENGTH_PERCENTILES_SQL),
    "training_mix_pipeline": (sampling.training_mix_pipeline,
                              sampling.TRAINING_MIX_SQL),
    "weighted_sample_topk": (sampling.weighted_sample_topk,
                             sampling.WEIGHTED_SAMPLE_TOPK_SQL),
    "ccnet_pipeline": (webtext.ccnet_pipeline, webtext.CCNET_PIPELINE_SQL),
    "host_template_ratio": (webtext.host_template_ratio,
                            webtext.HOST_TEMPLATE_RATIO_SQL),
    "link_pagerank": (webtext.link_pagerank, webtext.LINK_PAGERANK_SQL),
    "hits_scores": (webtext.hits_scores, webtext.HITS_SCORES_SQL),
    "inverted_index": (webtext.inverted_index, webtext.INVERTED_INDEX_SQL),
    "postings_gap_stats": (webtext.postings_gap_stats,
                           webtext.POSTINGS_GAP_STATS_SQL),
    "bm25_topk": (webtext.bm25_topk, webtext.BM25_TOPK_SQL),
    "sitemap_extract": (crawlops.sitemap_extract,
                        crawlops.SITEMAP_EXTRACT_SQL),
    "content_type_sniff": (crawlops.content_type_sniff,
                           crawlops.CONTENT_TYPE_SNIFF_SQL),
    "url_frontier_priority": (crawlops.url_frontier_priority,
                              crawlops.URL_FRONTIER_PRIORITY_SQL),
    "url_classify": (crawlops.url_classify, crawlops.URL_CLASSIFY_SQL),
    "fetch_scheduler": (crawlops.fetch_scheduler,
                        crawlops.FETCH_SCHEDULER_SQL),
    "change_rate_estimate": (webtext.change_rate_estimate,
                             webtext.CHANGE_RATE_ESTIMATE_SQL),
    "crawl_snapshot_diff": (webtext.crawl_snapshot_diff,
                            webtext.CRAWL_SNAPSHOT_DIFF_SQL),
    "mirror_host_pairs": (crawlops.mirror_host_pairs,
                          crawlops.MIRROR_HOST_PAIRS_SQL),
    "warc_extract_equivalence": (warc_extract_equivalence,
                                 extract_text_oracle_sql),
    "warc_revisit_records": (warc_revisit_records,
                             WARC_REVISIT_RECORDS_SQL),
    "streaming_url_dedup": (streaming_url_dedup_equivalence,
                            STREAMING_URL_DEDUP_SQL),
    "image_phash": (multimodal.image_phash, multimodal.IMAGE_PHASH_SQL),
    "image_phash_near_pairs": (multimodal.image_phash_near_pairs,
                               multimodal.IMAGE_PHASH_NEAR_PAIRS_SQL),
    "audio_energy_fingerprint": (multimodal.audio_energy_fingerprint,
                                 multimodal.AUDIO_ENERGY_FP_SQL),
    "audio_meta": (multimodal.audio_meta, multimodal.AUDIO_META_SQL),
    "video_frame_sample": (multimodal.video_frame_sample,
                           multimodal.VIDEO_FRAME_SAMPLE_SQL),
    "main_content_blocks": (htmlstrip.main_content_blocks,
                            htmlstrip.main_content_blocks_oracle_sql),
    "html_outline": (htmlstrip.html_outline,
                     htmlstrip.html_outline_oracle_sql),
    # the first 50 entries end here
    "extract_roles_model": (extract_roles_model, extract_roles_oracle_sql),
    "extract_text_role_filtered": (extract_text_role_filtered,
                                   extract_text_role_filtered_oracle_sql),
    "stream_extract_equivalence": (stream_extract_equivalence,
                                   extract_text_oracle_sql),
    "regional_revenue": (relational.regional_revenue,
                         relational.REGIONAL_REVENUE_SQL),
    "event_tumbling_counts": (events.tumbling_counts,
                              events.TUMBLING_COUNTS_SQL),
    "exact_dedup": (dedup.exact_dedup, dedup.EXACT_DEDUP_SQL),
    "bigram_surprisal": (textstats.bigram_surprisal,
                         textstats.BIGRAM_SURPRISAL_SQL),
    "lang_id": (textstats.lang_id, textstats.LANG_ID_SQL),
    "c4_quality_filter": (textstats.c4_quality_filter,
                          textstats.c4_quality_filter_oracle_sql),
    "stratified_sample": (sampling.stratified_sample,
                          sampling.STRATIFIED_SAMPLE_SQL),
    "sequence_packing": (sampling.sequence_packing,
                         sampling.SEQUENCE_PACKING_SQL),
    "anchor_text_topk": (webtext.anchor_text_topk,
                         webtext.ANCHOR_TEXT_TOPK_SQL),
    "bitext_url_pairs": (webtext.bitext_url_pairs,
                         webtext.BITEXT_URL_PAIRS_SQL),
    "extract_visualization": (extract_visualization,
                              extract_visualization_oracle_sql),
    "warc_cdx_index": (warc_cdx_index, warc_cdx_index_oracle_sql),
    "extract_jsonl_pages": (extract_jsonl_pages,
                            extract_jsonl_pages_oracle_sql),
    "multimodal_meta": (multimodal.multimodal_meta,
                        multimodal.MULTIMODAL_META_SQL),
    "extract_stats": (extract_stats, extract_stats_oracle_sql),
    "semdedup_prune": (similarity.semdedup_prune,
                       similarity.SEMDEDUP_PRUNE_SQL),
    "ann_lsh_topk": (similarity.ann_lsh_topk, similarity.ANN_LSH_SQL),
    "duplicate_ngram_spans": (dedup.duplicate_ngram_spans,
                              dedup.DUPLICATE_NGRAM_SPANS_SQL),
    "quality_score": (textstats.quality_score, textstats.QUALITY_SCORE_SQL),
    "source_mix_weights": (textstats.source_mix_weights,
                           textstats.SOURCE_MIX_WEIGHTS_SQL),
    "lang_id_trigram": (textstats.lang_id_trigram,
                        textstats.LANG_ID_TRIGRAM_SQL),
    "vocab_top_tokens": (textstats.vocab_top_tokens,
                         textstats.VOCAB_TOP_TOKENS_SQL),
    "per_source_topk": (textstats.per_source_topk,
                        textstats.PER_SOURCE_TOPK_SQL),
    "fingerprint": (textstats.fingerprint, textstats.FINGERPRINT_SQL),
    "repetition_stats": (textstats.repetition_stats,
                         textstats.REPETITION_STATS_SQL),
    "pii_scrub": (textstats.pii_scrub, textstats.PII_SCRUB_SQL),
    "boilerplate_strip": (htmlstrip.boilerplate_strip,
                          htmlstrip.boilerplate_strip_oracle_sql),
    "benchmark_decontaminate": (dedup.benchmark_decontaminate,
                                dedup.BENCHMARK_DECONTAMINATE_SQL),
    "event_gap_stats": (events.event_gap_stats, events.EVENT_GAP_STATS_SQL),
    "extract_jsonl_shapes": (extract_jsonl_shapes,
                             extract_jsonl_shapes_oracle_sql),
    "extract_jsonl_words": (extract_jsonl_words,
                            extract_jsonl_words_oracle_sql),
    "ngram_jaccard_pairs": (dedup.ngram_jaccard_pairs,
                            dedup.NGRAM_JACCARD_SQL),
    "ann_lsh_multiprobe_topk": (similarity.ann_lsh_multiprobe_topk,
                                similarity.ANN_MULTIPROBE_SQL),
    "big_orders": (relational.big_orders, relational.BIG_ORDERS_SQL),
    "pricing_summary": (relational.pricing_summary,
                        relational.PRICING_SUMMARY_SQL),
    "event_sessionize": (events.sessionize, events.SESSIONIZE_SQL),
    "ann_bruteforce_topk": (similarity.ann_bruteforce_topk,
                            similarity.ANN_BRUTEFORCE_SQL),
    "url_normalize_dedup": (webtext.url_normalize_dedup,
                            webtext.URL_NORMALIZE_DEDUP_SQL),
    "extract_jsonl_chars": (extract_jsonl_chars,
                            extract_jsonl_chars_oracle_sql),
    "extract_text_extended": (extract_text_extended,
                              extract_text_extended_oracle_sql),
    "shipping_priority": (relational.shipping_priority,
                          relational.SHIPPING_PRIORITY_SQL),
    "inactive_customers": (relational.inactive_customers,
                           relational.INACTIVE_CUSTOMERS_SQL),
    "event_hopping_counts": (events.hopping_counts,
                             events.HOPPING_COUNTS_SQL),
    "simhash_near_pairs": (dedup.simhash_near_pairs,
                           dedup.SIMHASH_NEAR_PAIRS_SQL),
    "c4_line_dedup": (textstats.c4_line_dedup,
                      textstats.c4_line_dedup_oracle_sql),
    "bloom_url_filter": (webtext.bloom_url_filter,
                         webtext.BLOOM_URL_FILTER_SQL),
    "perplexity_buckets": (webtext.perplexity_buckets,
                           webtext.PERPLEXITY_BUCKETS_SQL),
    "gopher_quality_filter": (textstats.gopher_quality_filter,
                              textstats.GOPHER_QUALITY_FILTER_SQL),
    "unigram_surprisal": (textstats.unigram_surprisal,
                          textstats.UNIGRAM_SURPRISAL_SQL),
    "dsir_importance_weights": (sampling.dsir_importance_weights,
                                sampling.DSIR_IMPORTANCE_SQL),
    "image_resize_meta": (multimodal.image_resize_meta,
                          multimodal.IMAGE_RESIZE_SQL),
    "extract_word_counts": (extract_word_counts,
                            extract_word_counts_oracle_sql),
    "hll_url_cardinality": (crawlops.hll_url_cardinality,
                            crawlops.HLL_URL_CARDINALITY_SQL),
    "crawl_budget_allocation": (crawlops.crawl_budget_allocation,
                                crawlops.CRAWL_BUDGET_ALLOCATION_SQL),
    "domain_stats": (webtext.domain_stats, webtext.DOMAIN_STATS_SQL),
    "host_graph_stats": (crawlops.host_graph_stats,
                         crawlops.HOST_GRAPH_STATS_SQL),
    "trust_propagation": (crawlops.trust_propagation,
                          crawlops.TRUST_PROPAGATION_SQL),
    "robots_filter": (webtext.robots_filter, webtext.ROBOTS_FILTER_SQL),
    "warc_wet_records": (warc_wet_records, extract_text_oracle_sql),
    "redirect_resolution": (webtext.redirect_resolution,
                            webtext.REDIRECT_RESOLUTION_SQL),
    "warc_wat_records": (warc_wat_records, warc_wat_records_oracle_sql),
}


def queries() -> Dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in QUERIES.items()}


@functools.cache
def _built_oracles() -> Dict[str, str]:
    # built once: the VALUES-table oracles run the fixture generator (and
    # the goldens), and per-test rebuilds dominated the suite's wall clock
    return {name: oracle if isinstance(oracle, str) else oracle()
            for name, (_, oracle) in QUERIES.items()}


def oracle_sql() -> Dict[str, str]:
    return dict(_built_oracles())
