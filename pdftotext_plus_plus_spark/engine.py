"""Spark integration: Arrow-batched extraction over a pages DataFrame.

Spark lifecycle (SURVEY.md §3.4):

    read pages table (url, warc_ts, html, text, lang)
      -> salted repartition by byte-size bucket of `html`   (skew defusal)
      -> mapInArrow kernel per record batch                 (stages 2-13)
      -> output DataFrame (extracted_text, span structs, failure codes;
         each task's lineage totals ride on its last row)
      -> parquet/Iceberg snapshot; exact resume by anti-join
      -> lineage rows for this run_id, observed on the snapshot write

Design notes for 100 TB scale:
* Only ``url`` and ``html`` are read by the kernel — column pruning reaches
  the scan because we select before the exchange.
* The repartition key is (size_bucket, salt): documents of similar byte size
  co-locate, and the salt spreads each bucket over many partitions so a tail
  of jumbo documents cannot serialize into one straggler task.
* The kernel is embarrassingly parallel per document — no shuffle after the
  single repartition exchange; output writes stream per task.
* Failures never abort a partition: corrupt payloads, and payloads the
  pipeline raises on, yield a row with ``parse_failure_code`` != 0 (cf. the
  reference's isOk() check, PdfToTextPlusPlus.cpp:88-90).
* Lineage costs no extra job: each run appends one row per task, stamped
  with its ``run_id``, from totals the kernel keeps while it extracts.
"""

from __future__ import annotations

import gc
import logging
import time
from typing import Iterator, Optional

import pyarrow as pa

from . import codec
from .config import DEFAULT_CONFIG, PipelineConfig
from .kernel import STAGE_NAMES
from .pipeline import STAGE_DECODE, STAGE_SERIALIZE, ExtractionResult, extract
from .serializers import JSONL_UNITS, check_units
from .visualization import UNIT_SCHEMES

# stages with a summed ``ms_<stage>`` lineage column, in the reference's
# --print-running-times order
LINEAGE_STAGES = (STAGE_DECODE,) + STAGE_NAMES + (STAGE_SERIALIZE,)

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# output schemas
# ---------------------------------------------------------------------------

BLOCK_SPAN_TYPE = pa.struct([
    ("page", pa.int32()),
    ("rank", pa.int32()),
    ("min_x", pa.float64()),
    ("min_y", pa.float64()),
    ("max_x", pa.float64()),
    ("max_y", pa.float64()),
    ("font", pa.string()),
    ("font_size", pa.float64()),
    ("text", pa.string()),
    ("role", pa.string()),
])


def _stage_slug(name: str) -> str:
    return "ms_" + "".join(
        c if c.isalnum() else "_" for c in name.lower()).strip("_")


def _lineage_type(with_timings: bool) -> pa.DataType:
    """One task's lineage row: the totals :func:`lineage_frame` aggregates
    per ``part_id``, plus one ``ms_<stage>`` sum per stage with timings."""
    fields = [
        ("part_id", pa.int32()),
        ("n_docs", pa.int64()),
        ("n_failures", pa.int64()),
        ("bytes_in", pa.int64()),
        ("extract_ms_total", pa.float64()),
        ("max_doc_ms", pa.float64()),  # straggler signal
        ("min_url", pa.string()),
        ("max_url", pa.string()),
    ]
    if with_timings:
        fields += [(_stage_slug(name), pa.float64())
                   for name in LINEAGE_STAGES]
    return pa.struct(fields)


def _arrow_schema(with_spans: bool, with_jsonl: bool = False,
                  with_svg: bool = False, with_pdf: bool = False,
                  with_timings: bool = False,
                  with_lineage: bool = False) -> pa.Schema:
    """The kernel's output schema, and the one statement of its column
    order; the Spark schema is derived from it."""
    fields = [
        ("url", pa.string()),
        ("extracted_text", pa.string()),
        ("extracted_text_extended", pa.string()),
        ("parse_failure_code", pa.int32()),
        ("n_pages", pa.int32()),
        ("n_chars", pa.int32()),
        ("n_words", pa.int32()),
        ("n_lines", pa.int32()),
        ("n_blocks", pa.int32()),
        ("payload_bytes", pa.int64()),
        ("part_id", pa.int32()),
        ("extract_ms", pa.float64()),
    ]
    if with_spans:
        fields.append(("blocks", pa.list_(BLOCK_SPAN_TYPE)))
    if with_jsonl:
        fields.append(("jsonl", pa.string()))
    if with_svg:
        fields.append(("svg", pa.string()))
    if with_pdf:
        fields.append(("pdf", pa.string()))
    if with_timings:
        fields.append(("stage_ms", pa.map_(pa.string(), pa.float64())))
    if with_lineage:
        # set on the task's last row only; NULL elsewhere
        fields.append(("_lineage", _lineage_type(with_timings)))
    return pa.schema(fields)


# ---------------------------------------------------------------------------
# kernel
# ---------------------------------------------------------------------------

def _make_kernel(schema: pa.Schema, config: PipelineConfig, roles=None,
                 jsonl_units=None, svg_units=None, pdf_units=None):
    """The mapInArrow function emitting ``schema`` (see _arrow_schema)."""
    with_spans = "blocks" in schema.names
    with_timings = "stage_ms" in schema.names
    with_lineage = "_lineage" in schema.names

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        try:
            from pyspark import TaskContext
            ctx = TaskContext.get()
            part_id = ctx.partitionId() if ctx is not None else -1
        except Exception:
            part_id = -1
        task = {"part_id": part_id, "n_docs": 0, "n_failures": 0,
                "bytes_in": 0, "extract_ms_total": 0.0, "max_doc_ms": 0.0,
                "min_url": None, "max_url": None}
        stage_ms = dict.fromkeys(LINEAGE_STAGES, 0.0)

        def row(url, html) -> list:
            t0 = time.perf_counter()
            try:
                res = extract(html, config, with_spans=with_spans,
                              with_timings=with_timings, roles=roles,
                              jsonl_units=jsonl_units, svg_units=svg_units,
                              pdf_units=pdf_units)
            except Exception:
                # whatever the pipeline raises on one document becomes
                # that document's failure row, never a failed task
                _log.warning("extraction raised on %s", url, exc_info=True)
                res = ExtractionResult.failed(codec.ERR_KERNEL)
            ms = (time.perf_counter() - t0) * 1000.0
            size = len(html) if html is not None else 0

            task["n_docs"] += 1
            task["n_failures"] += res.parse_failure_code != codec.OK
            task["bytes_in"] += size
            task["extract_ms_total"] += ms
            task["max_doc_ms"] = max(task["max_doc_ms"], ms)
            if url is not None:
                if task["min_url"] is None or url < task["min_url"]:
                    task["min_url"] = url
                if task["max_url"] is None or url > task["max_url"]:
                    task["max_url"] = url
            for name, v in res.timings_ms.items():
                stage_ms[name] += v

            cols = dict(vars(res), url=url, payload_bytes=size,
                        part_id=part_id, extract_ms=ms,
                        blocks=[vars(b) for b in res.blocks],
                        stage_ms=list(res.timings_ms.items()), _lineage=None)
            return [cols[name] for name in schema.names]

        def to_batch(rows: list) -> pa.RecordBatch:
            return pa.RecordBatch.from_arrays(
                [pa.array(col, f.type) for col, f in zip(zip(*rows), schema)],
                schema=schema)

        # extract() releases every document, so the task makes no cyclic
        # garbage and the collector's passes over the documents in flight
        # are pure cost; whatever cycles other code makes are collected
        # when the task ends
        gc_was_enabled = gc.isenabled()
        gc.disable()
        try:
            # one batch is held back so the task's lineage totals can ride
            # on its last row
            held = None
            for batch in batches:
                rows = [row(u, h) for u, h in zip(
                    batch.column("url").to_pylist(),
                    batch.column("html").to_pylist())]
                if rows:
                    if held:
                        yield to_batch(held)
                    held = rows
            if held:
                if with_lineage:
                    if with_timings:
                        task.update((_stage_slug(name), v)
                                    for name, v in stage_ms.items())
                    held[-1][schema.get_field_index("_lineage")] = task
                yield to_batch(held)
        finally:
            if gc_was_enabled:
                gc.enable()

    return kernel


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------

def salted_repartition(df, num_partitions: Optional[int] = None,
                       salt_buckets: int = 1024):
    """Repartition by (payload-size bucket, salt of url).

    Documents land in log2-size buckets; the salt spreads each bucket across
    partitions so jumbo documents cannot pile into one task (north-rule skew
    handling).  At 100 TB this is the only shuffle in the job.

    ``salt_buckets`` must be >> the task count: hash partitioning lumps
    whole (bucket, salt) KEYS into tasks, so each key's population rides
    together — with 64 salts a 10x bench corpus put ~9 jumbo documents in
    every jumbo-bucket key and the busiest task ran 3.8x the median; at
    1024 salts the same corpus measured 2.1x and -29% wall (round-6
    straggler probe, BASELINE.md).  Keys are free; 1024 stays tiny vs the
    shuffle itself at any scale.
    """
    from pyspark.sql import functions as F

    size_bucket = F.ceil(F.log2(F.length(F.col("html")) + F.lit(2)))
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(salt_buckets))
    df = df.withColumn("_size_bucket", size_bucket).withColumn("_salt", salt)
    if num_partitions:
        df = df.repartition(num_partitions, "_size_bucket", "_salt")
    else:
        df = df.repartition("_size_bucket", "_salt")
    return df.drop("_size_bucket", "_salt")


def extract_pages(df, config: PipelineConfig = DEFAULT_CONFIG,
                  with_spans: bool = False,
                  num_partitions: Optional[int] = None,
                  roles=None,
                  jsonl_units=None,
                  svg_units=None,
                  pdf_units=None,
                  with_timings: bool = False,
                  with_lineage: bool = False):
    """pages DataFrame -> extraction DataFrame (one row per url).

    ``roles`` / ``jsonl_units`` / ``svg_units`` / ``pdf_units`` mirror the
    reference CLI's --role / --type / --visualize-* options
    (serializer-level filtering, the JSONL sink, and the S8 visualization
    sink in its SVG and annotated-PDF forms).  ``with_timings`` adds a
    per-row ``stage_ms`` map mirroring the reference's
    --print-running-times stage report (pdftotext++.cpp:765-784), which
    :func:`lineage_frame` rolls up into per-stage columns.
    ``with_lineage`` adds a ``_lineage`` struct column holding each task's
    lineage row (the :func:`lineage_frame` row of its ``part_id``) on the
    task's last row and NULL on all others."""
    from pyspark.sql.pandas.types import from_arrow_schema

    # an unknown unit fails the call here, not every row in the kernel
    jsonl_units = (check_units(jsonl_units, JSONL_UNITS, "JSONL")
                   if jsonl_units else None)
    svg_units = (check_units(svg_units, UNIT_SCHEMES, "visualization")
                 if svg_units else None)
    pdf_units = (check_units(pdf_units, UNIT_SCHEMES, "visualization")
                 if pdf_units else None)
    roles = frozenset(roles) if roles else None
    # column pruning reaches the scan
    projected = salted_repartition(df.select("url", "html"), num_partitions)
    schema = _arrow_schema(with_spans, bool(jsonl_units), bool(svg_units),
                           bool(pdf_units), with_timings, with_lineage)
    return projected.mapInArrow(
        _make_kernel(schema, config, roles, jsonl_units, svg_units,
                     pdf_units),
        from_arrow_schema(schema))


def lineage_frame(result_df):
    """Per-task lineage/metrics rows (north rule): partition id, row counts,
    failure counts, byte and time totals, computed from an extraction
    result or a committed snapshot.  :func:`run_job` writes the same rows
    without this aggregate: its kernel tasks total them as they go.

    When the result carries ``stage_ms`` (extract_pages
    ``with_timings=True``), per-stage total columns are added — the
    distributed mirror of the reference's --print-running-times report
    (/root/reference/src/pdftotext++.cpp:765-784): one ``ms_<stage>``
    column per pipeline stage, summed per task.  The rollup is a plain
    projection of map lookups inside the SAME single hash aggregate —
    no extra shuffle, no explode."""
    from pyspark.sql import functions as F

    aggs = [F.count("*").alias("n_docs"),
            F.sum((F.col("parse_failure_code") != 0).cast("int"))
            .alias("n_failures"),
            F.sum("payload_bytes").alias("bytes_in"),
            F.sum("extract_ms").alias("extract_ms_total"),
            F.max("extract_ms").alias("max_doc_ms"),  # straggler signal
            F.min("url").alias("min_url"),
            F.max("url").alias("max_url")]
    if "stage_ms" in result_df.columns:
        # try_element_at, NOT element_at: under ANSI mode element_at
        # throws on a missing map key, and failure rows record only the
        # decode stage
        for name in LINEAGE_STAGES:
            aggs.append(
                F.sum(F.coalesce(F.try_element_at("stage_ms", F.lit(name)),
                                 F.lit(0.0))).alias(_stage_slug(name)))
    return result_df.groupBy("part_id").agg(*aggs)


def _has_files(spark, path: str) -> bool:
    """Whether ``path`` holds an entry a parquet read would see (hidden
    names start with '_' or '.'), from a Hadoop FileSystem listing.  It
    starts no Spark job, and a missing or empty directory raises nothing:
    a failed read would, and once a session has run ``observe`` Spark's
    execution listener logs each such failure as an ERROR."""
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs.exists(p) and any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(p))


def run_job(spark, input_path: str, output_path: str,
            config: PipelineConfig = DEFAULT_CONFIG,
            with_spans: bool = False,
            num_partitions: Optional[int] = None,
            resume: bool = True,
            roles=None,
            jsonl_units=None) -> dict:
    """Batch extraction job with snapshot + lineage + exact resume.

    The snapshot keeps the per-row ``stage_ms`` map and the lineage rows
    its per-stage ``ms_*`` totals — the distributed --print-running-times
    report, ~300 bytes/row against multi-KB documents.

    Resume semantics: rows whose ``url`` already exists in the committed
    output are skipped (anti-join), so a re-run after a mid-job failure
    processes only the remainder — the parquet/Iceberg commit is the
    checkpoint boundary.

    Lineage: each invocation appends one row per kernel task under
    ``lineage/``, stamped with the run's ``run_id`` like the input
    manifest.  The tasks total their rows as they extract them, and
    ``DataFrame.observe`` returns the totals with the snapshot write, so
    no job reads the snapshot after the write.
    ``n_docs`` / ``n_failures`` count the whole committed snapshot: the
    rows committed before this run (one column-pruned aggregate, run
    before the write) plus this run's lineage totals.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import from_arrow_schema

    # an unknown unit fails before the input manifest is written
    if jsonl_units:
        jsonl_units = check_units(jsonl_units, JSONL_UNITS, "JSONL")
    pages = spark.read.parquet(input_path)
    data_path = output_path.rstrip("/") + "/data"
    lineage_path = output_path.rstrip("/") + "/lineage"
    files_path = output_path.rstrip("/") + "/lineage_files"

    # input-file manifest (north rule: lineage records the input files);
    # computed on the raw scan, where file provenance still exists.  Each
    # run_job invocation appends under its own run_id — a resumed job adds
    # a NEW run's rows instead of double-counting the file set (the current
    # inventory is `WHERE run_id = max(run_id)`); the max() probe is an
    # O(1)-result scalar job over manifest metadata, not data
    run_id = 0
    if _has_files(spark, files_path):
        # mergeSchema: a manifest touched by a pre-run_id release holds a
        # mix of stamped and legacy part files; the merged schema surfaces
        # run_id with NULL on the legacy rows, which read as run 0
        prev_manifest = (spark.read.option("mergeSchema", "true")
                         .parquet(files_path))
        if "run_id" in prev_manifest.columns:
            prev = prev_manifest.agg(
                F.max(F.coalesce("run_id", F.lit(0)))).first()[0]
            # prev is None when the manifest exists but has zero rows
            # (a prior run over an empty input dir)
            run_id = 0 if prev is None else prev + 1
        else:
            # manifest written ENTIRELY before run_id stamping: its rows
            # are implicitly run 0, so this run continues at 1 — by
            # APPENDING, never by rewriting the directory.  Spark's
            # overwrite deletes before it commits, so an in-place upgrade
            # crash could lose the whole lineage manifest; append-only
            # keeps every committed byte, and readers recover the legacy
            # rows' run via coalesce(run_id, 0) under mergeSchema.
            run_id = 1
    manifest = (pages
                .groupBy(F.input_file_name().alias("input_file"))
                .agg(F.count("*").alias("n_rows"),
                     F.sum(F.length("html")).alias("payload_bytes"))
                .withColumn("run_id", F.lit(run_id)))
    manifest.write.mode("append").parquet(files_path)

    prior_docs = prior_failures = 0
    if _has_files(spark, data_path):  # else first run: no snapshot yet
        done = spark.read.parquet(data_path)
        prior_docs, prior_failures = done.agg(
            F.count("*"),
            F.coalesce(F.sum((F.col("parse_failure_code") != 0)
                             .cast("int")), F.lit(0))).first()
        if resume:
            pages = pages.join(done.select("url"), "url", "left_anti")

    result = extract_pages(pages, config, with_spans, num_partitions,
                           roles=roles, jsonl_units=jsonl_units,
                           with_timings=True, with_lineage=True)
    observation = Observation("lineage")
    result = result.observe(observation,
                            F.collect_list("_lineage").alias("tasks"))
    # partitioned snapshot: stable hash bucket of url -> downstream jobs
    # prune by bucket (the parquet stand-in for an Iceberg partition spec)
    (result.drop("_lineage")
     .withColumn("out_bucket",
                 F.pmod(F.xxhash64("url"), F.lit(16)).cast("int"))
     .write.mode("append").partitionBy("out_bucket").parquet(data_path))

    tasks = observation.get["tasks"]
    lineage_schema = from_arrow_schema(
        pa.schema(list(_lineage_type(True))))
    (spark.createDataFrame(tasks, lineage_schema)
     .withColumn("run_id", F.lit(run_id))
     .coalesce(1)  # one file per run
     .write.mode("append").parquet(lineage_path))

    return {"output": data_path, "lineage": lineage_path,
            "input_manifest": files_path, "run_id": run_id,
            "n_docs": prior_docs + sum(t["n_docs"] for t in tasks),
            "n_failures": prior_failures + sum(t["n_failures"]
                                               for t in tasks)}


def build_session(app_name: str = "pdftotext_plus_plus_spark",
                  cpus: Optional[int] = None,
                  shuffle_partitions: Optional[int] = None,
                  driver_memory: str = "8g"):
    """Local session tuned for the extraction job; on a real cluster the
    same settings arrive via spark-submit --conf."""
    from pyspark.sql import SparkSession

    master = "local[%s]" % (cpus if cpus else "*")
    parts = shuffle_partitions or (cpus or 32)
    return (SparkSession.builder
            .master(master)
            .appName(app_name)
            .config("spark.sql.shuffle.partitions", str(parts))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
            .config("spark.driver.memory", driver_memory)
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .getOrCreate())
