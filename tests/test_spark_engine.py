"""Spark-side tests: Arrow-batched extraction, salting, lineage, resume."""

import pytest
from pyspark.sql import functions as F

from pdftotext_plus_plus_spark import codec, engine, fixtures


def test_extract_matches_goldens(spark, pages_df):
    out = engine.extract_pages(pages_df, num_partitions=4)
    joined = out.join(pages_df.select("url", "golden_text"), "url")
    total = joined.count()
    matched = joined.filter(F.col("extracted_text") == F.col("golden_text")).count()
    assert total == 36
    assert matched == total
    assert joined.filter("parse_failure_code != 0").count() == 0


def test_extract_with_spans(spark, pages_df):
    out = engine.extract_pages(pages_df.limit(6), with_spans=True,
                               num_partitions=2)
    row = out.filter("n_blocks > 0").first()
    assert row is not None
    assert len(row["blocks"]) == row["n_blocks"]
    assert row["blocks"][0]["role"] == "paragraph"


def test_corrupt_payload_yields_failure_row(spark, pages_df):
    bad = spark.createDataFrame(
        [("bad://1", bytearray(b"not-a-payload")), ("bad://2", bytearray(b""))],
        "url string, html binary")
    out = engine.extract_pages(bad)
    rows = {r["url"]: r for r in out.collect()}
    assert rows["bad://1"]["parse_failure_code"] != 0
    assert rows["bad://2"]["parse_failure_code"] != 0
    assert rows["bad://1"]["extracted_text"] == "\n"


def test_kernel_exception_yields_failure_row(spark, nan_payload):
    """A payload that decodes cleanly but makes the pipeline raise (a NaN
    coordinate) becomes a failure row naming the stage and the cause; the
    four good documents sharing its task still extract with no failure
    record, and the task's lineage counts the failure."""
    good = fixtures.build_corpus(4)
    rows = [("nan://1", bytearray(nan_payload))]
    rows += [(r["url"], bytearray(r["html"])) for r in good]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = engine.extract_pages(df, num_partitions=1,
                               with_lineage=True).collect()
    by_url = {r["url"]: r for r in out}
    assert by_url["nan://1"]["parse_failure_code"] == codec.ERR_KERNEL
    assert by_url["nan://1"]["fail_stage"] == "Detect lines"
    assert by_url["nan://1"]["fail_cause"].startswith("OverflowError: ")
    assert by_url["nan://1"]["extracted_text"] == "\n"
    for r in good:
        assert by_url[r["url"]]["parse_failure_code"] == 0
        assert by_url[r["url"]]["fail_stage"] is None
        assert by_url[r["url"]]["fail_cause"] is None
        assert by_url[r["url"]]["extracted_text"] == r["golden_text"]
    [task] = [r["_lineage"] for r in out if r["_lineage"] is not None]
    assert (task["n_docs"], task["n_failures"]) == (5, 1)


def test_unknown_units_fail_before_any_job(spark):
    """An unknown JSONL, SVG or PDF unit fails extract_pages itself, before
    any job runs, instead of turning every row into an ERR_KERNEL row."""
    df = spark.createDataFrame([("u://1", bytearray(b"x"))],
                               "url string, html binary")
    sc = spark.sparkContext
    sc.setJobGroup("unknown-units", "extract_pages with unknown units")
    try:
        for kwargs, sink in (({"jsonl_units": ("blocks", "block")}, "JSONL"),
                             ({"svg_units": ("nonsense",)}, "visualization"),
                             ({"pdf_units": ("not-a-unit",)},
                              "visualization")):
            with pytest.raises(ValueError, match="unknown %s unit" % sink):
                engine.extract_pages(df, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("unknown-units") == []


def test_run_job_unknown_unit_writes_nothing(spark, pages_df, tmp_path):
    """run_job rejects an unknown JSONL unit before it appends the input
    manifest, so a failed call leaves no run_id behind."""
    input_path = str(tmp_path / "pages")
    output_path = tmp_path / "out"
    pages_df.limit(4).write.parquet(input_path)
    with pytest.raises(ValueError, match="unknown JSONL unit: 'block'"):
        engine.run_job(spark, input_path, str(output_path),
                       jsonl_units=("block",))
    assert not output_path.exists()


def test_salted_repartition_spreads_jumbos(spark, pages_df):
    out = engine.extract_pages(pages_df, num_partitions=4)
    parts = out.select("part_id").distinct().count()
    assert parts >= 2  # the corpus spreads over multiple tasks


def test_lineage_frame(spark, pages_df):
    out = engine.extract_pages(pages_df, num_partitions=4)
    lineage = engine.lineage_frame(out).collect()
    assert sum(r["n_docs"] for r in lineage) == 36
    assert all(r["n_failures"] == 0 for r in lineage)
    assert all(r["bytes_in"] > 0 for r in lineage)


def test_run_job_resume(spark, pages_df, tmp_path):
    input_path = str(tmp_path / "pages")
    output_path = str(tmp_path / "out")
    pages_df.write.parquet(input_path)

    first = engine.run_job(spark, input_path, output_path, num_partitions=2)
    assert first["n_docs"] == 36
    assert first["n_failures"] == 0

    # re-run: everything already committed -> no duplicates (exact resume)
    second = engine.run_job(spark, input_path, output_path, num_partitions=2)
    assert second["n_docs"] == 36
    data = spark.read.parquet(first["output"])
    assert data.select("url").distinct().count() == 36
    assert data.count() == 36
    lineage = spark.read.parquet(first["lineage"])
    assert lineage.agg(F.sum("n_docs")).first()[0] == 36
    # manifest rows are stamped per run: the resumed re-run appended its
    # own run_id instead of double-counting the file set (VERDICT r5 #3)
    manifest = spark.read.parquet(first["input_manifest"])
    assert sorted(r["run_id"] for r in
                  manifest.select("run_id").distinct().collect()) == [0, 1]
    latest = manifest.filter(F.col("run_id") == 1)
    n_input_files = spark.read.parquet(input_path).select(
        F.input_file_name()).distinct().count()
    assert latest.count() == n_input_files
    assert latest.agg(F.sum("n_rows")).first()[0] == 36


def _lineage_by_part(rows):
    return {r["part_id"]: r.asDict() for r in rows}


def test_run_job_lineage_rides_on_the_write(spark, pages_df, tmp_path):
    """A fresh run's lineage rows are totalled by the kernel tasks and
    observed on the snapshot write: they equal lineage_frame over the
    committed snapshot, and the run needs at most 6 Spark jobs (12 when
    lineage and counts re-read the snapshot after the write)."""
    input_path = str(tmp_path / "pages")
    output_path = str(tmp_path / "out")
    pages_df.write.parquet(input_path)

    sc = spark.sparkContext
    sc.setJobGroup("fresh-run-job", "fresh run_job")
    try:
        result = engine.run_job(spark, input_path, output_path,
                                num_partitions=2)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("fresh-run-job")) <= 6

    written = _lineage_by_part(spark.read.parquet(result["lineage"]).collect())
    expected = _lineage_by_part(engine.lineage_frame(
        spark.read.parquet(result["output"])).collect())
    assert sorted(written) == sorted(expected)
    for part, row in expected.items():
        got = written[part]
        assert got.pop("run_id") == result["run_id"] == 0
        assert list(got) == list(row)
        for col, value in row.items():
            if isinstance(value, float):
                assert got[col] == pytest.approx(value, rel=1e-9), col
            else:
                assert got[col] == value, col
    assert result["n_docs"] == sum(r["n_docs"] for r in expected.values())
    assert result["n_failures"] == 0


def test_run_job_snapshot_carries_failure_record(spark, nan_payload,
                                                 tmp_path):
    """The snapshot holds fail_stage and fail_cause beside
    parse_failure_code: set on every failed row, NULL on every OK row; the
    summary counts the failures, also from the prior snapshot on resume."""
    good = fixtures.build_corpus(3)
    rows = [("nan://1", bytearray(nan_payload)),
            ("bad://1", bytearray(b"not-a-payload"))]
    rows += [(r["url"], bytearray(r["html"])) for r in good]
    input_path = str(tmp_path / "pages")
    output_path = str(tmp_path / "out")
    (spark.createDataFrame(rows, "url string, html binary")
     .write.parquet(input_path))

    result = engine.run_job(spark, input_path, output_path, num_partitions=2)
    assert (result["n_docs"], result["n_failures"]) == (5, 2)
    data = spark.read.parquet(result["output"])
    cols = data.columns
    i = cols.index("parse_failure_code")
    assert cols[i:i + 3] == ["parse_failure_code", "fail_stage",
                             "fail_cause"]
    got = {r["url"]: (r["parse_failure_code"], r["fail_stage"],
                      r["fail_cause"]) for r in data.collect()}
    code, stage, cause = got.pop("nan://1")
    assert (code, stage) == (codec.ERR_KERNEL, "Detect lines")
    assert cause.startswith("OverflowError: ")
    assert got.pop("bad://1") == (codec.ERR_MAGIC, "Parse payload",
                                  "bad magic")
    assert got == {r["url"]: (0, None, None) for r in good}

    resumed = engine.run_job(spark, input_path, output_path)
    assert (resumed["n_docs"], resumed["n_failures"]) == (5, 2)


def test_run_job_resume_appends_own_lineage(spark, pages_df, tmp_path):
    """A resumed run appends lineage rows for its own run_id only, covering
    just the documents it extracted; earlier runs' rows stay as written."""
    first_path = str(tmp_path / "first")
    all_path = str(tmp_path / "all")
    output_path = str(tmp_path / "out")
    pages_df.orderBy("url").limit(20).write.parquet(first_path)
    pages_df.write.parquet(all_path)

    engine.run_job(spark, first_path, output_path, num_partitions=2)
    lineage_path = output_path + "/lineage"
    before = spark.read.parquet(lineage_path).collect()
    result = engine.run_job(spark, all_path, output_path, num_partitions=2)
    assert (result["run_id"], result["n_docs"]) == (1, 36)

    lineage = spark.read.parquet(lineage_path)
    assert sorted(lineage.filter("run_id = 0").collect()) == sorted(before)
    resumed = lineage.filter("run_id = 1")
    assert resumed.agg(F.sum("n_docs")).first()[0] == 16
    assert lineage.filter("run_id NOT IN (0, 1)").count() == 0


def test_lineage_per_stage_timings(spark, pages_df):
    """with_timings=True adds a stage_ms map per row; lineage_frame rolls
    it up into one ms_<stage> column per pipeline stage — the distributed
    mirror of the reference's --print-running-times report
    (pdftotext++.cpp:765-784)."""
    from pdftotext_plus_plus_spark.kernel import STAGE_NAMES
    from pdftotext_plus_plus_spark.pipeline import (STAGE_DECODE,
                                                    STAGE_SERIALIZE)

    out = engine.extract_pages(pages_df, num_partitions=2,
                               with_timings=True)
    assert "stage_ms" in out.columns
    lineage = engine.lineage_frame(out)
    expected = [engine._stage_slug(n)
                for n in (STAGE_DECODE,) + STAGE_NAMES + (STAGE_SERIALIZE,)]
    assert set(expected) <= set(lineage.columns)
    rows = lineage.collect()
    totals = {c: sum(float(r[c]) for r in rows) for c in expected}
    # every stage ran on real documents: decode, word detection and
    # serialization must show nonzero total time
    assert totals["ms_parse_payload"] > 0
    assert totals["ms_detect_words"] > 0
    assert totals["ms_serialize"] > 0
    assert all(v >= 0 for v in totals.values())
    # stage sum is bounded by the per-doc wall total (stages are a
    # subset of each doc's timed extract() call)
    wall = sum(float(r["extract_ms_total"]) for r in rows)
    assert sum(totals.values()) <= wall * 1.05
    # without timings the lineage schema is unchanged (no ms_* columns)
    plain = engine.lineage_frame(
        engine.extract_pages(pages_df, num_partitions=2))
    assert not [c for c in plain.columns if c.startswith("ms_")]


def test_run_job_legacy_manifest_upgrade(spark, pages_df, tmp_path):
    """A pre-run_id manifest (no run_id column) is NEVER rewritten in
    place (Spark's overwrite deletes before it commits — a crash
    mid-upgrade would lose the whole lineage manifest, ADVICE r7): the
    new run APPENDS at run 1 and readers recover the legacy rows as run
    0 via coalesce under mergeSchema."""
    import glob

    input_path = str(tmp_path / "pages")
    output_path = str(tmp_path / "out")
    pages_df.write.parquet(input_path)
    files_path = output_path + "/lineage_files"
    # simulate a legacy manifest: same shape, run_id column absent
    (spark.read.parquet(input_path)
     .groupBy(F.input_file_name().alias("input_file"))
     .agg(F.count("*").alias("n_rows"),
          F.sum(F.length("html")).alias("payload_bytes"))
     .write.parquet(files_path))
    legacy_parts = sorted(glob.glob(files_path + "/part-*"))

    engine.run_job(spark, input_path, output_path, num_partitions=2)
    # crash-safety: the legacy part files are still on disk — nothing
    # was deleted at any point during the run
    assert set(legacy_parts) <= set(glob.glob(files_path + "/part-*"))
    manifest = (spark.read.option("mergeSchema", "true")
                .parquet(files_path))
    assert "run_id" in manifest.columns
    runs = manifest.select(
        F.coalesce("run_id", F.lit(0)).alias("run")).distinct()
    assert sorted(r["run"] for r in runs.collect()) == [0, 1]
    # and a THIRD run continues at 2 off the mixed directory
    engine.run_job(spark, input_path, output_path, num_partitions=2)
    manifest = (spark.read.option("mergeSchema", "true")
                .parquet(files_path))
    assert manifest.agg(
        F.max(F.coalesce("run_id", F.lit(0)))).first()[0] == 2


def test_has_files_sees_only_readable_entries(spark, tmp_path):
    """run_job's snapshot/manifest probe: a missing directory, an empty
    one and one holding only hidden entries read as absent, so a crashed
    first write still resumes as a first run."""
    path = tmp_path / "snap"
    assert not engine._has_files(spark, str(path))
    path.mkdir()
    assert not engine._has_files(spark, str(path))
    (path / "_SUCCESS").write_bytes(b"")
    (path / ".hidden.crc").write_bytes(b"")
    assert not engine._has_files(spark, str(path))
    spark.range(3).write.mode("append").parquet(str(path))
    assert engine._has_files(spark, str(path))


def test_run_job_empty_prior_manifest(spark, pages_df, tmp_path):
    """A manifest directory with zero rows (prior run over an empty
    input) must not crash the max(run_id)+1 probe (ADVICE r6)."""
    input_path = str(tmp_path / "pages")
    output_path = str(tmp_path / "out")
    pages_df.write.parquet(input_path)
    files_path = output_path + "/lineage_files"
    schema = ("input_file string, n_rows long, payload_bytes long, "
              "run_id int")
    spark.createDataFrame([], schema).write.parquet(files_path)

    result = engine.run_job(spark, input_path, output_path,
                            num_partitions=2)
    assert result["n_docs"] == 36
    manifest = spark.read.parquet(files_path)
    assert manifest.agg(F.max("run_id")).first()[0] == 0


def test_role_filter_through_engine(spark):
    """T17 at the Spark surface: roles= drops filtered blocks from the
    serialized text; jsonl_units= adds the JSONL column."""
    from dataclasses import replace

    from pyspark.sql import types as T

    from pdftotext_plus_plus_spark import fixtures
    from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG

    rows = [r for r in fixtures.build_corpus(24)
            if r["family"] == "headings"][:2]
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("html", T.BinaryType())])
    df = spark.createDataFrame([(r["url"], r["html"]) for r in rows], schema)
    cfg = replace(DEFAULT_CONFIG, skip_semantic_roles=False)

    full = engine.extract_pages(df, config=cfg).collect()
    only_para = engine.extract_pages(df, config=cfg,
                                     roles={"paragraph"},
                                     jsonl_units=("blocks",)).collect()
    by_url_full = {r["url"]: r for r in full}
    for r in only_para:
        assert len(r["extracted_text"]) < len(
            by_url_full[r["url"]]["extracted_text"])
        # jsonl column present and the filtered role absent from it
        assert '"role": "title"' not in r["jsonl"]
        assert '"role": "paragraph"' in r["jsonl"]
