"""WARC source tests: codec round-trip, corruption tolerance, and the
Spark binaryFile + Arrow-splitter ingestion path."""

import datetime

from pdftotext_plus_plus_spark import fixtures, rowframes, warc

_WARC_COLUMNS = ("url", "warc_date", "html")


def _triples(n=8, jumbo_every=4):
    rows = fixtures.build_corpus(n, jumbo_every=jumbo_every)
    return rows, [(r["url"], r["warc_ts"], r["html"]) for r in rows]


def test_roundtrip_byte_identity():
    rows, triples = _triples()
    blob = warc.encode_warc(triples)
    recs, bad = warc.parse_warc(blob)
    assert bad == 0 and len(recs) == len(rows)
    for r, (url, date, payload) in zip(rows, recs):
        assert url == r["url"]
        assert payload == r["html"]          # byte-identical through HTTP framing
        assert date == r["warc_ts"].strftime("%Y-%m-%dT%H:%M:%SZ")


def test_non_response_records_are_skipped():
    _, triples = _triples(4)
    blob = warc.encode_warc(triples)     # begins with a warcinfo record
    assert blob.startswith(b"WARC/1.0\r\nWARC-Type: warcinfo\r\n")
    recs, _ = warc.parse_warc(blob)
    assert len(recs) == 4                # warcinfo not in the output


def test_truncated_stream_resyncs_and_counts_corruption():
    _, triples = _triples(8)
    blob = warc.encode_warc(triples)
    recs, bad = warc.parse_warc(blob[: len(blob) // 2])
    assert 0 < len(recs) < 8             # prefix records survive
    assert bad >= 1                      # the cut record is counted


def test_garbage_between_records_resyncs_and_is_counted():
    _, triples = _triples(4)
    parts = [warc.encode_warc([t]) for t in triples]
    blob = parts[0] + b"\x00garbage-without-magic\x00" + b"".join(parts[1:])
    recs, bad = warc.parse_warc(blob)
    assert [r[0] for r in recs] == [t[0] for t in triples]
    assert bad == 1          # the skipped inter-record range is accounted
    # leading junk before the first magic is also a counted range
    recs2, bad2 = warc.parse_warc(b"junk-prefix" + b"".join(parts))
    assert len(recs2) == 4 and bad2 == 1


def test_spark_splitter_logs_the_corrupt_range_count(caplog):
    """The Spark shard splitter drops no corruption silently: it logs the
    shard's corrupt-range count, the same figure the eager parse returns,
    and its rows are the eager parse's."""
    import logging
    import re

    import pandas as pd

    _, triples = _triples(4)
    parts = [warc.encode_warc([t]) for t in triples]
    blob = parts[0] + b"\x00garbage-without-magic\x00" + b"".join(parts[1:])
    recs, bad = warc.parse_warc(blob)
    assert bad == 1
    with caplog.at_level(logging.WARNING, logger=warc.__name__):
        frames = list(rowframes.row_frames(iter([pd.DataFrame(
            {"path": ["file:/shards/part-7.warc"], "content": [blob]})]),
            warc._shard_rows(warc._warc_row), _WARC_COLUMNS))
    assert list(pd.concat(frames)["url"]) == [r[0] for r in recs]
    logged = [rec.getMessage() for rec in caplog.records
              if rec.name == warc.__name__]
    assert len(logged) == 1 and "part-7.warc" in logged[0]
    assert int(re.search(r"skipped (\d+) corrupt", logged[0]).group(1)) \
        == bad

    # a clean shard logs nothing
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=warc.__name__):
        list(rowframes.row_frames(iter([pd.DataFrame(
            {"content": [b"".join(parts)]})]),
            warc._shard_rows(warc._warc_row), _WARC_COLUMNS))
    assert not [rec for rec in caplog.records if rec.name == warc.__name__]


def test_header_without_colon_is_corrupt_not_fatal():
    _, triples = _triples(2)
    good = warc.encode_warc([triples[1]])
    broken = b"WARC/1.0\r\nNOCOLONHEADER\r\n\r\nxx" + good
    recs, bad = warc.parse_warc(broken)
    assert bad >= 1 and len(recs) == 1
    assert recs[0][0] == triples[1][0]


def test_empty_and_magicless_blobs():
    assert warc.parse_warc(b"") == ([], 1) or warc.parse_warc(b"") == ([], 0)
    recs, bad = warc.parse_warc(b"not a warc at all")
    assert recs == [] and bad == 1


def test_split_kernel_emits_bounded_batches():
    """The memory-envelope contract (SCALE.md §Webtext): a multi-record
    shard streams out of the splitter in batches capped by rows/bytes —
    never one frame holding every record of the shard."""
    import pandas as pd

    rows, triples = _triples(n=24, jumbo_every=6)
    blob = warc.encode_warc(triples)
    frames = list(rowframes.row_frames(
        iter([pd.DataFrame({"content": [blob]})]),
        warc._shard_rows(warc._warc_row), _WARC_COLUMNS, max_rows=5))
    assert len(frames) > 1                       # really batched
    assert all(len(f) <= 5 for f in frames)
    # concatenation == the unbatched parse, in order, byte-identical
    cat = pd.concat(frames, ignore_index=True)
    assert list(cat["url"]) == [r["url"] for r in rows]
    assert [bytes(h) for h in cat["html"]] == [r["html"] for r in rows]

    # byte bound: each flushed frame stops at the first record crossing
    # the cap (payload >= 1 byte each -> max_bytes=1 means 1 row/frame)
    tiny = list(rowframes.row_frames(
        iter([pd.DataFrame({"content": [blob]})]),
        warc._shard_rows(warc._warc_row), _WARC_COLUMNS, max_bytes=1))
    assert all(len(f) == 1 for f in tiny)
    assert sum(len(f) for f in tiny) == len(rows)

    # the same splitter under the WET reader's row function
    texts = [(r["url"], r["golden_text"]) for r in rows]
    wet = warc.encode_wet(texts, filename="part-00.warc.wet")
    frames = list(rowframes.row_frames(
        iter([pd.DataFrame({"path": ["part-00.warc.wet"], "content": [wet]})]),
        warc._shard_rows(warc._wet_row), ("url", "extracted_text"),
        max_rows=5))
    assert len(frames) > 1
    assert all(len(f) <= 5 for f in frames)
    cat = pd.concat(frames, ignore_index=True)
    assert list(zip(cat["url"], cat["extracted_text"])) == texts
    assert list(zip(cat["url"], cat["extracted_text"])) == warc.parse_wet(wet)[0]

    # ...and under the snapshot reader's: odd rows match their journal
    # digest (revisit records), even rows are new (response records)
    import hashlib

    snap = [(r["url"], r["html"],
             hashlib.md5(r["html"]).hexdigest() if i % 2 else None)
            for i, r in enumerate(rows)]
    sblob = warc.encode_snapshot_warc(snap, "snap-00.warc")
    frames = list(rowframes.row_frames(
        iter([pd.DataFrame({"path": ["snap-00.warc"], "content": [sblob]})]),
        warc._shard_rows(warc._snapshot_row),
        ("url", "record_type", "payload_digest", "stored_len"), max_rows=5))
    assert len(frames) > 1
    assert all(len(f) <= 5 for f in frames)
    cat = pd.concat(frames, ignore_index=True)
    records, n_corrupt = warc._walk(sblob)
    assert n_corrupt == 0
    eager = [(h["warc-target-uri"], h["warc-type"],
              h["warc-payload-digest"][len("md5:"):],
              len(warc._payload_of(body)) if h["warc-type"] == "response"
              else len(body))
             for h, body, _, _ in records if h["warc-type"] != "warcinfo"]
    assert list(cat.itertuples(index=False, name=None)) == eager
    assert eager == [(url, "revisit" if i % 2 else "response",
                      hashlib.md5(payload).hexdigest(),
                      0 if i % 2 else len(payload))
                     for i, (url, payload, _) in enumerate(snap)]


def test_spark_read_warc_matches_corpus(spark, tmp_path):
    rows = fixtures.build_corpus(12, jumbo_every=6)
    warc.write_warc_dir(rows, str(tmp_path), n_files=3)
    got = {r["url"]: (r["warc_ts"], bytes(r["html"]))
           for r in warc.read_warc(spark, str(tmp_path)).collect()}
    assert len(got) == 12
    for r in rows:
        ts, payload = got[r["url"]]
        assert payload == r["html"]
        assert ts == r["warc_ts"]


def test_spark_plan_is_binaryfile_plus_arrow_splitter(spark, tmp_path):
    rows = fixtures.build_corpus(4)
    warc.write_warc_dir(rows, str(tmp_path), n_files=2)
    df = warc.read_warc(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one task per WARC file via binaryFile; the splitter is Arrow-batched
    assert "MapInPandas" in plan or "MapInArrow" in plan
    assert "binaryFile" in plan or "BinaryFile" in plan or "FileScan" in plan


def test_warc_extract_equals_parquet_extract(spark, tmp_path):
    """The full equivalence the registry query asserts, inline: WARC
    ingestion feeding the engine produces the identical extracted_text
    as the direct fixture path."""
    from pdftotext_plus_plus_spark import engine
    from pyspark.sql import types as T

    rows = fixtures.build_corpus(8, jumbo_every=4)
    warc.write_warc_dir(rows, str(tmp_path), n_files=2)
    via_warc = {r["url"]: r["extracted_text"] for r in
                engine.extract_pages(warc.read_warc(spark, str(tmp_path)),
                                     num_partitions=4)
                .select("url", "extracted_text").collect()}
    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("html", T.BinaryType())])
    direct = spark.createDataFrame(
        [(r["url"], r["html"]) for r in rows], schema)
    via_parquet = {r["url"]: r["extracted_text"] for r in
                   engine.extract_pages(direct, num_partitions=4)
                   .select("url", "extracted_text").collect()}
    assert via_warc == via_parquet


def test_cdx_index_random_access_byte_identity():
    rows, triples = _triples(10, jumbo_every=5)
    blob = warc.encode_warc(triples)
    idx = warc.index_warc(blob)
    assert len(idx) == 10
    for r, (url, date, off, ln) in zip(rows, idx):
        assert url == r["url"]
        u2, payload = warc.read_record(blob[off:off + ln])
        assert u2 == r["url"] and payload == r["html"]


def test_cdx_index_skips_warcinfo_and_truncated_tail():
    _, triples = _triples(8)
    blob = warc.encode_warc(triples)
    assert len(warc.index_warc(blob)) == 8          # warcinfo not indexed
    idx = warc.index_warc(blob[: len(blob) // 2])
    assert 0 < len(idx) < 8                          # only complete records


def test_read_record_rejects_non_record_slices():
    import pytest

    _, triples = _triples(2)
    blob = warc.encode_warc(triples)
    with pytest.raises(ValueError):
        warc.read_record(b"junk bytes")
    with pytest.raises(ValueError):
        warc.read_record(blob)  # two records, not one
    idx = warc.index_warc(blob)
    off, ln = idx[0][2], idx[0][3]
    with pytest.raises(ValueError):
        warc.read_record(blob[off:off + ln - 10])  # truncated slice


def test_spark_cdx_index_matches_local(spark, tmp_path):
    rows = fixtures.build_corpus(8, jumbo_every=4)
    warc.write_warc_dir(rows, str(tmp_path), n_files=2)
    got = sorted((r["url"], r["filename"], r["offset"], r["length"])
                 for r in warc.cdx_index(spark, str(tmp_path)).collect())
    want = []
    import os
    for name in sorted(os.listdir(str(tmp_path))):
        with open(f"{tmp_path}/{name}", "rb") as f:
            blob = f.read()
        for url, date, off, ln in warc.index_warc(blob):
            want.append((url, name, off, ln))
    assert got == sorted(want)
    # and the indexed slices fetch byte-identical payloads
    by_url = {r["url"]: r for r in rows}
    for url, name, off, ln in want:
        with open(f"{tmp_path}/{name}", "rb") as f:
            f.seek(off)
            u2, payload = warc.read_record(f.read(ln))
        assert payload == by_url[url]["html"]


def test_wet_roundtrip_and_tolerance():
    recs = [("http://e/1", "plain text\n"),
            ("http://e/2", "text holding the magic WARC/1.0\r\ninside\n"),
            ("http://e/3", "unicode éß \U0001f389\n",
             "<urn:fixture:part-00.warc:3>")]
    blob = warc.encode_wet(recs, filename="part-00.warc.wet")
    got, n_corrupt = warc.parse_wet(blob)
    assert n_corrupt == 0
    assert got == [(u, t) for u, t, *_ in recs]
    # refers-to header survives the parse walk
    records, _ = warc._walk(blob)
    conv = [h for h, *_ in records if h.get("warc-type") == "conversion"]
    assert conv[2]["warc-refers-to"] == "<urn:fixture:part-00.warc:3>"
    # the response-record parser ignores WET conversion records entirely
    assert warc.parse_warc(blob)[0] == []
    # corrupt the second record's Content-Length framing: the parser
    # must resync at the next magic, keep records 1 and 3, count the skip
    at = blob.find(b"Content-Length", blob.find(b"http://e/2"))
    bad = blob[:at] + b"Content-Length: 999999\r\n" + \
        blob[blob.find(b"\r\n", at) + 2:]
    got_bad, n_bad = warc.parse_wet(bad)
    assert [u for u, _ in got_bad] == ["http://e/1", "http://e/3"]
    assert n_bad >= 1


def test_wet_convert_spark_roundtrip(spark):
    rows = fixtures.build_corpus(12, jumbo_every=6)
    df = spark.createDataFrame(
        [(r["url"], r["golden_text"]) for r in rows],
        "url string, extracted_text string")
    shards = warc.wet_convert(df, n_shards=3).collect()
    assert 1 <= len(shards) <= 3
    assert all(s["filename"].endswith(".warc.wet") for s in shards)
    # shard bytes are deterministic under any upstream partitioning
    shards2 = {s["filename"]: bytes(s["content"]) for s in
               warc.wet_convert(df.repartition(7), n_shards=3).collect()}
    assert {s["filename"]: bytes(s["content"]) for s in shards} == shards2
    # parse-back through the Spark reader recovers every text exactly
    sdf = spark.createDataFrame(
        [(s["filename"], bytes(s["content"])) for s in shards],
        "filename string, content binary")
    got = {r["url"]: r["extracted_text"]
           for r in warc.read_wet_blobs(sdf).collect()}
    assert got == {r["url"]: r["golden_text"] for r in rows}


def test_wet_header_value_sanitized_not_dropped():
    # CR/LF in a header value must not corrupt the framing (the tolerant
    # parser would silently DROP the record); the writer sanitizes
    evil = "http://e/a\r\nX-Injected: y"
    blob = warc.encode_wet([(evil, "body\n"), ("http://e/b", "ok\n")])
    got, n_corrupt = warc.parse_wet(blob)
    assert n_corrupt == 0 and len(got) == 2
    assert got[0][0] == "http://e/a  X-Injected: y"  # sanitized, kept
    assert got[0][1] == "body\n"


def test_wet_convert_deterministic_with_duplicate_urls(spark):
    # a re-crawled page: same url, two different texts — shard bytes
    # must still be identical under any upstream partitioning
    rows = [("http://dup/x", "first crawl\n"), ("http://dup/x", "second crawl\n"),
            ("http://dup/y", "other\n")] * 2
    df = spark.createDataFrame(rows, "url string, extracted_text string") \
        .dropDuplicates()
    a = {s["filename"]: bytes(s["content"])
         for s in warc.wet_convert(df.repartition(1), n_shards=2).collect()}
    b = {s["filename"]: bytes(s["content"])
         for s in warc.wet_convert(df.repartition(5), n_shards=2).collect()}
    assert a == b


def test_wat_roundtrip_and_independence():
    rows = fixtures.build_corpus(8, jumbo_every=4)
    import hashlib
    for name, blob in warc.shard_files(rows, n_files=2):
        wat = warc.wat_from_warc(name, blob)
        recs, n_corrupt = warc.parse_wat(wat)
        assert n_corrupt == 0
        # one metadata record per response record, aligned with CDX
        idx = warc.index_warc(blob)
        assert [(r[0], r[1], r[3], r[4]) for r in recs] == \
            [(u, d, o, l) for u, d, o, l in idx]
        by_url = {r["url"]: r for r in rows}
        for url, date, fn, off, ln, dig, pln in recs:
            assert fn == name
            assert dig == "md5:" + hashlib.md5(by_url[url]["html"]).hexdigest()
            assert pln == len(by_url[url]["html"])
            # container coordinates honor the random-access contract
            u2, payload = warc.read_record(blob[off:off + ln])
            assert u2 == url and payload == by_url[url]["html"]
        # a garbled JSON block counts corrupt, the walk continues
        at = wat.find(b'{"Container"')
        bad = wat[:at] + b'{"X":' + wat[at + 5:]
        recs_bad, n_bad = warc.parse_wat(bad)
        assert len(recs_bad) == len(recs) - 1 and n_bad >= 1


def test_wat_spark_pipeline(spark, tmp_path):
    rows = fixtures.build_corpus(8, jumbo_every=4)
    warc.write_warc_dir(rows, str(tmp_path), n_files=2)
    got = {r["url"]: r for r in warc.wat_index(spark, str(tmp_path)).collect()}
    assert set(got) == {r["url"] for r in rows}
    import hashlib
    for r in rows:
        g = got[r["url"]]
        assert g["payload_digest"] == \
            "md5:" + hashlib.md5(r["html"]).hexdigest()
        assert g["payload_len"] == len(r["html"])


def test_revisit_encode_parse_roundtrip():
    """Revisit semantics at the byte level: a payload whose digest
    matches the journal is stored as an EMPTY revisit record (digest
    carried in the header), everything else as a full response whose
    parsed-back digest equals md5 of the original bytes."""
    import hashlib

    from pdftotext_plus_plus_spark import warc as warcmod

    rows = [
        ("https://s.test/unchanged", b"same bytes as snapshot A",
         hashlib.md5(b"same bytes as snapshot A").hexdigest()),
        ("https://s.test/changed", b"new bytes",
         hashlib.md5(b"old bytes").hexdigest()),
        ("https://s.test/new", b"first capture", None),
    ]
    blob = warcmod.encode_snapshot_warc(rows, "t.warc")
    records, n_corrupt = warcmod._walk(blob)
    assert n_corrupt == 0
    by_url = {h.get("warc-target-uri"): (h, body)
              for h, body, _, _ in records
              if h.get("warc-type") in ("revisit", "response")}
    h, body = by_url["https://s.test/unchanged"]
    assert h["warc-type"] == "revisit"
    assert body == b""                       # the dedup saving is real
    assert h["warc-profile"] == warcmod.REVISIT_PROFILE
    assert h["warc-refers-to-target-uri"] == "https://s.test/unchanged"
    assert h["warc-payload-digest"] == \
        "md5:" + hashlib.md5(b"same bytes as snapshot A").hexdigest()
    for url, payload in (("https://s.test/changed", b"new bytes"),
                         ("https://s.test/new", b"first capture")):
        h, body = by_url[url]
        assert h["warc-type"] == "response"
        assert warcmod._payload_of(body) == payload
        assert h["warc-payload-digest"] == \
            "md5:" + hashlib.md5(payload).hexdigest()


def test_revisit_query_storage_savings(spark):
    """End-to-end invariants of the registry query: revisit rows are
    exactly the unchanged-and-journaled docs, they store ZERO payload
    bytes, and every digest matches an independent hashlib computation
    over the synthesized payloads."""
    import hashlib

    import duckdb

    from pdftotext_plus_plus_spark.datapipe import registry

    sf = "/root/testdata/sf0.001"
    rows = {r["url"]: r for r in
            registry.warc_revisit_records(spark, sf).collect()}
    docs = duckdb.sql("SELECT doc_id, text FROM "
                      f"read_parquet('{sf}/documents.parquet')").fetchall()
    assert len(rows) == len(docs)
    for doc_id, text in docs:
        url = "https://snap.test/%d" % doc_id
        payload = (text + "|v2" if doc_id % 5 == 0 else text).encode()
        r = rows[url]
        assert r["payload_digest"] == hashlib.md5(payload).hexdigest()
        unchanged = doc_id % 5 != 0 and doc_id % 7 != 3
        assert r["record_type"] == ("revisit" if unchanged else "response")
        assert r["stored_len"] == (0 if unchanged else len(payload))
