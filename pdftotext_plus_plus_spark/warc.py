"""WARC source: read ISO 28500 WARC files into the extraction pipeline.

A web-scale corpus arrives as WARC (the CommonCrawl container), not as
parquet: concatenated records, each a CRLF header block (WARC-Type,
WARC-Target-URI, WARC-Date, Content-Length) followed by exactly
Content-Length payload bytes and a blank-line separator.  The WARC,
WET, WAT and revisit products share one writer, :func:`_warc_file` (a
warcinfo head record, then the caller's (headers, block) records), and
one record walk, :func:`_walk_rows`, which resynchronizes at the next
``WARC/1.0`` magic on corrupt framing instead of failing the task
(failures are ROWS, not exceptions).  Each Spark reader, and each eager
``parse_*``, gives only a row function; the readers enter Spark through
the package's one bounded frame builder, :func:`rowframes.map_rows`.

Plan shape at 100 TB: the shard scan gives one input split per WARC file
(CommonCrawl shards are ~1 GB — the natural task granularity); each
reader is a per-file batch kernel with bounded memory (one file's bytes
plus one output frame), and everything downstream is the ordinary
extraction plan.  Reference parity: the reference engine reads PDFs
from a local filesystem walk (pdftotext++.cpp main); the WARC path is
this repo's crawl-native ingestion form of the same S1 source surface.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import logging
import os
from typing import Iterable, List, Tuple

from .rowframes import map_rows

_log = logging.getLogger(__name__)

_CRLF = b"\r\n"
_MAGIC = b"WARC/1.0\r\n"
_HTTP_RESPONSE = "application/http; msgtype=response"


def _http_wrap(payload: bytes) -> bytes:
    head = (b"HTTP/1.1 200 OK\r\n"
            b"Content-Type: application/octet-stream\r\n"
            b"Content-Length: " + str(len(payload)).encode() + _CRLF + _CRLF)
    return head + payload


def _record(headers: List[Tuple[str, str]], block: bytes) -> bytes:
    out = [_MAGIC]
    for k, v in headers:
        # CR/LF in a header VALUE would split the line and corrupt the
        # record's framing (the tolerant parser would then silently DROP
        # the record); the WARC spec forbids control characters in header
        # values, so sanitize deterministically — a no-op for legal values
        v = v.replace("\r", " ").replace("\n", " ")
        out.append(f"{k}: {v}\r\n".encode())
    out.append(b"Content-Length: " + str(len(block)).encode() + _CRLF)
    out.append(_CRLF)
    out.append(block)
    out.append(_CRLF + _CRLF)
    return b"".join(out)


def _headers(rtype: str, url: str, date: str, record_id: str,
             content_type: str, *extra) -> List[Tuple[str, str]]:
    """Type, target, date, id, the ``extra`` pairs, content type."""
    return [("WARC-Type", rtype), ("WARC-Target-URI", url),
            ("WARC-Date", date), ("WARC-Record-ID", record_id),
            *extra, ("Content-Type", content_type)]


def _warc_file(filename: str, date: str, records) -> bytes:
    """The one file writer: a warcinfo head record naming ``filename``,
    then one record per ``(headers, block)`` pair of ``records``."""
    parts = [_record(
        [("WARC-Type", "warcinfo"),
         ("WARC-Date", date),
         ("WARC-Filename", filename),
         ("Content-Type", "application/warc-fields")],
        b"software: pdftotext_plus_plus_spark\r\n")]
    parts.extend(_record(headers, block) for headers, block in records)
    return b"".join(parts)


def encode_warc(records: Iterable[Tuple[str, datetime.datetime, bytes]],
                filename: str = "fixture.warc") -> bytes:
    """Serialize (url, timestamp, payload) triples as one WARC file."""
    return _warc_file(filename, "2024-01-01T00:00:00Z", (
        (_headers("response", url, ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
                  "<urn:fixture:%s:%d>" % (filename, i), _HTTP_RESPONSE),
         _http_wrap(payload))
        for i, (url, ts, payload) in enumerate(records)))


def _parse_headers(blob: bytes, pos: int):
    """Parse one CRLF header block starting at pos (after the magic).
    Returns (headers dict lowercased, offset after blank line) or None."""
    end = blob.find(_CRLF + _CRLF, pos)
    if end < 0:
        return None
    headers = {}
    for line in blob[pos:end].split(_CRLF):
        if b":" not in line:
            return None
        k, v = line.split(b":", 1)
        headers[k.strip().lower().decode("ascii", "replace")] = \
            v.strip().decode("utf-8", "replace")
    return headers, end + 4


def _iter_records(blob: bytes, stats: dict):
    """Lazily yield (headers, body, record_start, record_end) per
    well-framed record, accumulating corrupt resyncs in
    ``stats["corrupt"]``.  record_end covers the payload and the
    two-CRLF record separator when present, so
    blob[record_start:record_end] is a complete standalone record.

    A GENERATOR so callers can stream a shard's records without ever
    materializing them all (the 100 TB memory envelope: one shard's
    bytes + one in-flight record, not bytes + every record copy).

    Corruption accounting counts every skipped byte range: a record
    whose framing fails, leading junk before the first magic, AND
    unconsumed bytes between one record's end and the next magic."""
    pos = blob.find(_MAGIC)
    if pos != 0 and blob:
        stats["corrupt"] += 1     # junk before the first record, or no magic
    while pos >= 0:
        parsed = _parse_headers(blob, pos + len(_MAGIC))
        record = None
        if parsed is not None:
            headers, body_at = parsed
            try:
                clen = int(headers.get("content-length", ""))
            except ValueError:
                clen = -1
            if 0 <= clen <= len(blob) - body_at:
                end = body_at + clen
                if blob[end:end + 4] == _CRLF + _CRLF:
                    end += 4
                record = (headers, blob[body_at:body_at + clen], pos, end)
        if record is None:
            stats["corrupt"] += 1
            pos = blob.find(_MAGIC, pos + len(_MAGIC))
            continue
        pos = blob.find(_MAGIC, end)
        # a gap after a WELL-FRAMED record is its own corrupt range (a
        # failed record's resync skip was already counted above)
        if pos > end or (pos < 0 and end < len(blob)):
            stats["corrupt"] += 1
        yield record


def _walk(blob: bytes):
    """Eager form of :func:`_iter_records` for small blobs/tests:
    returns ([records], n_corrupt)."""
    stats = {"corrupt": 0}
    records = list(_iter_records(blob, stats))
    return records, stats["corrupt"]


def _payload_of(body: bytes) -> bytes:
    http_at = body.find(_CRLF + _CRLF)
    return body[http_at + 4:] if http_at >= 0 else body


# Row functions: row_fn(name, headers, body, start, end) -> one row, or
# None to skip the record.  The eager parsers and the Spark readers share
# them, so each product's record type filter and columns are written once.

def _warc_row(name, h, body, start, end):
    """(url, warc_date, payload) of a response record."""
    if h.get("warc-type") == "response":
        return (h.get("warc-target-uri", ""), h.get("warc-date", ""),
                _payload_of(body))


def _cdx_row(name, h, body, start, end):
    """(url, warc_date, filename, offset, length) of a response record."""
    if h.get("warc-type") == "response":
        return (h.get("warc-target-uri", ""), h.get("warc-date", ""), name,
                start, end - start)


def _eager_rows(blob: bytes, row_fn):
    """([row_fn row per record of blob], n_corrupt) over :func:`_walk`."""
    records, n_corrupt = _walk(blob)
    rows = (row_fn("", *record) for record in records)
    return [row for row in rows if row is not None], n_corrupt


def parse_warc(blob: bytes):
    """Return ([(url, warc_date, payload_bytes) per response record],
    n_corrupt).

    Tolerant: non-response records are skipped; malformed framing (bad
    header line, missing/garbled Content-Length, truncated payload)
    resynchronizes at the next ``WARC/1.0`` magic.  Returns the parsed
    records plus the count of skipped corrupt byte ranges.
    """
    return _eager_rows(blob, _warc_row)


def index_warc(blob: bytes):
    """CDX-style index entries: [(url, warc_date, offset, length)] per
    response record, where blob[offset:offset+length] is the complete
    standalone record — the random-access contract a CDX index exists
    for (fetch one page from a 1 GB shard without scanning it)."""
    rows, _ = _eager_rows(blob, _cdx_row)
    return [(url, date, off, ln) for url, date, _, off, ln in rows]


def read_record(blob_slice: bytes) -> Tuple[str, bytes]:
    """Parse ONE record previously located via :func:`index_warc`:
    returns (url, payload).  Raises ValueError on a non-record slice."""
    records, _ = _walk(blob_slice)
    if len(records) != 1 or records[0][0].get("warc-type") != "response":
        raise ValueError("slice is not a single WARC response record")
    h, body, _, _ = records[0]
    return h.get("warc-target-uri", ""), _payload_of(body)


def _shard_blobs(pdf):
    """(basename of ``path`` or "", blob) per row of a shard batch."""
    paths = pdf["path"] if "path" in pdf else [""] * len(pdf)
    for path, blob in zip(paths, pdf["content"]):
        yield os.path.basename(path), bytes(blob)


def _walk_rows(blobs, row_fn):
    """(row, block bytes) per record of each (name, blob) whose ``row_fn``
    row is not None.  Streams via :func:`_iter_records`, NOT the eager
    :func:`_walk`, which materializes every record of the shard first
    (per-task peak would be the whole shard's decoded records, ADVICE
    r7): one record is in flight, so the frame bound is real.  A shard
    with corrupt byte ranges logs one warning with its count, the figure
    the eager ``parse_*`` return."""
    for name, blob in blobs:
        stats = {"corrupt": 0}
        for h, body, start, end in _iter_records(blob, stats):
            row = row_fn(name, h, body, start, end)
            if row is not None:
                yield row, len(body)
        if stats["corrupt"]:
            _log.warning("skipped %d corrupt byte range(s) in WARC shard %s",
                         stats["corrupt"], name or "<unnamed>")


def _shard_rows(row_fn, blobs=_shard_blobs):
    """The rows function of a shard reader: :func:`_walk_rows` with
    ``row_fn`` over the (name, blob) pairs ``blobs`` gives for one
    (path, content) batch.  A record counts at its block bytes, an upper
    bound on every reader's payload or text."""
    return lambda pdf: _walk_rows(blobs(pdf), row_fn)


def _scan_shards(spark, path: str):
    """One (path, content) row and one input split per .warc file."""
    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.warc").load(path)
            .select("path", "content"))


def read_warc(spark, path: str):
    """Read a directory of .warc files into the engine's page schema:
    one row per file from :func:`_scan_shards`, split into one page per
    response record; dates parse to timestamps JVM-side."""
    from pyspark.sql import functions as F

    pages = map_rows(_scan_shards(spark, path), _shard_rows(_warc_row),
                     "url string, warc_date string, html binary")
    return pages.select(
        "url",
        F.to_timestamp("warc_date", "yyyy-MM-dd'T'HH:mm:ss'Z'")
        .alias("warc_ts"),
        "html")


def shard_files(rows, n_files: int = 4):
    """Round-robin the corpus rows into named shard blobs: yields
    (filename, encoded_bytes).  The SINGLE source of truth for the
    shard layout — write_warc_dir writes exactly this, and the CDX
    oracle indexes exactly this, so they can never drift apart."""
    buckets: List[List] = [[] for _ in range(n_files)]
    for i, r in enumerate(rows):
        buckets[i % n_files].append((r["url"], r["warc_ts"], r["html"]))
    for k, recs in enumerate(buckets):
        name = "part-%02d.warc" % k
        yield name, encode_warc(recs, filename=name)


def write_warc_dir(rows, out_dir: str, n_files: int = 4) -> None:
    """Write fixture corpus rows as n_files .warc files (round-robin)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, blob in shard_files(rows, n_files):
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(blob)


def cdx_index(spark, path: str):
    """Build a CDX-style index over a directory of .warc files: one row
    (url, warc_date, filename, offset, length) per response record.

    Plan shape at 100 TB: the same one-task-per-shard scan as
    :func:`read_warc`; the index is ~100 bytes/page vs ~100 KB/page of
    content (a 1000x reduction BEFORE any shuffle), so the sort/partition
    that makes the index servable is over the tiny side; random access
    is :func:`index_warc`'s contract.
    """
    return map_rows(
        _scan_shards(spark, path), _shard_rows(_cdx_row),
        "url string, warc_date string, filename string, "
        "offset long, length long")


def _bucket_shards(df, n_shards: int, name_fmt: str, sort_cols, encode):
    """One (filename, content) row per url-hash bucket of ``df``: ONE
    grouped map keyed on the bucket, each task holding one shard's rows
    sorted by ``sort_cols`` (so shard bytes are deterministic under any
    upstream partitioning) and emitting ``encode(rows, filename)`` as
    one blob.  Shard count is the parallelism knob at 100 TB."""
    import pandas as pd
    from pyspark.sql import functions as F

    def build(key, pdf):
        name = name_fmt % int(key[0])
        blob = encode(pdf.sort_values(sort_cols), name)
        return pd.DataFrame({"filename": [name], "content": [blob]})

    return (df
            .withColumn("bucket",
                        F.pmod(F.xxhash64("url"), F.lit(n_shards)))
            .groupBy("bucket")
            .applyInPandas(build, "filename string, content binary"))


# ---------------------------------------------------------------------------
# WET conversion records (the WARC -> extracted-text product)
# ---------------------------------------------------------------------------

# CommonCrawl publishes extraction output as WET files: the same ISO
# 28500 framing, but records are WARC-Type ``conversion`` whose block is
# the extracted plain text itself (no HTTP envelope) and whose
# WARC-Refers-To names the response record it was derived from.  The
# writer/parser pair below is the repo's WET product surface; the
# round trip is oracled against the extract_text goldens (registry query
# warc_wet_records) — the WET bytes are byte-faithful to the engine's
# extracted_text surface.

WET_DATE = "2024-01-01T00:00:00Z"     # deterministic artifact date


def encode_wet(records, filename: str = "fixture.warc.wet") -> bytes:
    """Serialize (url, text[, refers_to]) tuples as one WET file:
    warcinfo head record + one ``conversion`` record per page whose
    block is the UTF-8 extracted text.  Content-Length framing makes
    text containing the record magic safe (the body is length-counted,
    never scanned)."""
    def record(i, rec):
        refers_to = rec[2] if len(rec) > 2 else ""
        extra = [("WARC-Refers-To", refers_to)] if refers_to else []
        return (_headers("conversion", rec[0], WET_DATE,
                         "<urn:wet:%s:%d>" % (filename, i), "text/plain",
                         *extra),
                rec[1].encode("utf-8"))

    return _warc_file(filename, WET_DATE,
                      (record(i, rec) for i, rec in enumerate(records)))


def _wet_row(name, h, body, start, end):
    """(url, text) of a conversion record: WET bodies have no HTTP head."""
    if h.get("warc-type") == "conversion":
        return h.get("warc-target-uri", ""), body.decode("utf-8", "replace")


def parse_wet(blob: bytes):
    """Return ([(url, text) per conversion record], n_corrupt).  Same
    tolerant resync walk as :func:`parse_warc`."""
    return _eager_rows(blob, _wet_row)


def wet_convert(extracted, n_shards: int = 4):
    """(url, extracted_text) DataFrame -> one (filename, content) row per
    WET shard blob, one url-hash bucket each (:func:`_bucket_shards`):
    each task holds one shard's text (WET is the post-extraction
    product, ~10x smaller than the WARC input) and encodes it."""
    # BOTH columns in the sort key: a duplicate url (re-crawl, duplicate
    # ingest) under a url-only unstable sort would leave its rows in
    # partition-arrival order and break the deterministic-bytes contract
    return _bucket_shards(
        extracted, n_shards, "part-%02d.warc.wet", ["url", "extracted_text"],
        lambda pdf, name: encode_wet(
            list(zip(pdf["url"], pdf["extracted_text"])), filename=name))


def read_wet_blobs(shards):
    """(filename, content) WET blobs -> (url, extracted_text) rows,
    streamed through the bounded frame builder."""
    return map_rows(shards, _shard_rows(_wet_row),
                    "url string, extracted_text string")


# ---------------------------------------------------------------------------
# WAT metadata records (the WARC -> per-record-metadata product)
# ---------------------------------------------------------------------------

# CommonCrawl's third file type: WAT files carry one ``metadata`` record
# per WARC record whose block is a JSON envelope describing it (header
# fields, payload digest/length, container offsets).  Together with WET
# (extracted text) this completes the WARC/WAT/WET triad.  JSON is
# serialized canonically (sorted keys, fixed separators) so WAT bytes
# are deterministic and the parse-back oracles exactly.


def _wat_meta(name, h, body, start, end):
    """The WAT row: the CDX row plus the payload's md5 digest and length."""
    row = _cdx_row(name, h, body, start, end)
    if row is not None:
        payload = _payload_of(body)
        return row + ("md5:" + hashlib.md5(payload).hexdigest(),
                      len(payload))


def wat_from_warc(name: str, blob: bytes) -> bytes:
    """Build the WAT file for one WARC shard: a warcinfo head record
    plus one ``metadata`` record per RESPONSE record, whose JSON block
    carries the envelope (original WARC headers), payload metadata
    (md5 digest + byte length of the HTTP-stripped payload) and the
    container coordinates (filename, offset, record length) — the same
    random-access contract the CDX index serves, in WAT's JSON form."""
    def record(i, row):
        url, date, filename, offset, length, digest, payload_len = row
        env = {
            "Envelope": {
                "WARC-Header-Metadata": {
                    "WARC-Type": "response",
                    "WARC-Target-URI": url,
                    "WARC-Date": date,
                },
                "Payload-Metadata": {
                    "Actual-Content-Length": payload_len,
                    "Block-Digest": digest,
                },
            },
            "Container": {
                "Filename": filename,
                "Offset": offset,
                "Length": length,
            },
        }
        block = json.dumps(env, sort_keys=True,
                           separators=(",", ":")).encode("utf-8")
        return _headers("metadata", url, WET_DATE,
                        "<urn:wat:%s:%d>" % (name, i),
                        "application/json"), block

    # stream via the record walk: the eager _walk would hold every body
    # slice at once — a second full copy of the shard's bytes on top of
    # the blob itself, breaking the one-shard + one-in-flight-record
    # memory envelope this module documents
    rows = (row for row, _ in _walk_rows([(name, blob)], _wat_meta))
    return _warc_file(name + ".wat", WET_DATE,
                      (record(i, row) for i, row in enumerate(rows)))


def _wat_row(name, h, body, start, end):
    """The flat row of a metadata record's JSON envelope; None when the
    record is not metadata or the envelope is malformed."""
    if h.get("warc-type") != "metadata":
        return None
    try:
        env = json.loads(body.decode("utf-8"))
        hdr = env["Envelope"]["WARC-Header-Metadata"]
        pay = env["Envelope"]["Payload-Metadata"]
        cont = env["Container"]
        return (hdr["WARC-Target-URI"], hdr["WARC-Date"],
                cont["Filename"], int(cont["Offset"]), int(cont["Length"]),
                pay["Block-Digest"], int(pay["Actual-Content-Length"]))
    except (ValueError, KeyError, TypeError):
        return None


def parse_wat(blob: bytes):
    """Return ([(url, warc_date, filename, offset, length, payload_digest,
    payload_len) per metadata record], n_corrupt) — the JSON envelopes
    decoded back to flat rows; malformed JSON counts as corrupt and the
    walk continues (same tolerance contract as parse_warc)."""
    records, n_corrupt = _walk(blob)
    rows = [_wat_row("", *record) for record in records]
    n_metadata = sum(h.get("warc-type") == "metadata" for h, *_ in records)
    out = [row for row in rows if row is not None]
    return out, n_corrupt + n_metadata - len(out)


def wat_index(spark, path: str):
    """The Spark WAT pipeline over a directory of .warc files: build
    each shard's WAT bytes in its own task, parse them back, and emit
    one flat row per response record.

    Plan shape at 100 TB: the same one-task-per-~1 GB-shard scan as
    read_warc/cdx_index; the WAT product is ~200 bytes/page vs
    ~100 KB/page of content, so — like the CDX index — everything after
    the per-shard kernel is over the tiny side.  Build and parse-back
    run in ONE task so the query output proves the writer/parser pair
    round-trips, not just that the writer ran.
    """
    return map_rows(
        _scan_shards(spark, path),
        _shard_rows(_wat_row, blobs=lambda pdf: (
            (name, wat_from_warc(name, blob))
            for name, blob in _shard_blobs(pdf))),
        "url string, warc_date string, filename string, offset long, "
        "length long, payload_digest string, payload_len long")


# ---------------------------------------------------------------------------
# revisit records (cross-snapshot payload dedup at WARC write time)
# ---------------------------------------------------------------------------

# ISO 28500 §6.7: a crawler that re-fetches a page whose payload digest
# matches a prior capture stores a ``revisit`` record with an EMPTY block
# and a pointer to the original instead of the payload bytes — this is
# how CommonCrawl-style archives avoid storing the unchanged web twice.
REVISIT_PROFILE = ("http://netpreserve.org/warc/1.0/revisit/"
                   "identical-payload-digest")
SNAP_DATE = "2024-03-01T00:00:00Z"


def encode_snapshot_warc(rows, filename: str = "snap.warc") -> bytes:
    """Serialize one snapshot shard with dedup-journal awareness.

    ``rows``: [(url, payload_bytes, journal_digest_or_None)] — the
    journal digest is snapshot A's md5 for this url (None when A never
    captured it).  A row whose payload digest equals the journal digest
    becomes a ``revisit`` record (empty block, WARC-Profile +
    WARC-Refers-To-Target-URI + WARC-Payload-Digest); anything else —
    new url or changed payload — becomes a full ``response`` record.
    """
    def record(i, url, payload, journal_digest):
        digest = hashlib.md5(payload).hexdigest()
        extra = ("WARC-Payload-Digest", "md5:" + digest)
        if journal_digest is not None and digest == journal_digest:
            return (_headers("revisit", url, SNAP_DATE,
                             "<urn:revisit:%s:%d>" % (filename, i),
                             _HTTP_RESPONSE,
                             ("WARC-Profile", REVISIT_PROFILE),
                             ("WARC-Refers-To-Target-URI", url), extra),
                    b"")
        return (_headers("response", url, SNAP_DATE,
                         "<urn:snap:%s:%d>" % (filename, i), _HTTP_RESPONSE,
                         extra),
                _http_wrap(payload))

    return _warc_file(filename, SNAP_DATE,
                      (record(i, *row) for i, row in enumerate(rows)))


def snapshot_warc_shards(joined, n_shards: int = 4):
    """(url, payload binary, journal_digest nullable) DataFrame -> one
    (filename, content) row per snapshot WARC shard.

    Plan shape at 100 TB: the journal comparison data arrives as a
    COLUMN (the caller's url-keyed equi-join against snapshot A's digest
    journal — hash join, AQE-splittable), so the writer kernel is one
    task per url-hash bucket exactly like wet_convert
    (:func:`_bucket_shards`), rows sorted by url."""
    def encode(pdf, name):
        return encode_snapshot_warc(
            [(u, bytes(p), d if isinstance(d, str) else None)
             for u, p, d in zip(pdf["url"], pdf["payload"],
                                pdf["journal_digest"])], name)

    return _bucket_shards(joined, n_shards, "snap-%02d.warc", ["url"], encode)


def _snapshot_row(name, h, body, start, end):
    """(url, record_type, payload_digest, stored_len) of a stored record."""
    rtype = h.get("warc-type")
    if rtype == "response":
        payload = _payload_of(body)
        return (h.get("warc-target-uri", ""), rtype,
                hashlib.md5(payload).hexdigest(), len(payload))
    if rtype == "revisit":
        return (h.get("warc-target-uri", ""), rtype,
                h.get("warc-payload-digest", "").split(":", 1)[-1], 0)


def read_snapshot_records(shards):
    """(filename, content) snapshot shards -> one row per stored record:
    (url, record_type, payload_digest, stored_len), streamed through the
    bounded frame builder.

    ``stored_len`` is the byte length of the payload the archive
    actually stores — 0 for a revisit record (whose digest is read back
    from its WARC-Payload-Digest header), the HTTP-stripped payload
    length for a response record (whose digest is recomputed from the
    stored bytes, so a writer/parser byte slip fails the oracle hash)."""
    return map_rows(
        shards, _shard_rows(_snapshot_row),
        "url string, record_type string, payload_digest string, "
        "stored_len long")
