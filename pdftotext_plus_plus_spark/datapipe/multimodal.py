"""Multimodal binary-column plumbing.

Images/audio/video are opaque ``binary`` columns with typed metadata.  The
Spark-side plumbing — schema, Arrow batching, partitioning, UDF signatures —
is real and tested, and the blobs carry REAL container bytes END TO END:

* images: even doc_ids are COMPLETE valid PNGs — 8-bit grayscale,
  CRC-verified chunks, zlib IDAT whose pixels follow the deterministic
  formula ``gray(x,y) = (doc_id*7 + 3x + 5y) % 256`` — decoded by the
  real stdlib-only PNG reader in ``pixels.py`` (inflate + all five
  scanline unfilters); odd doc_ids are COMPLETE baseline JPEGs encoded
  and decoded by the real Huffman+DCT codec in ``datapipe.jpeg`` (the
  former entropy-decode stub is CLOSED) — their pixels are constant per
  8x8 block (``(doc_id*7 + 3*(x//8) + 5*(y//8)) % 256``), the family for
  which the lossy pipeline is provably exact, so the SQL oracle stays
  closed-form while the decoder runs the full real path,
* audio: complete valid PCM16 mono WAVs with REAL sample data
  (``s(i) = ((doc_id*31 + 17i) % 65536) - 32768``), decoded through the
  stdlib ``wave`` reader,
* video: complete DECODABLE Motion-JPEG MP4s — mvhd + full stbl
  sample tables incl. an stsd['jpeg'] codec entry, mdat samples that are
  real baseline-JPEG frames; the kernel demuxes, seeks, and DECODES each
  sampled frame to pixels through the jpeg codec.  No multimodal stub
  remains.

Every Arrow-batched step enters Spark through the package's one bounded
frame builder, :func:`rowframes.map_rows`.  A decoder gives only its
per-blob function, which yields the output rows of one (doc_id, blob)
row (one row per blob, or one per sampled frame for the video sampler),
adapted by :func:`_per_blob`; the three synthesizers give only their
blob function, adapted by :func:`_per_doc`, whose rows count their
blob's bytes against ``rowframes.FRAME_BYTES``.

Dimensions/counts remain deterministic functions of doc_id
(``width = (doc_id * 37) % 1024 + 1``, ``height = (doc_id * 73) % 768 +
1``, ``n_samples = (doc_id * 997) % 16000 + 800``), so the ANSI-SQL
oracle reproduces every pixel/sample-derived statistic in closed form
without parsing any bytes — making the decoders oracle-checked, not just
round-trip-checked.
"""

from __future__ import annotations

import struct
from typing import Tuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..rowframes import map_rows
from . import _documents, jpeg, pixels, spread
from .dedup import hamming_pairs

PNG_SIG = pixels.PNG_SIG


def _per_blob(rows_of):
    """The rows function of a decoder: ``rows_of(doc_id, blob)``'s rows
    for each (doc_id, blob) row of a batch.  The rows are a few integers
    each, so they count no bytes and the row bound alone flushes."""
    def rows(pdf):
        for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
            for row in rows_of(int(doc_id), blob):
                yield row, 0
    return rows


def _per_doc(blob_of):
    """The rows function of a synthesizer: (doc_id, ``blob_of(doc_id)``)
    for each doc_id of a batch, counted at the blob's bytes."""
    def rows(pdf):
        for doc_id in pdf["doc_id"]:
            blob = blob_of(int(doc_id))
            yield (int(doc_id), blob), len(blob)
    return rows


def _synthesize(spark: SparkSession, sf_dir: str, blob_of) -> DataFrame:
    """documents -> (doc_id, blob) through the frame builder: blob
    synthesis is itself the write half of the real scale path."""
    docs = spread(_documents(spark, sf_dir).select("doc_id"))
    return map_rows(docs, _per_doc(blob_of), "doc_id bigint, blob binary")


# Small-image threshold below which the PNG encoder rotates through ALL
# five filter types (so the Average/Paeth unfilter paths are exercised by
# the oracle-checked corpus); larger images use the vectorizable
# None/Sub/Up rotation — see pixels.png_encode.
PNG_ALL_FILTERS_MAX_PX = 32768


def image_dims(doc_id: int) -> Tuple[int, int]:
    """Deterministic per-doc image dims.  Even doc_ids (PNG): any size.
    Odd doc_ids (JPEG): multiples of 8, because the block-constant
    exactness contract (datapipe.jpeg docstring) needs whole blocks."""
    if doc_id % 2 == 0:
        return (doc_id * 37) % 1024 + 1, (doc_id * 73) % 768 + 1
    return ((doc_id * 37) % 128) * 8 + 8, ((doc_id * 73) % 96) * 8 + 8


def _image_blob(doc_id: int) -> bytes:
    w, h = image_dims(doc_id)
    if doc_id % 2 == 0:
        mode = "all" if w * h <= PNG_ALL_FILTERS_MAX_PX else "fast"
        return pixels.png_encode(pixels.synth_gray(doc_id, w, h),
                                 filter_mode=mode)
    return jpeg.encode_gray_jpeg(jpeg.synth_block_gray(doc_id, w, h))


def synthesize_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob binary): a COMPLETE valid image per
    doc — PNG (even doc_ids: grayscale formula pixels, real filters +
    zlib IDAT + CRCs) or baseline JPEG (odd doc_ids: block-constant
    formula pixels through the REAL DCT/quant/Huffman encoder in
    datapipe.jpeg)."""
    return _synthesize(spark, sf_dir, _image_blob)


def parse_image_header(blob: bytes) -> Tuple[int, int, int]:
    """REAL header parse: (width, height, payload_bytes) from actual PNG
    or JPEG bytes, stdlib-only.

    PNG: signature + IHDR (always the first chunk per the spec) — dims are
    big-endian u32 at offsets 16/20.  JPEG: walk the marker segments until
    a SOF0-SOF15 frame header; dims are big-endian u16 (height first).
    payload_bytes counts everything after the parsed header segments (the
    stand-in for the IDAT/entropy data a pixel decoder would consume)."""
    if blob[:8] == PNG_SIG:
        length, ctype = struct.unpack(">I4s", blob[8:16])
        if ctype != b"IHDR":
            raise ValueError("PNG: first chunk is not IHDR")
        width, height = struct.unpack(">II", blob[16:24])
        header_end = 16 + length + 4  # chunk data + CRC
        return width, height, len(blob) - header_end
    if blob[:2] == b"\xff\xd8":  # JPEG SOI
        pos = 2
        while pos + 4 <= len(blob):
            if blob[pos] != 0xFF:
                raise ValueError("JPEG: bad marker alignment")
            marker = blob[pos + 1]
            seg_len = struct.unpack(">H", blob[pos + 2:pos + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                # SOFn: precision u8, height u16, width u16 (big-endian)
                height, width = struct.unpack(">HH", blob[pos + 5:pos + 9])
                return width, height, len(blob) - (pos + 2 + seg_len)
            pos += 2 + seg_len
        raise ValueError("JPEG: no SOF marker found")
    raise ValueError("unknown image container")


def _decoded_meta(doc_id: int, blob: bytes):
    img = pixels.decode_pixels(blob)
    h, w = img.shape
    n = h * (w + 1) if blob[:8] == PNG_SIG else h * w
    yield doc_id, w, h, n


def decode_meta(spark_df: DataFrame) -> DataFrame:
    """Arrow-batched metadata extraction over the binary column — the
    real scale path for multimodal feature extraction.

    Every row runs the FULL pixel decode; the reported payload size is
    decode-derived evidence it ran — the decompressed filtered-stream
    length ``height * (width + 1)`` for PNG, the decoded sample count
    ``height * width`` for JPEG."""
    return map_rows(
        spark_df, _per_blob(_decoded_meta),
        "doc_id bigint, width bigint, height bigint, payload_bytes bigint")


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: real-container blobs -> Arrow-batched decode ->
    typed meta."""
    return decode_meta(synthesize_blobs(spark, sf_dir))


# the image dims of image_dims() as the oracles' first CTE
_DIMS_CTE = """dims AS (
  SELECT doc_id,
         CASE WHEN doc_id % 2 = 0 THEN (doc_id * 37) % 1024 + 1
              ELSE ((doc_id * 37) % 128) * 8 + 8 END AS w,
         CASE WHEN doc_id % 2 = 0 THEN (doc_id * 73) % 768 + 1
              ELSE ((doc_id * 73) % 96) * 8 + 8 END AS h
  FROM documents
)"""

MULTIMODAL_META_SQL = f"""
WITH {_DIMS_CTE}
SELECT doc_id, w AS width, h AS height,
       CASE WHEN doc_id % 2 = 0 THEN h * (w + 1) ELSE h * w END
         AS payload_bytes
FROM dims
"""


# ---------------------------------------------------------------------------
# resize (image), frame sampling (video), audio metadata
# ---------------------------------------------------------------------------

RESIZE_MAX_DIM = 256
VIDEO_FPS = 24


def _resized_meta(doc_id: int, blob: bytes):
    w, h, _ = parse_image_header(blob)
    m = w if w > h else h
    if m > RESIZE_MAX_DIM:
        out_w = max(1, (w * RESIZE_MAX_DIM) // m)
        out_h = max(1, (h * RESIZE_MAX_DIM) // m)
    else:
        out_w, out_h = w, h
    resized = pixels.resize_nearest(pixels.decode_pixels(blob), out_w, out_h)
    yield (doc_id, out_w, out_h, m > RESIZE_MAX_DIM,
           int(resized.astype(np.int64).sum()))


def image_resize_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-to-fit over the binary column: target box RESIZE_MAX_DIM,
    aspect preserved, integer math (floor) so the SQL oracle reproduces it
    exactly.  EVERY row runs the REAL pipeline — full pixel decode (PNG
    inflate+unfilter or baseline-JPEG Huffman+IDCT via datapipe.jpeg),
    actual nearest-neighbor resample, checksum (sum) of the RESIZED
    pixels — and the oracle recomputes that checksum in closed form from
    the corpus pixel formulas, so a wrong unfilter, entropy decode, or
    index mapping fails the hash."""
    return map_rows(
        synthesize_blobs(spark, sf_dir), _per_blob(_resized_meta),
        "doc_id bigint, out_width bigint, out_height bigint, "
        "scaled boolean, pixel_checksum bigint")


# the oracle reproduces the NEAREST-NEIGHBOR RESAMPLED checksum in closed
# form: out pixel (ox, oy) samples source (ox*w//out_w, oy*h//out_h) whose
# gray value is (doc_id*7 + 3*sx + 5*sy) % 256 — summed over the out grid
# (flattened index k: ox = k % out_w, oy = k // out_w)
IMAGE_RESIZE_SQL = f"""
WITH {_DIMS_CTE}, plan AS (
  SELECT doc_id, w, h,
         CASE WHEN greatest(w, h) > {RESIZE_MAX_DIM}
              THEN greatest(1, (w * {RESIZE_MAX_DIM}) // greatest(w, h))
              ELSE w END AS out_w,
         CASE WHEN greatest(w, h) > {RESIZE_MAX_DIM}
              THEN greatest(1, (h * {RESIZE_MAX_DIM}) // greatest(w, h))
              ELSE h END AS out_h
  FROM dims
), px AS (
  SELECT doc_id, w, h, out_w, out_h,
         unnest(generate_series(0, out_w * out_h - 1)) AS k
  FROM plan
), sums AS (
  SELECT doc_id,
         sum(CASE WHEN doc_id % 2 = 0
                  THEN (doc_id * 7 + ((k % out_w) * w // out_w) * 3
                        + ((k // out_w) * h // out_h) * 5) % 256
                  ELSE (doc_id * 7 + (((k % out_w) * w // out_w) // 8) * 3
                        + (((k // out_w) * h // out_h) // 8) * 5) % 256
             END) AS cks
  FROM px GROUP BY doc_id
)
SELECT p.doc_id,
       p.out_w AS out_width,
       p.out_h AS out_height,
       greatest(p.w, p.h) > {RESIZE_MAX_DIM} AS scaled,
       CAST(s.cks AS BIGINT) AS pixel_checksum
FROM plan p JOIN sums s ON p.doc_id = s.doc_id
"""


MP4_TIMESCALE = VIDEO_FPS  # 1 movie-timescale unit == 1 frame at 24 fps
# ftyp box (isom major brand) + moov header + mvhd prefix: version 0,
# flags 0, creation/modification time 0 — duration (u32 frames at the
# frame-rate timescale) is spliced in per row
MP4_FTYP = struct.pack(">I4s4sI4s", 20, b"ftyp", b"isom", 0x200, b"isom")
MP4_MVHD_PRE = (struct.pack(">I4s", 8 + 108, b"moov")
                + struct.pack(">I4s", 108, b"mvhd")
                + b"\x00\x00\x00\x00"            # version + flags
                + struct.pack(">II", 0, 0))      # creation/modification
# mvhd tail after duration: rate 1.0, volume 1.0, reserved, identity
# matrix, predefined, next_track_id
MP4_MVHD_TAIL = (struct.pack(">IHH", 0x00010000, 0x0100, 0)
                 + b"\x00" * 8
                 + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0,
                               0x40000000)
                 + b"\x00" * 24 + struct.pack(">I", 2))


def _full_box(btype: bytes, body: bytes, version: int = 0,
              flags: int = 0) -> bytes:
    return (struct.pack(">I4s", 8 + 4 + len(body), btype)
            + struct.pack(">B3s", version, flags.to_bytes(3, "big")) + body)


def _box(btype: bytes, body: bytes) -> bytes:
    return struct.pack(">I4s", 8 + len(body), btype) + body


VIDEO_FRAME_W, VIDEO_FRAME_H = 32, 24
VIDEO_MAX_FRAMES = 96  # up to 4 s of 24 fps MJPEG per doc


def frame_pixels(doc_id: int, i) -> np.ndarray:
    """Frame i's pixels: constant per 8x8 block (the jpeg codec's
    exactness family), value (13*doc_id + 7i + 3*bx + 5*by) % 256.  An
    index array of shape [n, 1, 1] gives the [n, H, W] frame stack."""
    by = np.arange(VIDEO_FRAME_H, dtype=np.int64)[:, None] // 8
    bx = np.arange(VIDEO_FRAME_W, dtype=np.int64)[None, :] // 8
    return ((doc_id * 13 + i * 7 + 3 * bx + 5 * by) % 256).astype(np.uint8)


def _stsd_jpeg() -> bytes:
    """stsd with a VisualSampleEntry of format 'jpeg' (Motion-JPEG in
    MP4 — ISO 14496-12 §8.5.2 + the classic QuickTime 'jpeg' fourcc):
    the codec identification a real demuxer reads before picking a
    decoder."""
    entry = (b"\x00" * 6 + struct.pack(">H", 1)          # data_ref_index
             + struct.pack(">HH", 0, 0) + b"\x00" * 12
             + struct.pack(">HH", VIDEO_FRAME_W, VIDEO_FRAME_H)
             + struct.pack(">II", 0x00480000, 0x00480000)  # 72 dpi
             + struct.pack(">I", 0)
             + struct.pack(">H", 1)                       # frame_count
             + b"\x00" * 32                               # compressorname
             + struct.pack(">Hh", 24, -1))                # depth, pre_def
    return _full_box(b"stsd", struct.pack(">I", 1)
                     + _box(b"jpeg", entry))


def build_mp4(doc_id: int, n_frames: int) -> bytes:
    """A COMPLETE decodable Motion-JPEG MP4: ftyp + moov carrying mvhd
    AND a real trak/mdia/minf/stbl sample-table tree (stsd['jpeg']/stts/
    stsz/stsc/stco per ISO/IEC 14496-12) + an mdat whose samples are
    REAL baseline-JPEG frames (datapipe.jpeg) — so a demuxer seeks to
    any frame and a JPEG decoder yields its pixels."""
    # all frames synthesized and encoded in one vectorized batch (r9):
    # frame_pixels over the [n_frames, H, W] grid, then the batch encoder
    # (byte-identical per frame to encode_gray_jpeg(frame_pixels(...)))
    frames = jpeg.encode_gray_jpeg_batch(frame_pixels(
        doc_id, np.arange(n_frames, dtype=np.int64)[:, None, None]))
    sizes = [len(f) for f in frames]

    stts = _full_box(b"stts", struct.pack(">III", 1, n_frames, 1))
    stsz = _full_box(b"stsz", struct.pack(">II", 0, n_frames)
                     + struct.pack(">%dI" % n_frames, *sizes))
    stsc = _full_box(b"stsc", struct.pack(">IIII", 1, 1, n_frames, 1))
    mdhd = _full_box(b"mdhd", struct.pack(">IIIIHH", 0, 0, MP4_TIMESCALE,
                                          n_frames, 0x55C4, 0))
    hdlr = _full_box(b"hdlr", struct.pack(">I4s", 0, b"vide")
                     + b"\x00" * 12 + b"\x00")
    tkhd = _full_box(b"tkhd", struct.pack(">IIII", 0, 0, 1, 0)
                     + struct.pack(">I", n_frames) + b"\x00" * 8
                     + struct.pack(">HHHH", 0, 0, 0, 0)
                     + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0,
                                   0, 0x40000000)
                     + struct.pack(">II", 0, 0), version=0, flags=7)
    mvhd_body = (b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0)
                 + struct.pack(">II", MP4_TIMESCALE, n_frames)
                 + MP4_MVHD_TAIL)
    mvhd = _box(b"mvhd", mvhd_body)

    def moov(chunk_offset: int) -> bytes:
        stco = _full_box(b"stco", struct.pack(">II", 1, chunk_offset))
        stbl = _box(b"stbl", _stsd_jpeg() + stts + stsz + stsc + stco)
        mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", stbl))
        return _box(b"moov", mvhd + _box(b"trak", tkhd + mdia))

    # stco holds the absolute mdat payload offset, and its own size does
    # not depend on that offset: size moov once, then build it for real
    mdat_payload_off = len(MP4_FTYP) + len(moov(0)) + 8  # + mdat header
    return (MP4_FTYP + moov(mdat_payload_off)
            + _box(b"mdat", b"".join(frames)))


def synthesize_video_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): complete demuxable MP4s (mvhd +
    sample tables + formula frame payloads in mdat)."""
    return _synthesize(spark, sf_dir, lambda doc_id: build_mp4(
        doc_id, doc_id % VIDEO_MAX_FRAMES + 1))


def _walk_box(buf: bytes, start: int, end: int, path) -> int:
    """Offset of the box at ``path`` (a list of fourccs, outermost
    first) within ``buf[start:end]``."""
    pos = start
    while pos + 8 <= end:
        size, btype = struct.unpack(">I4s", buf[pos:pos + 8])
        if size < 8:
            raise ValueError("mp4: bad box size")
        if btype == path[0]:
            if len(path) == 1:
                return pos
            return _walk_box(buf, pos + 8, pos + size, path[1:])
        pos += size
    raise ValueError("mp4: box not found: %r" % (path,))


def parse_mp4_header(blob: bytes) -> Tuple[int, int]:
    """REAL MP4 box walk: returns (timescale, duration) from the
    moov/mvhd box, stdlib-only (ISO/IEC 14496-12 box layout)."""
    mvhd = _walk_box(blob, 0, len(blob), [b"moov", b"mvhd"])
    version = blob[mvhd + 8]
    if version == 0:
        timescale, duration = struct.unpack(
            ">II", blob[mvhd + 20:mvhd + 28])
    else:  # version 1: 64-bit times
        timescale = struct.unpack(">I", blob[mvhd + 28:mvhd + 32])[0]
        duration = struct.unpack(">Q", blob[mvhd + 32:mvhd + 40])[0]
    return timescale, duration


def parse_mp4_samples(blob: bytes):
    """REAL demux of the sample tables: returns (timescale, codec,
    sizes, chunk_offset) from the trak/mdia/minf/stbl tree — the stsd
    sample-entry fourcc (codec identification), stsz sample sizes and
    the stco chunk base, cross-checked against stsc/stts/mvhd.  This is
    the demuxer step a production frame pipeline performs before
    handing compressed sample bytes to the (here: JPEG) decoder."""
    timescale, duration = parse_mp4_header(blob)
    stbl = _walk_box(blob, 0, len(blob),
                     [b"moov", b"trak", b"mdia", b"minf", b"stbl"]) + 8
    stbl_end = stbl + struct.unpack(">I", blob[stbl - 8:stbl - 4])[0] - 8

    stsd = _walk_box(blob, stbl, stbl_end, [b"stsd"])
    codec = blob[stsd + 20:stsd + 24]  # first sample entry's fourcc

    stsz = _walk_box(blob, stbl, stbl_end, [b"stsz"])
    sample_size, count = struct.unpack(">II", blob[stsz + 12:stsz + 20])
    if sample_size != 0:
        sizes = [sample_size] * count
    else:
        sizes = list(struct.unpack(
            ">%dI" % count, blob[stsz + 20:stsz + 20 + 4 * count]))
    if count != duration:
        raise ValueError("mp4: stsz count != mvhd duration")

    stsc = _walk_box(blob, stbl, stbl_end, [b"stsc"])
    n_ent, first, per_chunk, _desc = struct.unpack(
        ">IIII", blob[stsc + 12:stsc + 28])
    if (n_ent, first, per_chunk) != (1, 1, count):
        raise ValueError("mp4: unsupported chunking (expected one chunk)")

    stco = _walk_box(blob, stbl, stbl_end, [b"stco"])
    n_off, chunk_offset = struct.unpack(">II", blob[stco + 12:stco + 20])
    if n_off != 1:
        raise ValueError("mp4: unsupported stco entry count")
    return timescale, codec, sizes, chunk_offset


def _sampled_frames(doc_id: int, blob: bytes):
    fps, codec, sizes, base = parse_mp4_samples(blob)
    if codec != b"jpeg":
        raise ValueError("unsupported video codec %r" % codec)
    offset = base
    for i, sz in enumerate(sizes):
        if i % fps == 0:
            frame = jpeg.decode_gray_jpeg(blob[offset:offset + sz])
            fh, fw = frame.shape
            yield (doc_id, i, i * 1000 // fps, fw, fh,
                   int(frame.astype(np.int64).sum()))
        offset += sz


def video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DECODED frame per second of Motion-JPEG video: the kernel
    demuxes each blob for real (stsd codec check, stsz/stco seek),
    slices each sampled frame's bytes from mdat, runs the REAL baseline
    JPEG decoder on them and checksums the decoded PIXELS; the oracle
    recomputes every pixel checksum in closed form from the frame
    formula, so a wrong offset, size, entropy decode or IDCT fails the
    hash.  This closes the last multimodal stub: demux AND frame decode
    are both real.  The explode-inside-Arrow-kernel shape (one input
    row -> many output rows, no JVM explode) is the real scale
    pattern."""
    return map_rows(
        synthesize_video_blobs(spark, sf_dir), _per_blob(_sampled_frames),
        "doc_id bigint, frame_idx bigint, ts_ms bigint, "
        "frame_w bigint, frame_h bigint, pixel_checksum bigint")


# pixel checksum in closed form: frames are block-constant (4x3 blocks of
# 8x8 in a 32x24 frame), so the sum is 64 * sum over the 12 blocks of
# (13*doc_id + 7*frame_idx + 3*bx + 5*by) % 256, with b = by*4 + bx
VIDEO_FRAME_SAMPLE_SQL = f"""
WITH vids AS (
  SELECT doc_id, doc_id % {VIDEO_MAX_FRAMES} + 1 AS n_frames FROM documents
), fr AS (
  SELECT doc_id,
         unnest(generate_series(0, n_frames - 1, {VIDEO_FPS})) AS frame_idx
  FROM vids
), blocks AS (
  SELECT doc_id, frame_idx, unnest(generate_series(0, 11)) AS b
  FROM fr
), ck AS (
  SELECT doc_id, frame_idx,
         64 * sum((doc_id * 13 + frame_idx * 7 + 3 * (b % 4) + 5 * (b // 4))
                  % 256) AS cks
  FROM blocks GROUP BY doc_id, frame_idx
)
SELECT f.doc_id, f.frame_idx,
       f.frame_idx * 1000 // {VIDEO_FPS} AS ts_ms,
       {VIDEO_FRAME_W} AS frame_w,
       {VIDEO_FRAME_H} AS frame_h,
       CAST(c.cks AS BIGINT) AS pixel_checksum
FROM fr f JOIN ck c ON f.doc_id = c.doc_id AND f.frame_idx = c.frame_idx
"""


AUDIO_SAMPLE_RATE = 16000


def synthesize_audio_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, blob): a COMPLETE valid PCM16 mono WAV —
    canonical 44-byte header AND real little-endian sample data following
    the deterministic formula (``pixels.synth_samples``), so the decode
    side can compute genuine waveform statistics the SQL oracle
    reproduces in closed form."""
    return _synthesize(spark, sf_dir, lambda doc_id: pixels.wav_encode(
        pixels.synth_samples(doc_id, (doc_id * 997) % 16000 + 800),
        AUDIO_SAMPLE_RATE))


def parse_wav_header(blob: bytes) -> Tuple[int, int]:
    """REAL RIFF/WAVE chunk walk: returns (sample_rate, n_samples) from
    the fmt and data chunks, stdlib-only."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    sample_rate = block_align = data_size = None
    while pos + 8 <= len(blob):
        cid, size = struct.unpack("<4sI", blob[pos:pos + 8])
        if cid == b"fmt ":
            (_fmt, _ch, sample_rate, _brate,
             block_align, _bits) = struct.unpack(
                "<HHIIHH", blob[pos + 8:pos + 24])
        elif cid == b"data":
            data_size = size
            break  # sample payload elided; size field carries the count
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if sample_rate is None or data_size is None:
        raise ValueError("missing fmt/data chunk")
    return sample_rate, data_size // block_align


def _wav_meta(doc_id: int, blob: bytes):
    rate, samples = pixels.wav_decode(blob)
    s64 = samples.astype(np.int64)
    n = len(s64)
    yield (doc_id, rate, n, n * 1000 // rate,
           int(np.abs(s64).max()) if n else 0,
           int((s64 * s64).sum() // n) if n else 0)


def audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata over complete real WAVs: the blob decodes through
    the STDLIB ``wave`` reader and the statistics are computed from the
    ACTUAL PCM samples — peak amplitude (max |s|) and mean square
    (sum(s^2) // n, the integer power the SQL oracle reproduces exactly).
    The header-derived fields (rate, count, duration) must agree with the
    sample-derived ones by construction."""
    return map_rows(
        synthesize_audio_blobs(spark, sf_dir), _per_blob(_wav_meta),
        "doc_id bigint, sample_rate bigint, n_samples bigint, "
        "duration_ms bigint, peak_amp bigint, mean_square bigint")


# the per-doc sample count of synthesize_audio_blobs as the oracles'
# first CTE
_PAR_CTE = """par AS (
  SELECT doc_id, (doc_id * 997) % 16000 + 800 AS n FROM documents
)"""

AUDIO_META_SQL = f"""
WITH {_PAR_CTE}, smp AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS i FROM par
), vals AS (
  SELECT doc_id, ((doc_id * 31 + i * 17) % 65536) - 32768 AS s FROM smp
), agg AS (
  SELECT doc_id, max(abs(s)) AS peak, sum(s * s) // count(*) AS msq
  FROM vals GROUP BY doc_id
)
SELECT p.doc_id,
       {AUDIO_SAMPLE_RATE} AS sample_rate,
       p.n AS n_samples,
       p.n * 1000 // {AUDIO_SAMPLE_RATE} AS duration_ms,
       CAST(a.peak AS BIGINT) AS peak_amp,
       CAST(a.msq AS BIGINT) AS mean_square
FROM par p JOIN agg a ON p.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# multimodal dedup primitives over DECODED content
# ---------------------------------------------------------------------------

PHASH_DIM = 8  # aHash grid: 8x8 -> 64-bit signature


def _phash(doc_id: int, blob: bytes):
    small = pixels.resize_nearest(
        pixels.decode_pixels(blob), PHASH_DIM, PHASH_DIM).astype(np.int64)
    mean = int(small.sum()) // (PHASH_DIM * PHASH_DIM)
    bits = (small > mean).flatten()
    h = 0
    for k in range(PHASH_DIM * PHASH_DIM):
        if bits[k]:
            h |= 1 << k
    if h >= 1 << 63:          # two's-complement BIGINT
        h -= 1 << 64
    yield doc_id, h, mean


def image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash (aHash) over DECODED pixels — the
    image-dedup primitive a multimodal corpus pipeline runs (LAION-style
    near-duplicate image removal): decode (PNG or JPEG), nearest-neighbor
    downsample to 8x8, threshold each cell against the integer mean,
    pack 64 bits.  INTEGER-EXACT (mean = sum // 64, strict >), and the
    oracle recomputes the hash from the corpus pixel formulas — a wrong
    decode, resample, or threshold flips bits and fails the hash.
    Signatures then dedup by equality (one hash-agg) or band into
    pigeonhole buckets exactly like simhash_near_pairs."""
    return map_rows(synthesize_blobs(spark, sf_dir), _per_blob(_phash),
                    "doc_id bigint, phash bigint, mean_gray bigint")


# bit 63 via the explicit min-BIGINT literal (1<<63 overflows in DuckDB)
_PHASH_BITVAL = ("CASE WHEN k = 63 THEN (-9223372036854775807 - 1)"
                 " ELSE (1::BIGINT << k) END")

# the pHash computation as a reusable CTE chain (image_phash emits it
# directly; image_phash_near_pairs bands over it)
_IMAGE_PHASH_CTES = f"""{_DIMS_CTE}, px AS (
  SELECT doc_id, k,
         CASE WHEN doc_id % 2 = 0
              THEN (doc_id * 7 + ((k % {PHASH_DIM}) * w // {PHASH_DIM}) * 3
                    + ((k // {PHASH_DIM}) * h // {PHASH_DIM}) * 5) % 256
              ELSE (doc_id * 7
                    + (((k % {PHASH_DIM}) * w // {PHASH_DIM}) // 8) * 3
                    + (((k // {PHASH_DIM}) * h // {PHASH_DIM}) // 8) * 5)
                   % 256
         END AS g
  FROM dims, (SELECT unnest(generate_series(0, 63)) AS k)
), m AS (
  SELECT doc_id, CAST(sum(g) // 64 AS BIGINT) AS mean_g FROM px
  GROUP BY doc_id
), ph AS (
  SELECT p.doc_id,
         CAST(sum(CASE WHEN p.g > m.mean_g THEN {_PHASH_BITVAL}
                       ELSE 0 END) AS BIGINT) AS phash,
         m.mean_g AS mean_gray
  FROM px p JOIN m ON p.doc_id = m.doc_id
  GROUP BY p.doc_id, m.mean_g
)"""

IMAGE_PHASH_SQL = f"""
WITH {_IMAGE_PHASH_CTES}
SELECT doc_id, phash, mean_gray FROM ph
"""


# image near-dup pairs: the LAION-style pHash dedup product, 4 bands x
# 16 bits over the 64-bit pHash (dedup.hamming_pairs)
PHASH_BANDS = 4
PHASH_HAMMING_MAX = 3


def image_phash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-duplicate IMAGE pairs (pHash Hamming <= 3): the
    pigeonhole banding of :func:`.dedup.hamming_pairs`, as
    simhash_near_pairs, over signatures of the real PNG/JPEG decode.

    Plan shape at 100 TB: the decode is Arrow-batched mapInPandas
    (embarrassingly parallel); the pair stage is the bounded band-equi
    self-join on 16-bit keys, never an all-pairs join."""
    # materialize the signature table ONCE: the banded self-join below
    # otherwise re-runs the full blob synth + pixel decode + hash chain
    # on BOTH sides (measured 2x the decode cost at sf0.1 — the two
    # MapInPandas chains in the r9 before-plan); the checkpoint is one
    # narrow (doc_id, phash) row per document, computed fresh on every
    # invocation (r9, guide §3.3 "materialising an intermediate")
    sig = (image_phash(spark, sf_dir).select("doc_id", "phash")
           .localCheckpoint())
    return hamming_pairs(sig, "phash", PHASH_BANDS, PHASH_HAMMING_MAX)


IMAGE_PHASH_NEAR_PAIRS_SQL = f"""
WITH {_IMAGE_PHASH_CTES}, keyed AS (
  SELECT doc_id, phash, b.band,
         (phash >> (b.band * {64 // PHASH_BANDS}))
         & {(1 << (64 // PHASH_BANDS)) - 1} AS band_key
  FROM ph, generate_series(0, {PHASH_BANDS - 1}) b(band)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM keyed a JOIN keyed b
  ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
"""


AUDIO_FP_WINDOWS = 16


def _energy_fingerprint(doc_id: int, blob: bytes):
    _rate, samples = pixels.wav_decode(blob)
    s = samples.astype(np.int64)
    wlen = len(s) // AUDIO_FP_WINDOWS
    used = s[:wlen * AUDIO_FP_WINDOWS]
    sq = used * used
    msq = sq.reshape(AUDIO_FP_WINDOWS, wlen).sum(axis=1) // wlen
    overall = int(msq.sum()) // AUDIO_FP_WINDOWS
    fp = 0
    for j in range(AUDIO_FP_WINDOWS):
        if int(msq[j]) > overall:
            fp |= 1 << j
    yield doc_id, fp, int(sq.sum())


def audio_energy_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprint over DECODED PCM samples: split the
    clip into AUDIO_FP_WINDOWS equal windows (truncating the remainder),
    per-window integer mean-square energy, signature bit j set iff
    window j's energy exceeds the across-window mean — the
    energy-envelope hash an audio-dedup pass buckets on.  All integer
    math; the oracle reproduces it from the sample formula."""
    return map_rows(synthesize_audio_blobs(spark, sf_dir),
                    _per_blob(_energy_fingerprint),
                    "doc_id bigint, energy_fp bigint, total_energy bigint")


AUDIO_ENERGY_FP_SQL = f"""
WITH {_PAR_CTE}, smp AS (
  SELECT doc_id, n, (n // {AUDIO_FP_WINDOWS}) AS wlen,
         unnest(generate_series(0, (n // {AUDIO_FP_WINDOWS})
                                   * {AUDIO_FP_WINDOWS} - 1)) AS i
  FROM par
), vals AS (
  SELECT doc_id, wlen, i // wlen AS win,
         ((doc_id * 31 + i * 17) % 65536) - 32768 AS s
  FROM smp
), wins AS (
  SELECT doc_id, win, CAST(sum(s * s) // max(wlen) AS BIGINT) AS msq,
         CAST(sum(s * s) AS BIGINT) AS wsq
  FROM vals GROUP BY doc_id, win
), agg AS (
  SELECT doc_id,
         CAST(sum(msq) // {AUDIO_FP_WINDOWS} AS BIGINT) AS overall,
         CAST(sum(wsq) AS BIGINT) AS total_energy
  FROM wins GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(sum(CASE WHEN w.msq > a.overall
                     THEN (1::BIGINT << w.win) ELSE 0 END) AS BIGINT)
         AS energy_fp,
       a.total_energy
FROM wins w JOIN agg a ON w.doc_id = a.doc_id
GROUP BY w.doc_id, a.total_energy
"""
