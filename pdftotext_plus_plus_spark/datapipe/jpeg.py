"""Baseline JPEG codec (grayscale), stdlib + numpy only.

Closes the "JPEG entropy decode has no stdlib implementation" stub: this
IS the implementation — a real ITU T.81 baseline codec for the
single-component (grayscale, no subsampling) case:

* ENCODER: level shift, orthonormal 8x8 DCT-II (matrix form), uniform
  quantization (table emitted in DQT), zigzag, Huffman entropy coding
  with the STANDARD Annex K.3 luminance DC/AC tables (emitted in DHT),
  0xFF byte stuffing, SOI/APP0/DQT/SOF0/DHT/SOS/EOI marker framing.
* DECODER: full marker parse (reads DQT/DHT/SOF0/SOS — it decodes with
  the tables IN THE FILE, not baked-in constants), byte-unstuffed bit
  reader, canonical Huffman decode (DC categories, AC run/size with EOB
  and ZRL), dequantize, inverse zigzag, IDCT, level shift, clamp, crop.

Exactness contract used by the oracle-checked corpus: for an image
whose pixels are CONSTANT within each 8x8 block and whose dimensions
are multiples of 8, the DCT of each block is DC-only (AC terms exactly
zero), and with DC quantization step 8 the quantized value is the
level-shifted mean itself (S00 = 8*s, round(8s/8) = s, dequant*1/8 = s)
— the lossy pipeline is EXACTLY lossless for this family, so a DuckDB
oracle can reproduce every decoded pixel in closed form while the
decoder exercises the full real entropy/IDCT path.  General images
(arbitrary AC coefficients, run lengths, ZRL, both tables' long codes)
are exercised by round-trip tolerance tests in pytest.

Tables are the public ITU T.81 Annex K.3 typical Huffman tables.
"""

from __future__ import annotations

import struct
from typing import Dict, Tuple

import numpy as np

# --------------------------------------------------------------------------
# constants: zigzag, Annex K Huffman tables, our quant table
# --------------------------------------------------------------------------

ZIGZAG = np.array([
    0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.intp)
UNZIGZAG = np.argsort(ZIGZAG)

# DC step 8 makes the block-constant family exactly lossless (module doc)
QUANT = np.full(64, 16, dtype=np.int64)
QUANT[0] = 8

# ITU T.81 Annex K.3.1: luminance DC (bits per code length 1..16, values)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))
# Annex K.3.2: luminance AC
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA]


def _canonical_codes(bits, vals) -> Dict[int, Tuple[int, int]]:
    """value -> (code, length) canonical assignment (T.81 C.2)."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_FAST_TABLE_CACHE: Dict[Tuple[bytes, bytes], list] = {}


def _decode_table(bits, vals) -> list:
    """16-bit-prefix lookup: table[peek16] = (value, code_length) — one
    windowed read per symbol instead of up to 16 bit-by-bit probes.
    Cached by table content (the corpus reuses the Annex K tables, so the
    65536-entry array is built once per process, not once per image)."""
    key = (bytes(bits), bytes(vals))
    cached = _FAST_TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    enc = _canonical_codes(bits, vals)
    table: list = [None] * 65536
    for val, (code, ln) in enc.items():
        base = code << (16 - ln)
        for fill in range(1 << (16 - ln)):
            table[base | fill] = (val, ln)
    _FAST_TABLE_CACHE[key] = table
    return table


DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
AC_ENC = _canonical_codes(AC_BITS, AC_VALS)

# orthonormal DCT-II basis: (C @ block @ C.T) == JPEG S(u,v)
_C = np.zeros((8, 8))
for _u in range(8):
    _cu = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _n in range(8):
        _C[_u, _n] = 0.5 * _cu * np.cos((2 * _n + 1) * _u * np.pi / 16.0)


# --------------------------------------------------------------------------
# bit I/O with 0xFF stuffing
# --------------------------------------------------------------------------

class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:          # byte stuffing (T.81 F.1.2.3)
                self.out.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _category(v: int) -> int:
    return int(v).bit_length() if v > 0 else int(-v).bit_length()


_FAST_TABLE_NP_CACHE: Dict[Tuple[bytes, bytes], tuple] = {}


def _decode_table_np(bits, vals) -> tuple:
    """(value[65536] uint8, length[65536] uint8) numpy form of the
    16-bit-prefix Huffman lookup; length 0 marks an invalid prefix."""
    key = (bytes(bits), bytes(vals))
    cached = _FAST_TABLE_NP_CACHE.get(key)
    if cached is not None:
        return cached
    table = _decode_table(bits, vals)
    val = np.zeros(65536, dtype=np.uint8)
    ln = np.zeros(65536, dtype=np.uint8)
    for peek, entry in enumerate(table):
        if entry is not None:
            val[peek] = entry[0]
            ln[peek] = entry[1]
    _FAST_TABLE_NP_CACHE[key] = (val, ln)
    return val, ln


def _try_decode_dc_only(segment: bytes, n_blocks: int, dct, act):
    """Vectorized decode of a restartless scan whose every block is
    (DC symbol, EOB) — the corpus's block-constant family.  Returns the
    per-block DC values (int64) or None when the stream has any AC
    coefficient, an invalid prefix, or runs past its end — the caller
    then falls back to the exact sequential loop, so behaviour on
    general streams is unchanged.

    Method: for EVERY bit position p, compute the length of one
    (DC, EOB) block starting at p from the 16-bit-prefix tables (pure
    numpy gathers), giving a jump table J; the block-start positions
    0, J[0], J[J[0]], ... are then filled in log2(n_blocks) rounds of
    pointer doubling (J <- J[J]), never a per-symbol Python loop."""
    dval, dlen = dct
    aval, alen = act
    data = np.frombuffer(segment + b"\x00" * 8, dtype=np.uint8) \
        .astype(np.int64)
    nbits = 8 * len(segment)
    if nbits == 0 or n_blocks == 0:
        return None
    # 32-bit big-endian window starting at every byte
    u32 = ((data[:-3] << 24) | (data[1:-2] << 16)
           | (data[2:-1] << 8) | data[3:])
    p = np.arange(nbits, dtype=np.int64)
    w16 = (u32[p >> 3] >> (16 - (p & 7))) & 0xFFFF
    cat = dval[w16].astype(np.int64)
    dcl = dlen[w16].astype(np.int64)
    p2 = np.minimum(p + dcl + cat, nbits - 1)   # EOB symbol position
    w16b = (u32[p2 >> 3] >> (16 - (p2 & 7))) & 0xFFFF
    eobl = alen[w16b].astype(np.int64)
    ok = (dcl > 0) & (eobl > 0) & (aval[w16b] == 0) \
        & (p + dcl + cat < nbits)
    jump = np.minimum(p2 + eobl, nbits - 1)
    starts = np.empty(n_blocks, dtype=np.int64)
    starts[0] = 0
    cnt = 1
    hop = jump
    while cnt < n_blocks:
        take = min(cnt, n_blocks - cnt)
        starts[cnt:cnt + take] = hop[starts[:take]]
        cnt += take
        if cnt < n_blocks:
            hop = hop[hop]
    if not ok[starts].all():
        return None
    scat = cat[starts]
    bp = starts + dcl[starts]
    bits = (u32[bp >> 3] >> (32 - (bp & 7) - scat)) & ((1 << scat) - 1)
    half = np.where(scat > 0, 1 << np.maximum(scat - 1, 0), 0)
    diffs = np.where(scat == 0, 0,
                     np.where(bits >= half, bits,
                              bits - (1 << scat) + 1))
    return np.cumsum(diffs)


# --------------------------------------------------------------------------
# encoder
# --------------------------------------------------------------------------

# DC code/length lookup arrays for the vectorized DC-only packer
_DC_CODE_ARR = np.array([DC_ENC[c][0] for c in range(12)], dtype=np.uint64)
_DC_LEN_ARR = np.array([DC_ENC[c][1] for c in range(12)], dtype=np.uint64)
_EOB_CODE, _EOB_LEN = AC_ENC[0x00]
_POW2 = np.array([1 << k for k in range(13)], dtype=np.int64)


def _encode_blocks(zz) -> bytes:
    """Huffman-encode a run of zigzagged blocks as ONE restart segment
    (fresh DC predictor, byte-aligned flush)."""
    arr = np.asarray(zz)
    if arr.size and not arr[:, 1:].any():
        return _encode_dc_only(arr[None, :, 0])[0]
    bw = _BitWriter()
    prev_dc = 0
    for blk in zz:
        blk = blk.tolist()
        diff = blk[0] - prev_dc
        prev_dc = blk[0]
        cat = _category(diff)
        code, ln = DC_ENC[cat]
        bw.write(code, ln)
        if cat:
            bits = diff if diff > 0 else diff + (1 << cat) - 1
            bw.write(bits, cat)
        run = 0
        last_nz = 0
        for i in range(63, 0, -1):
            if blk[i]:
                last_nz = i
                break
        for i in range(1, last_nz + 1):
            v = blk[i]
            if v == 0:
                run += 1
                continue
            while run >= 16:
                code, ln = AC_ENC[0xF0]      # ZRL
                bw.write(code, ln)
                run -= 16
            cat = _category(v)
            code, ln = AC_ENC[(run << 4) | cat]
            bw.write(code, ln)
            bits = v if v > 0 else v + (1 << cat) - 1
            bw.write(bits, cat)
            run = 0
        if last_nz < 63:
            code, ln = AC_ENC[0x00]          # EOB
            bw.write(code, ln)
    return bw.flush()


def _quantized_zigzag(imgs: np.ndarray) -> np.ndarray:
    """The coefficient step of both encoders: a stack of 8-bit grayscale
    images [n, h, w] (dims multiples of 8) -> [n, n_blocks, 64]
    quantized, zigzagged DCT coefficients, blocks in raster order."""
    n, h, w = imgs.shape
    if h % 8 or w % 8:
        raise ValueError("jpeg: dims must be multiples of 8 (this encoder)")
    nb = (h // 8) * (w // 8)
    # Block-constant shortcut (r9): when every 8x8 block is a constant
    # (checked EXACTLY on the uint8 pixels, not a float property), the
    # DCT is DC-only with S00 = 8*(v - 128) and round(S00/8) = v - 128
    # exactly — the same zz the float path computes (its AC magnitudes
    # are ~1e-13, far below the 0.5 rounding radius; its DC error is
    # ~1e-12 on an integer target), so the emitted bytes are identical
    # and the corpus encode skips the full-einsum DCT.
    corners = imgs[:, ::8, ::8]
    if np.array_equal(np.repeat(np.repeat(corners, 8, axis=1), 8, axis=2),
                      imgs):
        zz = np.zeros((n, nb, 64), dtype=np.int64)
        zz[:, :, 0] = corners.reshape(n, nb).astype(np.int64) - 128
        return zz
    # forward DCT + quantization, all blocks of all images vectorized
    s = imgs.astype(np.float64) - 128.0
    blocks = (s.reshape(n, h // 8, 8, w // 8, 8).transpose(0, 1, 3, 2, 4)
              .reshape(-1, 8, 8))
    coef = np.einsum("un,bnm,vm->buv", _C, blocks, _C, optimize=True)
    q = np.round(coef / QUANT.reshape(8, 8).astype(np.float64)) \
        .astype(np.int64)
    return q.reshape(n, nb, 64)[:, :, ZIGZAG]


def encode_gray_jpeg(img: np.ndarray, restart_interval: int = 0) -> bytes:
    """Encode an 8-bit grayscale image (dims multiples of 8) as a real
    baseline JPEG: full DQT/DHT/SOF0/SOS framing + Huffman entropy data.

    ``restart_interval`` > 0 emits a DRI segment and splits the scan into
    byte-aligned restart segments separated by RST0-7 markers (T.81
    F.1.2.6) — the form externally produced baseline files commonly use."""
    h, w = img.shape
    zz = _quantized_zigzag(img[None])[0]
    if restart_interval:
        parts = [_encode_blocks(zz[i:i + restart_interval])
                 for i in range(0, len(zz), restart_interval)]
        joined = bytearray()
        for j, part in enumerate(parts):
            joined += part
            if j < len(parts) - 1:
                joined += bytes([0xFF, 0xD0 + (j % 8)])
        entropy = bytes(joined)
    else:
        entropy = _encode_blocks(zz)

    return _jpeg_header(h, w, restart_interval) + entropy + b"\xff\xd9"


_JPEG_HEADER_CACHE: Dict[Tuple[int, int, int], bytes] = {}


def _jpeg_header(h: int, w: int, restart_interval: int) -> bytes:
    """SOI..SOS framing for this codec's fixed tables — a pure function
    of (h, w, restart_interval), cached so repeated same-geometry frames
    (the MJPEG corpus) skip the segment assembly."""
    key = (h, w, restart_interval)
    cached = _JPEG_HEADER_CACHE.get(key)
    if cached is not None:
        return cached

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    dqt = seg(0xFFDB, b"\x00" + bytes(QUANT[ZIGZAG].tolist()))
    sof = seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1)
              + struct.pack(">BBB", 1, 0x11, 0))
    dht = (seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
           + seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS)))
    dri = (seg(0xFFDD, struct.pack(">H", restart_interval))
           if restart_interval else b"")
    sos = seg(0xFFDA, b"\x01" + struct.pack(">BB", 1, 0x00)
              + struct.pack(">BBB", 0, 63, 0))
    app0 = seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    hdr = b"\xff\xd8" + app0 + dqt + sof + dht + dri + sos
    _JPEG_HEADER_CACHE[key] = hdr
    return hdr


def encode_gray_jpeg_batch(imgs: np.ndarray) -> list:
    """Encode a stack of same-geometry images [n, h, w] -> n complete
    baseline JPEGs, byte-identical to per-image ``encode_gray_jpeg``
    (no restart markers).

    One coefficient step over every block of every frame, ONE vectorized
    entropy pack for the whole stack (each frame's stream is
    byte-aligned and 1-padded, so the global pack splits exactly at
    frame boundaries), per-frame byte stuffing as a C-level replace —
    the per-frame Python overhead that dominated MJPEG synthesis drops
    to a list slice (r9).  Falls back to the general per-frame entropy
    coder when any frame has a nonzero AC coefficient."""
    _, h, w = imgs.shape
    zz = _quantized_zigzag(imgs)
    hdr = _jpeg_header(h, w, 0)
    if zz[:, :, 1:].any():
        return [hdr + _encode_blocks(frame) + b"\xff\xd9" for frame in zz]
    return [hdr + e + b"\xff\xd9" for e in _encode_dc_only(zz[:, :, 0])]


def _encode_dc_only(dc2: np.ndarray) -> list:
    """The one DC-only entropy packer, for the block family whose every
    AC coefficient is zero (the corpus's block-constant images and all
    video frames): per-row streams for a [n_rows, n_blocks] DC matrix,
    byte-identical per row to _encode_blocks' general loop — per block
    the DC category code, the category's difference bits and an EOB.

    One global vectorized pack, split at the per-row byte boundaries
    (each row's stream is independently 1-padded to a byte).  Bits of
    adjacent blocks never overlap mid-byte-add (each output byte
    receives disjoint bit ranges), so scattered adds compose the stream
    without carries; byte stuffing (T.81 F.1.2.3) is one C-level replace
    per row."""
    n, nb = dc2.shape
    diffs = np.empty_like(dc2)
    diffs[:, 0] = dc2[:, 0]
    np.subtract(dc2[:, 1:], dc2[:, :-1], out=diffs[:, 1:])
    flat = diffs.reshape(-1)
    ab = np.abs(flat)
    cat = np.searchsorted(_POW2, ab, side="right").astype(np.int64)
    bits = np.where(flat > 0, flat, flat + (1 << cat) - 1).astype(np.uint64)
    catu = cat.astype(np.uint64)
    vals = ((_DC_CODE_ARR[cat] << catu) | bits)
    vals = (vals << np.uint64(_EOB_LEN)) | np.uint64(_EOB_CODE)
    lens = (_DC_LEN_ARR[cat] + catu + np.uint64(_EOB_LEN)).reshape(n, nb)
    tot = lens.sum(axis=1)
    pad = (np.uint64(0) - tot) % np.uint64(8)
    vals_all = np.concatenate(
        [vals.reshape(n, nb),
         ((np.uint64(1) << pad) - np.uint64(1))[:, None]], axis=1) \
        .reshape(-1)
    lens_all = np.concatenate([lens, pad[:, None]], axis=1).reshape(-1)
    offs = np.concatenate(([0], np.cumsum(lens_all)))[:-1].astype(np.uint64)
    sh = np.where(lens_all == 0, np.uint64(0),
                  np.uint64(64) - (offs % np.uint64(8)) - lens_all)
    shifted = vals_all << sh
    total = int((tot + pad).sum())
    nbytes = total // 8
    out = np.zeros(nbytes + 8, dtype=np.uint8)
    b0 = (offs // np.uint64(8)).astype(np.int64)
    for k in range(8):
        np.add.at(out, b0 + k,
                  ((shifted >> np.uint64(8 * (7 - k)))
                   & np.uint64(0xFF)).astype(np.uint8))
    raw = out[:nbytes].tobytes()
    ends = np.cumsum((tot + pad) // np.uint64(8)).astype(np.int64)
    starts = np.concatenate(([0], ends[:-1]))
    return [raw[s:e].replace(b"\xff", b"\xff\x00")
            for s, e in zip(starts, ends)]


# --------------------------------------------------------------------------
# decoder
# --------------------------------------------------------------------------

def decode_gray_jpeg(blob: bytes) -> np.ndarray:
    """REAL baseline JPEG decode (grayscale, no subsampling): parses the
    tables from the FILE (DQT/DHT), Huffman-decodes the entropy stream
    (DC categories, AC run/size, EOB, ZRL), dequantizes, inverse-zigzags,
    applies the IDCT and level shift, crops to the SOF dims."""
    if blob[:2] != b"\xff\xd8":
        raise ValueError("jpeg: missing SOI")
    pos = 2
    quant: Dict[int, np.ndarray] = {}
    dc_tables: Dict[int, Dict] = {}
    ac_tables: Dict[int, Dict] = {}
    h = w = None
    dc_id = ac_id = qt_id = 0
    entropy_start = None
    restart_interval = 0
    while pos + 2 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("jpeg: bad marker alignment")
        if blob[pos + 1] == 0xFF:             # 0xFF fill byte before marker
            pos += 1
            continue
        marker = blob[pos + 1]
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD8:
            pos += 2                          # TEM / RSTn / SOI: no length
            continue
        if pos + 4 > len(blob):
            raise ValueError("jpeg: truncated marker segment")
        seg_len = struct.unpack(">H", blob[pos + 2:pos + 4])[0]
        body = blob[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:                    # DQT (possibly multiple)
            b = 0
            while b < len(body):
                pq, tq = body[b] >> 4, body[b] & 15
                if pq != 0:
                    raise ValueError("jpeg: 16-bit quant unsupported")
                if b + 65 > len(body):
                    raise ValueError("jpeg: truncated DQT")
                tbl = np.frombuffer(body[b + 1:b + 65], dtype=np.uint8)
                quant[tq] = tbl.astype(np.int64)[UNZIGZAG]
                b += 65
        elif marker == 0xC4:                  # DHT (possibly multiple)
            b = 0
            while b < len(body):
                tc, th = body[b] >> 4, body[b] & 15
                bits = list(body[b + 1:b + 17])
                nvals = sum(bits)
                if len(bits) < 16 or b + 17 + nvals > len(body):
                    raise ValueError("jpeg: truncated DHT")
                vals = list(body[b + 17:b + 17 + nvals])
                (dc_tables if tc == 0 else ac_tables)[th] = \
                    (_decode_table(bits, vals),
                     _decode_table_np(bits, vals))
                b += 17 + nvals
        elif marker == 0xC0:                  # SOF0 baseline
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8 or ncomp != 1:
                raise ValueError("jpeg: only 8-bit grayscale supported")
            if body[7] != 0x11:
                raise ValueError("jpeg: subsampling unsupported")
            qt_id = body[8]
        elif 0xC1 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            raise ValueError("jpeg: non-baseline SOF%d" % (marker - 0xC0))
        elif marker == 0xDD:                  # DRI (restart interval)
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:                  # SOS
            ns = body[0]
            if ns != 1:
                raise ValueError("jpeg: multi-component scan unsupported")
            dc_id, ac_id = body[2] >> 4, body[2] & 15
            entropy_start = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if h is None or entropy_start is None:
        raise ValueError("jpeg: missing SOF/SOS")

    # collect entropy bytes up to EOI, removing stuffed zeros; RSTn
    # markers split the scan into byte-aligned restart segments
    segments = []
    raw = bytearray()
    p = entropy_start
    n = len(blob)
    while p < n:
        byte = blob[p]
        if byte == 0xFF:
            nxt = blob[p + 1] if p + 1 < n else 0xD9
            if nxt == 0x00:
                raw.append(0xFF)
                p += 2
                continue
            if nxt == 0xFF:                   # fill byte inside the scan
                p += 1
                continue
            if 0xD0 <= nxt <= 0xD7:           # RSTn: next restart segment
                segments.append(bytes(raw))
                raw = bytearray()
                p += 2
                continue
            if nxt == 0xD9:
                break
            raise ValueError("jpeg: unexpected marker in scan")
        raw.append(byte)
        p += 1
    segments.append(bytes(raw))

    dct, dct_np = dc_tables[dc_id]
    act, act_np = ac_tables[ac_id]
    qtab = quant[qt_id]
    bh, bw_ = (h + 7) // 8, (w + 7) // 8
    # Vectorized fast path first (r9): a restartless scan whose blocks
    # are all (DC, EOB) — the corpus's block-constant family — decodes
    # via the pointer-doubling jump table in _try_decode_dc_only; any
    # other stream falls through to the sequential loop unchanged.
    if restart_interval == 0 and len(segments) == 1:
        dc_fast = _try_decode_dc_only(segments[0], bh * bw_,
                                      dct_np, act_np)
        if dc_fast is not None:
            # DC-only IDCT in closed form: pix(n, m) = deq00 * C[0,n] *
            # C[0,m] = dc * q00/8 * (1 +- 1e-16), which rounds to the
            # same integer as the full einsum for any |dc*q00| < ~1e12
            # (the einsum's zero terms add exactly 0) — so the constant
            # per-block value is round(dc * q00 / 8) + 128, clipped.
            dcv = np.round(dc_fast.astype(np.float64) * float(qtab[0])
                           * (0.125 * 8.0 * _C[0, 0] * _C[0, 0])) + 128.0
            vals = np.clip(dcv, 0, 255).astype(np.uint8)
            out = np.repeat(np.repeat(vals.reshape(bh, bw_), 8, axis=0),
                            8, axis=1)
            return out[:h, :w]
    # Hot loop (r9): windowed bit reads inlined on local variables (no
    # per-read method dispatch), DC values collected in a flat Python
    # list and AC coefficients as sparse (flat_index, value) pairs —
    # numpy scalar row writes in the old loop cost more than the Huffman
    # decode itself.  The dense zz matrix is assembled vectorized below.
    dcs = []
    ac_idx = []
    ac_val = []
    data = segments[0] + b"\x00\x00\x00\x00"
    pos = 0
    seg_idx = 0
    prev_dc = 0
    n_blocks = bh * bw_
    from_bytes = int.from_bytes
    for bi in range(n_blocks):
        # grayscale: 1 MCU = 1 block; every restart_interval MCUs the
        # stream re-aligns to the next segment and the DC predictor resets
        if restart_interval and bi and bi % restart_interval == 0:
            seg_idx += 1
            if seg_idx >= len(segments):
                raise ValueError("jpeg: missing restart segment")
            data = segments[seg_idx] + b"\x00\x00\x00\x00"
            pos = 0
            prev_dc = 0
        byte = pos >> 3
        window = from_bytes(data[byte:byte + 4], "big")
        entry = dct[(window >> (16 - (pos & 7))) & 0xFFFF]
        if entry is None:
            raise ValueError("jpeg: invalid Huffman code")
        cat = entry[0]
        pos += entry[1]
        if cat:
            byte = pos >> 3
            window = from_bytes(data[byte:byte + 4], "big")
            bits = (window >> (32 - (pos & 7) - cat)) & ((1 << cat) - 1)
            pos += cat
            prev_dc += bits if bits >= (1 << (cat - 1)) else \
                bits - (1 << cat) + 1
        dcs.append(prev_dc)
        base = bi << 6
        k = 1
        while k < 64:
            byte = pos >> 3
            window = from_bytes(data[byte:byte + 4], "big")
            entry = act[(window >> (16 - (pos & 7))) & 0xFFFF]
            if entry is None:
                raise ValueError("jpeg: invalid Huffman code")
            rs = entry[0]
            pos += entry[1]
            if rs == 0x00:                    # EOB
                break
            if rs == 0xF0:                    # ZRL
                k += 16
                continue
            k += rs >> 4
            cat = rs & 15
            if k > 63:
                raise ValueError("jpeg: AC run overflow")
            byte = pos >> 3
            window = from_bytes(data[byte:byte + 4], "big")
            bits = (window >> (32 - (pos & 7) - cat)) & ((1 << cat) - 1)
            pos += cat
            ac_idx.append(base + k)
            ac_val.append(bits if bits >= (1 << (cat - 1)) else
                          bits - (1 << cat) + 1)
            k += 1
    zz_all = np.zeros((n_blocks, 64), dtype=np.int64)
    zz_all[:, 0] = dcs
    if ac_idx:
        zz_all.reshape(-1)[np.array(ac_idx, dtype=np.int64)] = ac_val

    deq = (zz_all[:, UNZIGZAG] * qtab).reshape(bh * bw_, 8, 8) \
        .astype(np.float64)
    pix = np.einsum("nu,buv,mv->bnm", _C.T, deq, _C.T, optimize=True)
    out = np.empty((bh * 8, bw_ * 8), dtype=np.uint8)
    blocks = np.clip(np.round(pix) + 128.0, 0, 255).astype(np.uint8)
    out = blocks.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3) \
        .reshape(bh * 8, bw_ * 8)
    return out[:h, :w]


def synth_block_gray(doc_id: int, width: int, height: int) -> np.ndarray:
    """The JPEG corpus pixel formula: constant within each 8x8 block,
    value (doc_id*7 + 3*bx + 5*by) % 256 — the family for which the
    lossy pipeline is exactly lossless (module docstring).  Computed as
    a uint8 outer sum (uint8 addition IS mod-256) over the row/column
    vectors instead of a per-pixel int64 mod (r9)."""
    col = ((doc_id * 7
            + 5 * (np.arange(height, dtype=np.int64) // 8)) % 256) \
        .astype(np.uint8)[:, None]
    row = ((3 * (np.arange(width, dtype=np.int64) // 8)) % 256) \
        .astype(np.uint8)[None, :]
    return col + row
