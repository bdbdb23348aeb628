"""Deterministic binary payload codec for the ``html`` column.

The reference obtains its char-event stream from Poppler callbacks
(/root/reference/src/PdfParsing.cpp:85-898).  Our corpus rows carry
self-contained binary payloads instead; this codec defines the layout and the
decode step, replicating the decode-time semantics the pipeline depends on:

* charMap glyph-name fallback for chars with empty text
  (PdfParsing.cpp:206-208, utils/CharMap.h);
* ligature expansion — multi-codepoint ``unicodes`` become multi-char text
  (PdfParsing.cpp:209-226);
* whitespace-char suppression incl. U+00A0 (PdfParsing.cpp:229-245);
* coordinates already on a 0.1pt grid (coordinatePrecision=1, Config.h:85).

Layout (little-endian), version 2 (v3 and v4 extend it, see below; any
other version fails to decode with ERR_MAGIC)::

    b"PTX1"  u16 version
    u32 n_fonts
      per font: u16 len + utf8 name, f64 ascent, f64 descent, i32 weight,
                u8 flags (bit0 italic, bit1 type3, bit2 serif, bit3 fixed,
                          bit4 symbolic)
    u32 n_pages
      per page: i32 page_num, 4*f64 clip box
        u32 n_chars
          n_chars * 10 f64: leftX upperY rightX lowerY base fontSize rotation
                            wMode fontIdx figureIdx (-1 = page char; >= 0 =
                            clip-diverted into figures[figureIdx], excluded
                            from extraction, PdfParsing.cpp:513-591)
          names blob:    u32[n+1] offsets + utf8 bytes
          texts blob:    u32[n+1] offsets + utf8 bytes
          unicodes blob: u32[n+1] offsets + u32 codepoints
        u32 n_figures  -> n * 4 f64 bbox
        u32 n_shapes   -> n * 4 f64 bbox
        u32 n_graphics -> n * 4 f64 bbox

The numeric blocks are written contiguously so the decoder reads them with a
single ``np.frombuffer`` per page (vectorized decode; no per-field parsing).
"""

from __future__ import annotations

import struct
from itertools import repeat
from typing import List, Optional, Tuple

import numpy as np

from .charmap import CHAR_MAP
from .config import WHITESPACE_TEXTS
from .model import CharCols, Doc, FontInfo, NonTextElement, Page
from .utils.mathutils import larger, round_half_away, smaller

MAGIC = b"PTX1"
VERSION = 2
# v3 extends v2 with embedded-font-program data (the S4 deep path): per
# font a fontMatrix (6 f64) + glyph-bbox table, per char a 6-f64 text
# rendering matrix.  The encoder emits v3 only when a font carries glyph
# bboxes, so v2 corpora stay byte-identical.
VERSION_GLYPH_BBOX = 3
# v4 replaces v3's precomputed glyph-bbox tables with the RAW embedded
# Type 1 font program (S4 deep path, ref utils/PdfFontInfoParser.cpp);
# decode parses the program bytes (fontfile.parse_type1) into the same
# glyph-bbox tables + font matrix, so everything downstream is shared
VERSION_TYPE1 = 4

# parse failure codes (reference aborts on !pdfDoc->isOk(),
# PdfToTextPlusPlus.cpp:88-90; we record a code instead of aborting)
OK = 0
ERR_EMPTY = 1
ERR_MAGIC = 2
ERR_TRUNCATED = 3
# the payload decoded but a kernel stage or a sink raised on it
ERR_KERNEL = 4

# a failure row's cause for a caught exception is "<ExceptionType>:
# <message>", cut to a fixed length so the row stays small and its bytes
# depend only on the exception
CAUSE_CHARS = 200

_CHAR_FIELDS = 10
_CHAR_FIELDS_V3 = 16  # v2 fields + 6-f64 per-char text rendering matrix


class PayloadError(Exception):
    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code


def cause_of(exc: BaseException) -> str:
    return ("%s: %s" % (type(exc).__name__, exc))[:CAUSE_CHARS]


# ---------------------------------------------------------------------------
# encode
# ---------------------------------------------------------------------------

def _pack_str_blob(items: List[str]) -> bytes:
    blobs = [s.encode("utf-8") for s in items]
    offsets = np.zeros(len(blobs) + 1, dtype="<u4")
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    return offsets.tobytes() + b"".join(blobs)


def _pack_u32_blob(items: List[List[int]]) -> bytes:
    offsets = np.zeros(len(items) + 1, dtype="<u4")
    np.cumsum([len(u) for u in items], out=offsets[1:])
    flat = np.array([u for us in items for u in us], dtype="<u4")
    return offsets.tobytes() + flat.tobytes()


def _pack_glyph_table(f: FontInfo) -> bytes:
    """A font's fontMatrix and glyph-bbox table: 6 f64, u32 n_glyphs, then
    (when n_glyphs) the names blob and n_glyphs * 4 f64, names sorted."""
    glyphs = f.glyph_bboxes or {}
    names = sorted(glyphs)
    out = [struct.pack("<6d", *f.font_matrix), struct.pack("<I", len(names))]
    if names:
        out.append(_pack_str_blob(names))
        out.append(np.asarray([glyphs[n] for n in names],
                              dtype="<f8").reshape(len(names), 4).tobytes())
    return b"".join(out)


def encode_payload(fonts: List[FontInfo], pages: List[dict]) -> bytes:
    """Encode a document payload.

    ``pages`` is a list of dicts with keys: ``page_num``, ``clip`` (4-tuple),
    ``chars`` (list of dicts with keys name, text, unicodes, left_x, upper_y,
    right_x, lower_y, base, font_size, rotation, w_mode, font), ``figures`` /
    ``shapes`` / ``graphics`` (lists of 4-tuples).
    """
    if any(getattr(f, "font_program", None) for f in fonts):
        version = VERSION_TYPE1
    elif any(getattr(f, "glyph_bboxes", None) for f in fonts):
        version = VERSION_GLYPH_BBOX
    else:
        version = VERSION
    out = [MAGIC, struct.pack("<H", version), struct.pack("<I", len(fonts))]
    font_idx = {}
    for i, f in enumerate(fonts):
        font_idx[f.name] = i
        name_b = f.name.encode("utf-8")
        flags = (int(f.is_italic) | int(f.is_type3) << 1 | int(f.is_serif) << 2
                 | int(f.is_fixed_width) << 3 | int(f.is_symbolic) << 4)
        out.append(struct.pack("<H", len(name_b)))
        out.append(name_b)
        out.append(struct.pack("<ddiB", f.ascent, f.descent, f.weight, flags))
        prog = b""
        if version == VERSION_TYPE1:
            # v4 block: u32 prog_len + bytes; a 0-length program is
            # followed by the v3 glyph table so payloads mixing
            # program-bearing and table-bearing fonts lose nothing
            prog = getattr(f, "font_program", None) or b""
            out += [struct.pack("<I", len(prog)), prog]
        if version >= VERSION_GLYPH_BBOX and not prog:
            out.append(_pack_glyph_table(f))

    n_char_fields = (_CHAR_FIELDS_V3 if version >= VERSION_GLYPH_BBOX
                     else _CHAR_FIELDS)
    identity_trm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    out.append(struct.pack("<I", len(pages)))
    for page in pages:
        clip = page.get("clip", (0.0, 0.0, 612.0, 792.0))
        out.append(struct.pack("<idddd", page["page_num"], *clip))
        chars = page.get("chars", [])
        out.append(struct.pack("<I", len(chars)))
        if chars:
            num = np.empty((len(chars), n_char_fields), dtype="<f8")
            for i, c in enumerate(chars):
                row = (c["left_x"], c["upper_y"], c["right_x"], c["lower_y"],
                       c["base"], c["font_size"], c.get("rotation", 0),
                       c.get("w_mode", 0), font_idx[c["font"]],
                       c.get("figure_idx", -1))
                if version >= VERSION_GLYPH_BBOX:
                    row = row + tuple(c.get("trm", identity_trm))
                num[i] = row
            out.append(num.tobytes())
            out.append(_pack_str_blob([c.get("name", "") for c in chars]))
            out.append(_pack_str_blob([c.get("text", "") for c in chars]))
            out.append(_pack_u32_blob([c.get("unicodes", []) for c in chars]))
        for key in ("figures", "shapes", "graphics"):
            elems = page.get(key, [])
            out.append(struct.pack("<I", len(elems)))
            if elems:
                arr = np.asarray(elems, dtype="<f8").reshape(len(elems), 4)
                out.append(arr.tobytes())
    return b"".join(out)


# ---------------------------------------------------------------------------
# decode
# ---------------------------------------------------------------------------

class _Reader:
    __slots__ = ("buf", "pos", "blob_all_empty", "blob_ascii1")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0
        self.blob_all_empty = False
        self.blob_ascii1 = None

    def take(self, n: int) -> memoryview:
        if self.pos + n > len(self.buf):
            raise PayloadError(ERR_TRUNCATED, "truncated payload")
        mv = memoryview(self.buf)[self.pos:self.pos + n]
        self.pos += n
        return mv

    def u16(self) -> int:
        return struct.unpack("<H", self.take(2))[0]

    def u32(self) -> int:
        return struct.unpack("<I", self.take(4))[0]

    def i32(self) -> int:
        return struct.unpack("<i", self.take(4))[0]

    def f64s(self, n: int) -> np.ndarray:
        return np.frombuffer(self.take(8 * n), dtype="<f8")

    def str_blob(self, n: int, lazy_ascii: bool = False) -> Optional[List[str]]:
        # regime flags for the caller: all-empty / all-single-ASCII blobs
        # let decode_payload pick vectorized paths
        self.blob_all_empty = False
        self.blob_ascii1 = None
        offsets = np.frombuffer(self.take(4 * (n + 1)), dtype="<u4")
        total = int(offsets[-1])
        if total == 0:  # fast path: all items empty (e.g. glyph names)
            self.blob_all_empty = True
            return [""] * n
        blob = bytes(self.take(total))
        if total == n and (np.diff(offsets) == 1).all():
            # fast path: every item is one single-byte (ASCII) char — the
            # common texts blob; one decode + C-level split.  With
            # lazy_ascii the caller reads ``blob_ascii1`` directly (the
            # simple-page producer never touches the per-item list).
            self.blob_ascii1 = blob
            if lazy_ascii:
                return None
            return list(blob.decode("utf-8"))
        return [blob[offsets[i]:offsets[i + 1]].decode("utf-8")
                for i in range(n)]

    def u32_blob(self, n: int) -> List[List[int]]:
        self.blob_all_empty = False
        offsets = np.frombuffer(self.take(4 * (n + 1)), dtype="<u4")
        total = int(offsets[-1])
        if total == 0:  # fast path: unicodes omitted (derivable from text)
            self.blob_all_empty = True
            return [[]] * n  # aliased empties are only ever read
        # one C-level conversion, then plain list slices (a per-item
        # ndarray.tolist() was the single largest decode cost on
        # non-ASCII pages)
        flat = np.frombuffer(self.take(4 * total), dtype="<u4").tolist()
        offs = offsets.tolist()
        return [flat[offs[i]:offs[i + 1]] for i in range(n)]

    def glyph_table(self, fi: FontInfo) -> None:
        """Read :func:`_pack_glyph_table`'s block into ``fi``."""
        fi.font_matrix = tuple(float(x) for x in self.f64s(6))
        n_glyphs = self.u32()
        if n_glyphs:
            g_names = self.str_blob(n_glyphs)
            g_boxes = self.f64s(n_glyphs * 4).reshape(n_glyphs, 4).tolist()
            fi.glyph_bboxes = dict(zip(g_names, map(tuple, g_boxes)))


def _resolve_text(raw_text: str, name: str, unicodes: List[int]) -> str:
    """Final char text (PdfParsing.cpp:206-226): the charMap entry OVERRIDES
    a single provided unicode (``uLen == 1 && charMap.count(name)``); else
    the explicit text; else chr() of the codepoints (ligatures expand).
    When ``unicodes`` is omitted as derivable from the text, the codepoint
    count of the text is the uLen analog."""
    n_uni = len(unicodes) if unicodes else len(raw_text)
    if n_uni == 1 and name in CHAR_MAP:
        return CHAR_MAP[name][1]
    if raw_text:
        return raw_text
    if unicodes:
        return "".join(chr(u) for u in unicodes)
    return ""


# Shared single-codepoint unicode lists: the unicodes column is read-only
# after decode (diacritics.py only reads it), so the ubiquitous [ord(text)] case
# reuses one list per ASCII codepoint instead of allocating per char.
_ORD1 = [[i] for i in range(128)]
_CHAR_MAP_UNI = {name: [cp] for name, (cp, _) in CHAR_MAP.items()}
# ASCII members of WHITESPACE_TEXTS (U+00A0 cannot occur in an all-ASCII
# texts blob) for the vectorized whitespace-suppression mask
_WS_ASCII_CODES = np.array(sorted(ord(c) for c in WHITESPACE_TEXTS
                                  if ord(c) < 128), dtype=np.uint8)


def _simple_page_cols(num, texts_ascii1, font_names, page_num,
                      deferred) -> CharCols:
    """SIMPLE-PAGE producer: every char text is one ASCII codepoint, no
    glyph names (-> no charMap, no glyph-bbox preference), no explicit
    unicodes.  The whitespace/figure-diversion decisions collapse into one
    numpy mask and the columns come from per-column ``tolist()``s; the
    store's ``names`` / ``unicodes`` stay None (T1 skips the page: no marks
    >= U+02B0 exist)."""
    tb = np.frombuffer(texts_ascii1, dtype=np.uint8)
    keep = ~np.isin(tb, _WS_ASCII_CODES)
    fig = num[:, 9] >= 0
    divert = keep & fig
    if divert.any():
        for row in num[divert][:, (9, 0, 1, 2, 3)].tolist():
            deferred.append((int(row[0]), row[1], row[2], row[3], row[4]))
    keep &= ~fig
    kept = np.flatnonzero(keep)
    # rows: (left, up, right, low, rotation, w_mode, font_size, base) per
    # kept char, decode order.  Built by zipping per-COLUMN tolist()s so the
    # font-size/base columns convert once (they are also the fsizes/bases
    # columns) and the all-zero rotation/w_mode columns of an upright page
    # convert never — ndarray.tolist element conversion was ~56% of decode
    # on simple pages, and every consumer reads rows by index only
    sub = num[kept]
    fs_col = sub[:, 5].tolist()
    base_col = sub[:, 4].tolist()
    all_upright = not (bool(sub[:, 6].any()) or bool(sub[:, 7].any()))
    if all_upright:
        rot_col = wm_col = repeat(0.0)
    else:
        rot_col = sub[:, 6].tolist()
        wm_col = sub[:, 7].tolist()
    rows = list(zip(sub[:, 0].tolist(), sub[:, 1].tolist(),
                    sub[:, 2].tolist(), sub[:, 3].tolist(),
                    rot_col, wm_col, fs_col, base_col))
    ktexts = list(bytes(tb[kept]).decode("ascii"))
    fname_col = np.array(font_names, dtype=object)[
        sub[:, 8].astype(np.intp)].tolist()
    return CharCols(rows, ktexts, fname_col, fs_col, base_col, page_num,
                    all_upright=all_upright)


def _general_page_cols(num, names, texts, unicodes, fonts, font_names,
                       glyph_bboxes, page_num, deferred) -> CharCols:
    """GENERAL producer: glyph names (charMap), ligatures, non-ASCII text,
    explicit unicodes and the glyph-bbox preference, one char at a time.
    Fills the same columns as :func:`_simple_page_cols` plus ``names`` and
    ``unicodes``."""
    # per-char lists converted once at C level (the per-row float->int
    # casts were ~10% of decode)
    num_list = num.tolist()
    rot_col = num[:, 6].astype(np.int64).tolist()
    wm_col = num[:, 7].astype(np.int64).tolist()
    font_col = num[:, 8].astype(np.int64).tolist()
    # S4 deep path (v3+ payloads only): per-font glyph-bbox tables + font
    # matrices for the char-bbox preference
    glyph_tables = [f.glyph_bboxes for f in fonts] if glyph_bboxes else None
    matrices = [f.font_matrix for f in fonts]
    ws = WHITESPACE_TEXTS
    rows, ktexts, fname_col, kept_names, kept_unicodes = [], [], [], [], []
    for i in range(len(num_list)):
        raw = texts[i]
        name = names[i]
        # fast path: ordinary char (no glyph name -> no charMap)
        if raw and not name:
            text = raw
        else:
            text = _resolve_text(raw, name, unicodes[i])
        # whitespace suppression (PdfParsing.cpp:229-245)
        if not text:
            continue
        if len(text) == 1:
            if text in ws:
                continue
        elif all(ch in ws for ch in text):
            continue
        row = num_list[i]
        if row[9] >= 0:
            # clip-diverted char: belongs to a figure, not the page — it
            # grows the figure's bbox and never enters extraction
            # (PdfParsing.cpp:513-591)
            deferred.append((int(row[9]), row[0], row[1], row[2], row[3]))
            continue
        lx, uy, rx, ly, base = row[0], row[1], row[2], row[3], row[4]
        if glyph_tables is not None and name:
            gb = glyph_tables[font_col[i]]
            if gb is not None and name in gb:
                # glyph bbox through fontMatrix, then the char's text
                # rendering matrix; preferred when vertically LARGER
                # (PdfParsing.cpp:423-455)
                glx, guy, grx, gly = gb[name]
                fm = matrices[font_col[i]]
                lx2 = glx * fm[0] + guy * fm[2] + fm[4]
                uy2 = glx * fm[1] + guy * fm[3] + fm[5]
                rx2 = grx * fm[0] + gly * fm[2] + fm[4]
                ly2 = grx * fm[1] + gly * fm[3] + fm[5]
                lx3 = lx2 * row[10] + uy2 * row[12] + row[14]
                uy3 = lx2 * row[11] + uy2 * row[13] + row[15]
                rx3 = rx2 * row[10] + ly2 * row[12] + row[14]
                ly3 = rx2 * row[11] + ly2 * row[13] + row[15]
                alt_uy = min(uy3, ly3)
                alt_ly = max(uy3, ly3)
                if smaller(alt_uy, row[1], 0.1) or larger(alt_ly, row[3], 0.1):
                    lx = round_half_away(min(lx3, rx3), 1)
                    uy = round_half_away(alt_uy, 1)
                    rx = round_half_away(max(lx3, rx3), 1)
                    ly = round_half_away(alt_ly, 1)
                    base = round_half_away(alt_ly, 1)
        rows.append((lx, uy, rx, ly, rot_col[i], wm_col[i], row[5], base))
        ktexts.append(text)
        fname_col.append(font_names[font_col[i]])
        kept_names.append(name)
        u = unicodes[i]
        # when the charMap overrode the char (uLen == 1 && name in map), the
        # reference stores the MAP's codepoint, not the provided unicode
        # (PdfParsing.cpp:207) — unicodes[0] drives diacritic merging, so
        # this must match
        if name and name in CHAR_MAP and (len(u) if u else len(raw)) == 1:
            kept_unicodes.append(_CHAR_MAP_UNI[name])
        elif u:
            kept_unicodes.append(u)
        elif len(text) == 1:
            o = ord(text)
            kept_unicodes.append(_ORD1[o] if o < 128 else [o])
        else:
            kept_unicodes.append([ord(ch) for ch in text])
    all_upright = not any(row[4] or row[5] for row in rows)
    return CharCols(rows, ktexts, fname_col, [row[6] for row in rows],
                    [row[7] for row in rows], page_num,
                    all_upright=all_upright, names=kept_names,
                    unicodes=kept_unicodes)


def decode_payload(payload: Optional[bytes]
                   ) -> Tuple[Optional[Doc], int, Optional[str]]:
    """Decode a payload into a Doc; returns (doc, failure_code, cause),
    with cause None exactly when the code is OK.

    Never raises on malformed input — mirrors the reference's load check
    (PdfToTextPlusPlus.cpp:88-90) by reporting a failure code so one corrupt
    document cannot abort a partition.  Any other exception the decode
    meets (a bad UTF-8 blob, an out-of-range font index) reads as
    ERR_TRUNCATED, its cause naming the exception.
    """
    try:
        return _decode(payload), OK, None
    except PayloadError as exc:
        return None, exc.code, str(exc)
    except Exception as exc:
        return None, ERR_TRUNCATED, cause_of(exc)


def page_count(payload: bytes) -> int:
    """A payload's page count, read after its font table."""
    return _read_header(payload)[0].u32()


def _read_header(payload: Optional[bytes]
                 ) -> Tuple[_Reader, int, List[FontInfo]]:
    """(reader at n_pages, version, fonts) of a payload."""
    if not payload:
        raise PayloadError(ERR_EMPTY, "empty payload")
    r = _Reader(payload)
    if bytes(r.take(4)) != MAGIC:
        raise PayloadError(ERR_MAGIC, "bad magic")
    version = r.u16()
    if version not in (VERSION, VERSION_GLYPH_BBOX, VERSION_TYPE1):
        raise PayloadError(ERR_MAGIC, "unsupported version %d" % version)
    fonts: List[FontInfo] = []
    for _ in range(r.u32()):
        name = bytes(r.take(r.u16())).decode("utf-8")
        ascent, descent, weight, flags = struct.unpack("<ddiB", r.take(21))
        fi = FontInfo(name=name, ascent=ascent, descent=descent,
                      weight=weight,
                      is_italic=bool(flags & 1), is_type3=bool(flags & 2),
                      is_serif=bool(flags & 4),
                      is_fixed_width=bool(flags & 8),
                      is_symbolic=bool(flags & 16))
        # v4: S4 deep path over RAW font-program bytes — parse the embedded
        # Type 1 program into the same glyph-bbox table + matrix the v3
        # wire format carries precomputed; fonts without a program carry
        # the v3 table inline
        prog_len = r.u32() if version == VERSION_TYPE1 else 0
        if prog_len:
            from . import fontfile
            # A malformed embedded program (truncated 255-number encoding,
            # div-by-zero charstring, self-recursive subr) degrades to
            # parsed=None (wire font metadata, no glyph bboxes), not a
            # failed document — the reference likewise extracts nothing
            # from a program its parser chokes on but still emits the text.
            prog_bytes = bytes(r.take(prog_len))
            try:
                parsed = fontfile.parse_type1(prog_bytes)
            except Exception:
                parsed = None
            if parsed is not None:
                fi.font_matrix = parsed["font_matrix"]
                fi.glyph_bboxes = parsed["glyph_bboxes"] or None
                fi.is_italic = fi.is_italic or parsed["is_italic"]
                if parsed["weight"] is not None:
                    # program /Weight overrides; absent -> keep the
                    # wire-encoded weight
                    fi.weight = parsed["weight"]
        elif version >= VERSION_GLYPH_BBOX:
            r.glyph_table(fi)
        fonts.append(fi)
    return r, version, fonts


def _decode(payload: Optional[bytes]) -> Doc:
    r, version, fonts = _read_header(payload)
    char_fields = (_CHAR_FIELDS_V3 if version >= VERSION_GLYPH_BBOX
                   else _CHAR_FIELDS)
    doc = Doc()
    font_names = [f.name for f in fonts]
    doc.font_infos.update(zip(font_names, fonts))
    n_pages = r.u32()
    for _ in range(n_pages):
        page_num = r.i32()
        clip = r.f64s(4)
        page = Page(page_num)
        page.clip_left_x, page.clip_upper_y = float(clip[0]), float(clip[1])
        page.clip_right_x, page.clip_lower_y = float(clip[2]), float(clip[3])

        n_chars = r.u32()
        deferred = []  # (figure_idx, char bbox) for clip-diverted chars
        if n_chars:
            num = r.f64s(n_chars * char_fields).reshape(n_chars, char_fields)
            names = r.str_blob(n_chars)
            names_empty = r.blob_all_empty
            texts = r.str_blob(n_chars, lazy_ascii=True)
            texts_ascii1 = r.blob_ascii1
            unicodes = r.u32_blob(n_chars)
            uni_empty = r.blob_all_empty
            if names_empty and uni_empty and texts_ascii1 is not None:
                page.char_cols = _simple_page_cols(
                    num, texts_ascii1, font_names, page_num, deferred)
            else:
                if texts is None:
                    texts = list(texts_ascii1.decode("utf-8"))
                page.char_cols = _general_page_cols(
                    num, names, texts, unicodes, fonts, font_names,
                    version >= VERSION_GLYPH_BBOX, page_num, deferred)

        for kind, target in (("figure", page.figures),
                             ("shape", page.shapes),
                             ("graphic", page.graphics)):
            n = r.u32()
            for i, box in enumerate(r.f64s(n * 4).reshape(n, 4).tolist()):
                e = NonTextElement(kind)
                e.left_x, e.upper_y, e.right_x, e.lower_y = box
                e.page_num, e.rank = page_num, i
                target.append(e)

        # clip-diverted chars expand their figure's bbox
        for fig_idx, lx, uy, rx, ly in deferred:
            if 0 <= fig_idx < len(page.figures):
                fig = page.figures[fig_idx]
                fig.left_x = min(fig.left_x, lx)
                fig.upper_y = min(fig.upper_y, uy)
                fig.right_x = max(fig.right_x, rx)
                fig.lower_y = max(fig.lower_y, ly)

        doc.pages.append(page)
    return doc
