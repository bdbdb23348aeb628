"""S4 deep path: the embedded Type 1 font-program parser
(ref utils/PdfFontInfoParser.cpp:191-866) and the payload-v4 wire format
that carries raw font-program bytes."""

import random

import pytest

from pdftotext_plus_plus_spark import codec, fixtures, fontfile
from pdftotext_plus_plus_spark.model import FontInfo
from pdftotext_plus_plus_spark.pipeline import extract


def _cs(*items) -> bytes:
    """Assemble a plaintext charstring from ints and op byte-strings."""
    out = bytearray()
    for it in items:
        if isinstance(it, int):
            out += fontfile._encode_num(it)
        else:
            out += it
    return bytes(out)


HSBW = b"\x0d"
RLINETO = b"\x05"
HLINETO = b"\x06"
VLINETO = b"\x07"
RRCURVETO = b"\x08"
VHCURVETO = b"\x1e"
HVCURVETO = b"\x1f"
RMOVETO = b"\x15"
CALLSUBR = b"\x0a"
ENDCHAR = b"\x0e"
DIV = b"\x0c\x0c"
SBW = b"\x0c\x07"
HSTEM = b"\x01"


def _parse_one(cs, subrs=None):
    prog = fontfile.build_type1_program({"g": cs}, subrs=subrs)
    return fontfile.parse_type1(prog)["glyph_bboxes"]["g"]


def test_eexec_roundtrip():
    data = bytes(range(256)) * 3
    assert fontfile.decrypt(fontfile.encrypt(data, 55665, 4), 55665, 4) == data
    assert fontfile.decrypt(fontfile.encrypt(data, 4330, 7), 4330, 7) == data


def test_charstring_lines_and_hsbw():
    # hsbw marks (sbx, 0); lines extend the envelope exactly like the
    # reference interpreter (…cpp:724-741, 580-600)
    cs = _cs(30, 600, HSBW,            # cur=(30,0), marked
             470, 700, RLINETO,        # (500, 700)
             -480, HLINETO,            # x back to 20
             -100, VLINETO)            # y 600: inside, no growth
    assert _parse_one(cs) == (20.0, 0.0, 500.0, 700.0)


def test_charstring_curves():
    # rrcurveto marks all three control points; vh/hv variants use the
    # reference's axis conventions (…cpp:602-613, 777-826)
    cs = _cs(0, 0, HSBW, 10, 20, 30, 40, 50, 60, RRCURVETO)
    # points: (10,20), (40,60), (90,120)
    assert _parse_one(cs) == (0.0, 0.0, 90.0, 120.0)
    cs = _cs(0, 0, HSBW, 100, 10, 20, 30, VHCURVETO)
    # x1=0,y1=100; x2=10,y2=120; x3=50? -> x3=x2+dx3=30? recompute:
    # dy1=100, dx2=10, dy2=20, dx3=30: p1=(0,100) p2=(10,120) p3=(40,120)
    assert _parse_one(cs) == (0.0, 0.0, 40.0, 120.0)
    cs = _cs(0, 0, HSBW, 100, 10, 20, 30, HVCURVETO)
    # dx1=100: p1=(100,0) p2=(110,20) p3=(110,50)
    assert _parse_one(cs) == (0.0, 0.0, 110.0, 50.0)


def test_charstring_subr_and_div():
    # callsubr shares stacks with the caller; div truncates toward zero
    # like C integer division (…cpp:616-626, 650-660)
    subrs = {3: _cs(200, 300, RLINETO)}
    cs = _cs(0, 0, HSBW, 3, CALLSUBR)
    assert _parse_one(cs, subrs=subrs) == (0.0, 0.0, 200.0, 300.0)
    cs = _cs(0, 0, HSBW, 700, 2, DIV, 100, RLINETO)  # 350, 100
    assert _parse_one(cs) == (0.0, 0.0, 350.0, 100.0)


def test_charstring_sbw_hints_and_large_numbers():
    # sbw sets an arbitrary origin (negative allowed); hstem pops without
    # painting; the 255-prefixed 32-bit form round-trips
    cs = _cs(-50, -80, 600, 0, SBW, 1, 2, HSTEM, 1200, 2000, RLINETO)
    assert _parse_one(cs) == (-50.0, -80.0, 1150.0, 1920.0)


def test_pfa_hex_and_pfb_binary_bodies():
    glyphs = {"a": fontfile.build_charstring_for_bbox(0, 0, 450, 650)}
    hex_prog = fontfile.build_type1_program(glyphs, hex_body=True)
    bin_prog = fontfile.build_type1_program(glyphs, hex_body=False)
    for prog in (hex_prog, bin_prog):
        assert fontfile.parse_type1(prog)["glyph_bboxes"]["a"] == \
            (0.0, 0.0, 450.0, 650.0)


def test_header_fields_and_garbage():
    prog = fontfile.build_type1_program(
        {"a": fontfile.build_charstring_for_bbox(0, 0, 1, 1)},
        font_matrix=(0.0005, 0.0, 0.0, 0.0005, 0.0, 0.0),
        weight_name="Medium", italic_angle=-15)
    info = fontfile.parse_type1(prog)
    assert info["font_matrix"][0] == pytest.approx(0.0005)
    assert info["weight"] == 500
    assert info["is_italic"] is True
    assert fontfile.parse_type1(b"not a font at all") is None
    assert fontfile.parse_type1(b"header only eexec") is None


def test_payload_v4_extraction_equals_v3():
    """The font-glyph-bbox family rebuilt with a REAL Type 1 program in
    the payload (v4) must extract byte-identically to the v3 payload that
    carries the precomputed tables — same glyph-bbox preference branch,
    same text, same spans."""
    rng = random.Random(7)
    payload_v3, _, pages = fixtures.build_family_pages("font-glyph-bbox",
                                                       rng)
    # rebuild the same pages with the program-bearing font
    prog = fontfile.build_type1_program({
        name: fontfile.build_charstring_for_bbox(*map(int, bbox))
        for name, bbox in fixtures.GLYPH_FONT.glyph_bboxes.items()})
    parsed = fontfile.parse_type1(prog)
    assert parsed["glyph_bboxes"] == fixtures.GLYPH_FONT.glyph_bboxes

    v4_font = FontInfo(
        name=fixtures.GLYPH_FONT.name, ascent=fixtures.GLYPH_FONT.ascent,
        descent=fixtures.GLYPH_FONT.descent, font_program=prog)
    payload_v4 = codec.encode_payload(fixtures.FONTS + [v4_font], pages)
    assert payload_v4[4:6] == (codec.VERSION_TYPE1).to_bytes(2, "little")

    res3 = extract(payload_v3, with_spans=True)
    res4 = extract(payload_v4, with_spans=True)
    assert res4.parse_failure_code == 0
    assert res4.extracted_text == res3.extracted_text
    assert res4.extracted_text_extended == res3.extracted_text_extended
    assert [(b.page, b.rank, b.min_x, b.min_y, b.max_x, b.max_y, b.text)
            for b in res4.blocks] == \
           [(b.page, b.rank, b.min_x, b.min_y, b.max_x, b.max_y, b.text)
            for b in res3.blocks]


def test_subr_with_nd_bytes_inside_does_not_truncate():
    """Sequential RD framing: encrypted subr bytes containing b'ND' (or a
    phantom 'dup N M RD ' pattern) must not truncate or mis-frame the
    table (the reference's blob regex could; found by review)."""
    # craft a subr whose ENCRYPTED form contains b"ND" by brute-forcing
    # two trailing pad bytes in the plaintext (after op 11 `return` the
    # interpreter stops, so the pad never executes)
    base = _cs(200, 300, RLINETO) + b"\x0b"  # return
    sub0 = None
    for pad in range(65536):
        cand = base + bytes([pad >> 8, pad & 0xFF])
        if b"ND" in fontfile.encrypt(cand, 4330, 4):
            sub0 = cand
            break
    assert sub0 is not None, "could not brute-force an ND-containing subr"
    subrs = {0: sub0, 1: _cs(10, 20, RLINETO)}
    cs = _cs(0, 0, HSBW, 1, CALLSUBR)
    prog = fontfile.build_type1_program({"g": cs}, subrs=subrs)
    assert fontfile.parse_type1(prog)["glyph_bboxes"]["g"] == \
        (0.0, 0.0, 10.0, 20.0)


def test_font_without_subrs_still_parses_charstrings():
    """/Subrs is optional per the Type 1 spec: glyphs that need no subrs
    must still parse (the reference bails; we parse on — divergence only
    on fonts the reference rejects outright)."""
    glyphs = {"a": fontfile.build_charstring_for_bbox(0, 0, 300, 400)}
    prog = fontfile.build_type1_program(glyphs)
    # strip the /Subrs section from the plaintext body and re-encrypt
    header, body = prog.split(b"eexec\n", 1)
    plain = fontfile.decrypt(body, 55665, 4)
    start = plain.find(b"/Subrs")
    end = plain.find(b"ND\n", start) + 3
    stripped = plain[:start] + plain[end:]
    assert b"/Subrs" not in stripped
    prog2 = header + b"eexec\n" + fontfile.encrypt(stripped, 55665, 4)
    assert fontfile.parse_type1(prog2)["glyph_bboxes"]["a"] == \
        (0.0, 0.0, 300.0, 400.0)


def test_v4_weight_merge_and_zero_angle_variants():
    """A program without /Weight must not clobber the wire-encoded weight;
    zero italic angles in any formatting must not read as italic."""
    import re as _re

    prog = fontfile.build_type1_program(
        {"a": fontfile.build_charstring_for_bbox(0, 0, 1, 1)})
    # remove the /Weight line entirely
    header, body = prog.split(b"eexec\n", 1)
    header = _re.sub(rb"/Weight \([^)]*\) def\n", b"", header)
    prog_no_weight = header + b"eexec\n" + body
    info = fontfile.parse_type1(prog_no_weight)
    assert info["weight"] is None

    f = FontInfo(name="f", weight=700, font_program=prog_no_weight)
    payload = codec.encode_payload([f], [{
        "page_num": 1, "chars": [{
            "name": "", "text": "x", "unicodes": [120], "left_x": 10.0,
            "upper_y": 90.0, "right_x": 15.0, "lower_y": 100.0,
            "base": 100.0, "font_size": 10.0, "font": "f"}]}])
    doc, code, _ = codec.decode_payload(payload)
    assert code == 0
    assert doc.font_infos["f"].weight == 700  # wire weight preserved

    for angle_line in ("/ItalicAngle 0.0 def", "/ItalicAngle 0 def",
                      "/ItalicAngle  0 def"):
        prog_v = fontfile.build_type1_program(
            {"a": fontfile.build_charstring_for_bbox(0, 0, 1, 1)})
        hv, bv = prog_v.split(b"eexec\n", 1)
        hv = hv.replace(b"/ItalicAngle 0 def",
                        angle_line.encode("latin-1"))
        assert fontfile.parse_type1(hv + b"eexec\n" + bv)["is_italic"] \
            is False, angle_line


def test_v4_mixed_program_and_table_fonts():
    """A v4 payload mixing a font_program font with a table-only font must
    preserve the table font's glyph bboxes + matrix (review finding: they
    were silently dropped)."""
    prog = fontfile.build_type1_program(
        {"a": fontfile.build_charstring_for_bbox(0, 0, 100, 200)})
    f_prog = FontInfo(name="fp", font_program=prog)
    f_table = FontInfo(name="ft",
                       font_matrix=(0.0005, 0.0, 0.0, 0.0005, 0.0, 0.0),
                       glyph_bboxes={"z": (1.0, 2.0, 3.0, 4.0)})
    payload = codec.encode_payload([f_prog, f_table], [{
        "page_num": 1, "chars": [{
            "name": "", "text": "x", "unicodes": [120], "left_x": 10.0,
            "upper_y": 90.0, "right_x": 15.0, "lower_y": 100.0,
            "base": 100.0, "font_size": 10.0, "font": "fp"}]}])
    doc, code, _ = codec.decode_payload(payload)
    assert code == 0
    assert doc.font_infos["fp"].glyph_bboxes["a"] == (0.0, 0.0, 100.0, 200.0)
    assert doc.font_infos["ft"].glyph_bboxes == {"z": (1.0, 2.0, 3.0, 4.0)}
    assert doc.font_infos["ft"].font_matrix[0] == 0.0005


def test_type1c_cff_bytes_degrade_gracefully():
    """The reference routes fontType1C (CFF) through the SAME Type 1
    parser (ref utils/PdfFontInfoParser.cpp:161-167); applied to CFF
    bytes that parser finds no 'eexec' and extracts nothing.  Mirror the
    graceful degradation: parse_type1 on a well-formed CFF header +
    INDEX prefix returns None without raising."""
    # CFF: header (major=1 minor=0 hdrSize=4 offSize=1), Name INDEX with
    # one entry, then arbitrary binary (no 'eexec' keyword anywhere)
    cff = (b"\x01\x00\x04\x01"                 # header
           + b"\x00\x01\x01\x01\x08SynthCFF"   # Name INDEX: 1 entry
           + bytes(range(64)))                 # Top DICT INDEX stand-in
    assert b"eexec" not in cff
    assert fontfile.parse_type1(cff) is None


def test_corrupt_font_program_degrades_not_document():
    """A malformed embedded program (div-by-zero charstring, truncated
    255-number encoding, self-recursive subr) must degrade to
    parsed=None — wire font metadata kept, no glyph bboxes — instead of
    failing the WHOLE document as ERR_TRUNCATED (ADVICE r4)."""
    div_zero = _cs(0, 0, HSBW, 7, 0, DIV, 100, RLINETO)
    truncated_255 = _cs(0, 0, HSBW) + b"\xff\x00\x01"   # needs 4 bytes
    rec_subrs = {0: _cs(0, CALLSUBR)}                   # subr 0 calls itself

    bad_programs = [
        fontfile.build_type1_program({"g": div_zero}),
        fontfile.build_type1_program({"g": truncated_255}),
        fontfile.build_type1_program({"g": _cs(0, 0, HSBW, 0, CALLSUBR)},
                                     subrs=rec_subrs),
    ]
    for prog in bad_programs:
        with pytest.raises(Exception):
            fontfile.parse_type1(prog)  # the raw parser does raise
        f = FontInfo(name="f", weight=700, font_program=prog)
        payload = codec.encode_payload([f], [{
            "page_num": 1, "chars": [{
                "name": "", "text": "x", "unicodes": [120], "left_x": 10.0,
                "upper_y": 90.0, "right_x": 15.0, "lower_y": 100.0,
                "base": 100.0, "font_size": 10.0, "font": "f"}]}])
        doc, code, _ = codec.decode_payload(payload)
        assert code == 0                       # document survives
        assert doc.font_infos["f"].weight == 700  # wire metadata kept
        assert doc.font_infos["f"].glyph_bboxes is None
        assert doc.pages[0].characters[0].text == "x"


def test_fontmatrix_last_occurrence_wins():
    """The reference declares fontMatrixFound but never assigns it
    (PdfFontInfoParser.cpp:262-279), so the LAST /FontMatrix occurrence
    wins there; _parse_ascii_part mirrors that (ADVICE r4 — previously
    first-wins)."""
    info = {"font_matrix": (0.001, 0.0, 0.0, 0.001, 0.0, 0.0),
            "is_italic": False, "weight": None, "glyph_bboxes": {}}
    fontfile._parse_ascii_part(
        "/FontMatrix [0.002 0 0 0.002 0 0 ]readonly def\n"
        "/FontMatrix [0.0005 0 0 0.0005 1 2 ]readonly def\n", info)
    assert info["font_matrix"] == (0.0005, 0.0, 0.0, 0.0005, 1.0, 2.0)
