"""Payload codec: decode semantics (charMap, ligatures, whitespace
suppression) and failure codes."""

from pdftotext_plus_plus_spark import codec
from pdftotext_plus_plus_spark.codec import decode_payload, encode_payload
from pdftotext_plus_plus_spark.model import FontInfo

FONT = FontInfo(name="f0", weight=400)


def _char(text, x, name="", unicodes=None, base=100.0, fs=10.0):
    return {"name": name, "text": text,
            "unicodes": unicodes if unicodes is not None
            else [ord(c) for c in text],
            "left_x": x, "upper_y": base - 7.0, "right_x": x + 5.0,
            "lower_y": base, "base": base, "font_size": fs, "rotation": 0,
            "w_mode": 0, "font": "f0"}


def _payload(chars, **page_kw):
    page = {"page_num": 1, "chars": chars}
    page.update(page_kw)
    return encode_payload([FONT], [page])


def test_roundtrip_basic():
    doc, code, _ = decode_payload(_payload([_char("a", 0.0), _char("b", 5.0)]))
    assert code == codec.OK
    assert len(doc.pages) == 1
    chars = doc.pages[0].characters
    assert [c.text for c in chars] == ["a", "b"]
    assert chars[0].left_x == 0.0 and chars[0].right_x == 5.0
    assert chars[0].font_name == "f0"
    assert chars[0].rank == 0 and chars[1].rank == 1


def test_charmap_fallback():
    """The charMap OVERRIDES a single provided unicode when the glyph name
    is mapped (PdfParsing.cpp:206-208: uLen == 1 && charMap.count(name))."""
    doc, code, _ = decode_payload(_payload(
        [_char("", 0.0, name="summationdisplay", unicodes=[0x3F])]))
    assert code == codec.OK
    assert doc.pages[0].characters[0].text == "∑"
    # ... also when the single unicode arrives as explicit text
    doc, _, _ = decode_payload(_payload(
        [_char("?", 0.0, name="epsilon1", unicodes=[])]))
    assert doc.pages[0].characters[0].text == "ε"
    # uLen > 1: the map does NOT apply (ligature path wins)
    doc, _, _ = decode_payload(_payload(
        [_char("", 0.0, name="epsilon1", unicodes=[0x66, 0x69])]))
    assert doc.pages[0].characters[0].text == "fi"


def test_charmap_override_sets_map_codepoint():
    """When the map wins, unicodes[0] is the MAP's codepoint, not the
    provided one (PdfParsing.cpp:207: unicodes.push_back(map.first)) —
    unicodes[0] drives diacritic merging, so the stored value matters."""
    doc, _, _ = decode_payload(_payload(
        [_char("", 0.0, name="summationdisplay", unicodes=[0x3F])]))
    assert doc.pages[0].characters[0].unicodes == [0x2211]
    # single unicode arriving as explicit text: same override
    doc, _, _ = decode_payload(_payload(
        [_char("?", 0.0, name="epsilon1", unicodes=[])]))
    assert doc.pages[0].characters[0].unicodes == [0x03B5]
    # multi-char map text still stores the map's single codepoint
    doc, _, _ = decode_payload(_payload(
        [_char("", 0.0, name="thumbs_up", unicodes=[0x3F])]))
    ch = doc.pages[0].characters[0]
    assert ch.text == "ὄ" + "D" and ch.unicodes == [0x1F44D]
    # unmapped name: provided unicodes pass through unchanged
    doc, _, _ = decode_payload(_payload(
        [_char("", 0.0, name="nosuchglyph", unicodes=[0x41])]))
    assert doc.pages[0].characters[0].unicodes == [0x41]


def test_charmap_full_table():
    """All 134 reference entries carried; multi-char thumbs text replicates
    the reference's 4-hex C++ literal ("\\u1F44" + 'E')."""
    from pdftotext_plus_plus_spark.charmap import CHAR_MAP

    # 134 reference rows, one duplicate name (summationdisplay, lines 33+150)
    assert len(CHAR_MAP) == 133
    assert CHAR_MAP["epsilon1"] == (0x03B5, "ε")
    assert CHAR_MAP["parenleftbig"] == (0x0028, "(")
    assert CHAR_MAP["thumbs_up"] == (0x1F44D, "ὄ" + "D")
    assert CHAR_MAP["thumbs_down"] == (0x1F44E, "ὄ" + "E")
    assert CHAR_MAP["question_sign"] == (0x003F, "?")


def test_ligature_expansion():
    doc, code, _ = decode_payload(_payload(
        [_char("", 0.0, name="ffi-lig", unicodes=[0x66, 0x66, 0x69])]))
    assert doc.pages[0].characters[0].text == "ffi"
    assert doc.pages[0].characters[0].unicodes == [0x66, 0x66, 0x69]


def test_whitespace_suppression():
    # space, tab, NBSP are dropped at decode (PdfParsing.cpp:229-245)
    doc, code, _ = decode_payload(_payload(
        [_char(" ", 0.0), _char("\t", 5.0), _char(" ", 10.0),
         _char("x", 15.0)]))
    assert [c.text for c in doc.pages[0].characters] == ["x"]
    assert doc.pages[0].characters[0].rank == 0


def test_failure_codes():
    assert decode_payload(None)[:2] == (None, codec.ERR_EMPTY)
    assert decode_payload(b"")[:2] == (None, codec.ERR_EMPTY)
    assert decode_payload(b"NOPE1234")[:2] == (None, codec.ERR_MAGIC)
    truncated = _payload([_char("a", 0.0)])[:-10]
    assert decode_payload(truncated)[:2] == (None, codec.ERR_TRUNCATED)


def test_non_text_elements():
    doc, code, _ = decode_payload(_payload(
        [_char("a", 0.0)],
        figures=[(0.0, 0.0, 100.0, 50.0)],
        shapes=[(10.0, 10.0, 20.0, 20.0), (30.0, 10.0, 40.0, 20.0)]))
    page = doc.pages[0]
    assert len(page.figures) == 1 and page.figures[0].kind == "figure"
    assert len(page.shapes) == 2
    assert page.figures[0].right_x == 100.0


def test_glyph_bbox_preference_v3():
    """S4 deep path (PdfParsing.cpp:423-455): a glyph bbox measured through
    fontMatrix then the char's trm replaces the position-derived bbox when
    vertically larger (base moves to the alt lowerY); otherwise the
    provided bbox stands.  v3 payloads only; fonts without glyph tables
    keep the v2 wire format."""
    from pdftotext_plus_plus_spark.codec import VERSION_GLYPH_BBOX

    gfont = FontInfo(name="g0", weight=400,
                     font_matrix=(0.001, 0.0, 0.0, 0.001, 0.0, 0.0),
                     glyph_bboxes={"tall": (0.0, 0.0, 500.0, 750.0),
                                   "short": (0.0, 0.0, 500.0, 650.0)})

    def gchar(name, x):
        c = _char("a", x)
        c["name"] = name
        c["font"] = "g0"
        c["trm"] = (10.0, 0.0, 0.0, -10.0, x, 100.0)
        return c

    payload = encode_payload([FONT, gfont], [{
        "page_num": 1, "chars": [gchar("tall", 0.0), gchar("short", 20.0),
                                 _char("b", 40.0)]}])
    # v3 wire version on the payload
    assert payload[4:6] == VERSION_GLYPH_BBOX.to_bytes(2, "little")
    doc, code, _ = decode_payload(payload)
    assert code == codec.OK
    tall, short, plain = doc.pages[0].characters
    # branch TAKEN: alt = (0, 92.5, 5, 100), base -> alt lowerY
    assert (tall.left_x, tall.upper_y, tall.right_x, tall.lower_y) \
        == (0.0, 92.5, 5.0, 100.0)
    assert tall.base == 100.0
    # branch NOT taken (alt upper 93.5 is not smaller, lower not larger)
    assert (short.left_x, short.upper_y, short.right_x, short.lower_y) \
        == (20.0, 93.0, 25.0, 100.0)
    # chars without a glyph-table font are untouched
    assert (plain.left_x, plain.upper_y) == (40.0, 93.0)
    # the glyph table round-trips on the decoded FontInfo
    assert doc.font_infos["g0"].glyph_bboxes["tall"] == (0.0, 0.0, 500.0, 750.0)


def test_v2_wire_format_unchanged_without_glyph_tables():
    """Fonts without glyph bboxes must keep emitting VERSION 2 bytes —
    every pre-v3 corpus and golden stays byte-identical."""
    payload = _payload([_char("a", 0.0)])
    assert payload[4:6] == (2).to_bytes(2, "little")


def test_columnar_rows_semantics_upright_and_rotated():
    """The columnar fast path builds CharCols.rows by zipping per-column
    conversions (the rotation/w_mode columns of an all-upright page are
    shared constants, and fsizes/bases alias the row columns).  Pin the
    row tuple layout (l, u, r, low, rot, wmode, fs, base) and its parity
    with the lazily materialized Char objects on BOTH branches."""
    # all-upright page: every rotation/w_mode is 0
    up = [_char("a", 0.0, unicodes=[]), _char("b", 5.0, unicodes=[])]
    doc, code, _ = decode_payload(_payload(up))
    assert code == codec.OK
    cols = doc.pages[0].char_cols
    assert cols is not None and cols.all_upright
    assert cols.rows[0] == (0.0, 93.0, 5.0, 100.0, 0.0, 0.0, 10.0, 100.0)
    assert cols.rows[1][0] == 5.0 and cols.rows[1][2] == 10.0
    # fsizes/bases columns are exactly the row fields
    assert [r[6] for r in cols.rows] == cols.fsizes
    assert [r[7] for r in cols.rows] == cols.bases
    # parity with the materialized object representation
    for row, ch in zip(cols.rows, doc.pages[0].characters):
        assert (row[0], row[1], row[2], row[3]) == \
            (ch.left_x, ch.upper_y, ch.right_x, ch.lower_y)
        assert (int(row[4]), int(row[5])) == (ch.rotation, ch.w_mode)
        assert (row[6], row[7]) == (ch.font_size, ch.base)

    # rotated char present: the non-upright branch carries the real
    # rotation/w_mode column values
    rot = [_char("a", 0.0, unicodes=[]), _char("b", 5.0, unicodes=[])]
    rot[1]["rotation"] = 2
    rot[1]["w_mode"] = 1
    doc, code, _ = decode_payload(_payload(rot))
    assert code == codec.OK
    cols = doc.pages[0].char_cols
    assert cols is not None and not cols.all_upright
    assert (cols.rows[0][4], cols.rows[0][5]) == (0.0, 0.0)
    assert (cols.rows[1][4], cols.rows[1][5]) == (2.0, 1.0)
    chars = doc.pages[0].characters
    assert (chars[1].rotation, chars[1].w_mode) == (2, 1)


def test_every_page_has_one_char_store(monkeypatch):
    """Every decoded page of every fixture family and the jumbo doc holds
    its chars in one CharCols store, and a full extraction without the
    JSONL characters unit builds no Char object."""
    import random

    from pdftotext_plus_plus_spark import fixtures, model, pipeline
    from pdftotext_plus_plus_spark.visualization import ALL_UNITS

    builders = dict(fixtures.FAMILY_BUILDERS, jumbo=fixtures.build_jumbo)
    assert len(builders) == 25
    payloads = [builders[f](random.Random(1))[0] for f in sorted(builders)]
    for payload in payloads:
        doc, code, _ = decode_payload(payload)
        assert code == codec.OK
        for page in doc.pages:
            cols = page.char_cols
            assert isinstance(cols, model.CharCols)
            assert page.n_chars == len(cols.texts) == len(cols.font_names)

    def no_chars(self, indices):
        raise AssertionError("Char materialized")

    monkeypatch.setattr(model.CharCols, "materialize", no_chars)
    for payload in payloads:
        res = pipeline.extract(
            payload, jsonl_units=("pages", "blocks", "words", "figures",
                                  "shapes"),
            svg_units=ALL_UNITS, pdf_units=ALL_UNITS)
        assert res.parse_failure_code == codec.OK
