"""S8 visualization sink: SVG geometry, color schemes, reading order,
cut layers (ref PdfDocumentVisualization.cpp:93-640)."""

import random
import re

import pytest

from pdftotext_plus_plus_spark import fixtures, visualization
from pdftotext_plus_plus_spark.pipeline import extract

RECT_RX = re.compile(
    r'<rect class="(?P<cls>[\w-]+)"(?: id="(?P<id>[\w-]+)")? x="(?P<x>[-\d.]+)"'
    r' y="(?P<y>[-\d.]+)" width="(?P<w>[-\d.]+)" height="(?P<h>[-\d.]+)"')


def _doc_for(family: str, seed: int = 0):
    rng = random.Random(seed)
    payload, _, pages = fixtures.build_family_pages(family, rng)
    res = extract(payload, keep_doc=True)
    assert res.parse_failure_code == 0
    return res.doc, pages


def test_svg_figure_shape_geometry_and_ids():
    """figure/shape rects carry the construction-time bboxes and the
    deterministic JSONL-parity ids."""
    doc, pages = _doc_for("figures")
    svg = visualization.serialize_svg(doc, units=("figures", "shapes"))
    rects = {m.group("id"): m for m in RECT_RX.finditer(svg) if m.group("id")}
    for page in pages:
        for kind_key, kind in (("figures", "figure"), ("shapes", "shape")):
            for j, (lx, uy, rx, ly) in enumerate(page.get(kind_key, [])):
                m = rects.pop("%s-%d-%d" % (kind, page["page_num"], j))
                assert float(m.group("x")) == pytest.approx(lx)
                assert float(m.group("y")) == pytest.approx(uy)
                assert float(m.group("w")) == pytest.approx(rx - lx)
                assert float(m.group("h")) == pytest.approx(ly - uy)
    assert not rects  # no extra figure/shape rects


def test_svg_unit_layers_and_schemes():
    """Every requested unit renders its own <g> layer; blocks are red,
    other units blue (pdftotext++.cpp:725-757); role labels present."""
    doc, _ = _doc_for("headings")
    svg = visualization.serialize_svg(doc)
    for unit in visualization.ALL_UNITS:
        assert '<g class="%s">' % unit in svg
    blocks = re.findall(r'<rect class="blocks"[^>]*stroke="([^"]+)"', svg)
    assert blocks and set(blocks) == {"rgb(255,0,0)"}
    words = re.findall(r'<rect class="words"[^>]*stroke="([^"]+)"', svg)
    assert words and set(words) == {"rgb(0,0,255)"}
    roles = re.findall(r'<text class="role"[^>]*>([\w-]+)</text>', svg)
    assert len(roles) == sum(len(p.blocks) for p in doc.pages)
    assert set(roles) <= {"paragraph", "title", "heading", "author-info",
                          "footnote", "caption", "abstract", "other"}


def test_svg_reading_order_indices():
    """n blocks -> n index circles labeled 1..n and n-1 midpoint lines
    (the reference's pairwise loop draws nothing for single-block pages)."""
    doc, _ = _doc_for("two-col")
    svg = visualization.serialize_svg(doc, units=("reading_order",))
    for page in doc.pages:
        n = len(page.blocks)
        assert n >= 2  # two-col fixture has several blocks
    idxs = [int(t) for t in
            re.findall(r'<text class="ro-index"[^>]*>(\d+)</text>', svg)]
    n_blocks = sum(len(p.blocks) for p in doc.pages)
    assert idxs == list(range(1, n_blocks + 1))
    n_lines = len(re.findall(r'<line class="reading-order"', svg))
    assert n_lines == n_blocks - len(doc.pages)


def test_svg_cut_layers():
    """two-col pages record segmentation cuts; the chosen column cut shows
    as a primary-color line plus an indexed square, candidates as gray."""
    doc, _ = _doc_for("two-col")
    page = doc.pages[0]
    assert page.segment_cuts  # recorded by segmentation (Types.h:1049)
    assert any(c.is_chosen for c in page.segment_cuts)
    svg = visualization.serialize_svg(doc, units=("segment_cuts",))
    chosen = re.findall(r'<line class="cut chosen"[^>]*stroke="([^"]+)"', svg)
    assert chosen and set(chosen) == {"rgb(0,0,255)"}
    n_chosen = sum(1 for c in page.segment_cuts if c.is_chosen)
    idxs = [int(t) for t in
            re.findall(r'<text class="cut-index"[^>]*>(\d+)</text>', svg)]
    assert idxs[:n_chosen] == list(range(1, n_chosen + 1))
    boxes = re.findall(r'<rect class="cut-index-box"[^>]*fill="([^"]+)"', svg)
    assert boxes and set(boxes) == {"rgb(128,128,255)"}  # secondary shade


def test_svg_reading_order_cuts_recorded():
    doc, _ = _doc_for("two-col")
    assert any(p.reading_order_cuts for p in doc.pages)
    svg = visualization.serialize_svg(doc, units=("reading_order_cuts",))
    assert '<line class="cut' in svg


def test_svg_deterministic_and_char_parity():
    """Same payload -> byte-identical SVG; the characters layer matches the
    Char objects materialized from the page's store, on a page without
    glyph names (plain-1col) and one with them (rotated)."""
    for family in ("plain-1col", "rotated"):
        doc1, _ = _doc_for(family, seed=3)
        doc2, _ = _doc_for(family, seed=3)
        svg1 = visualization.serialize_svg(doc1)
        assert svg1 == visualization.serialize_svg(doc2)
        page = doc1.pages[0]
        assert (page.char_cols.names is None) == (family == "plain-1col")
        n_rects = len(re.findall(r'<rect class="characters"', svg1))
        assert n_rects == sum(p.n_chars for p in doc1.pages)
        # geometry parity with the object representation, every char
        layer = svg1.split('<g class="characters">')[1].split("</g>")[0]
        rects = list(RECT_RX.finditer(layer))
        chars = page.characters
        assert len(rects) == len(chars) == page.n_chars
        for m, ch in zip(rects, chars):
            assert float(m.group("x")) == \
                pytest.approx(min(ch.left_x, ch.right_x))
            assert float(m.group("y")) == \
                pytest.approx(min(ch.upper_y, ch.lower_y))
            assert float(m.group("w")) == \
                pytest.approx(abs(ch.right_x - ch.left_x))


def test_svg_unknown_unit_and_empty_doc():
    doc, _ = _doc_for("plain-1col")
    with pytest.raises(ValueError):
        visualization.serialize_svg(doc, units=("nonsense",))
    assert visualization.serialize_svg(None) == ""
