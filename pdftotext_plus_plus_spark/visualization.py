"""S8 — the visualization sink, re-expressed as SVG.

The reference draws its debug visualization as PDF annotations over the
input file (PdfDocumentVisualization.cpp:93-640): square annots for
element bounding boxes per unit, free-text annots for semantic roles,
circle+line annots for the reading order, and line annots (plus indexed
squares) for the chosen/candidate XY-cuts.  A PDF writer needs Poppler;
the Spark-side equivalent of "annotated copy of the page" is a
deterministic SVG document per page — same elements, same color schemes,
same geometry — which serializes as a plain string column.

Parity map (file:line cites are into the reference):

* color schemes r/g/b/gray with primary/secondary/tertiary shades —
  PdfDocumentVisualization.h:64-96;
* unit -> scheme assignment (blocks red, everything else blue) —
  pdftotext++.cpp:725-757;
* per-unit bounding boxes — PdfDocumentVisualization.cpp:262-385;
* semantic-role labels at the block's upper-left, 7pt —
  PdfDocumentVisualization.cpp:409-443 (Config.h:750);
* reading order: line between consecutive block midpoints, filled
  index circles radius 5, white 7pt centered index text —
  PdfDocumentVisualization.cpp:445-548 (Config.h:756-759);
* cuts: width-2 line per candidate (gray when not chosen), chosen cuts
  additionally get a radius-5 filled square at (x1, y1) carrying the
  1-based chosen-cut index — PdfDocumentVisualization.cpp:547-640
  (Config.h:762-768).

The y axis needs no flip: the model is top-left-origin like SVG (the
reference flips because PDF annots are bottom-left-origin).
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Tuple

from .model import Doc, Page

# PdfDocumentVisualization.h:64-96 (AnnotColor triples per scheme)
COLOR_SCHEMES = {
    "red": ((1.0, 0.0, 0.0), (1.0, 0.5, 0.5), (1.0, 0.7, 0.7)),
    "green": ((0.0, 1.0, 0.0), (0.5, 1.0, 0.5), (0.7, 1.0, 0.7)),
    "blue": ((0.0, 0.0, 1.0), (0.5, 0.5, 1.0), (0.7, 0.7, 1.0)),
    "gray": ((0.7, 0.7, 0.7), (0.8, 0.8, 0.8), (0.9, 0.9, 0.9)),
}

# pdftotext++.cpp:725-757: --visualize-text-blocks draws red, every other
# unit blue
UNIT_SCHEMES = {
    "characters": "blue", "words": "blue", "lines": "blue",
    "blocks": "red", "page_segments": "blue", "figures": "blue",
    "shapes": "blue", "graphics": "blue", "reading_order": "blue",
    "segment_cuts": "blue", "reading_order_cuts": "blue",
}

ALL_UNITS = tuple(UNIT_SCHEMES)

READING_ORDER_CIRCLE_RADIUS = 5.0   # Config.h:756
CUT_WIDTH = 2.0                     # Config.h:762
CUT_SQUARE_RADIUS = 5.0             # Config.h:768
LABEL_FONT_SIZE = 7                 # Config.h:750/759/765 ("/Helv 7 Tf")


def _rgb(color: Tuple[float, float, float]) -> str:
    return "rgb(%d,%d,%d)" % tuple(round(c * 255) for c in color)


def _num(v: float) -> str:
    s = "%.1f" % v
    return s[:-2] if s.endswith(".0") else s


def _rect(el, color: str, unit: str, out: List[str],
          elem_id: str = "") -> None:
    _rect_box(el.left_x, el.upper_y, el.right_x, el.lower_y, color, unit,
              out, elem_id)


def _rect_box(lx: float, uy: float, rx: float, ly: float, color: str,
              unit: str, out: List[str], elem_id: str = "") -> None:
    if not lx <= rx:
        lx, rx = rx, lx
    if not uy <= ly:
        uy, ly = ly, uy
    out.append(
        '<rect class="%s"%s x="%s" y="%s" width="%s" height="%s" '
        'fill="none" stroke="%s"/>'
        % (unit, ' id="%s"' % elem_id if elem_id else "", _num(lx),
           _num(uy), _num(rx - lx), _num(ly - uy), color))


def _page_elements(page: Page, unit: str):
    if unit == "words":
        return page.words
    if unit == "lines":
        return [ln for seg in page.segments for ln in seg.lines]
    if unit == "blocks":
        return page.blocks
    if unit == "page_segments":
        return page.segments
    if unit == "figures":
        return page.figures
    if unit == "shapes":
        return page.shapes
    if unit == "graphics":
        return page.graphics
    raise ValueError(unit)


def serialize_svg(doc: Optional[Doc],
                  units: Iterable[str] = ALL_UNITS) -> str:
    """One SVG document per extraction result: a <g class="page-N"> group
    per page sized to the page clip box, one <g class="{unit}"> layer per
    requested unit."""
    if doc is None:
        return ""
    parts: List[str] = []
    units = tuple(units)
    for u in units:
        if u not in UNIT_SCHEMES:
            raise ValueError("unknown visualization unit: %r" % u)
    width = height = 0.0
    for page in doc.pages:
        width = max(width, page.clip_right_x)
        height = max(height, page.clip_lower_y)
        parts.append('<g class="page-%d">' % page.page_num)
        for unit in units:
            scheme = COLOR_SCHEMES[UNIT_SCHEMES[unit]]
            primary = _rgb(scheme[0])
            parts.append('<g class="%s">' % unit)
            if unit == "characters":
                # rects straight from the store rows, no Char objects
                for row in page.char_cols.rows:
                    _rect_box(row[0], row[1], row[2], row[3], primary,
                              "characters", parts)
            elif unit == "blocks":
                for block in page.blocks:
                    _rect(block, primary, "blocks", parts)
                    # drawTextBlockSemanticRoles (…cpp:409-443): the role
                    # name at the block's upper-left, 7pt
                    parts.append(
                        '<text class="role" x="%s" y="%s" '
                        'font-size="%d" fill="%s">%s</text>'
                        % (_num(block.left_x), _num(block.upper_y),
                           LABEL_FONT_SIZE, primary, block.role))
            elif unit == "reading_order":
                _reading_order_svg(page, scheme, parts)
            elif unit in ("segment_cuts", "reading_order_cuts"):
                cuts = (page.segment_cuts if unit == "segment_cuts"
                        else page.reading_order_cuts)
                _cuts_svg(cuts, scheme, parts)
            elif unit in ("figures", "shapes", "graphics"):
                # non-text rects carry the deterministic JSONL-parity id
                # ("{kind}-{page}-{rank}") so the string surface is
                # machine-parseable without the group nesting
                kind = unit[:-1]
                for i, el in enumerate(_page_elements(page, unit)):
                    _rect(el, primary, unit, parts,
                          "%s-%d-%d" % (kind, page.page_num, i))
            else:
                for el in _page_elements(page, unit):
                    _rect(el, primary, unit, parts)
            parts.append("</g>")
        parts.append("</g>")
    return ('<svg xmlns="http://www.w3.org/2000/svg" width="%s" '
            'height="%s">\n%s\n</svg>\n'
            % (_num(width), _num(height), "\n".join(parts)))


def _reading_order_svg(page: Page, scheme, parts: List[str]) -> None:
    """drawReadingOrder + drawReadingOrderIndexCircle (…cpp:445-548):
    block boxes + roles are drawn by the blocks layer; this layer adds the
    midpoint polyline and the 1-based filled index circles (only for
    pages with >= 2 blocks, matching the reference's pairwise loop)."""
    primary = _rgb(scheme[0])
    blocks = page.blocks
    mids = [((b.left_x + b.right_x) / 2.0, (b.upper_y + b.lower_y) / 2.0)
            for b in blocks]
    for i in range(1, len(blocks)):
        (px, py), (cx, cy) = mids[i - 1], mids[i]
        parts.append(
            '<line class="reading-order" x1="%s" y1="%s" x2="%s" y2="%s" '
            'stroke="%s"/>' % (_num(px), _num(py), _num(cx), _num(cy),
                               primary))
        _index_circle(px, py, i, primary, parts)
        if i == len(blocks) - 1:
            _index_circle(cx, cy, i + 1, primary, parts)


def _index_circle(x: float, y: float, idx: int, color: str,
                  parts: List[str]) -> None:
    parts.append(
        '<circle cx="%s" cy="%s" r="%s" fill="%s" stroke="%s"/>'
        % (_num(x), _num(y), _num(READING_ORDER_CIRCLE_RADIUS), color,
           color))
    parts.append(
        '<text class="ro-index" x="%s" y="%s" font-size="%d" '
        'fill="rgb(255,255,255)" text-anchor="middle">%d</text>'
        % (_num(x), _num(y), LABEL_FONT_SIZE, idx))


def _cuts_svg(cuts, scheme, parts: List[str]) -> None:
    """drawCuts (…cpp:547-640): every candidate as a width-2 line (gray
    when not chosen); chosen cuts get a filled secondary-color square at
    (x1, y1) with the 1-based chosen index in white."""
    gray = _rgb(COLOR_SCHEMES["gray"][0])
    primary = _rgb(scheme[0])
    secondary = _rgb(scheme[1])
    chosen_idx = 0
    for cut in cuts:
        color = primary if cut.is_chosen else gray
        parts.append(
            '<line class="cut %s" x1="%s" y1="%s" x2="%s" y2="%s" '
            'stroke="%s" stroke-width="%s"/>'
            % ("chosen" if cut.is_chosen else "candidate",
               _num(cut.x1), _num(cut.y1), _num(cut.x2), _num(cut.y2),
               color, _num(CUT_WIDTH)))
        if cut.is_chosen:
            chosen_idx += 1
            r = CUT_SQUARE_RADIUS
            parts.append(
                '<rect class="cut-index-box" x="%s" y="%s" width="%s" '
                'height="%s" fill="%s" stroke="%s"/>'
                % (_num(cut.x1 - r), _num(cut.y1 - r), _num(2 * r),
                   _num(2 * r), secondary, secondary))
            parts.append(
                '<text class="cut-index" x="%s" y="%s" font-size="%d" '
                'fill="rgb(255,255,255)" text-anchor="middle">%d</text>'
                % (_num(cut.x1), _num(cut.y1), LABEL_FONT_SIZE,
                   chosen_idx))
