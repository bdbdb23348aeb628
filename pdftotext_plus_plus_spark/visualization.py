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

What each layer draws is decided once, by :func:`walk`, as drawing
primitives in emit order; ``serialize_svg`` formats them as SVG and
``pdfviz.serialize_pdf`` as PDF content-stream operators.

The y axis needs no flip: the model is top-left-origin like SVG (the
reference flips because PDF annots are bottom-left-origin).
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Optional, Tuple

from .model import Doc, Page
from .serializers import check_units

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

# The drawing primitives a layer yields, in model coordinates (top-left
# origin); each sink formats them in its own syntax:
BOX = "box"                  # (BOX, lx, uy, rx, ly, elem_id or None)
ROLE = "role"                # (ROLE, x, y, role name)
ORDER_LINE = "order_line"    # (ORDER_LINE, x1, y1, x2, y2)
ORDER_INDEX = "order_index"  # (ORDER_INDEX, x, y, 1-based index)
CUT = "cut"                  # (CUT, x1, y1, x2, y2, chosen index or 0)


def _box(lx: float, uy: float, rx: float, ly: float,
         elem_id: Optional[str] = None) -> tuple:
    if not lx <= rx:
        lx, rx = rx, lx
    if not uy <= ly:
        uy, ly = ly, uy
    return BOX, lx, uy, rx, ly, elem_id


def walk(doc: Doc, units: Iterable[str]
         ) -> Iterator[Tuple[Page, List[Tuple[str, Iterator[tuple]]]]]:
    """(page, layers) per page, where layers holds (unit, primitives) per
    requested unit in request order.  The units are checked here, before
    anything is drawn."""
    units = check_units(units, UNIT_SCHEMES, "visualization")
    return ((page, [(unit, _layer(page, unit)) for unit in units])
            for page in doc.pages)


def _layer(page: Page, unit: str) -> Iterator[tuple]:
    """One (page, unit) layer's primitives in emit order."""
    if unit == "characters":
        # boxes straight from the store rows, no Char objects
        for row in page.char_cols.rows:
            yield _box(row[0], row[1], row[2], row[3])
    elif unit == "blocks":
        for block in page.blocks:
            yield _box(block.left_x, block.upper_y, block.right_x,
                       block.lower_y)
            # drawTextBlockSemanticRoles (…cpp:409-443): the role name at
            # the block's upper-left, 7pt
            yield ROLE, block.left_x, block.upper_y, block.role
    elif unit == "reading_order":
        # drawReadingOrder + drawReadingOrderIndexCircle (…cpp:445-548):
        # block boxes + roles are drawn by the blocks layer; this layer
        # adds the midpoint polyline and the 1-based filled index circles
        # (only for pages with >= 2 blocks, the reference's pairwise loop)
        mids = [((b.left_x + b.right_x) / 2.0, (b.upper_y + b.lower_y) / 2.0)
                for b in page.blocks]
        for i in range(1, len(mids)):
            (px, py), (cx, cy) = mids[i - 1], mids[i]
            yield ORDER_LINE, px, py, cx, cy
            yield ORDER_INDEX, px, py, i
            if i == len(mids) - 1:
                yield ORDER_INDEX, cx, cy, i + 1
    elif unit in ("segment_cuts", "reading_order_cuts"):
        # drawCuts (…cpp:547-640): every candidate; chosen cuts carry
        # their 1-based index among the chosen ones
        chosen = 0
        for cut in getattr(page, unit):
            if cut.is_chosen:
                chosen += 1
            yield (CUT, cut.x1, cut.y1, cut.x2, cut.y2,
                   chosen if cut.is_chosen else 0)
    elif unit in ("figures", "shapes", "graphics"):
        # non-text boxes carry the deterministic JSONL-parity id
        # ("{kind}-{page}-{rank}") so the string surface is
        # machine-parseable without the group nesting
        kind = unit[:-1]
        for i, el in enumerate(getattr(page, unit)):
            yield _box(el.left_x, el.upper_y, el.right_x, el.lower_y,
                       "%s-%d-%d" % (kind, page.page_num, i))
    else:
        if unit == "words":
            elements = page.words
        elif unit == "lines":
            elements = [ln for seg in page.segments for ln in seg.lines]
        else:
            elements = page.segments
        for el in elements:
            yield _box(el.left_x, el.upper_y, el.right_x, el.lower_y)


def _rgb(color: Tuple[float, float, float]) -> str:
    return "rgb(%d,%d,%d)" % tuple(round(c * 255) for c in color)


def _num(v: float) -> str:
    s = "%.1f" % v
    return s[:-2] if s.endswith(".0") else s


def serialize_svg(doc: Optional[Doc],
                  units: Iterable[str] = ALL_UNITS) -> str:
    """One SVG document per extraction result: a <g class="page-N"> group
    per page sized to the page clip box, one <g class="{unit}"> layer per
    requested unit."""
    if doc is None:
        return ""
    parts: List[str] = []
    width = height = 0.0
    for page, layers in walk(doc, units):
        width = max(width, page.clip_right_x)
        height = max(height, page.clip_lower_y)
        parts.append('<g class="page-%d">' % page.page_num)
        for unit, prims in layers:
            parts.append('<g class="%s">' % unit)
            _svg_layer(unit, prims, parts)
            parts.append("</g>")
        parts.append("</g>")
    return ('<svg xmlns="http://www.w3.org/2000/svg" width="%s" '
            'height="%s">\n%s\n</svg>\n'
            % (_num(width), _num(height), "\n".join(parts)))


def _svg_layer(unit: str, prims: Iterable[tuple], parts: List[str]) -> None:
    """One layer's primitives as SVG elements.  Cuts are width-2 lines,
    gray when not chosen; a chosen cut adds a filled secondary-color square
    at (x1, y1) with its index in white."""
    scheme = COLOR_SCHEMES[UNIT_SCHEMES[unit]]
    primary, secondary = _rgb(scheme[0]), _rgb(scheme[1])
    gray = _rgb(COLOR_SCHEMES["gray"][0])
    for kind, *args in prims:
        if kind == BOX:
            lx, uy, rx, ly, elem_id = args
            parts.append(
                '<rect class="%s"%s x="%s" y="%s" width="%s" height="%s" '
                'fill="none" stroke="%s"/>'
                % (unit, ' id="%s"' % elem_id if elem_id else "", _num(lx),
                   _num(uy), _num(rx - lx), _num(ly - uy), primary))
        elif kind == ROLE:
            x, y, role = args
            parts.append(
                '<text class="role" x="%s" y="%s" font-size="%d" '
                'fill="%s">%s</text>'
                % (_num(x), _num(y), LABEL_FONT_SIZE, primary, role))
        elif kind == ORDER_LINE:
            parts.append(
                '<line class="reading-order" x1="%s" y1="%s" x2="%s" '
                'y2="%s" stroke="%s"/>' % (*map(_num, args), primary))
        elif kind == ORDER_INDEX:
            x, y, idx = args
            parts.append(
                '<circle cx="%s" cy="%s" r="%s" fill="%s" stroke="%s"/>'
                % (_num(x), _num(y), _num(READING_ORDER_CIRCLE_RADIUS),
                   primary, primary))
            parts.append(
                '<text class="ro-index" x="%s" y="%s" font-size="%d" '
                'fill="rgb(255,255,255)" text-anchor="middle">%d</text>'
                % (_num(x), _num(y), LABEL_FONT_SIZE, idx))
        else:
            x1, y1, x2, y2, idx = args
            parts.append(
                '<line class="cut %s" x1="%s" y1="%s" x2="%s" y2="%s" '
                'stroke="%s" stroke-width="%s"/>'
                % ("chosen" if idx else "candidate", _num(x1), _num(y1),
                   _num(x2), _num(y2), primary if idx else gray,
                   _num(CUT_WIDTH)))
            if idx:
                r = CUT_SQUARE_RADIUS
                parts.append(
                    '<rect class="cut-index-box" x="%s" y="%s" width="%s" '
                    'height="%s" fill="%s" stroke="%s"/>'
                    % (_num(x1 - r), _num(y1 - r), _num(2 * r), _num(2 * r),
                       secondary, secondary))
                parts.append(
                    '<text class="cut-index" x="%s" y="%s" font-size="%d" '
                    'fill="rgb(255,255,255)" text-anchor="middle">%d</text>'
                    % (_num(x1), _num(y1), LABEL_FONT_SIZE, idx))
