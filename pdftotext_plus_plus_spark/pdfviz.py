"""S8 — the visualization sink in the reference's OWN artifact form: an
annotated PDF.

The reference draws its debug visualization as annotations over a copy of
the input PDF (PdfDocumentVisualization.cpp:93-640).  ``visualization.py``
re-expresses those layers as SVG (the Spark-native string surface);  this
module closes the remaining FORMAT divergence: a from-scratch, pure-bytes
PDF writer (no Poppler, no external libs) that draws the identical layers
— unit bounding boxes, semantic-role labels, reading-order polyline +
index circles, chosen/candidate cuts — as page CONTENT STREAMS of a
minimal valid PDF 1.4 file.

Geometry parity with the reference's annotation emitter:

* y axis: PDF is bottom-left-origin; every y is flipped as
  ``pageHeight - y`` exactly like the reference does per annotation
  (PdfDocumentVisualization.cpp:354-361, :419, :458-465, :559);
* colors: the same scheme triples (PdfDocumentVisualization.h:64-96) via
  ``visualization.COLOR_SCHEMES`` / ``UNIT_SCHEMES``;
* role labels at the block's upper-left in 7pt Helvetica
  (…cpp:409-443, Config.h:750 — the reference's DA string is
  "/Helv 7 Tf");
* reading order: midpoint-to-midpoint lines + radius-5 filled index
  circles with white centered indices (…cpp:445-548, Config.h:756-759);
* cuts: width-2 lines, gray when not chosen; chosen cuts get a radius-5
  filled square at (x1, y1) with the 1-based chosen index
  (…cpp:547-640, Config.h:762-768).

The layers and their primitives come from ``visualization.walk``, the
walk the SVG sink formats too; this module only adds the y flip and the
color and line-width operators.

Each unit layer is bracketed in REAL PDF marked content
(``/Unit <</Name (blocks) /Page 1>> BDC … EMC``), and figure/shape rects
carry their deterministic JSONL-parity id in an ``/Elem`` marked-content
dict — so the artifact is machine-parseable from the raw bytes without a
PDF library (streams are deliberately uncompressed: this is a debug sink,
exactly as in the reference, which has no golden output for it either).

Content streams are pure ASCII; the serialized file is returned as a
string column (one PDF per document) so the Spark surface can regex it
directly — same pattern as the SVG sink.
"""

from __future__ import annotations

from typing import Iterable, List, Optional

from .model import Doc
from .visualization import (ALL_UNITS, BOX, COLOR_SCHEMES, CUT_SQUARE_RADIUS,
                            CUT_WIDTH, LABEL_FONT_SIZE, ORDER_INDEX,
                            ORDER_LINE, READING_ORDER_CIRCLE_RADIUS, ROLE,
                            UNIT_SCHEMES, _num, walk)

# Bezier circle constant: 4 cubic arcs with control distance k*r
_BEZIER_K = 0.5523

_WHITE = (1.0, 1.0, 1.0)


def _rgb_ops(color, stroke: bool) -> str:
    op = "RG" if stroke else "rg"
    return "%s %s %s %s" % (_num(color[0]), _num(color[1]),
                            _num(color[2]), op)


def _esc(text: str) -> str:
    return (text.replace("\\", r"\\").replace("(", r"\(")
            .replace(")", r"\)"))


def _text_ops(x, y, size: int, text: str, out: List[str],
              centered: bool = False) -> None:
    """7pt Helvetica label at (x, y) in PDF coords.  ``centered``
    approximates text-anchor=middle with the deterministic Helvetica-ish
    advance 0.6*size per char (documented: this sink's own convention —
    the reference delegates centering to the viewer's FreeText layout)."""
    if centered:
        x = x - 0.3 * size * len(text)
    out.append("BT /F1 %d Tf %s %s Td (%s) Tj ET"
               % (size, _num(x), _num(y), _esc(text)))


def _circle_ops(cx, cy, r, out: List[str]) -> None:
    k = _BEZIER_K * r
    out.append("%s %s m" % (_num(cx + r), _num(cy)))
    for (x1, y1, x2, y2, x3, y3) in (
            (cx + r, cy + k, cx + k, cy + r, cx, cy + r),
            (cx - k, cy + r, cx - r, cy + k, cx - r, cy),
            (cx - r, cy - k, cx - k, cy - r, cx, cy - r),
            (cx + k, cy - r, cx + r, cy - k, cx + r, cy)):
        out.append("%s %s %s %s %s %s c"
                   % (_num(x1), _num(y1), _num(x2), _num(y2),
                      _num(x3), _num(y3)))
    out.append("f")


def _page_stream(page_num: int, layers, height: float) -> str:
    """One page's content stream: a BDC/EMC-bracketed group per unit, each
    y flipped to ``height - y`` (the y flip the reference applies per
    annot)."""
    ops: List[str] = []
    for unit, prims in layers:
        scheme = COLOR_SCHEMES[UNIT_SCHEMES[unit]]
        ops.append("/Unit <</Name (%s) /Page %d>> BDC" % (unit, page_num))
        ops.append("1 w")
        ops.append(_rgb_ops(scheme[0], stroke=True))
        if unit == "blocks":
            ops.append(_rgb_ops(scheme[0], stroke=False))  # role labels
        is_cuts = unit.endswith("_cuts")
        if is_cuts:
            ops.append("%s w" % _num(CUT_WIDTH))
        for kind, *args in prims:
            if kind == BOX:
                lx, uy, rx, ly, elem_id = args
                if elem_id is not None:
                    ops.append("/Elem <</Id (%s)>> BDC" % _esc(elem_id))
                ops.append("%s %s %s %s re S"
                           % (_num(lx), _num(height - ly), _num(rx - lx),
                              _num(ly - uy)))
                if elem_id is not None:
                    ops.append("EMC")
            elif kind == ROLE:
                # drawTextBlockSemanticRoles (…cpp:409-443): label rect
                # lowerY = pageHeight - block.upperY (above the block top)
                x, y, role = args
                _text_ops(x, height - y, LABEL_FONT_SIZE, role, ops)
            elif kind == ORDER_LINE:
                px, py, cx, cy = args
                ops.append(_rgb_ops(scheme[0], stroke=True))
                ops.append("%s %s m %s %s l S" % (
                    _num(px), _num(height - py), _num(cx), _num(height - cy)))
            elif kind == ORDER_INDEX:
                x, y, idx = args
                ops.append(_rgb_ops(scheme[0], stroke=False))
                _circle_ops(x, height - y, READING_ORDER_CIRCLE_RADIUS, ops)
                ops.append(_rgb_ops(_WHITE, stroke=False))
                _text_ops(x, height - y, LABEL_FONT_SIZE, str(idx), ops,
                          centered=True)
            else:
                x1, y1, x2, y2, idx = args
                y1, y2 = height - y1, height - y2
                ops.append(_rgb_ops(
                    scheme[0] if idx else COLOR_SCHEMES["gray"][0],
                    stroke=True))
                ops.append("%s %s m %s %s l S"
                           % (_num(x1), _num(y1), _num(x2), _num(y2)))
                if idx:
                    r = CUT_SQUARE_RADIUS
                    ops.append(_rgb_ops(scheme[1], stroke=False))
                    ops.append("%s %s %s %s re f"
                               % (_num(x1 - r), _num(y1 - r), _num(2 * r),
                                  _num(2 * r)))
                    ops.append(_rgb_ops(_WHITE, stroke=False))
                    _text_ops(x1, y1, LABEL_FONT_SIZE, str(idx), ops,
                              centered=True)
        if is_cuts:
            ops.append("1 w")
        ops.append("EMC")
    return "\n".join(ops)


def serialize_pdf(doc: Optional[Doc],
                  units: Iterable[str] = ALL_UNITS) -> str:
    """One annotated PDF per extraction result (ASCII, uncompressed
    streams, correct xref), returned as a string column.

    Pages are sized to each page's clip box (MediaBox [0 0 W H]); the
    drawing uses the same H for its y flips, so round-tripping a rect
    through the PDF reproduces the model geometry at %.1f precision."""
    if doc is None:
        return ""
    pages = walk(doc, units)
    objects: List[str] = []   # 1-indexed body objects, in object order

    n_pages = len(doc.pages)
    # object layout: 1 catalog, 2 pages, 3 font, then per page i:
    # (4 + 2i) page dict, (5 + 2i) its content stream
    objects.append("<</Type /Catalog /Pages 2 0 R>>")
    kids = " ".join("%d 0 R" % (4 + 2 * i) for i in range(n_pages))
    objects.append("<</Type /Pages /Kids [%s] /Count %d>>"
                   % (kids, n_pages))
    objects.append("<</Type /Font /Subtype /Type1 /BaseFont /Helvetica>>")
    for i, (page, layers) in enumerate(pages):
        width, height = page.clip_right_x, page.clip_lower_y
        stream = _page_stream(page.page_num, layers, height)
        objects.append(
            "<</Type /Page /Parent 2 0 R /MediaBox [0 0 %s %s] "
            "/Resources <</Font <</F1 3 0 R>>>> /Contents %d 0 R>>"
            % (_num(width), _num(height), 5 + 2 * i))
        objects.append("<</Length %d>>\nstream\n%s\nendstream"
                       % (len(stream), stream))

    out = ["%PDF-1.4"]
    offsets = [0]                       # object 0: the free head
    pos = len(out[0]) + 1
    for num, body in enumerate(objects, start=1):
        offsets.append(pos)
        obj = "%d 0 obj\n%s\nendobj" % (num, body)
        out.append(obj)
        pos += len(obj) + 1
    xref_pos = pos
    xref = ["xref", "0 %d" % (len(objects) + 1),
            "0000000000 65535 f "]
    xref += ["%010d 00000 n " % off for off in offsets[1:]]
    out.append("\n".join(xref))
    out.append("trailer\n<</Size %d /Root 1 0 R>>\nstartxref\n%d\n%%%%EOF"
               % (len(objects) + 1, xref_pos))
    return "\n".join(out) + "\n"
