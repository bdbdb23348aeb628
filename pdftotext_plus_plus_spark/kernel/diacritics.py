"""T1 — diacritical-marks merging.

Reference: /root/reference/src/DiacriticalMarksMerging.cpp:55-215.
utf8proc's NFC composition is replaced by :func:`unicodedata.normalize`.

Runs over the page's char store (model.CharCols): merged marks go into the
``marks`` index set, each base row index gets its merged NFC text in
``merged``, and the base row's bbox is widened in place — so a base one
mark has already widened is seen widened by the next mark's overlap test.
"""

from __future__ import annotations

import unicodedata

from ..config import COMBINING_MAP, PipelineConfig
from ..model import Doc
from ..utils.elements import overlap_ratios
from ..utils.mathutils import equal, larger


def _max_x_overlap_ratio(row1, row2) -> float:
    r1, r2 = overlap_ratios(row1[0], row1[2], row2[0], row2[2])
    return r1 if r1 >= r2 else r2


def merge_diacritical_marks(doc: Doc, config: PipelineConfig) -> None:
    for page in doc.pages:
        cols = page.char_cols
        unicodes = cols.unicodes
        if unicodes is None:
            # every char is one ASCII codepoint, so no combining or
            # spacing marks (>= U+02B0) exist on the page
            continue
        rows = cols.rows
        last = len(rows) - 1
        for i, uni in enumerate(unicodes):
            # only single-codepoint chars are candidates (…cpp:96-99)
            if len(uni) != 1:
                continue
            unicode = COMBINING_MAP.get(uni[0], uni[0])
            # Spacing Modifier Letters or Combining Diacritic Marks
            is_mark = (0x02B0 <= unicode <= 0x02FF) or (0x0300 <= unicode <= 0x036F)
            if not is_mark:
                continue

            curr = rows[i]
            prev_ratio = _max_x_overlap_ratio(rows[i - 1], curr) if i > 0 else 0.0
            next_ratio = _max_x_overlap_ratio(curr, rows[i + 1]) if i < last else 0.0

            # no horizontal overlap on either side -> skip (…cpp:160-165)
            if equal(prev_ratio, 0.0) and equal(next_ratio, 0.0):
                continue

            b = i - 1 if larger(prev_ratio, next_ratio) else i + 1
            if cols.marks is None:
                cols.marks = set()
                cols.merged = {}
            cols.marks.add(i)
            merged = "".join(chr(u) for u in unicodes[b]) + chr(unicode)
            cols.merged[b] = unicodedata.normalize("NFC", merged)

            base = rows[b]
            rows[b] = (min(base[0], curr[0]), min(base[1], curr[1]),
                       max(base[2], curr[2]), max(base[3], curr[3])) + base[4:]
