"""T10 — sub/superscript detection + line base-bbox accumulation.

Reference: /root/reference/src/SubSuperScriptsDetection.cpp:48-104.

Operates on the per-word char geometry columns (``Word.char_rows``, sliced
once from the page's char store at word materialization).  Flags are
per-word index sets
(``Word.char_sup`` / ``char_sub``; None = no script chars, the common
case), read by the block label rules (kernel/blocks.py).
"""

from __future__ import annotations

from ..config import PipelineConfig
from ..model import Doc


def detect_sub_super_scripts(doc: Doc, config: PipelineConfig) -> None:
    fs_cutoff = doc.most_freq_font_size - config.script_fs_equal_tolerance
    base_tol = config.script_base_equal_tolerance
    for page in doc.pages:
        for segment in page.segments:
            for line in segment.lines:
                line_base = line.base
                sup_cut = line_base - base_tol
                sub_cut = line_base + base_tol
                # base bbox accumulated in locals (4 attribute reads per
                # char otherwise), written back once per line
                bb_l = line.base_bbox_left_x
                bb_u = line.base_bbox_upper_y
                bb_r = line.base_bbox_right_x
                bb_o = line.base_bbox_lower_y
                for word in line.words:
                    # fast path: no char is smaller than the cutoff -> no
                    # script candidates, and accumulating every char's bbox
                    # equals accumulating the word bbox (word bboxes ARE
                    # the per-char extrema, computed by reduceat)
                    if min(word.char_font_sizes) >= fs_cutoff:
                        if word.left_x < bb_l:
                            bb_l = word.left_x
                        if word.upper_y < bb_u:
                            bb_u = word.upper_y
                        if word.right_x > bb_r:
                            bb_r = word.right_x
                        if word.lower_y > bb_o:
                            bb_o = word.lower_y
                        continue
                    sup = sub = None
                    for k, row in enumerate(word.char_rows):
                        # row = (l, u, r, low, rot, wmode, fs, base)
                        # inlined tolerance comparators (MathUtils.cpp:25-32)
                        if row[6] < fs_cutoff:
                            b = row[7]
                            if b < sup_cut:
                                if sup is None:
                                    sup = set()
                                sup.add(k)
                                continue
                            if b > sub_cut:
                                if sub is None:
                                    sub = set()
                                sub.add(k)
                                continue
                        # non-script chars accumulate the line's base bbox
                        if row[0] < bb_l:
                            bb_l = row[0]
                        if row[1] < bb_u:
                            bb_u = row[1]
                        if row[2] > bb_r:
                            bb_r = row[2]
                        if row[3] > bb_o:
                            bb_o = row[3]
                    if sup is not None:
                        word.char_sup = sup
                    if sub is not None:
                        word.char_sub = sub
                line.base_bbox_left_x = bb_l
                line.base_bbox_upper_y = bb_u
                line.base_bbox_right_x = bb_r
                line.base_bbox_lower_y = bb_o
