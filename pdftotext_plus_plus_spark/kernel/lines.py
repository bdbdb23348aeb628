"""T7-T9 — text-lines detection, trim box, line hierarchy.

References:
* clustering + merge rounds — /root/reference/src/TextLinesDetection.cpp:80-347
* line properties           — /root/reference/src/TextLinesDetection.cpp:386-463
* trim box                  — /root/reference/src/utils/TextLinesDetectionUtils.cpp:144-177
* hierarchy                 — /root/reference/src/utils/TextLinesDetectionUtils.cpp:49-141

Determinism note: the reference clusters into nested ``unordered_map``s and
iterates them in hash order; we use insertion-ordered dicts (first-seen
order), and fixtures avoid configurations where cluster iteration order is
observable.
"""

from __future__ import annotations

import math
from operator import attrgetter
from typing import Dict, List

from ..config import PipelineConfig
from ..model import Doc, Line, Page, Segment, Word
from ..utils.counter import ModeCounter, most_freq
from ..utils.elements import horizontal_gap, max_y_overlap_ratio, vertical_gap
from ..utils.mathutils import (equal, equal_or_larger, larger,
                               round_half_away, smaller)


def detect_lines(doc: Doc, config: PipelineConfig) -> None:
    num_lines = 0
    for page in doc.pages:
        for segment in page.segments:
            num_lines = _detect_segment_lines(doc, segment, num_lines, config)
            _compute_trim_box(segment, config)
        _compute_line_hierarchy(doc, page, config)


def _detect_segment_lines(doc: Doc, segment: Segment, num_lines: int,
                          config: PipelineConfig) -> int:
    words = [el for el in segment.elements if isinstance(el, Word)]
    if not words:
        return num_lines

    # Cluster words by rotation, then by exact rotLowerY (…cpp:119-158).
    clusters: Dict[int, Dict[float, List[Word]]] = {}
    for word in words:
        if word.is_part_of_stacked_math_symbol is not None:
            continue
        rotation = word.rotation
        lower_y = word.rot_lower_y()
        bucket = clusters.setdefault(rotation, {}).setdefault(lower_y, [])
        bucket.append(word)
        # stacked-math parts follow their base word into the same cluster
        for w in word.is_base_of_stacked_math_symbol:
            bucket.append(w)

    for rotation, by_lower_y in clusters.items():
        lines = [_create_line(doc, segment, cluster_words, config)
                 for cluster_words in by_lower_y.values()]
        if not lines:
            continue

        # top-to-bottom sort, rotation-aware (…cpp:204-208)
        if rotation in (0, 1):
            lines.sort(key=lambda l: l.rot_lower_y())
        else:
            lines.sort(key=lambda l: -l.rot_lower_y())

        # iterative merge rounds until fixpoint (…cpp:219-308). A merge
        # widens only the absorbing line's bbox, the one input of the next
        # overlap test; its other properties are computed once, after the
        # fixpoint, which keeps the loop linear in words. Each line's words
        # are already sorted, so one stable sort of the concatenation gives
        # the order a sort after every merge would.
        absorbed = set()
        while True:
            merged = False
            merged_lines: List[Line] = []
            for curr_line in lines:
                prev_line = merged_lines[-1] if merged_lines else None
                if prev_line is not None:
                    x_gap = horizontal_gap(prev_line, curr_line)
                    y_overlap = max_y_overlap_ratio(prev_line, curr_line)
                    small_gap = (x_gap < config.line_merge_small_x_gap_factor
                                 * doc.avg_char_width)
                    threshold = (config.line_merge_ratio_small_gap if small_gap
                                 else config.line_merge_ratio_large_gap)
                    if equal_or_larger(y_overlap, threshold):
                        prev_line.words.extend(curr_line.words)
                        prev_line.left_x = min(prev_line.left_x,
                                               curr_line.left_x)
                        prev_line.upper_y = min(prev_line.upper_y,
                                                curr_line.upper_y)
                        prev_line.right_x = max(prev_line.right_x,
                                                curr_line.right_x)
                        prev_line.lower_y = max(prev_line.lower_y,
                                                curr_line.lower_y)
                        absorbed.add(prev_line)
                        merged = True
                        continue
                merged_lines.append(curr_line)
            lines = merged_lines
            if not merged:
                break

        for i, line in enumerate(lines):
            if line in absorbed:
                _compute_line_properties(line)
            line.rank = num_lines
            num_lines += 1
            line.prev_line = lines[i - 1] if i > 0 else None
            line.next_line = lines[i + 1] if i < len(lines) - 1 else None
            segment.lines.append(line)

    return num_lines


# rotation -> (sort key, reverse) for the line word sort: the rotated left
# edge is left_x/upper_y/right_x/lower_y for rotation 0/1/2/3
# (Types.cpp:45-128); rotations 2/3 sort descending
_ROT_SORT = {0: (attrgetter("left_x"), False),
             1: (attrgetter("upper_y"), False),
             2: (attrgetter("right_x"), True),
             3: (attrgetter("lower_y"), True)}


def _create_line(doc: Doc, segment: Segment, words: List[Word],
                 config: PipelineConfig) -> Line:
    line = Line()
    line.words = list(words)
    line.segment = segment
    _compute_line_properties(line)
    return line


def _compute_line_properties(line: Line) -> None:
    """Bbox envelope, word sort, text join, mode font/size/base
    (TextLinesDetection.cpp:386-463)."""
    if not line.words:
        return
    rotation = line.rotation = line.words[0].rotation
    line.w_mode = line.words[0].w_mode
    line.page_num = line.words[0].page_num

    # the rotated left edge resolved once per rotation value: C-level
    # attrgetter keys; descending sort via reverse=True (same stable tie
    # order as a negated-left-edge key)
    key, reverse = _ROT_SORT[rotation]
    line.words.sort(key=key, reverse=reverse)

    l_left = l_up = math.inf
    l_right = l_low = -math.inf

    font_names: List[str] = []
    font_sizes: List[float] = []
    bases: List[float] = []
    parts: List[str] = []
    for word in line.words:
        wl = word.left_x
        wr = word.right_x
        if wr < wl:
            wl, wr = wr, wl
        wu = word.upper_y
        wo = word.lower_y
        if wo < wu:
            wu, wo = wo, wu
        if wl < l_left:
            l_left = wl
        if wu < l_up:
            l_up = wu
        if wr > l_right:
            l_right = wr
        if wo > l_low:
            l_low = wo
        # per-char attributes cached at word creation (_materialize_words)
        font_names.extend(word.char_font_names)
        font_sizes.extend(word.char_font_sizes)
        bases.extend(word.char_bases)
        parts.append(word.text)
        word.line = line
    line.left_x, line.upper_y = l_left, l_up
    line.right_x, line.lower_y = l_right, l_low
    line.text = " ".join(parts)

    if font_names:
        line.font_name = most_freq(font_names)
        line.font_size = most_freq(font_sizes)
        line.max_font_size = max(font_sizes)
        line.base = most_freq(bases)


def _compute_trim_box(segment: Segment, config: PipelineConfig) -> None:
    """Trim rightX = most frequent rounded rotRightX when held by >= 50% of
    lines (TextLinesDetectionUtils.cpp:144-177)."""
    segment.trim_left_x = segment.left_x
    segment.trim_upper_y = segment.upper_y
    segment.trim_right_x = segment.right_x
    segment.trim_lower_y = segment.lower_y

    counter = ModeCounter()
    for line in segment.lines:
        counter.inc(round_half_away(line.rot_right_x(),
                                    config.trim_box_coords_precision))
    if counter.sum_counts() > 0:
        most_freq_right_x, count = counter.most_freq_and_count()
        n_lines = len(segment.lines)
        ratio = count / n_lines if n_lines > 0 else 0.0
        if equal_or_larger(ratio, config.trim_min_perc_lines_same_right_x):
            segment.trim_right_x = most_freq_right_x


def _compute_line_hierarchy(doc: Doc, page: Page, config: PipelineConfig) -> None:
    """Monotonic-stack parent/sibling assignment
    (TextLinesDetectionUtils.cpp:49-141)."""
    if not page.segments:
        return

    left_x_threshold = (config.line_hierarchy_left_x_offset_factor
                        * doc.avg_char_width)
    stack: List[Line] = []
    prev_line = None
    for segment in page.segments:
        for line in segment.lines:
            if prev_line is not None:
                if (prev_line.rotation == line.rotation
                        and prev_line.w_mode == line.w_mode):
                    abs_dist = abs(vertical_gap(prev_line, line))
                    if larger(abs_dist, config.line_hierarchy_max_line_dist,
                              config.coords_equal_tolerance):
                        stack = []
            prev_line = line

            while stack and larger(stack[-1].left_x, line.left_x,
                                   left_x_threshold):
                stack.pop()

            if not stack:
                stack.append(line)
                continue

            # line above the stack top -> different column; ignore
            if equal_or_larger(stack[-1].lower_y, line.lower_y,
                               config.coords_equal_tolerance):
                continue

            if equal(stack[-1].left_x, line.left_x, left_x_threshold):
                stack[-1].next_sibling_line = line
                line.prev_sibling_line = stack[-1]
                line.parent_line = stack[-1].parent_line
                stack.pop()
                stack.append(line)
                continue

            if smaller(stack[-1].left_x, line.left_x, left_x_threshold):
                line.parent_line = stack[-1]
                stack.append(line)
                continue
