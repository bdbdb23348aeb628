"""Per-document statistics (operators A1-A3 in SURVEY.md §2.2).

All statistics are per-document modes/means — there is no cross-document
state, so they run inside the kernel, not as a Spark groupBy.

References:
* glyph stats  — /root/reference/src/GlyphsStatisticsCalculation.cpp:46-95
* word stats   — /root/reference/src/WordsStatisticsCalculation.cpp:55-143
* line stats   — /root/reference/src/TextLinesStatisticsCalculation.cpp:53-125
"""

from __future__ import annotations

from ..config import PipelineConfig
from ..model import Doc
from ..utils.counter import ModeCounter, most_freq
from ..utils.elements import horizontal_gap, vertical_gap
from ..utils.mathutils import equal, round_half_away


def compute_glyph_statistics(doc: Doc) -> None:
    """A1: mostFreqFontSize/Name (mode over chars), avgCharWidth/Height.

    Reads each page's char store (Page.char_cols) before T1 widens any
    merged base; sums stay sequential left-to-right plain adds."""
    font_sizes = []
    font_names = []
    sum_widths = 0.0
    sum_heights = 0.0
    for page in doc.pages:
        cols = page.char_cols
        font_sizes.extend(cols.fsizes)
        font_names.extend(cols.font_names)
        for row in cols.rows:
            sum_widths += row[2] - row[0]
            sum_heights += row[3] - row[1]
    n = len(font_sizes)
    if n == 0:
        return
    doc.most_freq_font_size = most_freq(font_sizes)
    doc.most_freq_font_name = most_freq(font_names)
    doc.avg_char_width = sum_widths / n
    doc.avg_char_height = sum_heights / n


def compute_word_statistics(doc: Doc, config: PipelineConfig) -> None:
    """A2: mode word height, mode same-line horizontal gap, mode
    different-line vertical gap (filtered to most-freq-font-size words)."""
    h_gap_counter = ModeCounter()
    v_gap_counter = ModeCounter()
    height_counter = ModeCounter()

    # hot loop: the comparators/gap/overlap helpers are inlined on plain
    # floats (identical semantics, utils.mathutils TOL = 0.0001)
    tol = 0.0001
    fs_tol = config.fs_equal_tolerance
    mf_fs = doc.most_freq_font_size
    min_same = config.ws_min_y_overlap_ratio_same_line - tol
    max_diff = config.ws_max_y_overlap_ratio_different_line + tol
    for page in doc.pages:
        # prev_word is always the list predecessor, independent of any filter
        prev_word = None
        for word in page.words:
            p = prev_word
            prev_word = word
            # only words in the most frequent font size participate
            if word.font_size < mf_fs - fs_tol:
                continue
            height_counter.inc(word.lower_y - word.upper_y)
            if p is None:
                continue
            if p.rotation != word.rotation:
                continue
            if p.w_mode != word.w_mode:
                continue
            if abs(p.font_size - mf_fs) > fs_tol:
                continue
            # max y-overlap ratio (elements.overlap_ratios, normalized)
            p_up, p_low = ((p.upper_y, p.lower_y)
                           if p.upper_y <= p.lower_y else (p.lower_y, p.upper_y))
            w_up, w_low = ((word.upper_y, word.lower_y)
                           if word.upper_y <= word.lower_y
                           else (word.lower_y, word.upper_y))
            overlap = (p_low if p_low < w_low else w_low) - \
                      (p_up if p_up > w_up else w_up)
            if overlap < 0.0:
                overlap = 0.0
            len1 = p_low - p_up
            len2 = w_low - w_up
            r1 = overlap / len1 if len1 > 0 else 0.0
            r2 = overlap / len2 if len2 > 0 else 0.0
            ratio = r1 if r1 >= r2 else r2
            if ratio >= min_same:
                h_gap_counter.inc(horizontal_gap(p, word))
            if ratio <= max_diff:
                v_gap_counter.inc(vertical_gap(p, word))

    if height_counter.sum_counts() > 0:
        doc.most_freq_word_height = height_counter.most_freq()
    if h_gap_counter.sum_counts() > 0:
        doc.most_freq_word_distance = h_gap_counter.most_freq()
    if v_gap_counter.sum_counts() > 0:
        doc.most_freq_estimated_line_distance = v_gap_counter.most_freq()


def compute_line_statistics(doc: Doc, config: PipelineConfig) -> None:
    """A3: mode line distance from *base bounding boxes* (sub/superscripts
    excluded), overall and per font size."""
    dist_counter = ModeCounter()
    per_font_size: dict = {}

    for page in doc.pages:
        for segment in page.segments:
            for i in range(1, len(segment.lines)):
                prev_line = segment.lines[i - 1]
                curr_line = segment.lines[i]
                if prev_line.rotation != curr_line.rotation:
                    continue
                if prev_line.w_mode != curr_line.w_mode:
                    continue
                dist = curr_line.base_bbox_upper_y - prev_line.base_bbox_lower_y
                dist = max(0.0, round_half_away(dist, config.line_distance_precision))
                dist_counter.inc(dist)
                if equal(prev_line.font_size, curr_line.font_size,
                         config.fs_equal_tolerance):
                    per_font_size.setdefault(curr_line.font_size,
                                             ModeCounter()).inc(dist)

    if dist_counter.sum_counts() > 0:
        doc.most_freq_line_distance = dist_counter.most_freq()
    for font_size, counter in per_font_size.items():
        if counter.sum_counts() > 0:
            doc.most_freq_line_distance_per_font_size[font_size] = counter.most_freq()
