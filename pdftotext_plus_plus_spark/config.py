"""Pipeline configuration — thresholds mirrored from the reference's
compiled-in config (/root/reference/src/Config.h), each cited at the line
that defines it there.  Kept as a flat dataclass so a whole-pipeline config
is one broadcastable value.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, FrozenSet, List, Tuple

# Whitespace codepoints suppressed at decode time (PdfParsing.cpp:229-245
# drops chars whose unicode(s) are all whitespace, incl. U+00A0).
WHITESPACE_TEXTS = frozenset(" \t\r\n\f\v ")

# Semantic roles, enum order = Types.h:69-84.
SEMANTIC_ROLE_NAMES: Tuple[str, ...] = (
    "paragraph", "reference", "marginal", "footnote", "heading", "formula",
    "title", "author-info", "abstract", "date", "caption", "table", "other",
    "toc",
)
ROLE_TITLE = "title"
ROLE_AUTHOR_INFO = "author-info"
ROLE_MARGINAL = "marginal"

# Non-combining -> combining diacritic map (Config.h:243-283).
COMBINING_MAP: Dict[int, int] = {
    0x0022: 0x030B, 0x0027: 0x0301, 0x005E: 0x0302, 0x005F: 0x0332,
    0x0060: 0x0300, 0x007E: 0x0303, 0x00A8: 0x0308, 0x00AF: 0x0304,
    0x00B0: 0x030A, 0x00B4: 0x0301, 0x00B8: 0x0327, 0x02B2: 0x0321,
    0x02B7: 0x032B, 0x02B9: 0x0301, 0x02CC: 0x0329, 0x02BA: 0x030B,
    0x02BB: 0x0312, 0x02BC: 0x0313, 0x02BD: 0x0314, 0x02C6: 0x0302,
    0x02C7: 0x030C, 0x02C8: 0x030D, 0x02C9: 0x0304, 0x02CA: 0x0301,
    0x02CB: 0x0300, 0x02CD: 0x0331, 0x02D4: 0x031D, 0x02D5: 0x031E,
    0x02D6: 0x031F, 0x02D7: 0x0320, 0x02DA: 0x030A, 0x02DC: 0x0303,
    0x02DD: 0x030B, 0x0384: 0x0301, 0x0485: 0x0314, 0x0486: 0x0313,
    0x0559: 0x0314, 0x055A: 0x0313, 0x204E: 0x0359,
}

# Item-label regexes (Config.h:699-718).  std::regex with icase where noted;
# behavior-matched on the fixture alphabet via Python `re`.
ITEM_LABEL_REGEXES: List[re.Pattern] = [
    re.compile(r"^(•|-|–|\+)\s+"),
    re.compile(r"^(X{0,1}(IX|IV|V?I{0,3}))\.\s+", re.IGNORECASE),
    re.compile(r"^\((X{0,1}(IX|IV|V?I{0,3}))\)\s+", re.IGNORECASE),
    re.compile(r"^([a-z])\.\s+"),
    re.compile(r"^([0-9]+)\.\s+"),
    re.compile(r"^(\(|\[)([a-z0-9][0-9]{0,2})(\)|\])\s+", re.IGNORECASE),
    re.compile(r"^(\[)([A-Z][a-zA-Z0-9]{0,5})(\])\s+"),
    re.compile(r"^([a-z0-9][0-9]{0,1})\)\s+", re.IGNORECASE),
    re.compile(r"^PACS\s+", re.IGNORECASE),
]

# single alternation equivalent to any(rx.search(text)) over the list —
# one C-level scan per line instead of up to 9 (each pattern is wrapped
# verbatim in a scoped (?i:)/(?:) group, so per-pattern case flags and the
# ^ anchors are preserved)
ITEM_LABEL_COMBINED: re.Pattern = re.compile("|".join(
    ("(?i:%s)" if p.flags & re.IGNORECASE else "(?:%s)") % p.pattern
    for p in ITEM_LABEL_REGEXES))


@dataclass(frozen=True)
class PipelineConfig:
    """One flat config for all pipeline stages; field comments cite Config.h."""

    # BaseConfig
    coords_equal_tolerance: float = 0.1          # Config.h:73
    fs_equal_tolerance: float = 1.0              # Config.h:77
    font_weight_equal_tolerance: int = 100       # Config.h:81
    coordinate_precision: int = 1                # Config.h:85
    font_size_precision: int = 1                 # Config.h:89
    line_distance_precision: int = 1             # Config.h:93
    formula_id_alphabet: str = "=+"              # Config.h:96
    special_footnote_labels_alphabet: str = "*∗†‡§‖¶?"  # Config.h:103

    # Stage skip flags (CLI --skip-* analogs; Config.h `disabled` fields)
    skip_glyph_statistics: bool = False          # --skip-glyphs-statistics-calculation
    skip_word_statistics: bool = False           # --skip-words-statistics-calculation
    skip_line_statistics: bool = False           # --skip-text-lines-statistics-calculation
    skip_diacritics_merging: bool = False
    skip_words_detection: bool = False
    skip_page_segmentation: bool = False
    skip_lines_detection: bool = False
    skip_sub_super_scripts: bool = False
    skip_blocks_detection: bool = False
    skip_reading_order: bool = False
    skip_semantic_roles: bool = True             # reference: TF model; default-skip
    role_head: str = "heuristic"                 # "heuristic" | "model" (T15 head)
    skip_dehyphenation: bool = False

    # Words detection (Config.h:171-227)
    words_min_y_overlap_ratio: float = 0.5       # Config.h:179
    stacked_math_char_texts: FrozenSet[str] = frozenset({"∑", "∏", "∫", "⊗"})
    stacked_math_char_names: FrozenSet[str] = frozenset({
        "summationdisplay", "productdisplay", "integraldisplay",
        "circlemultiplydisplay"})
    stacked_math_words: FrozenSet[str] = frozenset({"sup", "lim"})
    stacked_math_min_x_overlap_ratio: float = 0.5  # Config.h:207
    # horizontal gap threshold factor (Config.h:224-226): 0.15 * word.fontSize
    word_gap_threshold_factor: float = 0.15

    # Word statistics (Config.h:139-156)
    ws_min_y_overlap_ratio_same_line: float = 0.5
    ws_max_y_overlap_ratio_different_line: float = 0.0

    # Page segmentation (Config.h:291-405)
    x_cut_max_num_overlapping_elements: int = 1  # Config.h:299
    x_cut_min_gap_width_factor: float = 2.0      # Config.h:313-315 (× mostFreqWordDistance)
    y_cut_min_gap_height: float = 2.0            # Config.h:329-331
    overlapping_min_num_elements: int = 500      # Config.h:340
    overlapping_margin_factor: float = 5.0       # Config.h:357-359 (× avgCharHeight)
    small_gap_width_factor: float = 2.0          # Config.h:377-379 (× avgCharWidth)
    small_gap_height_factor: float = 6.0         # Config.h:377-379 (× avgCharHeight)
    contiguous_words_y_overlap_ratio: float = 0.1  # Config.h:386
    slim_group_width_factor: float = 10.0        # Config.h:402-404 (× avgCharWidth)

    # Text lines detection (Config.h:409-458)
    line_hierarchy_max_line_dist: float = 10.0   # Config.h:419
    line_hierarchy_left_x_offset_factor: float = 1.0  # Config.h:427
    # getYOverlapRatioThreshold (Config.h:445-447)
    line_merge_small_x_gap_factor: float = 3.0   # × avgCharWidth
    line_merge_ratio_small_gap: float = 0.4
    line_merge_ratio_large_gap: float = 0.8
    trim_min_perc_lines_same_right_x: float = 0.5  # Config.h:452
    trim_box_coords_precision: int = 0           # Config.h:457

    # Sub/superscripts (Config.h:462-479)
    script_base_equal_tolerance: float = 0.1     # Config.h:471
    script_fs_equal_tolerance: float = 0.9       # Config.h:478

    # Text blocks detection (Config.h:483-718)
    # getExpectedLineDistanceThreshold: max(1.0, 0.1 * expected)  Config.h:504-507
    # getPrevCurrNextLineDistanceTolerance: 0.5 * mostFreqWordHeight  Config.h:525-527
    # getLeftXOffsetToleranceInterval: (-1, 6) * avgCharWidth  Config.h:545-547
    # getIndentToleranceInterval: (1, 6) * avgCharWidth  Config.h:565-567
    last_name_prefixes: FrozenSet[str] = frozenset({"van", "von", "de"})
    centering_x_overlap_ratio_threshold: float = 0.99  # Config.h:586
    centering_x_offset_equal_tolerance_factor: float = 2.0  # Config.h:600-602
    centering_max_num_justified_lines: int = 5   # Config.h:611
    prev_line_capacity_threshold_factor: float = 2.0  # Config.h:637
    hang_indent_min_length_long_lines: int = 3   # Config.h:645
    hang_indent_num_non_indented_lines_threshold: int = 10  # Config.h:651
    hang_indent_num_long_lines_threshold: int = 4  # Config.h:657
    hang_indent_min_perc_lines_same_left_margin: float = 0.5  # Config.h:664
    hang_indent_num_lower_non_indented_threshold: int = 0  # Config.h:669
    hang_indent_num_lower_indented_threshold: int = 1  # Config.h:674
    hang_indent_margin_threshold_factor: float = 1.0  # Config.h:680
    figure_x_overlap_threshold: float = 0.5      # Config.h:685
    figure_y_overlap_threshold: float = 0.5      # Config.h:690
    super_item_label_alphabet: str = "*∗abcdefghijklmnopqrstuvwxyz01234567890()"  # Config.h:696

    # Reading order: XY-cut with zero min gaps (ReadingOrderDetection.h:178-179)
    reading_order_min_x_cut_gap_width: float = 0.0
    reading_order_min_y_cut_gap_height: float = 0.0
    separator_height_factor: float = 10.0        # ReadingOrderDetection.cpp:233 (× avgCharHeight)
    separator_width_factor: float = 10.0         # ReadingOrderDetection.cpp:316 (× avgCharWidth)


DEFAULT_CONFIG = PipelineConfig()
