"""T11-T13 — text-blocks detection (two passes) and block feature kernels.

References:
* pass drivers + rules — /root/reference/src/TextBlocksDetection.cpp:75-873
* feature kernels      — /root/reference/src/utils/TextBlocksDetectionUtils.cpp

The reference resolves each rule chain through a 3-state Trool with
first-match-wins short-circuiting; here each rule returns True / False / None
and the driver stops at the first non-None result.
"""

from __future__ import annotations

from typing import List, Optional, Set

from ..config import (ITEM_LABEL_COMBINED, ITEM_LABEL_REGEXES,
                      PipelineConfig)
from ..model import Block, Doc, Line, NonTextElement
from ..utils.counter import ModeCounter
from ..utils.elements import (has_equal_font, has_equal_font_size,
                              has_equal_left_x, left_x_offset,
                              max_x_overlap_ratio, right_x_offset,
                              vertical_gap, x_overlap_ratios, y_overlap_ratios)
from ..utils.mathutils import (between, equal, equal_or_larger,
                               equal_or_smaller, larger, round_half_away,
                               smaller)


def _ends_with_sentence_delimiter(text: str) -> bool:
    """TextUtils.cpp:68-78 — last char in "?!.);"."""
    return bool(text) and text[-1] in "?!.);"


def _starts_with_upper(text: str) -> bool:
    """TextUtils.cpp:81-83 — C isupper on the first byte (ASCII semantics)."""
    return bool(text) and text[0].isascii() and text[0].isupper()


def detect_blocks(doc: Doc, config: PipelineConfig) -> None:
    detector = _BlocksDetector(doc, config)
    detector.process()


class _BlocksDetector:
    def __init__(self, doc: Doc, config: PipelineConfig):
        self.doc = doc
        self.config = config
        # potential footnote labels accumulate across the whole document
        # (member set in the reference, TextBlocksDetection.h)
        self.potential_fn_labels: Set[str] = set()
        self._special_fs = frozenset(config.special_footnote_labels_alphabet)

    # ------------------------------------------------------------------
    def process(self) -> None:
        # Pass 1: preliminary blocks per segment (…cpp:86-122)
        for page in self.doc.pages:
            for segment in page.segments:
                current: List[Line] = []
                for line in segment.lines:
                    if self._starts_preliminary_block(line) and current:
                        self._create_block(current, segment.blocks, segment)
                        current = []
                    current.append(line)
                if current:
                    self._create_block(current, segment.blocks, segment)

        # Pass 2: split preliminary blocks (…cpp:128-175)
        for page in self.doc.pages:
            for segment in page.segments:
                for block in segment.blocks:
                    current = []
                    for line in block.lines:
                        self._compute_potential_footnote_labels(line)
                        if self._starts_block(block, line) and current:
                            self._create_block(current, page.blocks, segment)
                            current = []
                        current.append(line)
                    if current:
                        self._create_block(current, page.blocks, segment)

    # ------------------------------------------------------------------
    # pass-1 rule chain (startsPreliminaryBlock, …cpp:179-244)
    def _starts_preliminary_block(self, line: Line) -> bool:
        res = self._rule_exists_prev_line(line)
        if res is not None:
            return res
        res = self._rule_same_figure(line)
        if res is not None:
            return res
        res = self._rule_rotation(line)
        if res is not None:
            return res
        res = self._rule_w_mode(line)
        if res is not None:
            return res
        res = self._rule_font_size(line)
        if res is not None:
            return res
        res = self._rule_line_distance(line)
        if res is not None:
            return res
        res = self._rule_increased_line_distance(line)
        if res is not None:
            return res
        return False

    # pass-2 rule chain (startsBlock, …cpp:247-305)
    def _starts_block(self, p_block: Block, line: Line) -> bool:
        res = self._rule_exists_prev_line(line)
        if res is not None:
            return res
        res = self._rule_centered(p_block, line)
        if res is not None:
            return res
        res = self._rule_item(p_block, line)
        if res is not None:
            return res
        res = self._rule_emphasized(line)
        if res is not None:
            return res
        res = self._rule_hanging_indent(p_block, line)
        if res is not None:
            return res
        res = self._rule_indent(line)
        if res is not None:
            return res
        return False

    # ------------------------------------------------------------------
    # individual rules; return True/False/None like Trool
    def _rule_exists_prev_line(self, line: Line) -> Optional[bool]:
        if line.prev_line is None:
            return True
        return None

    def _rule_same_figure(self, line: Line) -> Optional[bool]:
        """No split if both lines overlap the same figure (…cpp:327-350)."""
        prev_line = line.prev_line
        figures = self.doc.pages[line.page_num - 1].figures
        prev_fig = self._overlaps_figure(prev_line, figures)
        curr_fig = self._overlaps_figure(line, figures)
        if prev_fig is not None and prev_fig is curr_fig:
            return False
        return None

    def _rule_rotation(self, line: Line) -> Optional[bool]:
        if line.prev_line.rotation != line.rotation:
            return True
        return None

    def _rule_w_mode(self, line: Line) -> Optional[bool]:
        if line.prev_line.w_mode != line.w_mode:
            return True
        return None

    def _rule_font_size(self, line: Line) -> Optional[bool]:
        """Split when neither mostFreq nor max font size match (…cpp:395-426)."""
        prev_line = line.prev_line
        tol = self.config.fs_equal_tolerance
        equal_fs = equal(prev_line.font_size, line.font_size, tol)
        equal_max_fs = equal(prev_line.max_font_size, line.max_font_size, tol)
        if not equal_fs and not equal_max_fs:
            return True
        return None

    def _rule_line_distance(self, line: Line) -> Optional[bool]:
        """Split when distance exceeds the expected line distance (…cpp:429-473)."""
        prev_line = line.prev_line
        doc = self.doc
        expected = doc.most_freq_line_distance_per_font_size.get(line.font_size, 0.0)
        expected = max(expected, doc.most_freq_line_distance)
        actual = vertical_gap(prev_line, line)
        actual = round_half_away(actual, self.config.line_distance_precision)
        threshold = max(1.0, 0.1 * expected)  # Config.h:504-507
        if equal_or_smaller(actual, 0.0):
            return False
        if larger(actual, expected, threshold):
            return True
        return None

    def _rule_increased_line_distance(self, line: Line) -> Optional[bool]:
        """Split when curr/prev distance outgrows prev/prevPrev (…cpp:476-512)."""
        prev_line = line.prev_line
        prev_prev_line = prev_line.prev_line
        if prev_prev_line is None:
            return None
        prev_distance = round_half_away(vertical_gap(prev_prev_line, prev_line),
                                        self.config.line_distance_precision)
        distance = round_half_away(vertical_gap(prev_line, line),
                                   self.config.line_distance_precision)
        threshold = 0.5 * self.doc.most_freq_word_height  # Config.h:525-527
        if larger(distance, prev_distance, threshold):
            return True
        return None

    def _rule_centered(self, p_block: Block, line: Line) -> Optional[bool]:
        """Centered-block rule (…cpp:515-540)."""
        is_first_line_of_item = self._is_first_line_of_item(line, None)
        if not p_block.is_lines_centered:
            return None
        if is_first_line_of_item:
            return True
        return False

    def _rule_item(self, p_block: Block, line: Line) -> Optional[bool]:
        """Enumeration-item rules (…cpp:543-648)."""
        prev_line = line.prev_line
        labels = self.potential_fn_labels
        is_prev_first = self._is_first_line_of_item(prev_line, labels)
        is_curr_first = self._is_first_line_of_item(line, labels)
        is_prev_cont = self._is_continuation_of_item(prev_line, labels)
        is_curr_cont = self._is_continuation_of_item(line, labels)
        is_prev_part = is_prev_first or is_prev_cont
        is_curr_part = is_curr_first or is_curr_cont
        offset = left_x_offset(prev_line, line)
        has_prev_capacity = self._has_prev_line_capacity(prev_line, line)
        tol_low = -1 * self.doc.avg_char_width   # Config.h:545-547
        tol_high = 6 * self.doc.avg_char_width

        if is_curr_first:
            return True
        if is_curr_cont:
            if p_block.is_lines_centered:
                return False
            if has_prev_capacity:
                return True
            if is_prev_first:
                return False
            if is_prev_cont:
                if between(offset, tol_low, tol_high):
                    return False
                return True
            return False
        if is_prev_part and not is_curr_part:
            if has_prev_capacity:
                return True
            if (not _ends_with_sentence_delimiter(prev_line.text)
                    and not _starts_with_upper(line.text)):
                return False
        return None

    def _rule_emphasized(self, line: Line) -> Optional[bool]:
        """Emphasized-continuation rule (…cpp:651-680)."""
        prev_line = line.prev_line
        if (self._is_emphasized(prev_line) and self._is_emphasized(line)
                and has_equal_font(prev_line, line)
                and has_equal_font_size(prev_line, line,
                                        self.config.fs_equal_tolerance)):
            return False
        return None

    def _rule_hanging_indent(self, p_block: Block, line: Line) -> Optional[bool]:
        """Hanging-indent rules (…cpp:683-791)."""
        prev_line = line.prev_line
        doc = self.doc
        hang = p_block.hanging_indent
        tol = doc.avg_char_width
        prev_margin = prev_line.left_margin
        curr_margin = line.left_margin
        is_curr_not_indented = smaller(curr_margin, hang, tol)
        is_curr_indented = equal(curr_margin, hang, tol)
        is_prev_more_indented = larger(prev_margin, hang, tol)
        is_curr_more_indented = larger(curr_margin, hang, tol)
        offset = left_x_offset(prev_line, line)
        has_prev_capacity = self._has_prev_line_capacity(prev_line, line)
        tol_low = -1 * doc.avg_char_width
        tol_high = 6 * doc.avg_char_width

        if equal_or_smaller(hang, 0.0):
            return None
        if is_curr_not_indented:
            return True
        if is_curr_indented:
            if is_prev_more_indented:
                if between(offset, tol_low, tol_high):
                    return False
                return True
            if has_prev_capacity:
                return True
            return False
        if is_curr_more_indented:
            if is_prev_more_indented:
                if between(offset, tol_low, tol_high):
                    return False
                return True
            return True
        return False

    def _rule_indent(self, line: Line) -> Optional[bool]:
        """Indentation rules (…cpp:794-873)."""
        prev_line = line.prev_line
        doc = self.doc
        indent_low = 1 * doc.avg_char_width    # Config.h:565-567
        indent_high = 6 * doc.avg_char_width
        is_prev_more_indented = larger(prev_line.left_margin, indent_high)
        is_curr_indented = between(line.left_margin, indent_low, indent_high)
        is_curr_more_indented = larger(line.left_margin, indent_high)
        abs_offset = abs(left_x_offset(prev_line, line))
        has_prev_capacity = self._has_prev_line_capacity(prev_line, line)

        if is_curr_more_indented:
            if equal(abs_offset, 0.0, doc.avg_char_width):
                return False
            return True
        if is_prev_more_indented:
            if equal(abs_offset, 0.0, doc.avg_char_width):
                return False
            return True
        if is_curr_indented:
            return True
        if has_prev_capacity:
            return True
        return None

    # ------------------------------------------------------------------
    # feature kernels (TextBlocksDetectionUtils.cpp)
    def _is_centered_pair(self, line1: Line, line2: Line) -> bool:
        """computeIsCentered (…Utils.cpp:73-96)."""
        if smaller(max_x_overlap_ratio(line1, line2),
                   self.config.centering_x_overlap_ratio_threshold):
            return False
        abs_left = abs(left_x_offset(line1, line2))
        abs_right = abs(right_x_offset(line1, line2))
        tol = (self.config.centering_x_offset_equal_tolerance_factor
               * self.doc.avg_char_width)
        return equal(abs_left, abs_right, tol)

    def _is_lines_centered(self, block: Block) -> bool:
        """computeIsTextLinesCentered (…Utils.cpp:99-161)."""
        if not block.lines:
            return False
        has_non_formula_large_offset = False
        num_justified = 0
        formula_chars = self.config.formula_id_alphabet
        for i in range(1, len(block.lines)):
            prev_line = block.lines[i - 1]
            curr_line = block.lines[i]
            if not self._is_centered_pair(prev_line, curr_line):
                return False
            is_formula = (any(c in prev_line.text for c in formula_chars)
                          or any(c in curr_line.text for c in formula_chars))
            abs_left = abs(left_x_offset(prev_line, curr_line))
            abs_right = abs(right_x_offset(prev_line, curr_line))
            threshold = (self.config.centering_x_offset_equal_tolerance_factor
                         * self.doc.avg_char_width)
            is_large_offset = (larger(abs_left, threshold)
                               or larger(abs_right, threshold))
            if not is_formula and is_large_offset:
                has_non_formula_large_offset = True
            else:
                num_justified += 1
        return (has_non_formula_large_offset
                and num_justified <= self.config.centering_max_num_justified_lines)

    def _is_emphasized(self, element) -> bool:
        """computeIsEmphasized (…Utils.cpp:164-215)."""
        doc = self.doc
        doc_font = doc.font_infos.get(doc.most_freq_font_name)
        elem_font = doc.font_infos.get(element.font_name)
        if doc_font is None or elem_font is None:
            return False
        fs = doc.most_freq_font_size
        tol = self.config.fs_equal_tolerance
        if larger(element.font_size, fs, tol):
            return True
        if (equal_or_larger(element.font_size, fs, tol)
                and larger(elem_font.weight, doc_font.weight,
                           self.config.font_weight_equal_tolerance)):
            return True
        if equal_or_larger(element.font_size, fs, tol) and elem_font.is_italic:
            return True
        # all alphabetic chars uppercase (ASCII semantics of C isalpha/islower)
        contains_alpha = False
        for c in element.text:
            if c.isascii() and c.isalpha():
                contains_alpha = True
                if c.islower():
                    return False
        return contains_alpha

    def _has_prev_line_capacity(self, prev_line: Optional[Line],
                                line: Line) -> bool:
        """computeHasPrevLineCapacity (…Utils.cpp:218-240)."""
        if prev_line is None or not line.words:
            return False
        first_word_width = line.words[0].width
        threshold = (self.config.prev_line_capacity_threshold_factor
                     * self.doc.avg_char_width)
        return larger(prev_line.right_margin, first_word_width, threshold)

    def _compute_hanging_indent(self, block: Block) -> float:
        """computeHangingIndent (…Utils.cpp:243-393)."""
        cfg = self.config
        margin_threshold = (cfg.hang_indent_margin_threshold_factor
                            * self.doc.avg_char_width)
        num_long_lines = 0
        num_large_left_margin_lines = 0
        counter = ModeCounter()
        for line in block.lines:
            if len(line.text) >= cfg.hang_indent_min_length_long_lines:
                num_long_lines += 1
            if equal_or_larger(line.left_margin, margin_threshold):
                counter.inc(line.left_margin)
                num_large_left_margin_lines += 1

        most_freq_margin = 0.0
        most_freq_margin_count = 0
        if counter.sum_counts() > 0:
            most_freq_margin, most_freq_margin_count = counter.most_freq_and_count()

        if equal_or_smaller(most_freq_margin_count,
                            cfg.hang_indent_min_perc_lines_same_left_margin
                            * num_large_left_margin_lines):
            return 0.0

        is_first_line_indented = False
        has_first_line_capacity = False
        is_all_other_lines_indented = True
        num_lower_non_indented = 0
        num_lower_indented = 0
        num_non_indented = 0
        num_indented = 0

        for i, line in enumerate(block.lines):
            if len(line.text) < cfg.hang_indent_min_length_long_lines:
                continue
            is_equal_margin = equal(line.left_margin, line.right_margin,
                                    margin_threshold)
            is_large_margin = larger(line.left_margin, margin_threshold)
            if is_equal_margin and is_large_margin:
                continue  # centered line
            is_non_indented = equal(line.left_margin, 0.0, margin_threshold)
            if is_non_indented:
                num_non_indented += 1
            is_indented = equal(line.left_margin, most_freq_margin,
                                margin_threshold)
            if is_indented:
                num_indented += 1
            first = line.text[0]
            is_lower = first.isascii() and first.islower()
            if is_lower and is_indented:
                num_lower_indented += 1
            starts_with_prefix = (bool(line.words)
                                  and line.words[0].text in cfg.last_name_prefixes)
            if is_lower and not starts_with_prefix and is_non_indented:
                num_lower_non_indented += 1
            if i == 0:
                is_first_line_indented = is_indented
            if i == 1:
                has_first_line_capacity = self._has_prev_line_capacity(
                    line.prev_line, line)
            if i > 0:
                is_all_other_lines_indented &= is_indented

        if num_indented == 0:
            return 0.0
        if num_lower_non_indented > cfg.hang_indent_num_lower_non_indented_threshold:
            return 0.0
        if (not is_first_line_indented and not has_first_line_capacity
                and is_all_other_lines_indented):
            return most_freq_margin
        if (num_non_indented >= cfg.hang_indent_num_non_indented_lines_threshold
                and num_lower_non_indented
                <= cfg.hang_indent_num_lower_non_indented_threshold):
            return most_freq_margin
        if (num_long_lines >= cfg.hang_indent_num_long_lines_threshold
                and num_lower_indented
                >= cfg.hang_indent_num_lower_indented_threshold):
            return most_freq_margin
        return 0.0

    def _compute_line_margins(self, block: Block) -> None:
        """computeTextLineMargins (…Utils.cpp:396-419)."""
        prev_block = block.prev_block
        next_block = block.next_block
        block_trim_right_x = block.trim_right_x
        if len(block.lines) == 2:
            left_margin = block.left_x - block.segment.left_x
            right_margin = block.segment.right_x - block.right_x
            is_centered = equal(left_margin, right_margin,
                                self.doc.avg_char_width)
            if not is_centered:
                if prev_block is not None:
                    block_trim_right_x = max(block_trim_right_x,
                                             prev_block.trim_right_x)
                if next_block is not None:
                    block_trim_right_x = max(block_trim_right_x,
                                             next_block.trim_right_x)
        for line in block.lines:
            line.left_margin = line.left_x - block.trim_left_x
            line.right_margin = block_trim_right_x - line.right_x

    def _is_first_line_of_item(self, line: Optional[Line],
                               labels: Optional[Set[str]]) -> bool:
        """computeIsFirstLineOfItem (…Utils.cpp:422-501)."""
        if line is None or not line.words:
            return False
        prefixed_by_item = self._is_prefixed_by_item_label(line)
        prefixed_by_footnote = self._is_prefixed_by_footnote_label(line, labels)
        if not prefixed_by_item and not prefixed_by_footnote:
            return False

        avg_char_width = self.doc.avg_char_width
        prev_line = line.prev_line
        if prev_line is not None:
            is_prev_prefixed = self._is_prefixed_by_item_label(prev_line)
            eq_font = has_equal_font(prev_line, line)
            eq_fs = has_equal_font_size(prev_line, line,
                                        self.config.fs_equal_tolerance)
            distance = vertical_gap(prev_line, line)
            neg_distance = equal_or_smaller(distance, 0.0)
            sentence_delim = _ends_with_sentence_delimiter(prev_line.text)
            eq_left_x = has_equal_left_x(prev_line, line, avg_char_width)
            if (not is_prev_prefixed and eq_font and eq_fs and neg_distance
                    and not sentence_delim and eq_left_x):
                return False

        prev_sibling = line.prev_sibling_line
        if prev_sibling is not None and prev_sibling.words:
            first_word = line.words[0]
            prev_first_word = prev_sibling.words[0]
            if (self._is_prefixed_by_item_label(prev_sibling)
                    and has_equal_font(prev_first_word, first_word)
                    and has_equal_font_size(prev_first_word, first_word,
                                            self.config.fs_equal_tolerance)):
                return True

        next_sibling = line.next_sibling_line
        if next_sibling is not None and next_sibling.words:
            first_word = line.words[0]
            next_first_word = next_sibling.words[0]
            if (self._is_prefixed_by_item_label(next_sibling)
                    and has_equal_font(next_first_word, first_word)
                    and has_equal_font_size(next_first_word, first_word,
                                            self.config.fs_equal_tolerance)):
                return True

        if prefixed_by_footnote:
            return True
        return False

    def _is_continuation_of_item(self, line: Optional[Line],
                                 labels: Optional[Set[str]]) -> bool:
        """computeIsContinuationOfItem (…Utils.cpp:504-518)."""
        if line is None:
            return False
        parent = line.parent_line
        if parent is None:
            return False
        return (self._is_first_line_of_item(parent, labels)
                or self._is_continuation_of_item(parent, labels))

    def _compute_potential_footnote_labels(self, line: Line) -> None:
        """computePotentialFootnoteLabels (…Utils.cpp:521-582) over the
        per-word char columns (texts + script index sets)."""
        special = self.config.special_footnote_labels_alphabet
        special_fs = self._special_fs
        empty = frozenset()
        for word in line.words:
            # fast path (pages without glyph names, where every char text
            # is a single ASCII char — CharCols.names is None): a word with
            # no script chars and no special-alphabet chars can never yield
            # a label (every is_label test fails).  Other pages keep the
            # per-char loop because a multi-char text's FIRST char drives
            # is_label.
            if (word.char_sup is None and word.char_sub is None
                    and word.char_src[0].names is None
                    and special_fs.isdisjoint(word.char_texts)):
                continue
            sup = word.char_sup or empty
            sub = word.char_sub or empty
            label = ""
            non_script_seen = False
            for k, text in enumerate(word.char_texts):
                if not non_script_seen and k not in sub and k not in sup:
                    non_script_seen = True
                    continue
                if not non_script_seen:
                    continue
                if not text:
                    continue
                first = text[0]
                is_label = first in special
                if k in sup and first.isascii() and first.isalnum():
                    is_label = True
                if is_label:
                    label += text
                    continue
                if label:
                    self.potential_fn_labels.add(label)
                    label = ""
            if label:
                self.potential_fn_labels.add(label)

    def _is_prefixed_by_item_label(self, line: Line) -> bool:
        """computeIsPrefixedByItemLabel (…Utils.cpp:585-620)."""
        words = line.words
        if not words:
            return False
        first_texts = words[0].char_texts
        if not first_texts:
            return False
        sup = words[0].char_sup
        if (sup is not None and 0 in sup and first_texts[0]
                and first_texts[0] in self.config.super_item_label_alphabet):
            return True
        return ITEM_LABEL_COMBINED.search(line.text) is not None

    def _is_prefixed_by_footnote_label(self, line: Line,
                                       labels: Optional[Set[str]]) -> bool:
        """computeIsPrefixedByFootnoteLabel (…Utils.cpp:623-651)."""
        words = line.words
        if not words:
            return False
        sup = words[0].char_sup
        prefix = ""
        if sup is not None:
            for k, text in enumerate(words[0].char_texts):
                if k not in sup:
                    break
                prefix += text
        if labels is not None:
            return prefix in labels
        return bool(prefix)

    def _overlaps_figure(self, element, figures: List[NonTextElement]):
        """computeOverlapsFigure (…Utils.cpp:654-670)."""
        for figure in figures:
            x_ratios = x_overlap_ratios(element, figure)
            y_ratios = y_overlap_ratios(element, figure)
            if (equal_or_larger(x_ratios[0], self.config.figure_x_overlap_threshold)
                    and equal_or_larger(y_ratios[0],
                                        self.config.figure_y_overlap_threshold)):
                return figure
        return None

    # ------------------------------------------------------------------
    def _create_block(self, lines: List[Line], blocks: List[Block],
                      segment) -> None:
        """createTextBlock (…Utils.cpp:673-783)."""
        block = Block()
        block.segment = lines[0].segment
        block.lines = list(lines)
        block.page_num = lines[0].page_num
        block.w_mode = lines[0].w_mode
        block.rotation = lines[0].rotation
        block.rank = len(blocks)

        font_name_counter = ModeCounter()
        font_size_counter = ModeCounter()
        b_left, b_up = block.left_x, block.upper_y
        b_right, b_low = block.right_x, block.lower_y
        n_lines = len(block.lines)
        for i, curr_line in enumerate(block.lines):
            ll = curr_line.left_x
            lr = curr_line.right_x
            if lr < ll:
                ll, lr = lr, ll
            lu = curr_line.upper_y
            lo = curr_line.lower_y
            if lo < lu:
                lu, lo = lo, lu
            if ll < b_left:
                b_left = ll
            if lu < b_up:
                b_up = lu
            if lr > b_right:
                b_right = lr
            if lo > b_low:
                b_low = lo
            font_name_counter.inc(curr_line.font_name)
            font_size_counter.inc(curr_line.font_size)
            # block-local prev/next rewiring (…Utils.cpp:734-736)
            curr_line.prev_line = block.lines[i - 1] if i > 0 else None
            curr_line.next_line = (block.lines[i + 1] if i < n_lines - 1
                                   else None)
            curr_line.block = block
        block.left_x, block.upper_y = b_left, b_up
        block.right_x, block.lower_y = b_right, b_low
        # the per-line trim updates only ever read the FINAL envelope values
        # (segment trims are loop constants, the envelope is monotone), so
        # one assignment after the loop is identical (…Utils.cpp:719-726)
        segment_t = block.segment
        block.trim_left_x = max(b_left, segment_t.trim_left_x)
        block.trim_upper_y = max(b_up, segment_t.trim_upper_y)
        block.trim_right_x = min(b_right, segment_t.trim_right_x)
        block.trim_lower_y = min(b_low, segment_t.trim_lower_y)

        if font_name_counter.sum_counts() > 0:
            block.font_name = font_name_counter.most_freq()
        if font_size_counter.sum_counts() > 0:
            block.font_size = font_size_counter.most_freq()

        parts: List[str] = []
        for line in block.lines:
            parts.append(" ".join(w.text for w in line.words))
        block.text = " ".join(parts)

        if blocks:
            prev_block = blocks[-1]
            prev_block.next_block = block
            block.prev_block = prev_block

        block.is_emphasized = self._is_emphasized(block)
        block.is_lines_centered = self._is_lines_centered(block)
        self._compute_line_margins(block)
        block.hanging_indent = self._compute_hanging_indent(block)

        blocks.append(block)
