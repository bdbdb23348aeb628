"""T2-T4 — words detection, word materialization, stacked-math merging.

References:
* detectWords / startsWord — /root/reference/src/WordsDetection.cpp:77-258
* createWord               — /root/reference/src/utils/WordsDetectionUtils.cpp:43-106
* mergeStackedMathSymbols  — /root/reference/src/WordsDetection.cpp:261-397
"""

from __future__ import annotations

import math

from ..config import PipelineConfig
from ..model import Doc, Page, Word
from ..utils.counter import most_freq
from ..utils.elements import max_x_overlap_ratio
from ..utils.mathutils import smaller


def detect_words(doc: Doc, config: PipelineConfig) -> None:
    for page in doc.pages:
        _detect_words_page(doc, page, config)
    for page in doc.pages:
        _merge_stacked_math_symbols(page, config)


_TOL = 0.0001


def _detect_words_page(doc: Doc, page: Page, config: PipelineConfig) -> None:
    """Sequential scan with the break rules of startsWord
    (WordsDetection.cpp:77-258) over the page's char store rows, inlined on
    plain floats for speed — the semantics (tolerance comparators,
    asymmetric leftmost selection in the horizontal gap, rotation sign
    flips) are byte-for-byte those of utils.elements/utils.mathutils."""
    min_y_ratio = config.words_min_y_overlap_ratio
    gap_factor = config.word_gap_threshold_factor

    store = page.char_cols
    data = store.rows
    raws = texts = store.texts
    fnames = store.font_names
    fsizes = store.fsizes
    bases = store.bases
    names = store.names
    marks = store.marks
    # store row index of each scanned char; None = identity (no marks)
    index = None
    if marks:
        # merged diacritic marks never start/join words (…cpp:117-121);
        # words are contiguous runs over the remaining rows, and a merged
        # base contributes its merged text
        index = [i for i in range(len(data)) if i not in marks]
        merged = store.merged
        data = [data[i] for i in index]
        raws = [texts[i] for i in index]
        texts = [merged.get(i, texts[i]) for i in index]
        fnames = [fnames[i] for i in index]
        fsizes = [fsizes[i] for i in index]
        bases = [bases[i] for i in index]
        if names is not None:
            names = [names[i] for i in index]
    if not data:
        return
    cols = (texts, fnames, fsizes, bases, raws, names)

    start = -1
    aw_left = aw_up = math.inf
    aw_right = aw_low = -math.inf
    aw_rot = aw_wmode = 0
    aw_fs = 0.0
    bounds = [0]  # word-start indices into `data` (words are contiguous)
    wboxes = []   # finished-word bboxes, tracked by the scan itself

    if store.all_upright:
        # UPRIGHT specialization (rotation == w_mode == 0 for every char,
        # a decode-time page fact): the rotation/w_mode break test and the
        # rotation sign flips in horizontal_gap vanish; identical
        # semantics for rot=0 (WordsDetection.cpp:77-258)
        for i, row in enumerate(data):
            c_left, c_up, c_right, c_low, _, _, c_fs, _ = row

            starts = False
            if start >= 0:
                overlap = (c_low if c_low < aw_low else aw_low) - \
                          (c_up if c_up > aw_up else aw_up)
                if overlap < 0.0:
                    overlap = 0.0
                len1 = c_low - c_up
                len2 = aw_low - aw_up
                r1 = overlap / len1 if len1 > 0 else 0.0
                r2 = overlap / len2 if len2 > 0 else 0.0
                if (r1 if r1 >= r2 else r2) < min_y_ratio - _TOL:
                    starts = True
                else:
                    threshold = gap_factor * aw_fs + _TOL
                    # rot 0: gap = right element's left - left element's
                    # right, with the leftmost-by-smaller() selection
                    gap1 = (aw_left - c_right if c_left < aw_left - _TOL
                            else c_left - aw_right)
                    gap2 = (c_left - aw_right if aw_left < c_left - _TOL
                            else aw_left - c_right)
                    if gap1 > threshold or gap2 > threshold:
                        starts = True

            if starts:
                bounds.append(i)
                wboxes.append((aw_left, aw_up, aw_right, aw_low))
                aw_left = aw_up = math.inf
                aw_right = aw_low = -math.inf
                aw_fs = 0.0

            start = i
            if c_left < aw_left:
                aw_left = c_left
            if c_up < aw_up:
                aw_up = c_up
            if c_right > aw_right:
                aw_right = c_right
            if c_low > aw_low:
                aw_low = c_low
            if c_fs > aw_fs:
                aw_fs = c_fs
        wboxes.append((aw_left, aw_up, aw_right, aw_low))
        _materialize_words(page, index, data, cols, bounds, wboxes, config)
        return

    for i, row in enumerate(data):
        c_left, c_up, c_right, c_low, c_rot, c_wmode, c_fs, _ = row

        starts = False
        if start >= 0:
            if aw_rot != c_rot or aw_wmode != c_wmode:
                starts = True
            else:
                # max y-overlap ratio between char and active-word bbox
                overlap = (c_low if c_low < aw_low else aw_low) - \
                          (c_up if c_up > aw_up else aw_up)
                if overlap < 0.0:
                    overlap = 0.0
                len1 = c_low - c_up
                len2 = aw_low - aw_up
                r1 = overlap / len1 if len1 > 0 else 0.0
                r2 = overlap / len2 if len2 > 0 else 0.0
                ratio = r1 if r1 >= r2 else r2
                if ratio < min_y_ratio - _TOL:
                    starts = True
                else:
                    threshold = gap_factor * aw_fs
                    # horizontal_gap(curr, active): leftmost by smaller()
                    if c_left < aw_left - _TOL:
                        l_right, l_rot, r_left = c_right, c_rot, aw_left
                    else:
                        l_right, l_rot, r_left = aw_right, aw_rot, c_left
                    gap1 = (l_right - r_left) if l_rot in (2, 3) else (r_left - l_right)
                    # horizontal_gap(active, curr): arguments swapped
                    if aw_left < c_left - _TOL:
                        l_right, l_rot, r_left = aw_right, aw_rot, c_left
                    else:
                        l_right, l_rot, r_left = c_right, c_rot, aw_left
                    gap2 = (l_right - r_left) if l_rot in (2, 3) else (r_left - l_right)
                    if gap1 > threshold + _TOL or gap2 > threshold + _TOL:
                        starts = True

        if starts:
            bounds.append(i)
            wboxes.append((aw_left, aw_up, aw_right, aw_low))
            start = -1
            aw_left = aw_up = math.inf
            aw_right = aw_low = -math.inf
            aw_fs = 0.0

        if start < 0:
            start = i
        if c_left < aw_left:
            aw_left = c_left
        if c_up < aw_up:
            aw_up = c_up
        if c_right > aw_right:
            aw_right = c_right
        if c_low > aw_low:
            aw_low = c_low
        aw_rot = c_rot
        aw_wmode = c_wmode
        if c_fs > aw_fs:
            aw_fs = c_fs

    wboxes.append((aw_left, aw_up, aw_right, aw_low))
    _materialize_words(page, index, data, cols, bounds, wboxes, config)


def _materialize_words(page, index, data, cols, bounds, wboxes,
                       config: PipelineConfig) -> None:
    """Materialize all of a page's words (createWord,
    WordsDetectionUtils.cpp:43-106) from page-level attribute columns.

    Word bboxes arrive precomputed from the scan loop (``wboxes`` — the
    scan's running min/max IS the word envelope, so no numpy reduceat
    pass is needed); the per-word Python work shrinks to the text join +
    mode picks + one slotted-object fill (with the rare annotation fields
    as class defaults, model.Word).  The T4 stacked-math base flag (raw
    char text / glyph name in the config sets, WordsDetection.cpp:272-283)
    is two C-level ``isdisjoint`` scans over the raw-text and name column
    slices.  ``index`` maps scan positions to store rows (None = identity)
    for ``Word.char_src``."""
    texts, fnames, fsizes, bases, raws, names = cols
    stm_texts = config.stacked_math_char_texts
    stm_names = config.stacked_math_char_names
    stm_words = config.stacked_math_words
    n = len(data)
    store = page.char_cols
    # page-uniform font fast path: with one font name AND one font size on
    # the page, every word's mode is that value — the two per-word
    # most_freq passes collapse to constants
    uni_fname = uni_fsize = None
    if len(fnames) > 1:
        f0 = fnames[0]
        if fnames.count(f0) == len(fnames):
            s0 = fsizes[0]
            if fsizes.count(s0) == len(fsizes):
                uni_fname, uni_fsize = f0, s0
    page_num = page.page_num
    words = page.words
    n_words = len(bounds)
    new = Word.__new__
    for wi in range(n_words):
        s = bounds[wi]
        e = bounds[wi + 1] if wi + 1 < n_words else n
        word = new(Word)
        word.page_num = page_num
        box = wboxes[wi]
        word.left_x = box[0]
        word.upper_y = box[1]
        word.right_x = box[2]
        word.lower_y = box[3]
        raw_slice = raws[s:e]
        if e - s == 1:  # single-char fast path (most words in math/sparse text)
            word.text = texts[s]
            font_names = fnames[s:e]
            font_sizes = fsizes[s:e]
            word.font_name = font_names[0]
            word.font_size = font_sizes[0]
        else:
            word.text = "".join(raw_slice if raws is texts else texts[s:e])
            font_names = fnames[s:e]
            font_sizes = fsizes[s:e]
            if uni_fname is not None:
                word.font_name = uni_fname
                word.font_size = uni_fsize
            else:
                word.font_name = most_freq(font_names)
                word.font_size = most_freq(font_sizes)
        word.char_rows = data[s:e]
        word.char_texts = raw_slice
        word.char_font_names = font_names
        word.char_font_sizes = font_sizes
        word.char_bases = bases[s:e]
        row = data[s]
        word.rotation = int(row[4])
        word.w_mode = int(row[5])
        if index is None:
            word.char_src = (store, s, e)
        else:
            word.char_src = (store, index[s], index[e - 1] + 1)
        word.line = None
        word.rank = wi
        if (word.text in stm_words
                or not stm_texts.isdisjoint(raw_slice)
                or (names is not None
                    and not stm_names.isdisjoint(names[s:e]))):
            word.is_stacked_math_base = True
        words.append(word)


def _merge_stacked_math_symbols(page: Page, config: PipelineConfig) -> None:
    """T4 (WordsDetection.cpp:261-397): words containing stacked-math base
    symbols absorb x-overlapping smaller-font neighbor words."""
    threshold = config.stacked_math_min_x_overlap_ratio
    words = page.words
    for i, word in enumerate(words):
        # flag precomputed from the raw-text/name columns at
        # materialization time (_materialize_words)
        if not word.is_stacked_math_base:
            continue

        # backward scan
        for j in range(i - 1, -1, -1):
            prev_word = words[j]
            if smaller(max_x_overlap_ratio(word, prev_word), threshold):
                break
            if not smaller(prev_word.font_size, word.font_size,
                           config.fs_equal_tolerance):
                break
            subs = word.is_base_of_stacked_math_symbol
            if not subs:  # class-default () -> install this word's own list
                subs = []
                word.is_base_of_stacked_math_symbol = subs
            subs.append(prev_word)
            prev_word.is_part_of_stacked_math_symbol = word

        # forward scan
        for j in range(i + 1, len(words)):
            next_word = words[j]
            if smaller(max_x_overlap_ratio(word, next_word), threshold):
                break
            if not smaller(next_word.font_size, word.font_size,
                           config.fs_equal_tolerance):
                break
            subs = word.is_base_of_stacked_math_symbol
            if not subs:
                subs = []
                word.is_base_of_stacked_math_symbol = subs
            subs.append(next_word)
            next_word.is_part_of_stacked_math_symbol = word
