"""Stage-level kernel tests on hand-built documents."""

import random

from pdftotext_plus_plus_spark import pipeline
from pdftotext_plus_plus_spark.codec import decode_payload, encode_payload
from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG
from pdftotext_plus_plus_spark.fixtures import (BODY_FONT, FONTS, _PageBuilder,
                                                place_line, place_word)
from pdftotext_plus_plus_spark.kernel import process_document
from pdftotext_plus_plus_spark.model import FontInfo


def run(pages, config=DEFAULT_CONFIG):
    doc, code = decode_payload(encode_payload(FONTS, pages))
    assert code == 0
    return process_document(doc, config)


def test_words_detection_gap_break():
    page = _PageBuilder(1)
    # two words separated by 2.5 (> 0.15*10=1.5 threshold)
    x = place_word(page, "ab", 50.0, 100.0)
    place_word(page, "cd", x + 2.5, 100.0)
    # a third 'word' glued to the second (gap 1.0 < 1.5 -> same word)
    doc = run([page.to_dict()])
    words = doc.pages[0].words
    assert [w.text for w in words] == ["ab", "cd"]
    assert words[0].rank == 0 and words[1].rank == 1


def test_words_detection_no_break_small_gap():
    page = _PageBuilder(1)
    x = place_word(page, "ab", 50.0, 100.0)
    place_word(page, "cd", x + 1.0, 100.0)  # 1.0 < 1.5 -> one word
    doc = run([page.to_dict()])
    assert [w.text for w in doc.pages[0].words] == ["abcd"]


def test_words_detection_baseline_break():
    page = _PageBuilder(1)
    x = place_word(page, "ab", 50.0, 100.0)
    # same x continuation but on a different line -> y-overlap 0 -> break
    place_word(page, "cd", x + 1.0, 120.0)
    doc = run([page.to_dict()])
    assert [w.text for w in doc.pages[0].words] == ["ab", "cd"]


def test_line_detection_merges_words_per_baseline():
    page = _PageBuilder(1)
    place_line(page, ["one", "two", "three"], 50.0, 100.0)
    place_line(page, ["four", "five"], 50.0, 109.0)
    doc = run([page.to_dict()])
    seg = doc.pages[0].segments[0]
    # createTextBlock rewires line links block-locally; line text persists
    all_lines = [l.text for b in doc.pages[0].blocks for l in b.lines]
    assert all_lines == ["one two three", "four five"]


def test_sub_superscript_detection():
    page = _PageBuilder(1)
    x = place_word(page, "mass", 50.0, 100.0)
    # superscript "2": smaller font (10 - 6 = 4 > 0.9) and raised baseline;
    # its bbox still overlaps the body line (so line merging keeps it)
    page.chars.append({
        "name": "", "text": "2", "unicodes": [ord("2")],
        "left_x": x, "upper_y": 91.8, "right_x": x + 3.0, "lower_y": 96.0,
        "base": 96.0, "font_size": 6.0, "rotation": 0, "w_mode": 0,
        "font": BODY_FONT.name})
    # more body words so 10pt stays the most frequent font size
    place_line(page, ["other", "words", "here"], 50.0, 109.0)
    doc = run([page.to_dict()])
    # flags live per word as index sets (Word.char_sup / char_sub)
    sup = [w.char_texts[k] for p in doc.pages for w in p.words
           for k in (w.char_sup or ())]
    assert sup == ["2"]


def test_dehyphenation_merged_text():
    page = _PageBuilder(1)
    place_line(page, ["some", "frag-"], 50.0, 100.0)
    place_line(page, ["ment", "here"], 50.0, 109.0)
    doc = run([page.to_dict()])
    from pdftotext_plus_plus_spark.serializers import serialize_text
    assert serialize_text(doc)[0] == "some fragment here\n"


def test_stacked_math_symbol_merge():
    page = _PageBuilder(1)
    # base word: a summation symbol at 14pt
    x0 = 100.0
    page.chars.append({
        "name": "summationdisplay", "text": "∑", "unicodes": [0x2211],
        "left_x": x0, "upper_y": 90.2, "right_x": x0 + 10.0, "lower_y": 100.0,
        "base": 100.0, "font_size": 14.0, "rotation": 0, "w_mode": 0,
        "font": BODY_FONT.name})
    # the sub-part "i=0" below, smaller font, x-overlapping the base
    for i, ch in enumerate("i=0"):
        page.chars.append({
            "name": "", "text": ch, "unicodes": [ord(ch)],
            "left_x": x0 + i * 3.0, "upper_y": 102.0,
            "right_x": x0 + i * 3.0 + 3.0, "lower_y": 106.2, "base": 106.2,
            "font_size": 6.0, "rotation": 0, "w_mode": 0,
            "font": BODY_FONT.name})
    # body text so stats are dominated by 10pt
    place_line(page, ["normal", "body", "text", "words"], 50.0, 140.0)
    place_line(page, ["more", "body", "text", "lines"], 50.0, 149.0)
    doc = run([page.to_dict()])
    base_words = [w for p in doc.pages for w in p.words
                  if w.is_base_of_stacked_math_symbol]
    assert len(base_words) == 1
    assert base_words[0].text == "∑"
    parts = base_words[0].is_base_of_stacked_math_symbol
    assert [w.text for w in parts] == ["i=0"]
    # the part is skipped in line clustering but follows its base's line
    lines = [l for p in doc.pages for s in p.segments for l in s.lines]
    sum_lines = [l for l in lines if "∑" in l.text]
    assert len(sum_lines) == 1


def test_rotation_starts_new_word_and_block():
    page = _PageBuilder(1)
    place_line(page, ["normal", "words", "here"], 50.0, 100.0)
    place_line(page, ["second", "line", "text"], 50.0, 109.0)
    # rotated chars at the same baseline as a third line
    x = 50.0
    for ch in "rot":
        page.chars.append({
            "name": "", "text": ch, "unicodes": [ord(ch)],
            "left_x": x, "upper_y": 111.0, "right_x": x + 5.0,
            "lower_y": 118.0, "base": 118.0, "font_size": 10.0,
            "rotation": 1, "w_mode": 0, "font": BODY_FONT.name})
        x += 5.0
    doc = run([page.to_dict()])
    rot_words = [w for p in doc.pages for w in p.words if w.rotation == 1]
    assert len(rot_words) == 1 and rot_words[0].text == "rot"


def test_empty_page_and_doc():
    page = _PageBuilder(1)
    doc = run([page.to_dict()])
    assert doc.pages[0].words == []
    assert doc.pages[0].blocks == []
    res = pipeline.extract(encode_payload(FONTS, [page.to_dict()]))
    assert res.extracted_text == "\n"


def _two_col_page(n_lines=25, words_per_line=12, spanner=None):
    """Two dense columns (> 500 words total) with an optional element
    spanning the inter-column gap at the given vertical center."""
    page = _PageBuilder(1)
    for col_x in (50.0, 320.0):
        base = 80.0
        for _ in range(n_lines):
            x = col_x
            for _ in range(words_per_line):
                x = place_word(page, "ab", x, base)
                x = round(x + 2.5, 1)
            base = round(base + 9.0, 1)
    if spanner is not None:
        place_word(page, "wide" * 20, 150.0, spanner)  # spans the gap
    return page


def test_overlap_cut_allowed_with_500_elements():
    """chooseXCut_overlappingElements (PageSegmentation.cpp:208-263): with
    >= 500 elements, a column cut may overlap one element if the element
    keeps >= 5*avgCharHeight margin from both cut ends — a mid-page
    spanning element does not block the column split."""
    page = _two_col_page(spanner=190.0)  # vertical middle
    doc = run([page.to_dict()])
    segments = doc.pages[0].segments
    assert len(segments) >= 2  # the columns split despite the spanner
    n_words = sum(len(s.elements) for s in segments)
    assert n_words == 25 * 12 * 2 + 1


def test_overlap_cut_vetoed_near_cut_end():
    """The same spanning element flush with the top line has margin <
    5*avgCharHeight to the cut end, so the full-height overlapping cut is
    vetoed; instead a y-cut separates the header band and the columns split
    below it (the header/footer protection the rule exists for)."""
    page = _two_col_page(spanner=80.0)  # flush with the top line
    doc = run([page.to_dict()])
    segments = doc.pages[0].segments
    assert len(segments) == 3
    header = [s for s in segments
              if any(getattr(e, "text", "").startswith("wide")
                     for e in s.elements)]
    assert len(header) == 1
    # the two column segments below do not contain the spanner
    columns = [s for s in segments if s is not header[0]]
    assert all(s.upper_y > header[0].upper_y for s in columns)
    assert columns[0].right_x < columns[1].left_x


def test_overlap_cut_refused_below_500_elements():
    """With < 500 elements an overlapping cut is never chosen
    (overlappingMinNumElements, Config.h:340): the spanner stays fused
    with the column it overlaps; only the clean non-overlapping gap on its
    left splits."""
    page = _two_col_page(n_lines=8, words_per_line=6, spanner=110.0)
    doc = run([page.to_dict()])
    segments = doc.pages[0].segments
    assert len(segments) == 2
    with_spanner = [s for s in segments
                    if any(getattr(e, "text", "").startswith("wide")
                           for e in s.elements)]
    assert len(with_spanner) == 1
    # the spanner's segment still contains the overlapped right column
    assert len(with_spanner[0].elements) == 8 * 6 + 1


def test_statistics_skip_flags():
    """The reference exposes --skip-*-statistics-calculation for every
    statistics stage; with a stage skipped the doc keeps default stats and
    downstream stages still run without error."""
    import random
    from dataclasses import replace

    from pdftotext_plus_plus_spark import fixtures, pipeline
    from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG

    payload, _ = fixtures.FAMILY_BUILDERS["plain-1col"](random.Random(3))
    cfg = replace(DEFAULT_CONFIG, skip_word_statistics=True,
                  skip_line_statistics=True)
    res = pipeline.extract(payload, config=cfg, keep_doc=True)
    assert res.parse_failure_code == 0
    # the skipped stats must KEEP their defaults...
    assert res.doc.most_freq_word_height == 0.0
    assert res.doc.most_freq_word_distance == 0.0
    # ...and differ from the default-config run, which computes them
    full = pipeline.extract(payload, config=DEFAULT_CONFIG, keep_doc=True)
    assert full.doc.most_freq_word_height > 0.0
    # glyph stats skipped as well -> still no crash (blocks fall back)
    cfg2 = replace(DEFAULT_CONFIG, skip_glyph_statistics=True)
    res2 = pipeline.extract(payload, config=cfg2)
    assert res2.parse_failure_code == 0


def test_line_merging_feeds_each_word_at_most_twice(monkeypatch):
    """Merging lines to a fixpoint widens only the absorbing line's bbox;
    line properties run once per created line and once per line that
    absorbed merges, so the words fed to them stay within 2x the page's
    words. Recomputing them after every merge is quadratic on a page of
    scattered one-char words."""
    from pdftotext_plus_plus_spark.kernel import lines

    rng = random.Random(1)
    page = _PageBuilder(1)
    for _ in range(1000):
        place_word(page, rng.choice("abcdefghijklmnopqrstuvwxyz"),
                   round(rng.uniform(40, 560), 1), round(rng.uniform(60, 750), 1))
    fed, words = [], set()
    compute = lines._compute_line_properties

    def counting(line):
        fed.append(len(line.words))
        words.update(map(id, line.words))
        compute(line)

    monkeypatch.setattr(lines, "_compute_line_properties", counting)
    doc = run([page.to_dict()])
    assert sum(len(s.lines) for s in doc.pages[0].segments) > 0
    assert len(words) == len(doc.pages[0].words)
    assert sum(fed) <= 2 * len(words)
