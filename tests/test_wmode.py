"""Writing-mode (wMode) paths: word and block splits on wMode change
(WordsDetection.cpp:207-216, TextBlocksDetection.cpp:374-392)."""

from pdftotext_plus_plus_spark.codec import decode_payload, encode_payload
from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG
from pdftotext_plus_plus_spark.fixtures import BODY_FONT, FONTS, _PageBuilder, place_line
from pdftotext_plus_plus_spark.kernel import process_document


def test_wmode_splits_words_and_blocks():
    page = _PageBuilder(1)
    place_line(page, ["normal", "words", "here"], 50.0, 100.0)
    place_line(page, ["second", "line", "words"], 50.0, 109.0)
    # vertical-writing-mode chars glued to a third line's start position
    x = 50.0
    for ch in "vert":
        page.chars.append({
            "name": "", "text": ch, "unicodes": [ord(ch)],
            "left_x": x, "upper_y": 111.0, "right_x": x + 5.0,
            "lower_y": 118.0, "base": 118.0, "font_size": 10.0,
            "rotation": 0, "w_mode": 1, "font": BODY_FONT.name})
        x += 5.0
    doc, code, _ = decode_payload(encode_payload(FONTS, [page.to_dict()]))
    assert code == 0
    process_document(doc, DEFAULT_CONFIG)
    wmode_words = [w for p in doc.pages for w in p.words if w.w_mode == 1]
    assert len(wmode_words) == 1 and wmode_words[0].text == "vert"
    # the wMode run forms its own block (pass-1 wMode rule)
    blocks = [b for p in doc.pages for b in p.blocks]
    wmode_blocks = [b for b in blocks if b.w_mode == 1]
    assert len(wmode_blocks) == 1
    assert wmode_blocks[0].text == "vert"
