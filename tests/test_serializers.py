"""Serializer surface: JSONL units, escapeJson, and config plumbing."""

import json
import random

from dataclasses import replace

import pytest

from pdftotext_plus_plus_spark import fixtures, pipeline, serializers
from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG


def _doc(family="plain-1col", seed=3):
    rng = random.Random(seed)
    payload, intent = fixtures.FAMILY_BUILDERS[family](rng)
    res = pipeline.extract(payload, keep_doc=True)
    return res.doc, intent


def test_escape_json():
    # exact port of TextUtils.cpp:102-137 behavior
    assert serializers.escape_json('a"b') == 'a\\"b'
    assert serializers.escape_json("back\\slash") == "back\\\\slash"
    assert serializers.escape_json("tab\there") == "tab\\there"
    assert serializers.escape_json("nl\n") == "nl\\n"
    assert serializers.escape_json("\x01ctl") == "\\u0001ctl"
    assert serializers.escape_json("plain") == "plain"


def test_jsonl_units_parse_and_counts():
    doc, intent = _doc()
    text = serializers.serialize_jsonl(
        doc, units=("pages", "blocks", "words", "characters"))
    records = [json.loads(line) for line in text.strip().split("\n")]
    by_type = {}
    for r in records:
        by_type.setdefault(r["type"], []).append(r)
    assert len(by_type["page"]) == len(doc.pages)
    n_blocks = sum(len(p.blocks) for p in doc.pages)
    assert len(by_type["block"]) == n_blocks
    assert [b["text"] for b in by_type["block"]] == \
        fixtures.golden_block_texts(intent)
    # every char references its word and block ids
    assert all(r["word"].startswith("word-") for r in by_type["char"])
    assert all(r["block"].startswith("block-") for r in by_type["char"])


def test_jsonl_diacritics_merged_chars():
    doc, _ = _doc("diacritics")
    text = serializers.serialize_jsonl(doc, units=("characters",))
    records = [json.loads(line) for line in text.strip().split("\n")]
    chars = [r["text"] for r in records]
    assert "é" in chars          # merged NFC text substituted
    assert "́" not in chars      # the bare combining mark is skipped
    # rank is the store index, marks included: the mark right after the
    # merged base leaves a gap, and every id carries its rank
    at = chars.index("é")
    assert chars[at + 1:] == list("mood")
    assert records[at + 1]["rank"] == records[at]["rank"] + 2
    assert [r["id"] for r in records] == \
        ["char-%d-%d" % (r["page"], r["rank"]) for r in records]
    ranks = [r["rank"] for r in records]
    assert ranks == sorted(set(ranks))
    # the store keeps the mark's row; the base row was widened over it
    cols = doc.pages[0].char_cols
    mark = records[at]["rank"] + 1
    assert cols.marks == {mark} and cols.texts[mark] == "\u0301"
    assert cols.merged == {mark - 1: "é"}
    assert records[at]["minY"] == cols.rows[mark][1] < cols.rows[mark - 2][1]


def test_skip_flags_change_output():
    rng = random.Random(5)
    payload, intent = fixtures.FAMILY_BUILDERS["hyphenated"](rng)
    golden = fixtures.golden_from_blocks(intent)
    assert pipeline.extract(payload).extracted_text == golden
    no_dehyph = replace(DEFAULT_CONFIG, skip_dehyphenation=True)
    raw = pipeline.extract(payload, config=no_dehyph).extracted_text
    assert raw != golden
    assert "-" in raw  # the hyphen survives when the stage is skipped


def test_jsonl_field_fidelity_reference_semantics():
    """S7 field fidelity vs JsonlSerializer.cpp:53-270: exact field set and
    ORDER per unit type, the color-array formatting quirk (no space before
    "opacity"), per-char font weight/italic/type-3, diacritic substitution,
    and word/block id linkage."""
    import json
    import random
    import re

    from pdftotext_plus_plus_spark import fixtures, pipeline

    payload, _ = fixtures.build_diacritics(random.Random(4))
    res = pipeline.extract(payload, keep_doc=True, jsonl_units=(
        "pages", "blocks", "words", "characters", "figures", "shapes"))
    lines = res.jsonl.splitlines()

    # reference field order per unit type (JsonlSerializer.cpp)
    order = {
        "page": ["type", "num", "width", "height", "origin"],
        "block": ["type", "id", "rank", "page", "minX", "minY", "maxX",
                  "maxY", "font", "fontSize", "text", "role", "origin"],
        "word": ["type", "id", "rank", "page", "minX", "minY", "maxX",
                 "maxY", "font", "fontSize", "text", "block", "origin"],
        "char": ["type", "id", "rank", "page", "minX", "minY", "maxX",
                 "maxY", "wMode", "rotation", "font", "fontSize", "weight",
                 "italic", "type-3", "color", "opacity", "text", "word",
                 "block", "origin"],
        "figure": ["type", "rank", "id", "page", "minX", "minY", "maxX",
                   "maxY", "origin"],
        "shape": ["type", "rank", "id", "page", "minX", "minY", "maxX",
                  "maxY", "origin"],
    }
    seen_types = set()
    for line in lines:
        obj = json.loads(line)          # every line is valid JSON
        keys = re.findall(r'"([^"\\]+)":', line)
        assert keys == order[obj["type"]], (obj["type"], keys)
        seen_types.add(obj["type"])
    assert seen_types >= {"page", "block", "word", "char"}

    # the reference's exact char formatting: `"color": [r,g,b],"opacity"`
    # (no space after the array comma, JsonlSerializer.cpp:144-145)
    char_lines = [l for l in lines if '"type": "char"' in l]
    assert all('"color": [0,0,0],"opacity": 1, ' in l for l in char_lines)

    # frozen goldens (deterministic fixture, seed 4)
    assert lines[0] == ('{"type": "page", "num": 1, "width": 612, '
                        '"height": 792, "origin": "pdftotext++"}')
    assert char_lines[0] == (
        '{"type": "char", "id": "char-1-0", "rank": 0, "page": 1, '
        '"minX": 50, "minY": 73, "maxX": 55, "maxY": 80, "wMode": 0, '
        '"rotation": 0, "font": "body-regular", "fontSize": 10, '
        '"weight": 400, "italic": false, "type-3": false, '
        '"color": [0,0,0],"opacity": 1, "text": "d", "word": "word-1-0", '
        '"block": "block-1-0", "origin": "pdftotext++"}')
    # the merged-diacritic base char serializes textWithDiacriticMark and
    # the mark itself is skipped (JsonlSerializer.cpp:115-124)
    assert any('"text": "é"' in l for l in char_lines)
    assert not any('"text": "´"' in l for l in char_lines)

    # id linkage: every char's word/block ids exist as word/block lines
    word_ids = {json.loads(l)["id"] for l in lines if '"type": "word"' in l}
    block_ids = {json.loads(l)["id"] for l in lines if '"type": "block"' in l}
    for l in char_lines:
        obj = json.loads(l)
        assert obj["word"] in word_ids and obj["block"] in block_ids

    # figures + shapes carry rank before id (reference field order)
    payload2, _ = fixtures.build_figures(random.Random(4))
    res2 = pipeline.extract(payload2, jsonl_units=("figures", "shapes"))
    fig_lines = res2.jsonl.splitlines()
    assert fig_lines[0] == ('{"type": "figure", "rank": 0, '
                            '"id": "figure-1-0", "page": 1, "minX": 50, '
                            '"minY": 121, "maxX": 285, "maxY": 176, '
                            '"origin": "pdftotext++"}')
    for line in fig_lines:
        obj = json.loads(line)
        keys = re.findall(r'"([^"\\]+)":', line)
        assert keys == order[obj["type"]], (obj["type"], keys)
    assert any('"type": "shape"' in l for l in fig_lines)


def test_unknown_jsonl_unit_raises():
    """A unit the JSONL sink does not know fails the call instead of
    returning an empty JSONL string with code 0."""
    rng = random.Random(3)
    payload, _ = fixtures.FAMILY_BUILDERS["plain-1col"](rng)
    with pytest.raises(ValueError, match="unknown JSONL unit: 'block'"):
        pipeline.extract(payload, jsonl_units=("blocks", "block"))
    doc, _ = _doc()
    with pytest.raises(ValueError, match="unknown JSONL unit"):
        serializers.serialize_jsonl(doc, units=("figure",))
    assert serializers.serialize_jsonl(doc, units=()) == ""
    # every known unit emits its records
    text = serializers.serialize_jsonl(_doc("figures")[0],
                                       serializers.JSONL_UNITS)
    assert {json.loads(line)["type"] for line in text.splitlines()} == {
        "page", "block", "word", "char", "figure", "shape"}
