"""Golden end-to-end: every fixture family must serialize byte-identically
to its intent-level golden text (the reference's own correctness criterion,
/root/reference/e2e/e2e_runner.py:290-317 word-diff equality — here we
require full byte equality, which is stricter)."""

import random

import pytest

from pdftotext_plus_plus_spark import codec, fixtures, pipeline

FAMILIES = sorted(fixtures.FAMILY_BUILDERS)
SEEDS = [0, 1, 7, 42, 99]


@pytest.mark.parametrize("family", FAMILIES)
@pytest.mark.parametrize("seed", SEEDS)
def test_family_byte_identical(family, seed):
    rng = random.Random(seed)
    payload, intent = fixtures.FAMILY_BUILDERS[family](rng)
    res = pipeline.extract(payload)
    assert res.parse_failure_code == 0
    assert res.extracted_text == fixtures.golden_from_blocks(intent)


def test_corpus_byte_identical():
    rows = fixtures.build_corpus(45, jumbo_every=15)
    for row in rows:
        res = pipeline.extract(row["html"])
        assert res.extracted_text == row["golden_text"], row["url"]


def test_corpus_deterministic():
    a = fixtures.build_corpus(10)
    b = fixtures.build_corpus(10)
    assert all(x["html"] == y["html"] for x, y in zip(a, b))
    assert all(x["golden_text"] == y["golden_text"] for x, y in zip(a, b))


def test_spans_and_counts():
    rng = random.Random(3)
    payload, intent = fixtures.build_two_col(rng)
    golden = fixtures.golden_from_blocks(intent)
    res = pipeline.extract(payload, with_spans=True)
    assert res.n_blocks == len(res.blocks) == 4
    assert res.n_pages == 1
    assert all(b.role == "paragraph" for b in res.blocks)
    # reading order: blocks ranked by final order via span text matching golden
    text_from_spans = "\n\n".join(b.text for b in res.blocks) + "\n"
    # span text has no dehyphenation substitution, but two-col has no hyphens
    assert text_from_spans == golden


def test_extended_serialization_marks():
    rng = random.Random(5)
    payload, _ = fixtures.build_headings(rng)
    res = pipeline.extract(payload)
    ext = res.extracted_text_extended
    assert ext.startswith("[PARAGRAPH] ")
    assert "\x0c" in ext  # page break marks
    # the heading block (bold + larger font) is emphasized -> \x01 marker
    assert "\x01" in ext


@pytest.mark.parametrize("family", ["plain-1col", "two-col", "enumerations",
                                    "hanging-indent", "three-col"])
@pytest.mark.parametrize("seed", [1, 42])
def test_extended_byte_identical_single_page_plain(family, seed):
    """TXT-EXTENDED golden for single-page families with no emphasized
    blocks: '[PARAGRAPH] ' prefixes, one \\n\\x0c page mark, final \\n
    (PlainTextExtendedSerializer.cpp:44-110)."""
    rng = random.Random(seed)
    payload, intent = fixtures.FAMILY_BUILDERS[family](rng)
    res = pipeline.extract(payload)
    golden = fixtures.golden_from_blocks(intent)
    block_texts = golden[:-1].split("\n\n")
    mirror = ("\n\n".join("[PARAGRAPH] " + b for b in block_texts)
              + "\n\x0c\n")
    assert res.extracted_text_extended == mirror


@pytest.mark.parametrize("seed", [0, 7, 42])
def test_multi_page_extended_with_page_breaks(seed):
    """TXT-EXTENDED golden across pages: \\n\\x0c after each of the 3 pages,
    cross-page dehyphenation substituted in the prefixed block stream."""
    payload, intent = fixtures.build_multi_page(random.Random(seed))
    res = pipeline.extract(payload)
    mirror = fixtures.golden_extended_paged(intent, [2, 2, 2])
    assert res.extracted_text_extended == mirror
    assert res.extracted_text_extended.count("\x0c") == 3


@pytest.mark.parametrize("seed", [3, 42])
def test_extended_mirror_full_corpus(seed):
    """TXT-EXTENDED byte-identity across EVERY family (incl. jumbo) via the
    per-family mirror metadata (fixtures.golden_extended_for_row)."""
    rows = fixtures.build_corpus(44, seed=seed, jumbo_every=11)
    for row in rows:
        res = pipeline.extract(row["html"])
        assert res.extracted_text_extended == fixtures.golden_extended_for_row(row), \
            row["url"]


@pytest.mark.parametrize("seed", [0, 7, 42, 123])
def test_paper_page_composite(seed):
    """Composite family: heading + two columns + cross-page dehyphenation;
    TXT and TXT-EXTENDED byte-identical, block order = reading order."""
    payload, intent = fixtures.build_paper_page(random.Random(seed))
    res = pipeline.extract(payload, with_spans=True)
    assert res.extracted_text == fixtures.golden_from_blocks(intent)
    assert [b.text for b in res.blocks] == fixtures.golden_block_texts(intent)
    row = {"golden_intent": intent, "n_pages": 2, "family": "paper-page"}
    assert res.extracted_text_extended == fixtures.golden_extended_for_row(row)
    assert res.n_pages == 2


def test_extract_leaves_no_cyclic_garbage(nan_payload):
    """With keep_doc=False, extract releases each document's element graph,
    also when a stage raises, so reference counting frees every fixture
    family without the cyclic GC; with keep_doc=True the returned document
    stays fully linked."""
    import gc
    from dataclasses import replace

    from pdftotext_plus_plus_spark.config import DEFAULT_CONFIG
    from pdftotext_plus_plus_spark.visualization import ALL_UNITS

    n = len(FAMILIES) + 1  # every family once, then one jumbo document
    rows = fixtures.build_corpus(n, jumbo_every=n)
    config = replace(DEFAULT_CONFIG, skip_semantic_roles=False)
    gc.collect()
    was_enabled = gc.isenabled()
    gc.disable()
    gc.set_debug(gc.DEBUG_SAVEALL)
    try:
        for row in rows:
            pipeline.extract(row["html"], config, with_timings=True,
                             jsonl_units=("pages", "blocks", "words",
                                          "characters", "figures", "shapes"),
                             svg_units=ALL_UNITS, pdf_units=ALL_UNITS)
        res = pipeline.extract(nan_payload)
        assert res.parse_failure_code == codec.ERR_KERNEL
        assert gc.collect() == 0
    finally:
        gc.set_debug(0)
        gc.garbage.clear()
        if was_enabled:
            gc.enable()

    doc = pipeline.extract(rows[0]["html"], keep_doc=True).doc
    lines = [(b, line) for p in doc.pages for b in p.blocks for line in b.lines]
    assert lines
    assert all(line.block is b and b.segment is not None
               and line.segment is not None for b, line in lines)
    assert all(w.line is line for _, line in lines for w in line.words)
    assert any(line.next_line is not None for _, line in lines)
