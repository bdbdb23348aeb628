"""Deterministic synthetic fixture corpus + golden outputs (FIXTURES.md).

A small layout engine places words on pages with the same geometry the
reference's heuristics key on (uniform word gaps, line distances, block
gaps, column gaps...).  Golden ``extracted_text`` is computed from the
*intent* (the paragraph structure given to the layout engine) by mirroring
the TXT serialization semantics
(/root/reference/src/serializers/PlainTextSerializer.cpp:38-92) — NOT by
running the pipeline — so the golden e2e tests are meaningful.

Geometry invariants (FIXTURES.md §2):
* all coordinates on a 0.1-pt grid;
* char width = 0.5 * fontSize, char height = 0.7 * fontSize;
* uniform intra-line word gap 0.25 * fontSize (> the 0.15*fontSize word-break
  threshold, Config.h:224-226);
* line distance (base-bbox gap) 2.0; block gap 8.0; column gap 20.0;
* per-document mode statistics have unique maximizers.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Tuple

from .codec import encode_payload, page_count
from .model import FontInfo

R1 = lambda x: round(x, 1)  # keep everything on the 0.1 grid

BODY_FONT = FontInfo(name="body-regular", ascent=0.75, descent=-0.25, weight=400)
BOLD_FONT = FontInfo(name="body-bold", ascent=0.75, descent=-0.25, weight=700)
ITALIC_FONT = FontInfo(name="body-italic", ascent=0.75, descent=-0.25,
                       weight=400, is_italic=True)
FONTS = [BODY_FONT, BOLD_FONT, ITALIC_FONT]

# words 3-6 chars keep the line-width spread below the prev-line-capacity
# threshold (see generator notes); plain alpha so no item-label regex matches
WORD_POOL = [
    "the", "quick", "brown", "fox", "jumps", "over", "lazy", "dogs", "and",
    "then", "runs", "far", "away", "into", "deep", "dark", "woods", "while",
    "birds", "sing", "songs", "about", "old", "tales", "from", "past", "times",
    "when", "rivers", "ran", "clear", "under", "stone", "bridge", "near",
    "small", "town", "where", "people", "lived", "quiet", "happy", "lives",
]

FS_BODY = 10.0
CHAR_W = 0.5          # x fontSize
CHAR_H = 0.7          # x fontSize
WORD_GAP = 2.5        # for 10pt: > 1.5 break threshold, mode word distance
LINE_DIST = 2.0       # base-bbox vertical gap between consecutive lines
BLOCK_GAP = 8.0       # > expected 2.0 + max(1, 0.2)  (Config.h:504-507)
COL_GAP = 20.0        # > 2*mostFreqWordDistance=5 and > 2*avgCharWidth=10
LINE_UNITS = 40       # char units per justified line
MARGIN_X = 50.0
TOP_BASE = 80.0


# ---------------------------------------------------------------------------
# layout engine
# ---------------------------------------------------------------------------

@dataclass
class _PageBuilder:
    page_num: int
    chars: List[dict] = field(default_factory=list)
    figures: List[Tuple[float, float, float, float]] = field(default_factory=list)
    shapes: List[Tuple[float, float, float, float]] = field(default_factory=list)
    graphics: List[Tuple[float, float, float, float]] = field(default_factory=list)

    def to_dict(self) -> dict:
        return {"page_num": self.page_num, "clip": (0.0, 0.0, 612.0, 792.0),
                "chars": self.chars, "figures": self.figures,
                "shapes": self.shapes, "graphics": self.graphics}


def place_word(page: _PageBuilder, text: str, x: float, base: float,
               font_size: float = FS_BODY, font: FontInfo = BODY_FONT,
               rotation: int = 0, char_specs: Optional[List[dict]] = None,
               ) -> float:
    """Place a word's chars left-to-right starting at x; returns next x."""
    cw = R1(CHAR_W * font_size)
    ch_h = R1(CHAR_H * font_size)
    if char_specs is None:
        char_specs = [{"text": c} for c in text]
    for spec in char_specs:
        width = spec.get("width", cw)
        page.chars.append({
            "name": spec.get("name", ""),
            "text": spec.get("text", ""),
            # unicodes omitted when derivable from text (the decoder
            # reconstructs them; ~30% smaller payloads)
            "unicodes": spec.get("unicodes", []),
            "left_x": R1(x), "upper_y": R1(base - ch_h),
            "right_x": R1(x + width), "lower_y": R1(base),
            "base": R1(base), "font_size": font_size, "rotation": rotation,
            "w_mode": 0, "font": font.name,
            **({"trm": spec["trm"]} if "trm" in spec else {}),
        })
        x += width
    return R1(x)


def place_line(page: _PageBuilder, words: List[str], x: float, base: float,
               font_size: float = FS_BODY, font: FontInfo = BODY_FONT,
               gap: float = WORD_GAP) -> float:
    for i, w in enumerate(words):
        x = place_word(page, w, x, base, font_size, font)
        if i < len(words) - 1:
            x = R1(x + gap)
    return x


def make_lines(rng: random.Random, n_lines: int,
               units: int = LINE_UNITS) -> List[List[str]]:
    """Lines of words whose char counts sum to exactly `units` (justified)."""
    lines = []
    for _ in range(n_lines):
        words: List[str] = []
        remaining = units
        while remaining > 0:
            choices = [w for w in WORD_POOL if len(w) <= remaining]
            # make sure we can always finish exactly
            finishers = [w for w in choices if len(w) == remaining]
            if finishers and (remaining <= 6 or rng.random() < 0.2):
                w = rng.choice(finishers)
            elif [w for w in choices if remaining - len(w) >= 3 or remaining - len(w) == 0]:
                w = rng.choice([w for w in choices
                                if remaining - len(w) >= 3 or remaining - len(w) == 0])
            else:
                w = rng.choice(choices)
            words.append(w)
            remaining -= len(w)
        lines.append(words)
    return lines


# ---------------------------------------------------------------------------
# golden-text mirror (intent level)
# ---------------------------------------------------------------------------

def golden_dehyphenated_blocks(blocks: List[List[List[str]]]) -> List[List[str]]:
    """Dehyphenated per-block word lists over intended (block -> line ->
    words) text, including cross-block/page merges
    (WordsDehyphenation.cpp:37-78) — shared by the TXT and TXT-EXTENDED
    golden mirrors."""
    # Flatten to (block_idx, line_words) preserving order.
    flat: List[Tuple[int, List[str]]] = []
    for b, block in enumerate(blocks):
        for line in block:
            if line:
                flat.append((b, list(line)))

    # Apply dehyphenation globally across consecutive non-empty lines.
    merged_first: Dict[Tuple[int, int], str] = {}
    skip_second: set = set()
    for i in range(1, len(flat)):
        prev_words = flat[i - 1][1]
        curr_words = flat[i][1]
        prev_text = prev_words[-1]
        if len(prev_text) > 1 and prev_text.endswith("-"):
            merged_first[(i - 1, len(prev_words) - 1)] = (
                prev_text[:-1] + curr_words[0])
            skip_second.add((i, 0))

    out_blocks: List[List[str]] = []
    current_block = -1
    for i, (b, words) in enumerate(flat):
        if b != current_block:
            out_blocks.append([])
            current_block = b
        for j, w in enumerate(words):
            if (i, j) in skip_second:
                continue
            out_blocks[-1].append(merged_first.get((i, j), w))

    return out_blocks


def golden_from_blocks(blocks: List[List[List[str]]]) -> str:
    """Mirror of TXT semantics over intended (block -> line -> words) text."""
    out_blocks = golden_dehyphenated_blocks(blocks)
    return "\n\n".join(" ".join(ws) for ws in out_blocks if ws) + "\n"


def golden_extended_paged(blocks: List[List[List[str]]],
                          blocks_per_page: List[int],
                          emphasized: Optional[set] = None,
                          roles: Optional[List[str]] = None) -> str:
    """Mirror of TXT-EXTENDED semantics: '[ROLE] ' prefixes (default
    PARAGRAPH), '\x01' emphasis marks for ``emphasized`` block indices,
    '\n\x0c' after every page, final '\n'
    (PlainTextExtendedSerializer.cpp:44-110)."""
    out_blocks = golden_dehyphenated_blocks(blocks)
    emphasized = emphasized or set()
    parts: List[str] = []
    prev = False
    idx = 0
    for n in blocks_per_page:
        for _ in range(n):
            ws = out_blocks[idx]
            role = roles[idx] if roles else "paragraph"
            mark = "\x01" if idx in emphasized else ""
            idx += 1
            if not ws:
                continue
            if prev:
                parts.append("\n\n")
            parts.append("[" + role.upper() + "] " + mark + " ".join(ws))
            prev = True
        parts.append("\n\x0c")
    parts.append("\n")
    return "".join(parts)


# Per-family TXT-EXTENDED mirror metadata: blocks-per-page distribution
# (None = even split over n_pages) and emphasized block indices (bold and/or
# larger-font blocks, by construction of the family builders).
FAMILY_EXT_META: Dict[str, Tuple[Optional[Callable[[int, int], List[int]]],
                                 frozenset]] = {
    "degenerate": (lambda nb, np: [0] * (np - 1) + [nb], frozenset()),
    "headings": (None, frozenset({0})),
    "mixed-two-col": (None, frozenset({0})),
    "article-roles": (None, frozenset({0, 3})),
}


def golden_extended_for_row(row: dict) -> str:
    """TXT-EXTENDED golden for a build_corpus row, computed from the intent
    + family metadata (never from the pipeline)."""
    intent = row["golden_intent"]
    n_pages = row["n_pages"]
    out_blocks = golden_dehyphenated_blocks(intent)
    bpp_fn, emphasized = FAMILY_EXT_META.get(row["family"], (None, frozenset()))
    if bpp_fn is None:
        nb = len(out_blocks)
        assert nb % n_pages == 0, (row["family"], nb, n_pages)
        bpp = [nb // n_pages] * n_pages
    else:
        bpp = bpp_fn(len(out_blocks), n_pages)
    return golden_extended_paged(intent, bpp, set(emphasized))


def golden_block_texts(blocks: List[List[List[str]]]) -> List[str]:
    """Intent-level block texts as built by createTextBlock
    (TextBlocksDetectionUtils.cpp:749-761): words joined by ' ' within a
    line, lines joined by ' ' — block text carries NO dehyphenation
    substitution (dehyphenation runs after block creation and only rewrites
    the serializers' word stream)."""
    return [" ".join(" ".join(line) for line in block if line)
            for block in blocks if any(line for line in block)]


# ---------------------------------------------------------------------------
# fixture families
# ---------------------------------------------------------------------------

def _layout_paragraphs(page: _PageBuilder, paragraphs: List[List[List[str]]],
                       x: float, start_base: float,
                       font_size: float = FS_BODY,
                       font: FontInfo = BODY_FONT) -> float:
    """Stack paragraphs at x; returns the base after the last line."""
    base = start_base
    step = R1(LINE_DIST + CHAR_H * font_size)
    block_step = R1(BLOCK_GAP + CHAR_H * font_size)
    for p, paragraph in enumerate(paragraphs):
        for li, line in enumerate(paragraph):
            place_line(page, line, x, base, font_size, font)
            base = R1(base + (step if li < len(paragraph) - 1 else 0))
        base = R1(base + block_step)
    return base


def build_plain_1col(rng: random.Random):
    """Minimum slice: words, lines, block splits by vertical gap."""
    n_paras = rng.randint(2, 4)
    paragraphs = [make_lines(rng, rng.randint(3, 5)) for _ in range(n_paras)]
    page = _PageBuilder(1)
    _layout_paragraphs(page, paragraphs, MARGIN_X, TOP_BASE)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, paragraphs


def build_two_col(rng: random.Random):
    """T5/T6 column split + T14 reading order (left column first); the
    columns have different paragraph lengths (real layouts are ragged)."""
    col_a = [make_lines(rng, rng.randint(5, 8)),
             make_lines(rng, rng.randint(5, 8))]
    col_b = [make_lines(rng, rng.randint(5, 8)),
             make_lines(rng, rng.randint(5, 8))]
    page = _PageBuilder(1)
    # emit column A first (extraction order = reading order)
    _layout_paragraphs(page, col_a, MARGIN_X, TOP_BASE)
    col_a_width = LINE_UNITS * CHAR_W * FS_BODY / 10.0 * 1.0  # 40*5 = 200
    max_right = MARGIN_X + col_a_width + WORD_GAP * 12  # conservative
    col_b_x = R1(MARGIN_X + 230.0 + COL_GAP)
    _layout_paragraphs(page, col_b, col_b_x, TOP_BASE)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, col_a + col_b


def build_hyphenated(rng: random.Random):
    """T16 dehyphenation within a paragraph."""
    paragraphs = [make_lines(rng, 4), make_lines(rng, 3)]
    # hyphenate the 2nd line of the first paragraph: replace its last word
    # with "<w>-" and keep total units constant (append a 0-pad? keep simple:
    # swap last word for one 1 char shorter + "-").
    line = paragraphs[0][1]
    last = line[-1]
    shorter = next((w for w in WORD_POOL if len(w) == len(last) - 1), None)
    if shorter is None:
        shorter = last[:-1]
    line[-1] = shorter + "-"
    page = _PageBuilder(1)
    _layout_paragraphs(page, paragraphs, MARGIN_X, TOP_BASE)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, paragraphs


def build_diacritics(rng: random.Random):
    """T1 merging: combining and non-combining marks over base chars."""
    paragraphs = [make_lines(rng, 3)]
    page = _PageBuilder(1)
    base = TOP_BASE
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for li, line in enumerate(paragraphs[0]):
        place_line(page, line, MARGIN_X, base)
        if li < len(paragraphs[0]) - 1:
            base = R1(base + step)
    # a final line "cafe" + combining acute over the 'e' -> "café"
    block_step = R1(BLOCK_GAP + CHAR_H * FS_BODY)
    base = R1(base + block_step)
    x = place_word(page, "caf", MARGIN_X, base)
    # base char 'e'
    e_left = x
    x = place_word(page, "e", x, base)
    # combining acute mark U+0301 drawn above the 'e', x-overlapping it
    page.chars.append({
        "name": "acutecomb", "text": "́", "unicodes": [0x0301],
        "left_x": R1(e_left + 1.0), "upper_y": R1(base - 9.0),
        "right_x": R1(e_left + 4.0), "lower_y": R1(base - 7.5),
        "base": R1(base), "font_size": FS_BODY, "rotation": 0, "w_mode": 0,
        "font": BODY_FONT.name,
    })
    x = R1(x + WORD_GAP)
    place_line(page, ["mood"], x, base)
    intended = paragraphs + [[["café", "mood"]]]
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, intended


def build_ligatures(rng: random.Random):
    """S2 ligature expansion: one char with unicodes [f,f,i] -> 'ffi'."""
    paragraphs = [make_lines(rng, 3)]
    page = _PageBuilder(1)
    _layout_paragraphs(page, paragraphs, MARGIN_X, TOP_BASE)
    base = R1(TOP_BASE + (len(paragraphs[0]) - 1) * (LINE_DIST + CHAR_H * FS_BODY)
              + BLOCK_GAP + CHAR_H * FS_BODY)
    x = place_word(page, "o", MARGIN_X, base)
    x = place_word(page, "", x, base, char_specs=[
        {"text": "", "name": "ffi-lig", "unicodes": [0x66, 0x66, 0x69],
         "width": 10.0}])
    x = place_word(page, "ce", x, base)
    x = R1(x + WORD_GAP)
    place_line(page, ["work"], x, base)
    intended = paragraphs + [[["office", "work"]]]
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, intended


# glyph names sampled across the full CharMap table (CharMap.h:32-171),
# incl. the multi-char thumbs_up text ("ὄ" + 'D', a faithful replication
# of the reference's 4-hex-digit C++ literal)
CHARNAME_SAMPLE = [
    ("circlecopyrt", "©"), ("epsilon1", "ε"), ("parenleftbig", "("),
    ("radicalBigg", "√"), ("logicalanddisplay", "∧"), ("bardbl", "‖"),
    ("unionmultitext", "⊎"), ("ceilingleftbig", "⌈"), ("prime", "′"),
    ("thumbs_up", "ὄD"),
]


def build_charnames(rng: random.Random):
    """S2 charMap fallback: glyph name + a deliberately WRONG single
    unicode ('?'), proving the name map overrides a provided unicode
    (PdfParsing.cpp:206-208 applies the map when uLen == 1)."""
    paragraphs = [make_lines(rng, 3)]
    page = _PageBuilder(1)
    _layout_paragraphs(page, paragraphs, MARGIN_X, TOP_BASE)
    base = R1(TOP_BASE + (len(paragraphs[0]) - 1) * (LINE_DIST + CHAR_H * FS_BODY)
              + BLOCK_GAP + CHAR_H * FS_BODY)
    x = place_line(page, ["total"], MARGIN_X, base)
    glyph_words = ["total"]
    for name, text in CHARNAME_SAMPLE:
        x = R1(x + WORD_GAP)
        x = place_word(page, "", x, base, char_specs=[
            {"text": "", "name": name, "unicodes": [0x3F], "width": 7.0}])
        glyph_words.append(text)
    intended = paragraphs + [[glyph_words]]
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, intended


def build_headings(rng: random.Random):
    """T11 font-size block split: a 14pt heading over 10pt body."""
    heading = [["Network", "Flows"]]
    body1 = make_lines(rng, rng.randint(3, 4))
    body2 = make_lines(rng, rng.randint(3, 4))
    page = _PageBuilder(1)
    fs_head = 14.0
    base = TOP_BASE
    place_line(page, heading[0], MARGIN_X, base, fs_head, BOLD_FONT)
    # heading -> body separated by the normal block gap
    base = R1(base + BLOCK_GAP + CHAR_H * FS_BODY)
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for li, line in enumerate(body1):
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    base = R1(base - step + BLOCK_GAP + CHAR_H * FS_BODY)
    for li, line in enumerate(body2):
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [heading, body1, body2]


def build_multi_page(rng: random.Random):
    """3 pages; hyphenated word crossing the page boundary."""
    pages = []
    all_paragraphs: List[List[List[str]]] = []
    carry = None
    for page_num in (1, 2, 3):
        page = _PageBuilder(page_num)
        paragraphs = [make_lines(rng, rng.randint(2, 3)) for _ in range(2)]
        if page_num == 1:
            # hyphenate the very last word of page 1 (crosses page boundary,
            # but stays inside the same *intended* paragraph? no — blocks
            # split at page bounds here, so the merge crosses blocks).
            last_line = paragraphs[-1][-1]
            last = last_line[-1]
            shorter = next((w for w in WORD_POOL if len(w) == len(last) - 1),
                           last[:-1])
            last_line[-1] = shorter + "-"
        _layout_paragraphs(page, paragraphs, MARGIN_X, TOP_BASE)
        pages.append(page.to_dict())
        all_paragraphs.extend(paragraphs)
    payload = encode_payload(FONTS, pages)
    return payload, all_paragraphs


def build_degenerate(rng: random.Random):
    """Edge handling: a page with zero chars plus whitespace-only chars."""
    page1 = _PageBuilder(1)  # empty page
    page2 = _PageBuilder(2)
    paragraphs = [make_lines(rng, 2)]
    _layout_paragraphs(page2, paragraphs, MARGIN_X, TOP_BASE)
    # whitespace chars (suppressed at decode: PdfParsing.cpp:229-245)
    place_word(page2, " ", MARGIN_X, 300.0)
    place_word(page2, " ", MARGIN_X + 10.0, 300.0)
    payload = encode_payload(FONTS, [page1.to_dict(), page2.to_dict()])
    return payload, paragraphs


def build_family_pages(family: str, rng: random.Random):
    """Rebuild one family doc and CAPTURE the raw page dicts — the
    construction-time geometry (figures/shapes bboxes, clip boxes) before
    encoding.  Used by oracle builders that need intent-level non-text
    geometry without going through the decoder (independent golden).

    Works by intercepting this module's ``encode_payload`` binding for the
    duration of one builder call; builders resolve it from module globals.
    """
    captured = {}
    real = globals()["encode_payload"]

    def wrapper(fonts, pages):
        captured["pages"] = pages
        return real(fonts, pages)

    globals()["encode_payload"] = wrapper
    try:
        payload, intent = FAMILY_BUILDERS[family](rng)
    finally:
        globals()["encode_payload"] = real
    return payload, intent, captured["pages"]


def build_jumbo(rng: random.Random, n_pages: int = 12):
    """Oversized document for size-bucket salting / skew benchmarks."""
    pages = []
    all_paragraphs: List[List[List[str]]] = []
    for page_num in range(1, n_pages + 1):
        page = _PageBuilder(page_num)
        paragraphs = [make_lines(rng, 5) for _ in range(5)]
        _layout_paragraphs(page, paragraphs, MARGIN_X, TOP_BASE)
        pages.append(page.to_dict())
        all_paragraphs.extend(paragraphs)
    payload = encode_payload(FONTS, pages)
    return payload, all_paragraphs


# Each builder returns (payload_bytes, intent_blocks); derive golden text
# via golden_from_blocks(intent) and block texts via golden_block_texts.
FAMILY_BUILDERS: Dict[str, Callable[[random.Random], Tuple[bytes, list]]] = {
    "plain-1col": build_plain_1col,
    "two-col": build_two_col,
    "hyphenated": build_hyphenated,
    "diacritics": build_diacritics,
    "ligatures": build_ligatures,
    "charnames": build_charnames,
    "headings": build_headings,
    "multi-page": build_multi_page,
    "degenerate": build_degenerate,
}


def build_corpus(n_docs: int, families: Optional[List[str]] = None,
                 seed: int = 42, jumbo_every: int = 0) -> List[dict]:
    """Deterministic corpus rows matching the input_hint schema plus
    ``golden_text`` / ``family`` columns for verification."""
    import datetime

    families = families or list(FAMILY_BUILDERS)
    rows = []
    t0 = datetime.datetime(2024, 1, 1)
    for i in range(n_docs):
        if jumbo_every and i % jumbo_every == jumbo_every - 1:
            family = "jumbo"
            rng = random.Random(seed * 1000003 + i)
            payload, intent = build_jumbo(rng)
        else:
            family = families[i % len(families)]
            rng = random.Random(seed * 1000003 + i)
            payload, intent = FAMILY_BUILDERS[family](rng)
        rows.append({
            "url": "https://fixture.test/%s/doc-%05d" % (family, i),
            "warc_ts": t0 + datetime.timedelta(seconds=i),
            "html": payload,
            "text": "",
            "lang": "en",
            "golden_text": golden_from_blocks(intent),
            "golden_blocks": golden_block_texts(intent),
            "golden_intent": intent,
            "n_pages": page_count(payload),
            "family": family,
        })
    return rows


# ---------------------------------------------------------------------------
# extended families (round 1, wave 2)
# ---------------------------------------------------------------------------

def build_centered(rng: random.Random):
    """T12/T13 centered block: the 2nd line is narrower and centered; the
    centering rule (TextBlocksDetectionUtils.cpp:73-161) must keep the block
    together even though the line would otherwise match the indent rule."""
    col_center = MARGIN_X + (LINE_UNITS * 5.0 + 7 * WORD_GAP) / 2.0
    title_lines = [
        ["centered", "title", "spanning", "the", "whole", "column", "kind"],
        ["short", "middle", "row"],
        ["another", "quite", "wide", "centered", "line", "there", "okay"],
    ]
    page = _PageBuilder(1)
    base = TOP_BASE
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for line in title_lines:
        width = sum(len(w) for w in line) * 5.0 + WORD_GAP * (len(line) - 1)
        x = R1(col_center - width / 2.0)
        place_line(page, line, x, base)
        base = R1(base + step)
    base = R1(base - step + BLOCK_GAP + CHAR_H * FS_BODY)
    body = make_lines(rng, rng.randint(3, 4))
    for li, line in enumerate(body):
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [title_lines, body]


def build_enumerations(rng: random.Random):
    """T12 item rules: '-'-labeled items with indented continuation lines
    split into one block per item (TextBlocksDetection.cpp:543-648)."""
    items = []
    for _ in range(3):
        first = ["-"] + make_lines(rng, 1, units=38)[0]
        cont = make_lines(rng, 1, units=36)[0]
        items.append((first, cont))
    page = _PageBuilder(1)
    base = TOP_BASE
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for first, cont in items:
        place_line(page, first, MARGIN_X, base)
        base = R1(base + step)
        place_line(page, cont, R1(MARGIN_X + 10.0), base)  # indent 2 chars
        base = R1(base + step)
    payload = encode_payload(FONTS, [page.to_dict()])
    blocks = [[first, cont] for first, cont in items]
    return payload, blocks


def _place_superscript(page: _PageBuilder, ch: str, x: float, body_base: float,
                       fs: float = 6.0) -> float:
    """A superscript char: smaller font, raised baseline, bbox overlapping
    the body line so line merging keeps it (SubSuperScriptsDetection rules:
    fs < mostFreq - 0.9, base < line.base - 0.1)."""
    w = R1(CHAR_W * fs)
    sup_base = R1(body_base - 3.0)
    page.chars.append({
        "name": "", "text": ch, "unicodes": [ord(ch)],
        "left_x": R1(x), "upper_y": R1(sup_base - CHAR_H * fs),
        "right_x": R1(x + w), "lower_y": R1(sup_base),
        "base": sup_base, "font_size": fs, "rotation": 0, "w_mode": 0,
        "font": BODY_FONT.name,
    })
    return R1(x + w)


def build_subsuper(rng: random.Random):
    """T10 sub/superscripts + footnote detection: a body word carries a
    superscript marker; two adjacent footnotes split at the 2nd label
    (computePotentialFootnoteLabels / computeIsPrefixedByFootnoteLabel)."""
    body = make_lines(rng, 3)
    page = _PageBuilder(1)
    base = TOP_BASE
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for li, line in enumerate(body):
        x = MARGIN_X
        for wi, w in enumerate(line):
            x = place_word(page, w, x, base)
            if li == 0 and wi == len(line) - 1:
                x = _place_superscript(page, "1", x, base)
            if wi < len(line) - 1:
                x = R1(x + WORD_GAP)
        if li == len(body) - 1:
            # a chemistry-style word with a SUBSCRIPT digit appended to the
            # last body line: lowered baseline, smaller font, bbox still
            # y-overlapping the word (SubSuperScriptsDetection.cpp:85-89)
            x = R1(x + WORD_GAP)
            x = place_word(page, "h", x, base)
            sub_base = R1(base + 2.0)
            sw = R1(CHAR_W * 6.0)
            page.chars.append({
                "name": "", "text": "2", "unicodes": [ord("2")],
                "left_x": x, "upper_y": R1(sub_base - CHAR_H * 6.0),
                "right_x": R1(x + sw), "lower_y": sub_base, "base": sub_base,
                "font_size": 6.0, "rotation": 0, "w_mode": 0,
                "font": BODY_FONT.name,
            })
            place_word(page, "o", R1(x + sw), base)
        base = R1(base + step)
    base = R1(base - step + BLOCK_GAP + CHAR_H * FS_BODY)
    # two adjacent footnotes, each: superscript label + text, normal spacing
    fn_texts = [make_lines(rng, 1, units=30)[0] for _ in range(2)]
    fn_blocks = []
    for i, words in enumerate(fn_texts):
        x = MARGIN_X
        x = _place_superscript(page, str(i + 1), x, base)
        first, rest = words[0], words[1:]
        x = place_word(page, first, x, base)
        for w in rest:
            x = R1(x + WORD_GAP)
            x = place_word(page, w, x, base)
        base = R1(base + step)
        fn_blocks.append([[str(i + 1) + first] + rest])
    payload = encode_payload(FONTS, [page.to_dict()])
    intended_body = [line[:] for line in body]
    intended_body[0][-1] = intended_body[0][-1] + "1"  # marker glued to word
    intended_body[-1] = intended_body[-1] + ["h2o"]    # subscript word
    return payload, [intended_body] + fn_blocks


def build_stacked_math(rng: random.Random):
    """T4 stacked math: a display summation absorbs its smaller-font limits
    (WordsDetection.cpp:261-397); the formula line becomes its own block via
    the font-size rule."""
    body1 = make_lines(rng, 3)
    body2 = make_lines(rng, 3)
    page = _PageBuilder(1)
    base = TOP_BASE
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for line in body1:
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    base = R1(base - step + BLOCK_GAP + CHAR_H * FS_BODY + 6.0)
    x0 = R1(MARGIN_X + 40.0)
    # base word: 14pt summation symbol
    page.chars.append({
        "name": "summationdisplay", "text": "∑", "unicodes": [0x2211],
        "left_x": x0, "upper_y": R1(base - 9.8), "right_x": R1(x0 + 10.0),
        "lower_y": base, "base": base, "font_size": 14.0, "rotation": 0,
        "w_mode": 0, "font": BODY_FONT.name,
    })
    # limits below: "i=0" at 6pt, x-overlapping the base symbol
    lim_base = R1(base + 6.2)
    x = R1(x0 + 0.5)
    for ch in "i=0":
        page.chars.append({
            "name": "", "text": ch, "unicodes": [ord(ch)],
            "left_x": x, "upper_y": R1(lim_base - 4.2), "right_x": R1(x + 3.0),
            "lower_y": lim_base, "base": lim_base, "font_size": 6.0,
            "rotation": 0, "w_mode": 0, "font": BODY_FONT.name,
        })
        x = R1(x + 3.0)
    base = R1(lim_base + BLOCK_GAP + CHAR_H * FS_BODY + 6.0)
    for line in body2:
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [body1, [["∑", "i=0"]], body2]


def build_figures(rng: random.Random):
    """T11 same-figure rule: two caption lines inside one figure stay one
    block despite a block-sized gap (TextBlocksDetection.cpp:327-350); a
    wide shape acts as a reading-order separator (primary y-cut)."""
    body = make_lines(rng, 3)
    page = _PageBuilder(1)
    base = TOP_BASE
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for line in body:
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    # wide horizontal separator shape between body and the figure zone
    sep_y = R1(base + 4.0)
    page.shapes.append((MARGIN_X, sep_y, R1(MARGIN_X + 220.0), R1(sep_y + 0.6)))
    # figure box with two text lines separated by a block-sized gap; the
    # lines are near body width so the prev-line-capacity rule cannot split
    # them in pass 2 (the same-figure rule already kept them in pass 1)
    fig_top = R1(sep_y + 10.0)
    cap1 = make_lines(rng, 1, units=38)[0]
    cap2 = make_lines(rng, 1, units=38)[0]
    cap1_base = R1(fig_top + 20.0)
    cap2_base = R1(cap1_base + BLOCK_GAP + CHAR_H * FS_BODY)
    place_line(page, cap1, R1(MARGIN_X + 10.0), cap1_base)
    place_line(page, cap2, R1(MARGIN_X + 10.0), cap2_base)
    fig_bottom = R1(cap2_base + 20.0)
    page.figures.append((MARGIN_X, fig_top, R1(MARGIN_X + 235.0), fig_bottom))
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [body, [cap1, cap2]]


def build_rotated(rng: random.Random):
    """Rotation paths: a vertical (rotation=1) sidebar on the far left.
    Faithful to the reference's geometry: vertically-advancing glyphs have
    zero raw y-overlap, so each becomes its own word
    (WordsDetection.cpp:219-231); they cluster into one rot-1 line by
    rotLowerY=leftX and the sidebar block is ordered FIRST by the primary
    x-cut on rotation (ReadingOrderDetection.cpp:179-194)."""
    body = [make_lines(rng, 3), make_lines(rng, 3)]
    page = _PageBuilder(1)
    body_x = R1(MARGIN_X + 30.0)
    _layout_paragraphs(page, body, body_x, TOP_BASE)
    # vertical sidebar at x=40: glyphs advance downward
    sidebar = "note"
    x = 40.0
    y = TOP_BASE
    for ch in sidebar:
        page.chars.append({
            "name": "", "text": ch, "unicodes": [ord(ch)],
            "left_x": x, "upper_y": R1(y), "right_x": R1(x + 7.0),
            "lower_y": R1(y + 5.0), "base": x, "font_size": 10.0,
            "rotation": 1, "w_mode": 0, "font": BODY_FONT.name,
        })
        y = R1(y + 5.0)
    payload = encode_payload(FONTS, [page.to_dict()])
    # golden: sidebar first (primary x-cut), one word per glyph
    sidebar_block = [[c for c in sidebar]]
    return payload, [sidebar_block] + body


FAMILY_BUILDERS.update({
    "centered": build_centered,
    "enumerations": build_enumerations,
    "subsuper": build_subsuper,
    "stacked-math": build_stacked_math,
    "figures": build_figures,
    "rotated": build_rotated,
})


def build_hanging_indent(rng: random.Random):
    """T12/T13 hanging indent: reference-list entries (flush first lines,
    constantly-indented lowercase continuations).  computeHangingIndent
    (TextBlocksDetectionUtils.cpp:243-393) detects the format; the
    non-indented lines then start blocks (TextBlocksDetection.cpp:727-731).

    The continuations are laid out justified to the same right edge as the
    first lines so the block does not read as centered
    (computeIsTextLinesCentered needs |leftOff| ~ |rightOff|).
    """
    indent = 15.0  # 3 chars > hangIndentMarginThreshold (1 x avgCharWidth)
    entries = []
    for _ in range(3):
        first = make_lines(rng, 1, units=LINE_UNITS)[0]
        first[0] = first[0].capitalize()  # non-indented lines start upper
        # keep the continuation's word count close to the first line's so
        # |rightOff| stays far from |leftOff| and the pair cannot read as
        # centered (computeIsCentered tolerance is 2 x avgCharWidth)
        cont = make_lines(rng, 1, units=37)[0]
        for _attempt in range(50):
            if abs(len(cont) - len(first)) <= 1:
                break
            cont = make_lines(rng, 1, units=37)[0]
        entries.append((first, cont))
    page = _PageBuilder(1)
    base = TOP_BASE
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for first, cont in entries:
        place_line(page, first, MARGIN_X, base)
        base = R1(base + step)
        place_line(page, cont, R1(MARGIN_X + indent), base)
        base = R1(base + step)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [[first, cont] for first, cont in entries]


FAMILY_BUILDERS["hanging-indent"] = build_hanging_indent


def build_three_col(rng: random.Random):
    """Three columns: the x-cut sweep must choose TWO cuts in one pass,
    exercising the prevChosenCut path of the slim-group veto
    (PageSegmentation.cpp:348-406)."""
    cols = []
    for _ in range(3):
        cols.append([make_lines(rng, rng.randint(5, 7), units=26),
                     make_lines(rng, rng.randint(4, 6), units=26)])
    page = _PageBuilder(1)
    x = MARGIN_X
    for col in cols:
        _layout_paragraphs(page, col, x, TOP_BASE)
        # column width: 26 units * 5 + gaps ~ 150; next column after a gap
        x = R1(x + 26 * 5.0 + 9 * WORD_GAP + COL_GAP)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [p for col in cols for p in col]


FAMILY_BUILDERS["three-col"] = build_three_col


def build_mixed_two_col(rng: random.Random):
    """Composite: a 14pt bold heading atop the left column of a two-column
    layout — block font-size splits (T11) interacting with column
    segmentation (T5) and reading order (T14) in one document."""
    heading = [["Section", "Results"]]
    col_a_body = [make_lines(rng, rng.randint(4, 6)),
                  make_lines(rng, rng.randint(4, 6))]
    col_b = [make_lines(rng, rng.randint(4, 6)),
             make_lines(rng, rng.randint(4, 6))]
    page = _PageBuilder(1)
    # column A: heading, then body paragraphs
    base = TOP_BASE
    place_line(page, heading[0], MARGIN_X, base, 14.0, BOLD_FONT)
    base = R1(base + BLOCK_GAP + CHAR_H * FS_BODY)
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    block_step = R1(BLOCK_GAP + CHAR_H * FS_BODY)
    for para in col_a_body:
        for li, line in enumerate(para):
            place_line(page, line, MARGIN_X, base)
            base = R1(base + (step if li < len(para) - 1 else 0))
        base = R1(base + block_step)
    # column B
    col_b_x = R1(MARGIN_X + 230.0 + COL_GAP)
    _layout_paragraphs(page, col_b, col_b_x, TOP_BASE)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [heading] + col_a_body + col_b


FAMILY_BUILDERS["mixed-two-col"] = build_mixed_two_col


def build_clipped_figure(rng: random.Random):
    """S2 clip-box figure grouping: chars drawn under a non-page clip box
    divert into the figure (PdfParsing.cpp:513-591) and never reach the
    extracted text; the page text around the figure extracts normally."""
    body = [make_lines(rng, 3), make_lines(rng, 3)]
    page = _PageBuilder(1)
    _layout_paragraphs(page, body, MARGIN_X, TOP_BASE)
    # a figure with internal (clipped) label text that must NOT extract
    fig_top, fig_left = 260.0, MARGIN_X
    page.figures.append((fig_left, fig_top, R1(fig_left + 180.0),
                         R1(fig_top + 60.0)))
    x = R1(fig_left + 20.0)
    for ch in "axis":
        page.chars.append({
            "name": "", "text": ch, "unicodes": [ord(ch)],
            "left_x": x, "upper_y": R1(fig_top + 20.0), "right_x": R1(x + 5.0),
            "lower_y": R1(fig_top + 27.0), "base": R1(fig_top + 27.0),
            "font_size": 10.0, "rotation": 0, "w_mode": 0,
            "font": BODY_FONT.name, "figure_idx": 0,
        })
        x = R1(x + 5.0)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, body  # the clipped "axis" text is intentionally absent


FAMILY_BUILDERS["clipped-figure"] = build_clipped_figure


# S4 deep path: a font carrying embedded-font-program glyph bboxes.  The
# glyph box is in glyph space (y-up, 1000 units/em); through the default
# 0.001 fontMatrix and a y-flipping trm (fs, 0, 0, -fs, x, base) the tall
# glyph measures (x, base-7.5, x+5, base) — vertically LARGER than the
# position-derived (x, base-7.0, x+5, base), so the preference branch
# (PdfParsing.cpp:423-455) replaces the bbox; the short glyph measures
# base-6.5 and is NOT preferred.  Horizontal extent matches exactly
# (500 glyph units * 0.001 * fs == CHAR_W * fs), and the preferred base
# (= alt lowerY) equals the baseline, so words/lines/blocks are unchanged
# and the family golden stays intent-derivable.
GLYPH_FONT = FontInfo(
    name="glyph-metrics", ascent=0.75, descent=-0.25, weight=400,
    font_matrix=(0.001, 0.0, 0.0, 0.001, 0.0, 0.0),
    glyph_bboxes={"g.tall": (0.0, 0.0, 500.0, 750.0),
                  "g.short": (0.0, 0.0, 500.0, 650.0)})


def build_font_glyph_bbox(rng: random.Random):
    """S4 deep path family: first word of paragraph 1 is measured through
    the glyph-bbox branch (taken), first word of paragraph 2 through the
    negative control (not taken); the rest is plain body text."""
    body = [make_lines(rng, 2), make_lines(rng, 2)]
    page = _PageBuilder(1)
    _layout_paragraphs(page, body, MARGIN_X, TOP_BASE)
    w_tall = body[0][0][0]
    w_short = body[1][0][0]
    n_para1 = sum(len(w) for line in body[0] for w in line)
    for start, word, glyph in ((0, w_tall, "g.tall"),
                               (n_para1, w_short, "g.short")):
        for k in range(len(word)):
            c = page.chars[start + k]
            c["name"] = glyph
            c["font"] = GLYPH_FONT.name
            c["trm"] = (FS_BODY, 0.0, 0.0, -FS_BODY,
                        c["left_x"], c["base"])
    payload = encode_payload(FONTS + [GLYPH_FONT], [page.to_dict()])
    return payload, body


FAMILY_BUILDERS["font-glyph-bbox"] = build_font_glyph_bbox


def _type1_glyph_font():
    """GLYPH_FONT's twin carrying a REAL embedded Type 1 font program
    whose charstring-traced bboxes equal GLYPH_FONT.glyph_bboxes — the
    payload-v4 (raw-font-bytes) surface of the same S4 deep path."""
    from . import fontfile

    prog = fontfile.build_type1_program({
        name: fontfile.build_charstring_for_bbox(*map(int, bbox))
        for name, bbox in GLYPH_FONT.glyph_bboxes.items()})
    return FontInfo(name=GLYPH_FONT.name, ascent=GLYPH_FONT.ascent,
                    descent=GLYPH_FONT.descent, weight=GLYPH_FONT.weight,
                    font_program=prog)


def build_type1_font(rng: random.Random):
    """S4 deep path over RAW font bytes: the font-glyph-bbox layout with
    the glyph metrics delivered as an embedded Type 1 font program
    (payload v4) that decode parses via fontfile.parse_type1 — same
    preference branch, same golden shape."""
    body = [make_lines(rng, 2), make_lines(rng, 2)]
    page = _PageBuilder(1)
    _layout_paragraphs(page, body, MARGIN_X, TOP_BASE)
    w_tall = body[0][0][0]
    w_short = body[1][0][0]
    n_para1 = sum(len(w) for line in body[0] for w in line)
    for start, word, glyph in ((0, w_tall, "g.tall"),
                               (n_para1, w_short, "g.short")):
        for k in range(len(word)):
            c = page.chars[start + k]
            c["name"] = glyph
            c["font"] = GLYPH_FONT.name
            c["trm"] = (FS_BODY, 0.0, 0.0, -FS_BODY,
                        c["left_x"], c["base"])
    payload = encode_payload(FONTS + [_type1_glyph_font()],
                             [page.to_dict()])
    return payload, body


FAMILY_BUILDERS["type1-font"] = build_type1_font


def build_wmode(rng: random.Random):
    """Writing-mode paths: a vertical-writing-mode (wMode=1) margin note.
    Word/block splits on wMode change (WordsDetection.cpp:207-216,
    TextBlocksDetection.cpp:374-392) and the wMode-driven primary x-cut
    (ReadingOrderDetection.cpp:179-194) order the note first."""
    body = [make_lines(rng, 3), make_lines(rng, 3)]
    page = _PageBuilder(1)
    body_x = R1(MARGIN_X + 30.0)
    _layout_paragraphs(page, body, body_x, TOP_BASE)
    # margin note: horizontal glyph run with wMode=1, above the body (a
    # baseline between body lines would interleave the segment's line
    # sequence and split the first paragraph — faithful wMode behavior)
    note = "nb"
    x = 40.0
    note_base = R1(TOP_BASE - 12.0)
    for ch in note:
        page.chars.append({
            "name": "", "text": ch, "unicodes": [ord(ch)],
            "left_x": x, "upper_y": R1(note_base - 7.0), "right_x": R1(x + 5.0),
            "lower_y": note_base, "base": note_base, "font_size": 10.0,
            "rotation": 0, "w_mode": 1, "font": BODY_FONT.name,
        })
        x = R1(x + 5.0)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [[["nb"]]] + body


FAMILY_BUILDERS["wmode"] = build_wmode


# ---------------------------------------------------------------------------
# role-rich family (T15/T17 driver coverage)
# ---------------------------------------------------------------------------

# Expected roles by construction, in reading order, for build_article_roles
# (the heuristic head's rules, kernel/roles.py:_predict_roles_heuristic):
# '@' in text -> author-info; first emphasized max-font block -> title;
# other emphasized larger-than-body blocks -> heading; rest -> paragraph.
ARTICLE_ROLES = ["title", "author-info", "paragraph", "heading", "paragraph"]
FS_TITLE = 16.0
FS_HEADING = 13.0


def build_article_roles(rng: random.Random):
    """Title (16pt bold) + author line ('@') + body + heading (13pt bold) +
    body — every role the heuristic head assigns from layout alone, with
    deterministic expected roles (ARTICLE_ROLES)."""
    title = [["Network", "Flow", "Methods"]]
    author = [["by", "jane@example.org"]]
    heading = [["Related", "Work"]]
    body1 = make_lines(rng, rng.randint(3, 4))
    body2 = make_lines(rng, rng.randint(3, 4))

    page = _PageBuilder(1)
    base = TOP_BASE
    place_line(page, title[0], MARGIN_X, base, FS_TITLE, BOLD_FONT)
    base = R1(base + BLOCK_GAP + CHAR_H * FS_BODY)
    place_line(page, author[0], MARGIN_X, base, FS_BODY, BODY_FONT)
    base = R1(base + BLOCK_GAP + CHAR_H * FS_BODY)
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    for line in body1:
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    base = R1(base - step + BLOCK_GAP + CHAR_H * FS_BODY)
    place_line(page, heading[0], MARGIN_X, base, FS_HEADING, BOLD_FONT)
    base = R1(base + BLOCK_GAP + CHAR_H * FS_BODY)
    for line in body2:
        place_line(page, line, MARGIN_X, base)
        base = R1(base + step)
    payload = encode_payload(FONTS, [page.to_dict()])
    return payload, [title, author, body1, heading, body2]


FAMILY_BUILDERS["article-roles"] = build_article_roles


def build_paper_page(rng: random.Random):
    """Composite (round 2): 14pt bold heading + two-column page 1 with the
    column-final word hyphenated ACROSS the page boundary into a
    single-column page 2 — T11 font-size splits x T5/T6 segmentation x T14
    reading order x T16 cross-page dehyphenation in one document."""
    heading = [["Model", "Details"]]
    col_a = [make_lines(rng, rng.randint(4, 6)),
             make_lines(rng, rng.randint(4, 6))]
    col_b = [make_lines(rng, rng.randint(4, 6)),
             make_lines(rng, rng.randint(4, 6))]
    last_line = col_b[-1][-1]
    last = last_line[-1]
    shorter = next((w for w in WORD_POOL if len(w) == len(last) - 1),
                   last[:-1])
    last_line[-1] = shorter + "-"

    page1 = _PageBuilder(1)
    base = TOP_BASE
    place_line(page1, heading[0], MARGIN_X, base, 14.0, BOLD_FONT)
    base = R1(base + BLOCK_GAP + CHAR_H * FS_BODY)
    step = R1(LINE_DIST + CHAR_H * FS_BODY)
    block_step = R1(BLOCK_GAP + CHAR_H * FS_BODY)
    for para in col_a:
        for li, line in enumerate(para):
            place_line(page1, line, MARGIN_X, base)
            base = R1(base + (step if li < len(para) - 1 else 0))
        base = R1(base + block_step)
    col_b_x = R1(MARGIN_X + 230.0 + COL_GAP)
    _layout_paragraphs(page1, col_b, col_b_x, TOP_BASE)

    page2 = _PageBuilder(2)
    p2 = [make_lines(rng, rng.randint(3, 4)),
          make_lines(rng, rng.randint(2, 3))]
    _layout_paragraphs(page2, p2, MARGIN_X, TOP_BASE)

    payload = encode_payload(FONTS, [page1.to_dict(), page2.to_dict()])
    return payload, [heading] + col_a + col_b + p2


FAMILY_BUILDERS["paper-page"] = build_paper_page
FAMILY_EXT_META["paper-page"] = (lambda nb, np: [nb - 2, 2], frozenset({0}))
