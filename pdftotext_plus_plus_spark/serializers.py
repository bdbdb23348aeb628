"""S5-S7 — serialization sinks.

References:
* TXT          — /root/reference/src/serializers/PlainTextSerializer.cpp:38-92
* TXT_EXTENDED — /root/reference/src/serializers/PlainTextExtendedSerializer.cpp:44-110
* JSONL        — /root/reference/src/serializers/JsonlSerializer.cpp:53-270

The TXT surface is the byte-identity contract: blocks joined by "\n\n",
words joined by " " (across lines within a block), second parts of
hyphenated words skipped, merged-diacritic text substituted, trailing "\n".

The TXT, TXT-EXTENDED and JSONL sinks walk the role-filtered blocks
through one iterator (``_role_blocks``), and TXT and TXT-EXTENDED come
from one pass over it (``serialize_text``).

JSONL uses deterministic ids ``{type}-{page}-{rank}`` (the reference's ids
are random, TextUtils.cpp:87-99; SURVEY.md §7.1.1) and shortest-roundtrip
number formatting of coordinates already rounded to 1 decimal upstream.
"""

from __future__ import annotations

from typing import Iterable, Iterator, List, Optional, Set, Tuple

from .model import Block, Doc, Word

# the element types of the JSONL sink (the reference's --type values)
JSONL_UNITS = ("pages", "blocks", "words", "characters", "figures", "shapes")


def check_units(units: Iterable[str], known: Iterable[str],
                sink: str) -> Tuple[str, ...]:
    """``units`` as a tuple; ValueError on the first one ``sink`` does not
    know, so a typo fails the call instead of emptying every row."""
    units = tuple(units)
    for u in units:
        if u not in known:
            raise ValueError("unknown %s unit: %r" % (sink, u))
    return units


def _word_text(word: Word) -> str:
    """Word text as serialized (PlainTextSerializer.cpp:72-83).

    The reference re-walks the characters (substituting merged-diacritic
    text, skipping merged marks) — which is exactly how ``word.text`` was
    composed at creation (WordsDetectionUtils.cpp:66-73), so the cached text
    is byte-identical and we use it directly.
    """
    if word.is_first_part_of_hyphenated_word is not None:
        return word.is_first_part_of_hyphenated_word.text
    return word.text


def _iter_block_words(block: Block) -> Iterable[Word]:
    for line in block.lines:
        for word in line.words:
            if word.is_second_part_of_hyphenated_word is not None:
                continue
            yield word


def _role_blocks(doc: Doc, roles: Optional[Set[str]] = None
                 ) -> Iterator[Tuple[int, Block]]:
    """(page index, block) in reading order, keeping only blocks whose role
    is in ``roles`` (the reference's --role filter,
    PlainTextSerializer.cpp:47-49)."""
    for i, page in enumerate(doc.pages):
        for block in page.blocks:
            if roles is None or block.role in roles:
                yield i, block


def serialize_text(doc: Doc, roles: Optional[Set[str]] = None
                   ) -> Tuple[str, str]:
    """S5 and S6 from one walk: (TXT, TXT-EXTENDED).

    TXT is the byte-identical surface; TXT-EXTENDED adds [ROLE] prefixes,
    \\x01 emphasis marks and a \\n\\x0C break after every page, pages
    left without blocks by the role filter included."""
    txt: List[str] = []
    ext: List[str] = []
    pages_done = 0
    for page_idx, block in _role_blocks(doc, roles):
        if page_idx > pages_done:
            ext.append("\n\x0c" * (page_idx - pages_done))
            pages_done = page_idx
        if txt:
            txt.append("\n\n")
            ext.append("\n\n")
        ext.append("[" + block.role.upper() + "] ")
        if block.is_emphasized:
            ext.append("\x01")
        words = " ".join(_word_text(w) for w in _iter_block_words(block))
        txt.append(words)
        ext.append(words)
    ext.append("\n\x0c" * (len(doc.pages) - pages_done))
    txt.append("\n")
    ext.append("\n")
    return "".join(txt), "".join(ext)


def escape_json(s: str) -> str:
    """Byte-for-byte port of the reference's escapeJson
    (TextUtils.cpp:102-137)."""
    out: List[str] = []
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\b":
            out.append("\\b")
        elif ch == "\f":
            out.append("\\f")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        elif ch == "\t":
            out.append("\\t")
        elif "\x00" <= ch <= "\x1f":
            out.append("\\u%04x" % ord(ch))
        else:
            out.append(ch)
    return "".join(out)


def _num(x: float) -> str:
    """Shortest decimal of a value rounded to <=1 decimal upstream."""
    if x == int(x):
        return str(int(x))
    return repr(x)


def serialize_jsonl(doc: Doc, units: Iterable[str] = ("blocks",),
                    roles: Optional[Set[str]] = None) -> str:
    """S7 — one JSON object per element of the requested types."""
    units = check_units(units, JSONL_UNITS, "JSONL")
    out: List[str] = []
    for unit in units:
        if unit == "pages":
            for page in doc.pages:
                out.append('{"type": "page", "num": %d, "width": %s, '
                           '"height": %s, "origin": "pdftotext++"}'
                           % (page.page_num, _num(page.width), _num(page.height)))
        elif unit in ("figures", "shapes"):
            kind = unit[:-1]
            for page in doc.pages:
                for i, el in enumerate(getattr(page, unit)):
                    out.append('{"type": "%s", "rank": %d, '
                               '"id": "%s-%d-%d", "page": %d, "minX": %s, '
                               '"minY": %s, "maxX": %s, "maxY": %s, '
                               '"origin": "pdftotext++"}'
                               % (kind, el.rank, kind, el.page_num, i,
                                  el.page_num, _num(el.left_x),
                                  _num(el.upper_y), _num(el.right_x),
                                  _num(el.lower_y)))
        else:  # blocks, words, characters: the role-filtered blocks
            for _, block in _role_blocks(doc, roles):
                if unit == "blocks":
                    out.append(_jsonl_block(block))
                    continue
                for line in block.lines:
                    for word in line.words:
                        if unit == "words":
                            out.append(_jsonl_word(word, block))
                        else:
                            out.extend(_jsonl_char(doc, c, word, block)
                                       for c in word.characters)
    return "\n".join(out) + ("\n" if out else "")


def _jsonl_block(block: Block) -> str:
    return ('{"type": "block", "id": "block-%d-%d", "rank": %d, '
            '"page": %d, "minX": %s, "minY": %s, "maxX": %s, '
            '"maxY": %s, "font": "%s", "fontSize": %s, '
            '"text": "%s", "role": "%s", "origin": "pdftotext++"}'
            % (block.page_num, block.rank, block.rank,
               block.page_num, _num(block.left_x),
               _num(block.upper_y), _num(block.right_x),
               _num(block.lower_y), block.font_name,
               _num(block.font_size), escape_json(block.text),
               block.role))


def _jsonl_word(word: Word, block: Block) -> str:
    return ('{"type": "word", "id": "word-%d-%d", '
            '"rank": %d, "page": %d, "minX": %s, '
            '"minY": %s, "maxX": %s, "maxY": %s, '
            '"font": "%s", "fontSize": %s, "text": "%s", '
            '"block": "block-%d-%d", "origin": "pdftotext++"}'
            % (word.page_num, word.rank, word.rank,
               word.page_num, _num(word.left_x),
               _num(word.upper_y), _num(word.right_x),
               _num(word.lower_y), word.font_name,
               _num(word.font_size), escape_json(word.text),
               block.page_num, block.rank))


def _jsonl_char(doc: Doc, c, word: Word, block: Block) -> str:
    """JsonlSerializer.cpp:101-156: chars of serialized blocks only, merged
    diacritic marks skipped (they belong to no word), merged text
    substituted."""
    font = doc.font_infos.get(c.font_name)
    text = c.text_with_diacritic_mark or c.text
    return ('{"type": "char", "id": "char-%d-%d", '
            '"rank": %d, "page": %d, "minX": %s, '
            '"minY": %s, "maxX": %s, "maxY": %s, '
            '"wMode": %d, "rotation": %d, '
            '"font": "%s", "fontSize": %s, '
            '"weight": %d, "italic": %s, '
            '"type-3": %s, "color": [%s,%s,%s],'
            '"opacity": %s, "text": "%s", '
            '"word": "word-%d-%d", '
            '"block": "block-%d-%d", '
            '"origin": "pdftotext++"}'
            % (c.page_num, c.rank, c.rank, c.page_num,
               _num(c.left_x), _num(c.upper_y),
               _num(c.right_x), _num(c.lower_y),
               c.w_mode, c.rotation, c.font_name,
               _num(c.font_size),
               font.weight if font else 400,
               "true" if font and font.is_italic else "false",
               "true" if font and font.is_type3 else "false",
               _num(c.color[0]), _num(c.color[1]),
               _num(c.color[2]), _num(c.opacity),
               escape_json(text),
               word.page_num, word.rank,
               block.page_num, block.rank))
