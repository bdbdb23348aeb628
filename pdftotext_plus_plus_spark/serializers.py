"""S5-S7 — serialization sinks.

References:
* TXT          — /root/reference/src/serializers/PlainTextSerializer.cpp:38-92
* TXT_EXTENDED — /root/reference/src/serializers/PlainTextExtendedSerializer.cpp:44-110
* JSONL        — /root/reference/src/serializers/JsonlSerializer.cpp:53-270

The TXT surface is the byte-identity contract: blocks joined by "\n\n",
words joined by " " (across lines within a block), second parts of
hyphenated words skipped, merged-diacritic text substituted, trailing "\n".

JSONL uses deterministic ids ``{type}-{page}-{rank}`` (the reference's ids
are random, TextUtils.cpp:87-99; SURVEY.md §7.1.1) and shortest-roundtrip
number formatting of coordinates already rounded to 1 decimal upstream.
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Set

from .model import Block, Doc, Word

ALL_ROLES: Optional[Set[str]] = None  # None = no role filter


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


def serialize_txt(doc: Doc, roles: Optional[Set[str]] = None) -> str:
    """S5 — plain text, byte-identical surface."""
    out: List[str] = []
    prev_block = None
    for page in doc.pages:
        for block in page.blocks:
            if roles is not None and block.role not in roles:
                continue
            if prev_block is not None:
                out.append("\n\n")
            prev_word = None
            for word in _iter_block_words(block):
                if prev_word is not None:
                    out.append(" ")
                out.append(_word_text(word))
                prev_word = word
            prev_block = block
    out.append("\n")
    return "".join(out)


def serialize_txt_extended(doc: Doc, roles: Optional[Set[str]] = None) -> str:
    """S6 — TXT plus [ROLE] prefixes, \\x01 emphasis marks, \\n\\x0C page breaks."""
    out: List[str] = []
    prev_block = None
    for page in doc.pages:
        for block in page.blocks:
            if roles is not None and block.role not in roles:
                continue
            if prev_block is not None:
                out.append("\n\n")
            out.append("[" + block.role.upper() + "] ")
            if block.is_emphasized:
                out.append("\x01")
            prev_word = None
            for word in _iter_block_words(block):
                if prev_word is not None:
                    out.append(" ")
                out.append(_word_text(word))
                prev_word = word
            prev_block = block
        out.append("\n\x0c")
    out.append("\n")
    return "".join(out)


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
    out: List[str] = []
    for unit in units:
        if unit == "pages":
            for page in doc.pages:
                out.append('{"type": "page", "num": %d, "width": %s, '
                           '"height": %s, "origin": "pdftotext++"}'
                           % (page.page_num, _num(page.width), _num(page.height)))
        elif unit == "blocks":
            for page in doc.pages:
                for block in page.blocks:
                    if roles is not None and block.role not in roles:
                        continue
                    out.append(
                        '{"type": "block", "id": "block-%d-%d", "rank": %d, '
                        '"page": %d, "minX": %s, "minY": %s, "maxX": %s, '
                        '"maxY": %s, "font": "%s", "fontSize": %s, '
                        '"text": "%s", "role": "%s", "origin": "pdftotext++"}'
                        % (block.page_num, block.rank, block.rank,
                           block.page_num, _num(block.left_x),
                           _num(block.upper_y), _num(block.right_x),
                           _num(block.lower_y), block.font_name,
                           _num(block.font_size), escape_json(block.text),
                           block.role))
        elif unit == "words":
            for page in doc.pages:
                for block in page.blocks:
                    if roles is not None and block.role not in roles:
                        continue
                    for line in block.lines:
                        for word in line.words:
                            out.append(
                                '{"type": "word", "id": "word-%d-%d", '
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
        elif unit == "characters":
            # JsonlSerializer.cpp:101-156: chars of serialized blocks only,
            # merged diacritic marks skipped (they belong to no word),
            # merged text substituted
            for page in doc.pages:
                for block in page.blocks:
                    if roles is not None and block.role not in roles:
                        continue
                    for line in block.lines:
                        for word in line.words:
                            for c in word.characters:
                                font = doc.font_infos.get(c.font_name)
                                text = c.text_with_diacritic_mark or c.text
                                out.append(
                                    '{"type": "char", "id": "char-%d-%d", '
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
        elif unit == "figures":
            for page in doc.pages:
                for i, f in enumerate(page.figures):
                    out.append('{"type": "figure", "rank": %d, '
                               '"id": "figure-%d-%d", "page": %d, "minX": %s, '
                               '"minY": %s, "maxX": %s, "maxY": %s, '
                               '"origin": "pdftotext++"}'
                               % (f.rank, f.page_num, i, f.page_num,
                                  _num(f.left_x), _num(f.upper_y),
                                  _num(f.right_x), _num(f.lower_y)))
        elif unit == "shapes":
            for page in doc.pages:
                for i, sp in enumerate(page.shapes):
                    out.append('{"type": "shape", "rank": %d, '
                               '"id": "shape-%d-%d", "page": %d, "minX": %s, '
                               '"minY": %s, "maxX": %s, "maxY": %s, '
                               '"origin": "pdftotext++"}'
                               % (sp.rank, sp.page_num, i, sp.page_num,
                                  _num(sp.left_x), _num(sp.upper_y),
                                  _num(sp.right_x), _num(sp.lower_y)))
    return "\n".join(out) + ("\n" if out else "")
