"""Per-document element model.

Mirrors the reference's containment hierarchy (/root/reference/src/Types.h):
Doc -> Page -> {Char, Figure, Shape, Graphic, Word, Segment -> Line, Block},
except that a page's chars live in one columnar store (:class:`CharCols`)
and ``Char`` objects are only views built from it on demand.
Pointer links (prev/next/parent/sibling) are plain Python references — they
live only inside one kernel invocation and never cross rows, so they need no
serialization.  Ids are deterministic (``{type}-{page}-{rank}``) per the
determinism contract in SURVEY.md §7.1 (the reference uses random ids,
TextUtils.cpp:87-99, which never reach the TXT output).

Rotation-aware accessors follow PdfPosition::getRot* exactly
(/root/reference/src/Types.cpp:45-128).
"""

from __future__ import annotations

import math
from typing import Dict, List, Optional

INF = math.inf


class Element:
    """Geometry shared by all elements (cf. PdfElement/PdfPosition, Types.h:224-397)."""

    __slots__ = ("left_x", "upper_y", "right_x", "lower_y", "rotation",
                 "w_mode", "page_num", "rank")

    def __init__(self):
        self.left_x = INF
        self.upper_y = INF
        self.right_x = -INF
        self.lower_y = -INF
        self.rotation = 0
        self.w_mode = 0
        self.page_num = 0
        self.rank = 0

    # --- plain extents -------------------------------------------------
    @property
    def width(self) -> float:
        return self.right_x - self.left_x

    @property
    def height(self) -> float:
        return self.lower_y - self.upper_y

    # --- rotation-aware accessors (Types.cpp:45-128) --------------------
    def rot_right_x(self) -> float:
        r = self.rotation
        if r == 1:
            return self.lower_y
        if r == 2:
            return self.left_x
        if r == 3:
            return self.upper_y
        return self.right_x

    def rot_lower_y(self) -> float:
        r = self.rotation
        if r == 1:
            return self.left_x
        if r == 2:
            return self.upper_y
        if r == 3:
            return self.right_x
        return self.lower_y


class Char(Element):
    """cf. PdfCharacter (Types.h:452-527) — a read-only view of one row of
    the page's :class:`CharCols` store, built only by
    :meth:`CharCols.materialize`."""

    # ``text_with_diacritic_mark`` is the merged NFC text of a diacritic
    # base (Types.h:502-510), "" on every other char
    __slots__ = ("text", "name", "unicodes", "base", "font_name", "font_size",
                 "text_with_diacritic_mark")

    color = (0.0, 0.0, 0.0)
    opacity = 1.0


class CharCols:
    """The page's one character store (cf. the PdfCharacter list of a
    PdfPage, Types.h:1005-1069): one row per kept char (after whitespace
    suppression and figure diversion, in decode order — so a row index IS
    the char rank).  Every stage reads these columns; ``Char`` objects are
    only built by :meth:`materialize` (``Page.characters`` /
    ``Word.characters``), for the JSONL characters unit and tests.

    * ``rows``: ``(left_x, upper_y, right_x, lower_y, rotation, w_mode,
      font_size, base)`` per char; T1 widens a merged base's bbox in place;
    * ``texts`` / ``font_names`` / ``fsizes`` / ``bases``: per-char columns
      (``fsizes`` / ``bases`` equal the row fields);
    * ``names`` / ``unicodes``: per-char glyph names and codepoint lists,
      both None on pages where no char has a glyph name or explicit
      unicodes and every text is one ASCII codepoint (the unicodes are then
      ``[ord(text)]``; the codec's numpy producer fills those pages);
    * ``all_upright``: every char has rotation == w_mode == 0;
    * ``marks`` / ``merged``: set by T1 (kernel/diacritics.py) — the row
      indices of merged diacritic marks, and each base row's merged NFC
      text; None when the page has no merged marks."""

    __slots__ = ("rows", "texts", "font_names", "fsizes", "bases", "names",
                 "unicodes", "page_num", "all_upright", "marks", "merged")

    def __init__(self, rows, texts, font_names, fsizes, bases, page_num,
                 all_upright=False, names=None, unicodes=None):
        self.rows = rows
        self.texts = texts
        self.font_names = font_names
        self.fsizes = fsizes
        self.bases = bases
        self.names = names
        self.unicodes = unicodes
        self.page_num = page_num
        self.all_upright = all_upright
        self.marks = None
        self.merged = None

    def __len__(self):
        return len(self.rows)

    def materialize(self, indices) -> List["Char"]:
        """Build Char objects for the given row indices — rank = row index."""
        out = []
        rows, texts, fnames = self.rows, self.texts, self.font_names
        names, unicodes = self.names, self.unicodes
        merged = self.merged or {}
        page_num = self.page_num
        for i in indices:
            row = rows[i]
            c = Char.__new__(Char)
            c.left_x = row[0]
            c.upper_y = row[1]
            c.right_x = row[2]
            c.lower_y = row[3]
            c.rotation = int(row[4])
            c.w_mode = int(row[5])
            c.font_size = row[6]
            c.base = row[7]
            c.font_name = fnames[i]
            c.name = names[i] if names is not None else ""
            c.text = texts[i]
            c.unicodes = (unicodes[i] if unicodes is not None
                          else [ord(texts[i])])
            c.page_num = page_num
            c.rank = i
            c.text_with_diacritic_mark = merged.get(i, "")
            out.append(c)
        return out


class NonTextElement(Element):
    """Figures / shapes / graphics (cf. PdfNonTextElement, Types.h:817-940)."""

    __slots__ = ("kind",)

    def __init__(self, kind: str = "shape"):
        super().__init__()
        self.kind = kind  # "figure" | "shape" | "graphic"


class Word(Element):
    """cf. PdfWord (Types.h:535-614)."""

    __slots__ = ("char_src", "text", "font_name", "font_size", "line",
                 # per-char columns sliced once from the page's CharCols in
                 # _materialize_words and reused by _compute_line_properties
                 # / scripts / block label rules: geometry rows, raw texts,
                 # fonts, bases
                 "char_rows", "char_texts",
                 "char_font_names", "char_font_sizes", "char_bases",
                 "__dict__")

    # Rarely-written annotation fields live as CLASS defaults: word
    # materialization — the #2 kernel hotspot — skips 4 stores per word,
    # and the lazy ``__dict__`` slot only materializes for the few words a
    # later stage actually links.  ``is_base_of_stacked_math_symbol``
    # defaults to an immutable empty tuple; writers install a fresh list
    # before appending (kernel/words.py).
    is_part_of_stacked_math_symbol: Optional["Word"] = None
    is_base_of_stacked_math_symbol = ()
    # T4 base-candidate flag, precomputed from raw-text/name columns during
    # word materialization (kernel/words.py)
    is_stacked_math_base = False
    # hyphenation links carry the *merged* word (WordsDehyphenation.cpp:62-70)
    is_first_part_of_hyphenated_word: Optional["Word"] = None
    is_second_part_of_hyphenated_word: Optional["Word"] = None
    # T10 flags, set per WORD as index sets by kernel/scripts.py (None =
    # no sub/superscript chars — the overwhelming case)
    char_sup = None
    char_sub = None

    def __init__(self):
        super().__init__()
        # (cols, start, end): the word's chars are the store rows
        # [start, end) minus merged diacritic marks
        self.char_src = None
        self.text = ""
        self.font_name = ""
        self.font_size = 0.0
        self.line: Optional["Line"] = None
        self.char_rows: list = []
        self.char_texts: List[str] = []
        self.char_font_names: List[str] = []
        self.char_font_sizes: List[float] = []
        self.char_bases: List[float] = []

    @property
    def characters(self) -> List[Char]:
        """Char objects built from the page's store (merged marks never
        belong to a word, WordsDetection.cpp:117-121)."""
        cols, s, e = self.char_src
        marks = cols.marks
        if marks:
            return cols.materialize(i for i in range(s, e) if i not in marks)
        return cols.materialize(range(s, e))


class Line(Element):
    """cf. PdfTextLine (Types.h:622-732)."""

    __slots__ = ("words", "text", "font_name", "font_size", "max_font_size",
                 "base", "segment", "block", "prev_line", "next_line",
                 "parent_line", "prev_sibling_line", "next_sibling_line",
                 "left_margin", "right_margin",
                 "base_bbox_left_x", "base_bbox_upper_y", "base_bbox_right_x",
                 "base_bbox_lower_y")

    def __init__(self):
        super().__init__()
        self.words: List[Word] = []
        self.text = ""
        self.font_name = ""
        self.font_size = 0.0
        self.max_font_size = 0.0
        self.base = 0.0
        self.segment: Optional["Segment"] = None
        self.block: Optional["Block"] = None
        self.prev_line: Optional["Line"] = None
        self.next_line: Optional["Line"] = None
        self.parent_line: Optional["Line"] = None
        self.prev_sibling_line: Optional["Line"] = None
        self.next_sibling_line: Optional["Line"] = None
        self.left_margin = 0.0
        self.right_margin = 0.0
        # base bbox = bbox of the non-sub/superscript chars (Types.h:665-668);
        # accumulated in SubSuperScriptsDetection (same init as pos: ±inf).
        self.base_bbox_left_x = INF
        self.base_bbox_upper_y = INF
        self.base_bbox_right_x = -INF
        self.base_bbox_lower_y = -INF


class Segment(Element):
    """cf. PdfPageSegment (Types.h:956-997): one column-level group."""

    __slots__ = ("elements", "lines", "blocks",
                 "trim_left_x", "trim_upper_y", "trim_right_x", "trim_lower_y")

    def __init__(self):
        super().__init__()
        self.elements: List[Element] = []
        self.lines: List[Line] = []
        self.blocks: List["Block"] = []
        self.trim_left_x = INF
        self.trim_upper_y = INF
        self.trim_right_x = -INF
        self.trim_lower_y = -INF


class Block(Element):
    """cf. PdfTextBlock (Types.h:744-805)."""

    __slots__ = ("lines", "text", "font_name", "font_size", "role", "segment",
                 "prev_block", "next_block", "is_emphasized",
                 "is_lines_centered", "hanging_indent",
                 "trim_left_x", "trim_upper_y", "trim_right_x", "trim_lower_y")

    def __init__(self):
        super().__init__()
        self.lines: List[Line] = []
        self.text = ""
        self.font_name = ""
        self.font_size = 0.0
        self.role = "paragraph"  # default when role prediction is skipped
        self.segment: Optional[Segment] = None
        self.prev_block: Optional["Block"] = None
        self.next_block: Optional["Block"] = None
        self.is_emphasized = False
        self.is_lines_centered = False
        self.hanging_indent = 0.0
        self.trim_left_x = INF
        self.trim_upper_y = INF
        self.trim_right_x = -INF
        self.trim_lower_y = -INF


class FontInfo:
    """cf. PdfFontInfo (Types.h:138-216).

    ``font_matrix`` / ``glyph_bboxes`` carry the embedded-font-program
    measurements (PdfFontInfoParser output: per-glyph bboxes in glyph
    space plus the font matrix; Types.h:205-216) used by the S4 deep path
    — the char-bbox preference in PdfParsing.cpp:423-455.  Default font
    matrix is the PDF standard 0.001 glyph-space scale."""

    __slots__ = ("name", "ascent", "descent", "weight", "is_italic",
                 "is_type3", "is_serif", "is_fixed_width", "is_symbolic",
                 "font_matrix", "glyph_bboxes", "font_program")

    def __init__(self, name="", ascent=0.75, descent=-0.25, weight=400,
                 is_italic=False, is_type3=False, is_serif=False,
                 is_fixed_width=False, is_symbolic=False,
                 font_matrix=(0.001, 0.0, 0.0, 0.001, 0.0, 0.0),
                 glyph_bboxes=None, font_program=None):
        self.name = name
        self.ascent = ascent
        self.descent = descent
        self.weight = weight
        self.is_italic = is_italic
        self.is_type3 = is_type3
        self.is_serif = is_serif
        self.is_fixed_width = is_fixed_width
        self.is_symbolic = is_symbolic
        self.font_matrix = font_matrix
        self.glyph_bboxes = glyph_bboxes
        # raw embedded Type 1 font-program bytes (payload v4); decode
        # parses it into glyph_bboxes/font_matrix via fontfile.parse_type1
        self.font_program = font_program


class Page:
    """cf. PdfPage (Types.h:1005-1069)."""

    __slots__ = ("page_num", "clip_left_x", "clip_upper_y", "clip_right_x",
                 "clip_lower_y", "char_cols", "figures",
                 "shapes", "graphics", "words", "segments", "blocks",
                 "segment_cuts", "reading_order_cuts")

    def __init__(self, page_num: int = 1):
        self.page_num = page_num
        self.clip_left_x = 0.0
        self.clip_upper_y = 0.0
        self.clip_right_x = 612.0
        self.clip_lower_y = 792.0
        # the page's one char store; the decoder replaces this empty one
        self.char_cols = CharCols([], [], [], [], [], page_num)
        self.figures: List[NonTextElement] = []
        self.shapes: List[NonTextElement] = []
        self.graphics: List[NonTextElement] = []
        self.words: List[Word] = []
        self.segments: List[Segment] = []
        self.blocks: List[Block] = []
        # cut candidates recorded by segmentation / reading order for the
        # S8 visualization sink (cf. PdfPage::blockDetectionCuts /
        # readingOrderCuts, Types.h:1049-1052)
        self.segment_cuts: list = []
        self.reading_order_cuts: list = []

    @property
    def characters(self) -> List[Char]:
        """Char objects built from ``char_cols``, marks included."""
        return self.char_cols.materialize(range(len(self.char_cols)))

    @property
    def n_chars(self) -> int:
        return len(self.char_cols)

    @property
    def width(self) -> float:
        return self.clip_right_x - self.clip_left_x

    @property
    def height(self) -> float:
        return self.clip_lower_y - self.clip_upper_y


class Doc:
    """cf. PdfDocument (Types.h:1077-1138) incl. document-wide statistics."""

    __slots__ = ("pages", "font_infos",
                 "avg_char_width", "avg_char_height",
                 "most_freq_font_size", "most_freq_font_name",
                 "most_freq_word_distance", "most_freq_estimated_line_distance",
                 "most_freq_line_distance", "most_freq_line_distance_per_font_size",
                 "most_freq_word_height")

    def __init__(self):
        self.pages: List[Page] = []
        self.font_infos: Dict[str, FontInfo] = {}
        self.avg_char_width = 0.0
        self.avg_char_height = 0.0
        self.most_freq_font_size = 0.0
        self.most_freq_font_name = ""
        self.most_freq_word_distance = 0.0
        self.most_freq_estimated_line_distance = 0.0
        self.most_freq_line_distance = 0.0
        self.most_freq_line_distance_per_font_size: Dict[float, float] = {}
        self.most_freq_word_height = 0.0

    def release(self) -> None:
        """Clear every back and side pointer of the element graph.

        The graph is held together by reference cycles (word <-> line,
        line <-> block / segment, the prev/next, parent and sibling chains,
        the lazy ``__dict__`` link annotations on words), so without this
        only the cyclic GC could free a document.  Afterwards reference
        counting frees it as soon as its last outside reference goes.  The
        document is unusable once released."""
        for page in self.pages:
            for word in page.words:
                word.line = None
                links = word.__dict__
                if links:
                    links.clear()
            # a segment's blocks are the preliminary ones; page.blocks holds
            # the final blocks
            for segment in page.segments:
                for line in segment.lines:
                    line.segment = line.block = None
                    line.prev_line = line.next_line = line.parent_line = None
                    line.prev_sibling_line = line.next_sibling_line = None
                for block in segment.blocks:
                    block.segment = block.prev_block = block.next_block = None
            for block in page.blocks:
                block.segment = block.prev_block = block.next_block = None
