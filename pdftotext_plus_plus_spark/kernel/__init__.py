"""The 13-stage per-document pipeline as pure functions over :class:`~..model.Doc`.

Stage order mirrors the orchestrator
(/root/reference/src/PdfToTextPlusPlus.cpp:72-267); each stage can be skipped
via :class:`~..config.PipelineConfig` flags exactly like the reference's
``--skip-*`` options.
"""

from __future__ import annotations

import time
from typing import Dict, Optional

from ..config import DEFAULT_CONFIG, PipelineConfig
from ..model import Doc
from . import (blocks, dehyphenation, diacritics, lines, reading_order,
               roles, scripts, segmentation, stats, words)

# Stage labels mirror the reference's --print-running-times report
# (/root/reference/src/PdfToTextPlusPlus.cpp:86-253).
_STAGES = (
    ("Calculate glyph statistics", "skip_glyph_statistics",
     lambda doc, cfg: stats.compute_glyph_statistics(doc)),
    ("Merge combining diacritics", "skip_diacritics_merging",
     diacritics.merge_diacritical_marks),
    ("Detect words", "skip_words_detection", words.detect_words),
    ("Calculate words statistics", "skip_word_statistics",
     stats.compute_word_statistics),
    ("Segment pages", "skip_page_segmentation", segmentation.segment_pages),
    ("Detect lines", "skip_lines_detection", lines.detect_lines),
    ("Detect sub/superscripts", "skip_sub_super_scripts",
     scripts.detect_sub_super_scripts),
    ("Calculate text line statistics", "skip_line_statistics",
     stats.compute_line_statistics),
    ("Detect text blocks", "skip_blocks_detection", blocks.detect_blocks),
    ("Predict semantic roles", "skip_semantic_roles", roles.predict_roles),
    ("Detect reading order", "skip_reading_order",
     reading_order.detect_reading_order),
    ("Dehyphenate words", "skip_dehyphenation",
     lambda doc, cfg: dehyphenation.dehyphenate_words(doc)),
)


# public stage-name list (reference --print-running-times order), used by
# engine.lineage_frame's per-stage timing columns
STAGE_NAMES = tuple(name for name, _, _ in _STAGES)


class StageError(Exception):
    """Raised by :func:`process_document` when a stage raises: the message
    is the stage's name, and ``__cause__`` is what the stage raised."""


def process_document(doc: Doc, config: PipelineConfig = DEFAULT_CONFIG,
                     timings_ms: Optional[Dict[str, float]] = None) -> Doc:
    """Run stages 3-13 on a decoded document (stages 1-2 = codec.decode).

    When ``timings_ms`` is given, per-stage wall times are recorded under
    the reference's stage names (Timing records, Types.h:1247-1265).
    """
    for name, skip_flag, fn in _STAGES:
        if getattr(config, skip_flag):
            continue
        t0 = time.perf_counter()
        try:
            fn(doc, config)
        except Exception as exc:
            raise StageError(name) from exc
        if timings_ms is not None:
            timings_ms[name] = (time.perf_counter() - t0) * 1000.0
    return doc
