"""Top-level per-document API: payload bytes -> extraction result.

This is the kernel invoked per row inside the Spark mapInArrow batches; it is
also directly usable (and tested) without Spark.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from . import codec, serializers
from .config import DEFAULT_CONFIG, PipelineConfig
from .kernel import process_document
from .model import Doc

# Stage names mirror the reference's --print-running-times report
# (/root/reference/src/PdfToTextPlusPlus.cpp:86-253).
STAGE_DECODE = "Parse payload"
STAGE_SERIALIZE = "Serialize"


@dataclass
class BlockSpan:
    page: int
    rank: int
    min_x: float
    min_y: float
    max_x: float
    max_y: float
    font: str
    font_size: float
    text: str
    role: str


@dataclass
class ExtractionResult:
    extracted_text: str = ""
    extracted_text_extended: str = ""
    parse_failure_code: int = codec.OK
    n_pages: int = 0
    n_chars: int = 0
    n_words: int = 0
    n_lines: int = 0
    n_blocks: int = 0
    blocks: List[BlockSpan] = field(default_factory=list)
    timings_ms: Dict[str, float] = field(default_factory=dict)
    jsonl: str = ""
    svg: str = ""
    pdf: str = ""
    doc: Optional[Doc] = None


def extract(payload: Optional[bytes],
            config: PipelineConfig = DEFAULT_CONFIG,
            keep_doc: bool = False,
            with_spans: bool = True,
            with_timings: bool = False,
            roles=None,
            jsonl_units=None,
            svg_units=None,
            pdf_units=None) -> ExtractionResult:
    """Run decode -> 13-stage pipeline -> serializers on one payload.

    ``roles`` filters serialized blocks like the reference's --role option
    (PlainTextSerializer.cpp:47-49); ``jsonl_units`` additionally produces
    the JSONL serialization for the requested element types (--type);
    ``svg_units`` produces the S8 visualization SVG for the requested
    layers (the reference's --visualize-* family, visualization.py);
    ``pdf_units`` produces the annotated-PDF form of the same layers
    (the reference's literal artifact shape, pdfviz.py).
    """
    result = ExtractionResult()

    t0 = time.perf_counter() if with_timings else 0.0
    doc, failure = codec.decode_payload(payload)
    if with_timings:
        result.timings_ms[STAGE_DECODE] = (time.perf_counter() - t0) * 1000.0

    if doc is None:
        result.parse_failure_code = failure
        result.extracted_text = "\n"  # empty document serializes to "\n"
        result.extracted_text_extended = "\n"
        return result

    try:
        process_document(
            doc, config, timings_ms=result.timings_ms if with_timings else None)

        t2 = time.perf_counter() if with_timings else 0.0
        result.extracted_text = serializers.serialize_txt(doc, roles)
        result.extracted_text_extended = serializers.serialize_txt_extended(
            doc, roles)
        if jsonl_units:
            result.jsonl = serializers.serialize_jsonl(doc, jsonl_units, roles)
        if svg_units:
            from . import visualization
            result.svg = visualization.serialize_svg(doc, svg_units)
        if pdf_units:
            from . import pdfviz
            result.pdf = pdfviz.serialize_pdf(doc, pdf_units)
        if with_timings:
            result.timings_ms[STAGE_SERIALIZE] = (
                (time.perf_counter() - t2) * 1000.0)

        result.n_pages = len(doc.pages)
        for page in doc.pages:
            result.n_chars += page.n_chars
            result.n_words += len(page.words)
            result.n_blocks += len(page.blocks)
            for block in page.blocks:
                result.n_lines += len(block.lines)
                if with_spans:
                    result.blocks.append(BlockSpan(
                        page=block.page_num, rank=block.rank,
                        min_x=block.left_x, min_y=block.upper_y,
                        max_x=block.right_x, max_y=block.lower_y,
                        font=block.font_name, font_size=block.font_size,
                        text=block.text, role=block.role))
    finally:
        if not keep_doc:
            # reference counting frees the document now, even when a stage
            # raised, instead of leaving it to the cyclic GC
            doc.release()
    if keep_doc:
        result.doc = doc
    return result
