"""Top-level per-document API: payload bytes -> extraction result.

This is the kernel invoked per row inside the Spark mapInArrow batches; it is
also directly usable (and tested) without Spark.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

from . import codec, pdfviz, serializers, visualization
from .config import DEFAULT_CONFIG, PipelineConfig
from .kernel import StageError, process_document
from .model import Doc
from .serializers import JSONL_UNITS, check_units

# Stage names mirror the reference's --print-running-times report
# (/root/reference/src/PdfToTextPlusPlus.cpp:86-253).
STAGE_DECODE = "Parse payload"
STAGE_SERIALIZE = "Serialize"

_log = logging.getLogger(__name__)


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
    # the failure record; stage and cause are None exactly when code is OK
    parse_failure_code: int = codec.OK
    fail_stage: Optional[str] = None
    fail_cause: Optional[str] = None
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

    @classmethod
    def failed(cls, code: int, stage: str, cause: str,
               timings_ms: Optional[Dict[str, float]] = None
               ) -> "ExtractionResult":
        """A document that yields no text: failure ``code`` raised in
        ``stage`` for ``cause``, and both TXT surfaces as an empty
        document's "\\n"; ``timings_ms`` keeps the times of the stages
        that finished before it."""
        return cls(extracted_text="\n", extracted_text_extended="\n",
                   parse_failure_code=code, fail_stage=stage,
                   fail_cause=cause, timings_ms=timings_ms or {})


def sink_units(jsonl_units=None, svg_units=None, pdf_units=None):
    """The (JSONL, SVG, PDF) units as tuples, None where none are asked
    for; ValueError on the first unit its sink does not know."""
    schemes = visualization.UNIT_SCHEMES
    return tuple(check_units(units, known, sink) if units else None
                 for units, known, sink in (
                     (jsonl_units, JSONL_UNITS, "JSONL"),
                     (svg_units, schemes, "visualization"),
                     (pdf_units, schemes, "visualization")))


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

    Never raises on a payload: a document that fails is a failure row
    (see :meth:`ExtractionResult.failed`) with the failing stage and its
    cause.  An unknown unit raises ValueError before decode.
    """
    jsonl_units, svg_units, pdf_units = sink_units(
        jsonl_units, svg_units, pdf_units)
    t0 = time.perf_counter() if with_timings else 0.0
    doc, code, cause = codec.decode_payload(payload)
    result = (ExtractionResult() if doc is not None
              else ExtractionResult.failed(code, STAGE_DECODE, cause))
    if with_timings:
        result.timings_ms[STAGE_DECODE] = (time.perf_counter() - t0) * 1000.0
    if doc is None:
        return result

    try:
        process_document(
            doc, config, timings_ms=result.timings_ms if with_timings else None)

        t2 = time.perf_counter() if with_timings else 0.0
        (result.extracted_text,
         result.extracted_text_extended) = serializers.serialize_text(
            doc, roles)
        if jsonl_units:
            result.jsonl = serializers.serialize_jsonl(doc, jsonl_units, roles)
        if svg_units:
            result.svg = visualization.serialize_svg(doc, svg_units)
        if pdf_units:
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
    except Exception as exc:
        # whatever a stage or a sink raises is this document's failure row;
        # the traceback goes to the log
        _log.warning("extraction failed", exc_info=True)
        stage, exc = ((str(exc), exc.__cause__) if isinstance(exc, StageError)
                      else (STAGE_SERIALIZE, exc))
        result = ExtractionResult.failed(codec.ERR_KERNEL, stage,
                                         codec.cause_of(exc),
                                         result.timings_ms)
        keep_doc = False
    if keep_doc:
        result.doc = doc
    else:
        # reference counting frees the document now, also when a stage
        # raised, instead of leaving it to the cyclic GC
        doc.release()
    return result
