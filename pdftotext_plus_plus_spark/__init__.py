"""pdftotext_plus_plus_spark — a PySpark-native re-implementation of the
pdftotext++ extraction pipeline (reference: ad-freiburg/pdftotext-plus-plus).

The reference is a single-process C++ CLI that extracts structured text from
one PDF at a time via a fixed 13-stage pipeline
(/root/reference/src/PdfToTextPlusPlus.cpp:72-267).  This package re-expresses
the same computation Spark-first:

* the corpus is a DataFrame of Common-Crawl-style pages
  ``(url, warc_ts, html, text, lang)``;
* the per-document pipeline (a deterministic geometric/typographic dataflow
  DAG) runs inside Arrow-batched kernels (``mapInArrow``), one document per
  row, vectorized per batch — Spark provides scan/shuffle/sink;
* document payloads are decoded by a deterministic binary codec
  (:mod:`.codec`) standing in for Poppler's PDF interpreter.

Layout:

* :mod:`.config`       — all thresholds (mirrors src/Config.h)
* :mod:`.model`        — element model (mirrors src/Types.h)
* :mod:`.codec`        — payload encode/decode (stand-in for src/PdfParsing.cpp)
* :mod:`.kernel`       — the 13 pipeline stages as pure functions
* :mod:`.serializers`  — TXT / TXT-extended / JSONL sinks
* :mod:`.engine`       — Spark integration (mapInArrow, salting, lineage)
* :mod:`.rowframes`    — the per-row kernels' one bounded frame builder
* :mod:`.fixtures`     — deterministic synthetic corpus + golden outputs
* :mod:`.datapipe`     — large-scale training-data ops (dedup, ANN, text stats)
"""

__version__ = "0.1.0"
