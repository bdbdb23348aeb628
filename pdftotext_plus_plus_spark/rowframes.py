"""The one per-row boundary: Python rows -> bounded pandas frames.

Every per-row kernel (the WARC readers, the multimodal synthesizers and
decoders, the HTML block and outline extractors) enters Spark through
:func:`map_rows`: a ``mapInPandas`` whose kernel gives only a rows
function, ``rows_of(batch) -> (row tuple, nbytes)`` pairs for one input
pandas batch.  :func:`row_frames` turns those rows into frames, flushed
at ``FRAME_ROWS`` rows, at ``FRAME_BYTES`` counted bytes and at the end
of every input batch, so a task holds one input batch plus one output
frame however many rows a batch explodes into (SCALE.md §Webtext).

The module imports neither pyspark nor the extraction engine, so the
workers of a multimodal or WARC kernel load only what the kernel needs.
"""

from __future__ import annotations

# output frame bounds: a flushed frame never holds more than FRAME_ROWS
# rows, and stops at the first row whose counted bytes (a WARC record's
# block, a synthesized blob, an extracted text) reach FRAME_BYTES
FRAME_ROWS = 1024
FRAME_BYTES = 64 << 20


def row_frames(batches, rows_of, columns, max_rows: int = FRAME_ROWS,
               max_bytes: int = FRAME_BYTES):
    """Pandas frames of ``columns`` over ``rows_of(batch)`` for each input
    batch, flushed at ``max_rows`` rows, at ``max_bytes`` counted bytes
    and at the end of each batch, so no frame spans two input batches
    (a frame carried across batches measured slower on the multimodal
    decoders).  A batch without rows yields no frame."""
    import pandas as pd

    for batch in batches:
        cols, acc_bytes = [[] for _ in columns], 0
        for row, nbytes in rows_of(batch):
            for col, value in zip(cols, row):
                col.append(value)
            acc_bytes += nbytes
            if len(cols[0]) >= max_rows or acc_bytes >= max_bytes:
                yield pd.DataFrame(dict(zip(columns, cols)))
                cols, acc_bytes = [[] for _ in columns], 0
        if cols[0]:
            yield pd.DataFrame(dict(zip(columns, cols)))


def map_rows(df, rows_of, schema: str):
    """``mapInPandas`` of :func:`row_frames` with ``rows_of`` over ``df``,
    named and typed by the DDL ``schema``."""
    columns = [field.split()[0] for field in schema.split(",")]
    return df.mapInPandas(
        lambda batches: row_frames(batches, rows_of, columns), schema)
