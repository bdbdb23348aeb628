"""The one per-row boundary, ``rowframes.row_frames``, under kernels other
than the WARC readers: every frame stays within the row and byte bounds,
no frame spans two input batches, and the frames concatenate to the
unbatched rows, in order."""

import pandas as pd

from pdftotext_plus_plus_spark import rowframes
from pdftotext_plus_plus_spark.datapipe import multimodal

_VIDEO_COLUMNS = ("doc_id", "frame_idx", "ts_ms", "frame_w", "frame_h",
                  "pixel_checksum")


def _rows(frames):
    return [row for f in frames for row in f.itertuples(index=False,
                                                        name=None)]


def _video_batch(doc_ids):
    return pd.DataFrame({"doc_id": doc_ids, "blob": [
        multimodal.build_mp4(d, d % multimodal.VIDEO_MAX_FRAMES + 1)
        for d in doc_ids]})


def test_row_bound_on_the_video_sampler():
    """One batch of MP4s explodes into more sampled frames than the row
    bound: the frames hold at most max_rows rows each."""
    batch = _video_batch(list(range(70, 80)))     # 3-4 sampled frames each
    rows_of = multimodal._per_blob(multimodal._sampled_frames)
    unbatched = [row for row, _ in rows_of(batch)]
    assert len(unbatched) > 3 * 7

    frames = list(rowframes.row_frames(iter([batch]), rows_of,
                                       _VIDEO_COLUMNS, max_rows=7))
    assert len(frames) == -(-len(unbatched) // 7)
    assert all(len(f) <= 7 for f in frames)
    assert _rows(frames) == unbatched


def test_byte_bound_on_the_image_synthesizer():
    """A synthesizer's rows count their blob bytes: a frame stops at the
    first blob that reaches max_bytes, so every row before the last of a
    frame sums to less than the bound, and the row bound still holds."""
    batch = pd.DataFrame({"doc_id": list(range(12))})
    rows_of = multimodal._per_doc(multimodal._image_blob)
    unbatched = list(rows_of(batch))
    sizes = sorted(nbytes for _, nbytes in unbatched)
    max_bytes = sizes[len(sizes) // 2]

    for max_rows in (rowframes.FRAME_ROWS, 3):
        frames = list(rowframes.row_frames(iter([batch]), rows_of,
                                           ("doc_id", "blob"),
                                           max_rows=max_rows,
                                           max_bytes=max_bytes))
        assert len(frames) > 1
        for f in frames:
            assert len(f) <= max_rows
            assert sum(len(blob) for blob in f["blob"].iloc[:-1]) < max_bytes
        assert ([(d, bytes(b)) for d, b in _rows(frames)]
                == [row for row, _ in unbatched])


def test_frames_never_span_input_batches():
    """Each input batch ends its last frame, under the video sampler and
    under a synthetic rows function; a batch without rows yields none."""
    rows_of = multimodal._per_blob(multimodal._sampled_frames)
    batches = [_video_batch([90, 91]), _video_batch([92])]
    frames = list(rowframes.row_frames(iter(batches), rows_of,
                                       _VIDEO_COLUMNS))
    assert [_rows([f]) for f in frames] == [
        [row for row, _ in rows_of(b)] for b in batches]

    def doubled(pdf):
        for x in pdf["x"]:
            yield (x, 2 * x), 1

    batches = [pd.DataFrame({"x": [1, 2, 3]}), pd.DataFrame({"x": []}),
               pd.DataFrame({"x": [4, 5]})]
    frames = list(rowframes.row_frames(iter(batches), doubled, ("x", "y"),
                                       max_rows=2))
    assert [_rows([f]) for f in frames] == [
        [(1, 2), (2, 4)], [(3, 6)], [(4, 8), (5, 10)]]
