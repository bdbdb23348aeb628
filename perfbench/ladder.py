"""Chars-per-page ladder: how each kernel stage's cost grows with page density.

Two layouts, each a one-page payload built with ``codec.encode_payload``:

* ``dense``: justified 40-char lines in 5-line paragraphs, flowed into two
  columns, so the page looks like ordinary body text at a higher density;
* ``scattered``: single characters at uniformly random positions, the
  layout on which ``Detect lines`` merges to a fixpoint slowly.

``exponent`` fits log(stage ms) against log(chars per page) by least
squares; 1.0 is linear, 2.0 quadratic.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from types import SimpleNamespace

DENSE_LEVELS = (250, 500, 1000, 2000, 4000)
SCATTERED_LEVELS = (250, 500, 1000, 2000)
PAGE_W, PAGE_H = 612.0, 792.0


def _page(chars):
    return {"page_num": 1, "clip": (0.0, 0.0, PAGE_W, PAGE_H), "chars": chars,
            "figures": [], "shapes": [], "graphics": []}


def dense_payload(n_chars: int, seed: int) -> bytes:
    from pdftotext_plus_plus_spark import codec, fixtures

    rng = random.Random(seed)
    page = SimpleNamespace(chars=[])
    pitch = fixtures.CHAR_H * fixtures.FS_BODY + fixtures.LINE_DIST
    col_w = fixtures.LINE_UNITS * fixtures.CHAR_W * fixtures.FS_BODY * 1.3
    x, base, n_lines = fixtures.MARGIN_X, fixtures.TOP_BASE, 0
    while len(page.chars) < n_chars:
        words = fixtures.make_lines(rng, 1)[0]
        fixtures.place_line(page, words, x, base)
        n_lines += 1
        base = round(base + pitch + (fixtures.BLOCK_GAP if n_lines % 5 == 0
                                     else 0.0), 1)
        if base > PAGE_H - 40:
            x, base = round(x + col_w + fixtures.COL_GAP, 1), fixtures.TOP_BASE
    return codec.encode_payload(fixtures.FONTS, [_page(page.chars[:n_chars])])


def scattered_payload(n_chars: int, seed: int) -> bytes:
    from pdftotext_plus_plus_spark import codec, fixtures

    rng = random.Random(seed)
    page = SimpleNamespace(chars=[])
    for _ in range(n_chars):
        x = round(rng.uniform(40, PAGE_W - 50), 1)
        base = round(rng.uniform(60, PAGE_H - 40), 1)
        fixtures.place_word(page, rng.choice("abcdefghijklmnopqrstuvwxyz"),
                            x, base)
    return codec.encode_payload(fixtures.FONTS, [_page(page.chars)])


def stage_ms(payload: bytes, budget_s: float, max_reps: int) -> dict:
    """Median per-stage ms of ``pipeline.extract`` over repeated runs: at
    least one, at most ``max_reps``, none started after ``budget_s``."""
    from pdftotext_plus_plus_spark import pipeline

    runs = []
    start = time.perf_counter()
    while len(runs) < max_reps and (
            not runs or time.perf_counter() - start < budget_s):
        runs.append(pipeline.extract(payload, with_spans=False,
                                     with_timings=True).timings_ms)
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]}


def run(seed: int, dense_levels=DENSE_LEVELS,
        scattered_levels=SCATTERED_LEVELS) -> dict:
    """Per-layout, per-level stage timings: {layout: {chars: {stage: ms}}}."""
    out = {"dense": {}, "scattered": {}}
    for n in dense_levels:
        out["dense"][n] = stage_ms(dense_payload(n, seed), 0.3, 50)
    for n in scattered_levels:
        out["scattered"][n] = stage_ms(scattered_payload(n, seed), 1.5, 3)
    return out


def exponent(levels: dict, stage: str) -> float:
    """Least-squares slope of log(``stage`` ms) over log(chars per page)."""
    lx = [math.log(n) for n in levels]
    ly = [math.log(max(levels[n][stage], 1e-6)) for n in levels]
    mx, my = statistics.fmean(lx), statistics.fmean(ly)
    return (sum((a - mx) * (b - my) for a, b in zip(lx, ly))
            / sum((a - mx) ** 2 for a in lx))
