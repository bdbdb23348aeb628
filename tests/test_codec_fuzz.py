"""Codec robustness: arbitrary bytes must never raise — corrupt payloads
yield failure codes (the reference aborts on !isOk(); at 10^12 rows a
partition must survive any corrupt document)."""

from hypothesis import given, settings, strategies as st

from pdftotext_plus_plus_spark import codec, pipeline


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=400))
def test_decode_never_raises(data):
    doc, code, cause = codec.decode_payload(data)
    assert (doc is None) == (code != codec.OK) == (cause is not None)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=200))
def test_extract_never_raises_on_garbage(data):
    res = pipeline.extract(data)
    assert res.extracted_text == "\n"
    assert res.parse_failure_code != codec.OK


@settings(max_examples=60, deadline=None)
@given(st.integers(min_value=0, max_value=2000), st.randoms())
def test_truncated_valid_payload(cut, rnd):
    """Truncations of a real payload decode or fail cleanly."""
    import random

    from pdftotext_plus_plus_spark import fixtures

    payload, _ = fixtures.build_plain_1col(random.Random(1))
    truncated = payload[:min(cut, len(payload))]
    doc, code, _ = codec.decode_payload(truncated)
    assert (doc is None) == (code != codec.OK)
