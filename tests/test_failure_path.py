"""One failure path: ``pipeline.extract`` never raises on a payload.  Every
document that fails comes back as a failure row carrying its code, the
stage that failed and the cause, outside Spark as well as inside it."""

import pytest

from pdftotext_plus_plus_spark import codec, fixtures, pipeline, serializers


def _payload(field=None, value=None, text=None):
    """A two-word page; ``field`` of its first char set to ``value``, and
    ``text`` replacing its first char's text."""
    page = fixtures._PageBuilder(1)
    fixtures.place_line(page, ["one", "two"], 50.0, 100.0)
    d = page.to_dict()
    if field is not None:
        d["chars"][0][field] = value
    if text is not None:
        d["chars"][0]["text"] = text
    return codec.encode_payload(fixtures.FONTS, [d])


@pytest.mark.parametrize("field, value, exc_type", [
    ("left_x", float("nan"), "OverflowError"),
    ("right_x", float("inf"), "OverflowError"),
    ("rotation", 7, "KeyError"),
])
def test_hostile_payload_is_a_kernel_failure_row(field, value, exc_type):
    """Payloads that decode cleanly but make a stage raise come back as
    ERR_KERNEL rows naming the stage and the exception."""
    res = pipeline.extract(_payload(field, value), with_timings=True)
    assert res.parse_failure_code == codec.ERR_KERNEL
    assert res.fail_stage == "Detect lines"
    assert res.fail_cause.startswith(exc_type + ": ")
    assert len(res.fail_cause) <= codec.CAUSE_CHARS
    assert (res.extracted_text, res.extracted_text_extended) == ("\n", "\n")
    assert res.doc is None and res.blocks == []


def test_clean_payload_has_no_failure_record():
    res = pipeline.extract(_payload())
    assert res.parse_failure_code == codec.OK
    assert (res.fail_stage, res.fail_cause) == (None, None)
    assert res.extracted_text == "one two\n"


def test_invalid_utf8_is_a_decode_failure_naming_the_exception():
    """A text blob that is not UTF-8 still reads as ERR_TRUNCATED (code 3);
    its cause names the exception instead of "truncated"."""
    good = _payload(text="é")
    assert good.count("é".encode()) == 1
    bad = good.replace("é".encode(), b"\xc3\x28")
    res = pipeline.extract(bad)
    assert res.parse_failure_code == codec.ERR_TRUNCATED == 3
    assert res.fail_stage == pipeline.STAGE_DECODE
    assert res.fail_cause.startswith("UnicodeDecodeError: ")
    assert res.extracted_text == "\n"


@pytest.mark.parametrize("payload, code, cause", [
    (None, codec.ERR_EMPTY, "empty payload"),
    (b"NOPE1234", codec.ERR_MAGIC, "bad magic"),
    (_payload()[:-10], codec.ERR_TRUNCATED, "truncated payload"),
], ids=["empty", "magic", "truncated"])
def test_decode_failure_rows(payload, code, cause):
    res = pipeline.extract(payload)
    assert (res.parse_failure_code, res.fail_stage, res.fail_cause) == (
        code, pipeline.STAGE_DECODE, cause)


@pytest.mark.parametrize("version", [0, 1, 5, 65535])
def test_unsupported_version_is_a_decode_failure_row(version):
    """The decoder reads only the versions the encoder writes (2, 3, 4):
    a v2 payload re-stamped with any other version fails at decode with
    ERR_MAGIC and a cause naming the version, not as truncated or as
    text."""
    good = _payload()
    assert good[4:6] == b"\x02\x00"
    bad = good[:4] + version.to_bytes(2, "little") + good[6:]
    res = pipeline.extract(bad)
    assert (res.parse_failure_code, res.fail_stage, res.fail_cause) == (
        codec.ERR_MAGIC, pipeline.STAGE_DECODE,
        "unsupported version %d" % version)
    assert res.extracted_text == "\n"


def test_sink_exception_is_a_serialize_failure_row(monkeypatch):
    def boom(doc, roles):
        raise RuntimeError("x" * 1000)

    monkeypatch.setattr(serializers, "serialize_text", boom)
    res = pipeline.extract(_payload(), keep_doc=True)
    assert res.parse_failure_code == codec.ERR_KERNEL
    assert res.fail_stage == pipeline.STAGE_SERIALIZE
    assert res.fail_cause == ("RuntimeError: " + "x" * 1000)[
        :codec.CAUSE_CHARS]
    assert res.doc is None


@pytest.mark.parametrize("kwargs, sink", [
    ({"jsonl_units": ("block",)}, "JSONL"),
    ({"svg_units": ("nonsense",)}, "visualization"),
    ({"pdf_units": ("not-a-unit",)}, "visualization"),
])
def test_unknown_unit_raises_before_decode(kwargs, sink):
    """An unknown unit is the caller's error, not the document's: it
    raises before the payload is read, also for a payload that would
    fail to decode."""
    with pytest.raises(ValueError, match="unknown %s unit" % sink):
        pipeline.extract(None, **kwargs)


def test_kernel_failure_row_keeps_finished_stage_timings(nan_payload):
    """A kernel failure row keeps the times of Parse payload and of every
    stage that finished before the one that raised, so the lineage's
    ``ms_*`` sums count failed documents too."""
    from pdftotext_plus_plus_spark.kernel import STAGE_NAMES

    res = pipeline.extract(nan_payload, with_timings=True)
    assert (res.parse_failure_code, res.fail_stage) == (
        codec.ERR_KERNEL, "Detect lines")
    finished = STAGE_NAMES[:STAGE_NAMES.index("Detect lines")]
    assert list(res.timings_ms) == [pipeline.STAGE_DECODE, *finished]
    assert all(ms >= 0.0 for ms in res.timings_ms.values())
