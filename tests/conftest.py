import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from pdftotext_plus_plus_spark.engine import build_session

    session = build_session(app_name="pytest", cpus=4, driver_memory="4g")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


@pytest.fixture(scope="session")
def nan_payload():
    """A payload that decodes cleanly but carries a NaN coordinate, on
    which a kernel stage raises."""
    from pdftotext_plus_plus_spark import codec, fixtures

    page = fixtures._PageBuilder(1)
    fixtures.place_line(page, ["one", "two"], 50.0, 100.0)
    hostile = page.to_dict()
    hostile["chars"][0]["left_x"] = float("nan")
    return codec.encode_payload(fixtures.FONTS, [hostile])


@pytest.fixture(scope="session")
def pages_df(spark):
    """Small fixture corpus as a Spark DataFrame with golden columns."""
    from pyspark.sql import types as T

    from pdftotext_plus_plus_spark import fixtures

    rows = fixtures.build_corpus(36, jumbo_every=18)
    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("golden_text", T.StringType()),
        T.StructField("family", T.StringType()),
    ])
    return spark.createDataFrame(rows, schema)
