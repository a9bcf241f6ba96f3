import pandas as pd
import pyspark.sql.types as T
import pytest

from easyner_spark import get_spark
from easyner_spark.fixtures import generate

# the crawl pages shape (BASELINE.json input_hint, Common-Crawl-style);
# the pipeline reads whatever schema its input carries
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="easyner-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fx():
    return generate(n_docs=120, seed=42)


@pytest.fixture(scope="session")
def pages_df(spark, fx):
    return spark.createDataFrame(fx.pages, schema=PAGES)


def assert_pdf_equal(actual: pd.DataFrame, expected: pd.DataFrame, keys: list[str]):
    """Order-insensitive frame equality on shared columns."""
    cols = list(expected.columns)
    a = actual[cols].sort_values(keys).reset_index(drop=True)
    e = expected[cols].sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, e, check_dtype=False)
