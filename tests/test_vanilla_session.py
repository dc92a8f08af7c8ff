"""The driver gate runs a vanilla SparkSession (no Arrow configs). The
translate layer must produce byte-identical output with Arrow on and off.
"""

import pytest

from stac_to_geocore_spark.compat.translate import translate_collections, translate_items
from stac_to_geocore_spark.fixtures import stac_collections_df, stac_items_df

ARROW_KEY = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture
def no_arrow(spark):
    prev = spark.conf.get(ARROW_KEY)
    spark.conf.set(ARROW_KEY, "false")
    yield spark
    spark.conf.set(ARROW_KEY, prev)


def _docs(spark):
    items = stac_items_df(spark, 24)
    colls = stac_collections_df(spark)
    out = {}
    for r in translate_items(items, colls).collect():
        out[r["key"]] = r["json"]
    for r in translate_collections(colls).collect():
        out[r["key"]] = r["json"]
    return out


def test_translate_identical_with_and_without_arrow(spark, no_arrow):
    # fixture ordering: no_arrow has already disabled Arrow on the shared
    # session; compute the non-Arrow result first, then re-enable and compare
    without_arrow = _docs(spark)
    spark.conf.set(ARROW_KEY, "true")
    with_arrow = _docs(spark)
    assert without_arrow.keys() == with_arrow.keys()
    assert len(without_arrow) == 24 + stac_collections_df(spark).count()
    for k in with_arrow:
        assert without_arrow[k] == with_arrow[k], k
