"""Engine sessions use small Tungsten pages (``session.py``): a hash
aggregate over a handful of rows takes one 1 MB page up to an 8g driver,
whatever Spark's execution memory / cores / 16 would give, and a record
larger than a page still gets a page of its own."""

import pytest

from lucille_spark.session import page_size


def _page_bytes(spark):
    return spark.sparkContext._jsc.sc().env().memoryManager().pageSizeBytes()


def test_default_session_uses_1mb_pages(spark):
    assert _page_bytes(spark) == 1 << 20


@pytest.mark.parametrize("driver_memory,page", [
    ("2g", "1m"),      # perfbench's session; Spark's rule gives 8 MB
    ("8g", "1m"),      # get_spark's default; Spark's rule gives 64 MB
    ("8192m", "1m"), ("512m", "1m"), ("2048", "1m"), ("8G", "1m"),
    ("9g", "2m"), ("16g", "2m"),
    ("24g", "4m"),     # bench.py's scaling workers
    ("64gb", "8m"),
])
def test_page_table_covers_the_driver_heap(driver_memory, page):
    assert page_size(driver_memory) == page


def test_records_larger_than_a_page(spark):
    """3 MB keys through a hash aggregate and a sort, on 1 MB pages."""
    from pyspark.sql import functions as F

    df = spark.range(6).select(
        (F.col("id") % 3).alias("k"),
        F.concat(F.expr("repeat('x', 3 << 20)"), F.col("id") % 2).alias("v"))
    groups = df.groupBy("v", "k").count().collect()
    assert sorted((len(r["v"]), r["k"], r["count"]) for r in groups) == [
        (3 * (1 << 20) + 1, k, 1) for k in (0, 0, 1, 1, 2, 2)]
    lengths = [r[0] for r in df.orderBy("v", "k")
               .select(F.length("v")).collect()]
    assert lengths == [3 * (1 << 20) + 1] * 6
