"""Skew salting: a salted two-phase count equals the plain count."""

from pyspark.sql import Row

from sequin_spark.operators.skew import salted_count


def test_salted_count_matches_plain(spark):
    rows = [Row(k="hot", v=i) for i in range(500)] + [Row(k="cold", v=1)]
    df = spark.createDataFrame(rows)
    got = {r.k: r.n for r in salted_count(df, "k", salt_buckets=8).collect()}
    assert got == {"hot": 500, "cold": 1}
