"""session.drain_checksum over every column type the tier tables carry,
and session.local_frame."""

from pyspark.sql import functions as F

from more_pattern_extraction_spark.session import drain_checksum, local_frame


def _with_map(spark, keys, vals):
    return spark.range(2).select(
        F.col("id"),
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]),
            F.array(*[F.lit(v).cast("long") for v in vals]),
        ).alias("latency_sketch"),
    )


def test_map_columns_hash_by_value(spark):
    a = drain_checksum(_with_map(spark, [3, 1, 2], [30, 10, 20]))
    b = drain_checksum(_with_map(spark, [1, 2, 3], [10, 20, 30]))
    c = drain_checksum(_with_map(spark, [1, 2, 3], [10, 20, 31]))
    assert a == b and a.rows == 2
    assert c != a


def test_non_map_columns_hash_as_before(spark):
    df = spark.range(50).select(
        "id", (F.col("id") * 0.5).alias("x"), F.col("id").cast("string").alias("s"))
    want = df.select(F.sum(F.xxhash64(*df.columns))).first()[0]
    assert drain_checksum(df) == (50, want)


def test_local_frame_round_trips(spark):
    import datetime as dt

    rows = [(1, dt.date(2024, 1, 2), "a", 0.1), (2, None, None, float("inf"))]
    df = local_frame(spark, rows, "k int, d date, s string, v double")
    assert [tuple(r) for r in df.orderBy("k").collect()] == rows
    assert local_frame(spark, [], "k int").count() == 0
