"""The benchmark's drain hashes map columns by value.

    python3 -m pytest perfbench/test_drain.py -q
"""

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from more_pattern_extraction_spark.session import get_spark  # noqa: E402
from perfbench.drain import drain  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    s = get_spark("perfbench-test", cores=1, shuffle_partitions=1)
    yield s
    s.stop()


def _maps(spark, keys, vals):
    return spark.range(1).select(
        F.lit("c").alias("conv_id"),
        F.map_from_arrays(
            F.array(*[F.lit(k) for k in keys]), F.array(*[F.lit(v) for v in vals])
        ).alias("latency_sketch"),
    )


def test_equal_maps_in_different_insertion_order_hash_equal(spark):
    a = _maps(spark, [3, 1, 2], [30, 10, 20])
    b = _maps(spark, [1, 2, 3], [10, 20, 30])
    # the maps are equal, but Spark stores their entries in different orders
    keys = [df.select(F.map_keys("latency_sketch")).first()[0] for df in (a, b)]
    assert keys == [[3, 1, 2], [1, 2, 3]]
    assert a.first()[1] == b.first()[1]
    assert drain(a) == drain(b)


def test_different_maps_hash_differently(spark):
    a = _maps(spark, [1, 2], [10, 20])
    b = _maps(spark, [1, 2], [10, 21])
    assert drain(a)[1] != drain(b)[1]


def test_plain_xxhash64_rejects_map_columns(spark):
    """Why the drain exists: hashing the map column directly fails."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="HASH_MAP_TYPE"):
        _maps(spark, [1], [1]).select(F.xxhash64("latency_sketch")).collect()
