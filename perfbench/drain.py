"""Value-level drains and table digests that accept every column type the
tier tables carry, map columns included.

``xxhash64`` refuses ``map`` arguments (``DATATYPE_MISMATCH.HASH_MAP_TYPE``),
and a map's entry order is an artifact of how it was built, not of its
value.  Every map column is therefore hashed as its entries sorted by key
(``array_sort(map_entries(c))``), so equal maps hash equal whatever their
insertion order.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import MapType

TIER_TABLES = (
    "rollup_1m", "distinct_1m", "rollup_1m_filled",
    "chunks_1m", "rollup_1h", "rollup_1d",
)


def hashable(df: DataFrame) -> list[Column]:
    """Every column of ``df`` in name order, maps as sorted entry arrays."""
    out = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        out.append(F.array_sort(F.map_entries(c)) if isinstance(f.dataType, MapType) else c)
    return out


def drain(df: DataFrame) -> tuple[int, int]:
    """Evaluate every column of every row; return ``(rows, checksum)``.

    The checksum is the wrapping sum of per-row ``xxhash64`` values, so it
    does not depend on row order or partitioning."""
    row = df.select(F.xxhash64(*hashable(df)).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return int(row.n), int(row.s or 0)


def table_bytes_files(root: str, name: str) -> tuple[int, int]:
    """Parquet bytes and file count of one table directory."""
    size = files = 0
    for d, _, fs in os.walk(os.path.join(root, name)):
        for f in fs:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, f))
                files += 1
    return size, files


def file_listing(root: str) -> dict[str, tuple[int, int]]:
    """``{relative data-file path: (size, mtime_ns)}`` over the tier tables."""
    out = {}
    for t in TIER_TABLES:
        base = os.path.join(root, t)
        for d, _, fs in os.walk(base):
            for f in fs:
                if f.endswith(".parquet"):
                    st = os.stat(os.path.join(d, f))
                    out[os.path.relpath(os.path.join(d, f), root)] = (st.st_size, st.st_mtime_ns)
    return out
