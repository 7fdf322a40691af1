"""Column hashing shared by the md5-bucketed operators."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hex8_long(md5_hex: Column) -> Column:
    """The first 8 hex digits (32 bits) of an md5 hex column as a
    non-negative BIGINT: the deterministic bucket key of every salted
    md5 split, sample and sketch, stable across runs, engines and
    cluster sizes, and reproduced in DuckDB by the oracles'
    ``_hex8_to_long``."""
    return F.conv(F.substring(md5_hex, 1, 8), 16, 10).cast("long")
