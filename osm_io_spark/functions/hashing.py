"""Stable cross-engine 64-bit hashing.

Spark's ``hash()``/``xxhash64`` and DuckDB's ``hash()`` are different
functions, so oracle-checked dedup/LSH operators derive integer hashes
from MD5 (identical bytes→hex in every engine): the top 15 hex chars give
a deterministic non-negative 60-bit integer.

Three synchronized forms: Python scalar, PySpark Column, SQL text.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash64_py(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def hash64_col(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def hash64_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5(CAST(({expr}) AS VARCHAR)), 1, 15)) AS BIGINT)"
