"""The repo's cross-engine hash: the first 15 hex chars of ``md5`` read as
an exact 60-bit BIGINT ("md5-60").

Any engine with md5 recomputes it bit for bit; the DuckDB oracles spell it
``CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT)``. Sixty bits keep every
value non-negative in a signed long, so ``%`` and ``>>`` on it agree across
engines as well. The dedup, text, similarity, bloom and KMV-sketch
operators all hash through this module, so the format is written once.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def h60(col: Column) -> Column:
    """md5-60 of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """md5-60 of a string-valued Spark SQL expression, as SQL text — for
    ``F.expr`` strings that build many hash columns in one py4j call."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"
