"""The three policies that keep the engine's answers bit-identical to
its DuckDB oracles. Every operator states them through these builders;
the oracles spell out their own SQL twins, so they stay an independent
check."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_round(c: Column, places: int) -> Column:
    """``c`` rounded half-up to ``places`` decimals, as a double. DuckDB
    rounds the binary double while Spark rounds its decimal repr, so an
    exact 5-decimal quotient can tie differently; both engines round
    ``CAST(c AS DECIMAL(28,10))`` instead, and their oracles say
    ``CAST(ROUND(CAST(expr AS DECIMAL(28,10)), n) AS DOUBLE)``."""
    return F.round(c.cast("decimal(28,10)"), places).cast("double")


def tokens() -> Column:
    """The lowercased whitespace tokens of ``text``, the twin of DuckDB's
    ``regexp_extract_all(lower(text), '\\S+')``. The pattern goes through
    ``F.lit`` with group 0: inside a SQL string Spark would mangle the
    backslash, and ``regexp_extract_all`` defaults to group 1."""
    return F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"\S+"), 0)


def md5_int(expr, digits: int) -> Column:
    """The first ``digits`` hex digits of ``md5(expr)`` as a decimal
    string (cast it to a number), the twin of DuckDB's
    ``CAST(('0x' || substr(md5(expr), 1, digits)) AS BIGINT)``. A
    content hash makes sampling, splits and buckets deterministic and
    the same in both engines; ``expr`` is a column or column name,
    usually a salt concatenated with a key."""
    return F.conv(F.substring(F.md5(expr), 1, digits), 16, 10)
