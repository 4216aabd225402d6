"""Column building blocks shared by ``sources/``, ``operators/`` and
``streaming/``: the md5-60 hash and its buckets, seconds since the
epoch and the bloom bit words.  Imports no other ``plda_spark`` module, so every layer can
use it without an import cycle."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def md5_long(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (oracle-reproducible:
    DuckDB ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_bucket(key: Column, row, width: int) -> Column:
    """Row-``row`` bucket of ``key`` (``row`` may be an int or a
    Column): the CMS buckets and the bloom bit positions, whose DuckDB
    twin is ``CAST('0x' || substr(md5(row || ':' || key), 1, 15) AS
    BIGINT) % width``.  A sketch's builder and its probes both call
    this, so they can never drift (a desynchronized hash would silently
    look up mismatched buckets)."""
    row_col = F.lit(row) if isinstance(row, int) else row
    return md5_long(
        F.concat(row_col.cast("string"), F.lit(":"), key.cast("string"))
    ) % width


def epoch_secs(c: Column) -> Column:
    """Seconds since the unix epoch of a TIMESTAMP or TIMESTAMP_NTZ
    column (NTZ refuses a direct double cast; the session-tz offset of
    the LTZ cast cancels in every difference taken of it)."""
    return F.unix_micros(c.cast("timestamp_ltz")) / F.lit(1_000_000.0)


def bit_words(pos: DataFrame, key: str) -> DataFrame:
    """``(key, w, word)``: each key's bloom bit positions ``pos`` OR-ed
    into 64-bit words — bit ``pos % 64`` of word ``w = pos // 64``."""
    return (
        pos.select(
            key,
            F.floor(F.col("pos") / 64).cast("int").alias("w"),
            # SQL form: the python shiftleft() helper only takes a
            # literal int shift amount, the SQL function takes columns
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy(key, "w")
        .agg(F.bit_or("bit").alias("word"))
    )
