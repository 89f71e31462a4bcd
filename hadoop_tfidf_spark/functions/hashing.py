"""Deterministic, engine-portable hashing expressions.

Design constraint: every extension operator (dedup, similarity, fingerprint)
must be verifiable against the DuckDB oracle, so the hash primitives are
built on ``md5`` — bit-identical lowercase hex in Spark and DuckDB — rather
than engine-private hashes (Spark's murmur3 ``F.hash`` and DuckDB's ``hash``
disagree). Seeded variants prefix the seed so one corpus scan can feed many
independent hash families (MinHash signatures).

All expressions are pure Catalyst (codegen'd, vectorizable); no Python UDFs.
At 100 TB md5-per-token is CPU-heavy but embarrassingly parallel — it runs
in the map stage before any shuffle, so it scales linearly with executors.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Hex digits taken when converting an md5 to a signed 64-bit value.
#: 15 hex digits = 60 bits — always non-negative, no overflow ambiguity
#: between engines.
HEX_DIGITS_FOR_LONG = 15


def seeded_md5(seed: int | str, col: Column | str) -> Column:
    """md5 of ``"{seed}:{value}"`` — an independent hash family per seed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(f"{seed}:"), c))


def hex_to_long(col: Column | str, digits: int = HEX_DIGITS_FOR_LONG) -> Column:
    """First ``digits`` hex chars → non-negative BIGINT.

    Oracle equivalent: ``('0x' || substr(h, 1, digits))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(c, 1, digits), 16, 10).cast("long")
