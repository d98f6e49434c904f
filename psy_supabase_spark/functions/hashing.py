"""Deterministic hashing primitives for dedup + fingerprints.

All engine-internal hashes use Spark's built-ins (xxhash64 / crc32 /
murmur hash) — JVM-side, codegen'd.  Where a DuckDB oracle must reproduce
the hash exactly we instead use an explicit polynomial rolling hash over
code points, expressible identically in both engines (see
operators/textanalysis.fingerprint).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str

# modulus < 2^31 keeps every intermediate (acc*BASE + cp) < 2^63 → no
# overflow divergence between engines.
POLY_BASE = 1_000_003
POLY_MOD = 2_147_483_647


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def md5_hash32(col: ColumnOrName) -> Column:
    """Portable 32-bit integer hash: first 8 hex digits of md5.

    Identical in any engine with md5 (DuckDB:
    ``CAST('0x' || substr(md5(s),1,8) AS BIGINT)``), and — unlike a
    per-character fold — a single codegen'd JVM expression, so it stays
    inside whole-stage codegen instead of an interpreted lambda loop.
    The hash of choice for dedup shingles/fingerprints."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("bigint")


def poly_hash(col: ColumnOrName) -> Column:
    """Polynomial rolling hash over unicode code points, mod 2^31-1.

    acc = (acc * POLY_BASE + codepoint) % POLY_MOD, folded left-to-right.
    Deterministic and engine-portable (pure 64-bit integer arithmetic) —
    used where a SQL oracle must reproduce the value bit-for-bit.
    """
    cps = F.transform(F.split(_c(col), ""), lambda ch: F.ascii(ch).cast("bigint"))
    return F.aggregate(
        cps,
        F.lit(0).cast("bigint"),
        lambda acc, cp: (acc * F.lit(POLY_BASE) + cp) % F.lit(POLY_MOD),
    )

