"""Portable deterministic hashing shared by dedup/fingerprint operators.

Everything is built on md5 hex strings because they are bit-identical in
Spark and DuckDB (and any other engine), unlike xxhash64/murmur which are
engine-specific. ``hash60`` maps a string to a 60-bit non-negative int via
the first 15 hex chars:

* Spark : ``conv(substring(md5(x), 1, 15), 16, 10) :: bigint``
* DuckDB: ``('0x' || substr(md5(x), 1, 15)) :: BIGINT``

md5 is NOT for security here — it is a cheap, portable, uniform hash.
At 100 TB scale you would swap xxhash64 (JVM-side, ~10x faster) once the
oracle-parity constraint is dropped; the operators take the hash column
builder as a parameter for exactly that reason.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def hash60(col: Column) -> Column:
    """60-bit integer hash of a string column (portable, non-negative)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def seeded(seed: int, col: Column) -> Column:
    """Seed-prefixed input so k independent hash functions come cheap."""
    return F.concat(F.lit(f"{seed}:"), col)


# ---------------------------------------------------------------------------
# 2-universal family from ONE base hash (k hashes for the price of 1 md5)
# ---------------------------------------------------------------------------
#
# Two mixing rounds + an xor-shift between them:
#   g   = (h1 * A_i + h2 * B_i + C_i) mod M61      (h split into 30-bit halves)
#   g'  = g XOR (g >> 29)
#   out = (g'1 * A_{i+97} + g'2 * B_{i+97} + C_{i+97}) mod M61
# A plain 2-universal round is pairwise-independent but a BAD min-wise
# family (LSH recall collapsed to ~0.33 in simulation); the xor-shift +
# second round restores ~independent-minhash recall (0.81 vs 0.84 for
# per-seed md5 at J=1/3, 16x2 bands). Every product stays < 2^61 and every
# sum < 2^63, so the arithmetic is overflow-free — and therefore identical
# — in Spark AND DuckDB (DuckDB raises on BIGINT overflow; Spark wraps).

M61 = (1 << 61) - 1
_MASK30 = (1 << 30) - 1


def family_coeffs(i: int) -> tuple[int, int, int]:
    a = (((2 * i + 1) * 0x9E3779B1) % (1 << 30)) | 1
    b = (((i + 1) * 0x85EBCA77) % (1 << 30)) | 1
    c = (i * 0xC2B2AE3D) % (1 << 30)
    return a, b, c


def _mix30(h: Column, i: int) -> Column:
    a, b, c = family_coeffs(i)
    h1 = F.shiftright(h, 30)
    h2 = h.bitwiseAND(F.lit(_MASK30))
    return (h1 * F.lit(a) + h2 * F.lit(b) + F.lit(c)) % F.lit(M61)


def hash_family_from(h: Column, i: int) -> Column:
    """i-th family member applied to an ALREADY-hashed column (hash60)."""
    g = _mix30(h, i)
    g = g.bitwiseXOR(F.shiftright(g, 29))
    return _mix30(g, i + 97)


def _mix30_sql(hexpr: str, i: int) -> str:
    a, b, c = family_coeffs(i)
    return f"((({hexpr} >> 30) * {a} + ({hexpr} & {_MASK30}) * {b} + {c}) % {M61})"


def hash_family_from_sql(hexpr: str, i: int) -> str:
    """DuckDB twin of hash_family_from. Pass a COLUMN NAME as ``hexpr`` —
    the expression repeats it, so an inline md5 would be recomputed."""
    g = _mix30_sql(hexpr, i)
    gx = f"xor({g}, ({g} >> 29))"
    return _mix30_sql(gx, i + 97)


def hash60_sql(expr: str) -> str:
    """DuckDB twin of hash60()."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"
