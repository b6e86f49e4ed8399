"""Deterministic hashing / RNG primitives shared by datagen, kernels, oracle.

Everything is seeded and pure — no wall clock, no unseeded RNG — so fixtures
and benchmarks are reproducible bit-for-bit across runs and parallelism
levels.
"""

from __future__ import annotations

import numpy as np

_SM64_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM64_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM64_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer. uint64 -> uint64, wrapping arithmetic."""
    z = np.asarray(z).astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        z += _SM64_GAMMA
        z = (z ^ (z >> np.uint64(30))) * _SM64_M1
        z = (z ^ (z >> np.uint64(27))) * _SM64_M2
        z = z ^ (z >> np.uint64(31))
    return z


def round_half_away(x: np.ndarray, decimals: int = 6) -> np.ndarray:
    """Round half AWAY from zero on the BINARY double value — DuckDB
    ``round()`` semantics, which is what the oracle gate compares against.
    ``np.round`` is half-to-EVEN and diverges on representable .5
    boundaries, so every Arrow kernel whose output crosses the oracle gate
    rounds through this instead. (Spark ``F.round`` is close but not
    identical: it applies HALF_UP to the SHORTEST-DECIMAL representation
    via BigDecimal, which can differ from binary-value rounding when the
    shortest repr ends in 5 while the binary value sits just below the
    boundary — the JVM-side queries using F.round rely on DuckDB agreeing
    on the actual fixture values, which the hash gate verifies.)"""
    s = 10.0 ** decimals
    return np.copysign(np.floor(np.abs(x) * s + 0.5), x) / s


def hash2(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix of two uint64 streams."""
    a = np.asarray(a).astype(np.uint64)
    b = np.asarray(b).astype(np.uint64)
    with np.errstate(over="ignore"):
        return splitmix64(a ^ (splitmix64(b) + _SM64_GAMMA))


def geotag_from_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Derive the deterministic geotag from an image perceptual hash.

    ``x = (phash >>u 20) % 1e6``, ``y = phash(unsigned) % 1e6`` — reproduces the
    reference's uniform integer point cloud (generate_points.py:7-8) as a pure
    function of the row, so the point semantics of every reference operator
    apply to image rows with no stored coordinates.
    """
    u = np.asarray(phash).astype(np.int64).view(np.uint64)
    x = ((u >> np.uint64(20)) % np.uint64(1_000_000)).astype(np.float32)
    y = (u % np.uint64(1_000_000)).astype(np.float32)
    return x, y


# ---------------------------------------------------------------------------
# DuckDB SQL twins of splitmix64/hash2 (oracle side). Wrapping 64-bit
# multiply is emulated in HUGEINT via 32-bit limbs; everything else is
# UBIGINT. Emitted as CTE chains so each intermediate is computed once per
# row (a single inlined expression would blow up exponentially).
# ---------------------------------------------------------------------------

_U64 = 2**64
_U32 = 2**32


def _wmul_sql(t: str, c: int) -> str:
    """(t * c) mod 2^64 for UBIGINT column ``t`` and constant ``c``."""
    cl, ch = c % _U32, c // _U32
    return (
        f"CAST((CAST({t} AS HUGEINT) % {_U32} * {cl} + "
        f"((CAST({t} AS HUGEINT) % {_U32} * {ch} + "
        f"CAST({t} AS HUGEINT) // {_U32} * {cl}) % {_U32}) * {_U32}) % {_U64} AS UBIGINT)"
    )


def splitmix64_sql_ctes(prefix: str, src: str, carry: list[str], zin: str, zout: str) -> str:
    """CTE chain computing ``zout = splitmix64(zin)`` (the numpy twin above,
    bit-exact) over rows of ``src``, carrying ``carry`` columns through.
    Unsigned shift-right is floor division (inputs are UBIGINT)."""
    g = int(_SM64_GAMMA)
    m1, m2 = int(_SM64_M1), int(_SM64_M2)
    cs = ", ".join(carry)
    return f"""
{prefix}0 AS (SELECT {cs}, CAST((CAST({zin} AS HUGEINT) + {g}) % {_U64} AS UBIGINT) AS z FROM {src}),
{prefix}1 AS (SELECT {cs}, xor(z, z // {1 << 30}) AS t FROM {prefix}0),
{prefix}2 AS (SELECT {cs}, {_wmul_sql('t', m1)} AS z FROM {prefix}1),
{prefix}3 AS (SELECT {cs}, xor(z, z // {1 << 27}) AS t FROM {prefix}2),
{prefix}4 AS (SELECT {cs}, {_wmul_sql('t', m2)} AS z FROM {prefix}3),
{prefix}5 AS (SELECT {cs}, xor(z, z // {1 << 31}) AS {zout} FROM {prefix}4)"""


def hash2_sql_ctes(prefix: str, src: str, carry: list[str], acol: str, bcol: str, out: str) -> str:
    """CTE chain computing ``out = hash2(acol, bcol)`` = splitmix64(a ^
    (splitmix64(b) + GAMMA)) — bit-exact vs the numpy hash2 (prototype parity
    is pytest-gated)."""
    g = int(_SM64_GAMMA)
    inner = splitmix64_sql_ctes(f"{prefix}i", src, carry + [acol], bcol, "_smb")
    mid = (
        f"{prefix}m AS (SELECT {', '.join(carry)}, "
        f"xor({acol}, CAST((CAST(_smb AS HUGEINT) + {g}) % {_U64} AS UBIGINT)) AS _m "
        f"FROM {prefix}i5)"
    )
    outer = splitmix64_sql_ctes(f"{prefix}o", f"{prefix}m", carry, "_m", out)
    return f"{inner},\n{mid},{outer}"
