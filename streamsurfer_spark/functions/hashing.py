"""Seeded, engine-portable hashing primitives.

The dedup/LSH operators need hash functions that are (a) deterministic,
(b) seedable, and (c) reproducible by the DuckDB oracle — which rules out
Spark-private hashes (xxhash64/murmur) for oracle-checked paths. We use the
first 15 hex chars of md5 (60 bits, always positive in int64), identical on
both engines:

    Spark : CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)
    DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

Seeding = suffixing the input with '#<seed>'.

At 100 TB md5 is ~3× slower than xxhash64; swap `md5_long64` for
`F.xxhash64` in production paths where oracle parity is not required (the
operators take a `hash_fn` parameter for exactly this).
"""

from __future__ import annotations

import hashlib
import os

import pyspark.sql.functions as F
from pyspark.sql import Column

MOD_PRIME = 1_000_000_007

# Production hash swap (optimization guide §4: md5 is ~3× slower than
# xxhash64 at the per-token volume of the signature family). Default stays
# md5 so every oracle-checked hash is unchanged; set SPARK_GRAFT_HASH64=
# xxhash64 BEFORE import in production deployments where DuckDB parity is
# not required. The xxhash64 form is masked to the same 60-bit positive
# domain as md5_long64 so every downstream invariant (non-negative values,
# `% P31` sign, bucket arithmetic) holds identically.
HASH64_IMPL = os.environ.get("SPARK_GRAFT_HASH64", "md5").lower()
_MASK60 = (1 << 60) - 1


def md5_long64(col: Column) -> Column:
    """60-bit positive int64 from md5 — portable across Spark/DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long64_expr(sql_expr: str) -> str:
    """Same as md5_long64, as a SQL-expression fragment (for use inside
    higher-order lambdas where Column API can't reach)."""
    return f"cast(conv(substring(md5({sql_expr}), 1, 15), 16, 10) as bigint)"


def hash64(col: Column) -> Column:
    """The signature-family hash: md5_long64 by default (oracle-portable),
    xxhash64 masked to the same 60-bit positive domain under
    SPARK_GRAFT_HASH64=xxhash64 (production; no DuckDB twin)."""
    if HASH64_IMPL == "xxhash64":
        return F.xxhash64(col).bitwiseAND(F.lit(_MASK60))
    return md5_long64(col)


def hash64_expr(sql_expr: str) -> str:
    """SQL-fragment twin of :func:`hash64`."""
    if HASH64_IMPL == "xxhash64":
        return f"(xxhash64({sql_expr}) & {_MASK60})"
    return md5_long64_expr(sql_expr)


def md5_long64_py(s: str) -> int:
    """Python twin (unit-test oracle)."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def seeded(sql_expr: str, seed_expr: str) -> str:
    """Seed-suffix an input expression for per-seed hashing.

    Portability caveat: on NON-NULL inputs the concat is byte-identical
    across engines, but Spark's concat NULL-propagates while DuckDB's
    skips NULLs — only feed non-null expressions (every call site hashes
    md5 output, which is non-null by construction)."""
    return f"concat({sql_expr}, '#', cast({seed_expr} as string))"


# Affine reseeding: h_i(x) = (a_i * (md5_60bit(x) mod P31) + b_i) mod P31.
# One md5 per input, then integer arithmetic per seed — ~8x cheaper than
# hashing per (input, seed), and every term stays < 2^62 (no overflow).
# P31 is the Mersenne prime 2^31 - 1; a_i/b_i derive from the portable md5
# so Spark, DuckDB, and Python reproduce identical hash families.
P31 = 2_147_483_647


def affine_params(n_seeds: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per seed; a in [1, P31-1], b in [0, P31-1]."""
    return [
        (md5_long64_py(f"minhash-a:{s}") % (P31 - 1) + 1, md5_long64_py(f"minhash-b:{s}") % P31)
        for s in range(n_seeds)
    ]
