"""Cross-engine deterministic hashing primitives.

Every hashing operator that must pass the DuckDB oracle (text,
sampling, funnel, vocab) derives its randomness from ``md5`` — the ONE
hash both engines compute identically — reduced to integers:

    Spark : conv(substring(md5(cast(x as binary)), 1, 8), 16, 10)::long
    DuckDB: CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)

giving a uniform 32-bit word hash (verified byte-identical across
engines). Hash permutations (the rows of ``vocab.token_cms``) are the
classic universal family ``(a*h + b) mod P`` with P = 2^31-1 and fixed
odd constants, all in int64-safe range; :func:`perm` and
:func:`perm_sql` are its only renderings. No RNG anywhere — reruns and
oracles are exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Mersenne prime 2^31 - 1 — the universal-hash modulus.
P31 = 2_147_483_647

#: (a, b) constants for the universal permutation family. Fixed, odd,
#: small enough that a*h + b < 2^63 for h < 2^32.
PERMS: tuple[tuple[int, int], ...] = tuple(
    (2 * i + 3, 104_729 * (i + 1) + 7) for i in range(16)
)


def h32(col: Column) -> Column:
    """Uniform 32-bit hash of a string column (Spark side)."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )


def h32_sql(expr: str) -> str:
    """The byte-identical DuckDB rendering of :func:`h32`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def perm(i: int, h: Column) -> Column:
    """Permutation i applied to a hash column (Spark side)."""
    a, b = PERMS[i]
    return F.pmod(h * F.lit(a) + F.lit(b), F.lit(P31))


def perm_sql(i: int, hexpr: str) -> str:
    """The DuckDB rendering of :func:`perm`."""
    a, b = PERMS[i]
    return f"(({hexpr}) * {a} + {b}) % {P31}"


def words_col(text: str = "text") -> Column:
    """Lower-cased whitespace word list (Spark side)."""
    return F.split(F.lower(F.col(text)), r"\s+")


WORDS_SQL = "regexp_split_to_array(lower(text), '\\s+')"
