"""Cross-engine-stable 64-bit hash Columns (JVM-side, md5-derived).

xxhash64 is the production hash everywhere in this engine (fastest JVM path),
but its values are engine-specific — a DuckDB oracle cannot reproduce them.
These helpers derive 64 bits from md5 instead (first 8 bytes, big-endian),
matching kgner.textops.stable_hash64 and reproducible in any md5-capable SQL
engine (DuckDB: ('0x' || substr(md5(x), 1, 16))::UBIGINT), which lets the
contract queries hash-check minhash/simhash/feature-hash pipelines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TWO63 = "9223372036854775808"
_TWO64 = "18446744073709551616"


def stable_hash64_u(c: Column) -> Column:
    """First 8 md5 bytes as UNSIGNED 64-bit (decimal(20,0)) — use where only
    ordering/equality matter (minhash mins, feature buckets)."""
    return F.conv(F.substring(F.md5(c), 1, 16), 16, 10).cast("decimal(20,0)")


def stable_hash64_col(c: Column) -> Column:
    """Signed-long twin of kgner.textops.stable_hash64 — use where bit ops
    are needed (simhash): shiftrightunsigned(signed, j) & 1 equals the
    unsigned value's bit j."""
    u = stable_hash64_u(c)
    wrapped = (u.cast("decimal(21,0)") - F.lit(_TWO64).cast("decimal(21,0)")).cast(
        "long"
    )
    return F.when(u >= F.lit(_TWO63).cast("decimal(20,0)"), wrapped).otherwise(
        u.cast("long")
    )


# Universal-hash permutation family over the Mersenne prime 2^61-1:
# h_i(x) = (a_i * (md5_64(x) mod p) + b_i) mod p. ONE md5 per row (the base
# is materialized as a column by callers); the affine step is exact integer
# arithmetic both engines reproduce bit-for-bit — split-multiply pure LONG
# ops in Spark (_mulmod_p61; ANSI mode forbids wrapping long multiply and
# decimal(38,0) arithmetic measured ~2x slower), HUGEINT in DuckDB.
# Constants are md5-derived per seed so any engine (and any seed count) can
# re-derive the family.
MERSENNE61 = (1 << 61) - 1


def affine_constants(seed: int) -> tuple[int, int]:
    """(a, b) for seed i — derivable for ANY i, no table bound."""
    import hashlib

    a = (
        int.from_bytes(hashlib.md5(f"minhash-a-{seed}".encode()).digest()[:8], "big")
        % (MERSENNE61 - 1)
    ) + 1  # a in [1, p)
    b = (
        int.from_bytes(hashlib.md5(f"minhash-b-{seed}".encode()).digest()[:8], "big")
        % MERSENNE61
    )
    return a, b


# convenience view of the first 64 (tests; most families are <= 64 hashes)
AFFINE_CONSTANTS = [affine_constants(i) for i in range(64)]


def stable_base_p61(c: Column) -> Column:
    """md5-derived base value in [0, 2^61-1) as a LONG — compute ONCE per
    row (materialize as a column), then fan out to seeds with affine_perm."""
    return F.pmod(stable_hash64_u(c), F.lit(MERSENNE61)).cast("long")


def _mulmod_p61(h: Column, a: int) -> Column:
    """(h * a) mod 2^61-1 in pure long arithmetic, ANSI-safe (every
    intermediate < 2^63): split both operands at 2^31 and fold the power
    terms with the Mersenne identity 2^61 ≡ 1 (mod p). Whole-stage-codegen
    long ops — no decimal, no overflow, bit-identical to the oracle's
    HUGEINT formula."""
    P = MERSENNE61
    a1, a0 = a >> 31, a & ((1 << 31) - 1)
    h1 = F.shiftright(h, 31)  # < 2^30
    h0 = h.bitwiseAND(F.lit((1 << 31) - 1))
    # a*h = a1*h1*2^62 + (a1*h0 + a0*h1)*2^31 + a0*h0;  2^62 ≡ 2 (mod p)
    t2 = F.pmod(h1 * F.lit(2 * a1), F.lit(P))
    mid = F.pmod(h0 * F.lit(a1) + h1 * F.lit(a0), F.lit(P))
    # mid*2^31 ≡ (mid >> 30) + ((mid & (2^30-1)) << 31)  (mod p)
    mid31 = F.pmod(
        F.shiftleft(mid.bitwiseAND(F.lit((1 << 30) - 1)), 31) + F.shiftright(mid, 30),
        F.lit(P),
    )
    t0 = F.pmod(h0 * F.lit(a0), F.lit(P))
    return F.pmod(t2 + mid31 + t0, F.lit(P))


def affine_perm(h: Column, seed: int) -> Column:
    """h in [0, p) -> (a_seed * h + b_seed) mod p, p = 2^61-1. Long-only;
    any seed (constants derived on demand)."""
    a, b = affine_constants(seed)
    return F.pmod(_mulmod_p61(h, a) + F.lit(b), F.lit(MERSENNE61))


def stable_affine_hash_fn(c: Column, seed: int) -> Column:
    """Oracle-reproducible seeded hash: one md5-derived base value, then the
    seed's affine permutation mod 2^61-1. Returns a non-negative LONG (same
    ordering in any engine — no signedness games). When hashing the SAME
    column under many seeds, materialize stable_base_p61 once and apply
    affine_perm per seed instead (minhash_signatures does this)."""
    return affine_perm(stable_base_p61(c), seed)


def affine_oracle_seeds_sql(num: int) -> str:
    """DuckDB VALUES relation (seed, a, b) matching affine_constants — any
    `num`, same derivation as the Spark side."""
    rows = ", ".join(
        f"({i}, {affine_constants(i)[0]}::HUGEINT, {affine_constants(i)[1]}::HUGEINT)"
        for i in range(num)
    )
    return f"(VALUES {rows}) s(seed, a, b)"
