"""Cross-engine deterministic hashing primitives.

The dedup/fingerprint operators need hash functions that (a) run
JVM-side in Spark (no Python on the data path) and (b) can be
reproduced *bit-for-bit* by the DuckDB correctness oracle. The only
hash both engines share exactly is ``md5`` (hex string out) — Spark's
xxhash64 and DuckDB's hash are different algorithms — so every sketch
bottoms out in md5, evaluated ONCE per value and then extended with
exact integer arithmetic both engines share:

- **base hash**: first 8 md5 hex digits as int64, mod P = 2³¹−1.
- **hash family**: hᵢ(x) = (aᵢ·h(x) + bᵢ) mod P with frozen (aᵢ, bᵢ)
  (universal hashing; products stay < 2⁶², exact on both engines).
- **MinHash**: signature_i = MIN of hᵢ over a document's shingle
  set, all k minima advanced in one aggregate pass. A uniform hash's
  min over a set is order-free and merge-able (map-side-combinable
  ⇒ scales to 100 TB with one shuffle per doc-id).
- **LSH bands**: band key = band index ⊕ the signature slice values;
  equal key ⇔ candidate pair. Join on the band string.
- **SimHash**: per-bit majority over token hashes; bits come from the
  same 32-bit base hash (operators.dedup.simhash_sketches holds the
  columnar formulation; the expression forms here are the
  oracle-shared definitions).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from epe_data_wrangling_spark.functions.expr import bind

HEX_DIGITS = "0123456789abcdef"


#: Mersenne prime modulus of the universal hash family.
MINHASH_P = 2**31 - 1
#: Frozen (a, b) coefficients (numpy default_rng(11)) — shared
#: verbatim with the DuckDB oracle; regenerating would silently
#: change every signature. k = 16 hashes.
MINHASH_AB: tuple[tuple[int, int], ...] = (
    (287335975, 276102407), (1711717682, 1072191044), (1267085885, 1291707886),
    (1529378281, 61609175), (1042610374, 317668847), (862198698, 1993317992),
    (1176290586, 151227035), (1165533626, 278687433), (1620142123, 2036519845),
    (2103343575, 1335484845), (1864733255, 792406698), (312974494, 1098201708),
    (952911210, 1423444400), (2135758728, 591221179), (1837640958, 296284179),
    (746780223, 1692302142),
)


def base_hash(col: Column) -> Column:
    """Integer base hash of a string: first 8 hex digits of md5 as a
    bigint, reduced mod P. ONE md5 per value; the k hash family
    members are affine projections of this (universal hashing),
    which both engines evaluate with exact int64 arithmetic
    (a·h+b < 2^62, no overflow either side)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint") % F.lit(MINHASH_P)
    )


def minhash_signature(shingles: Column, num_hashes: int) -> Column:
    """MinHash signature of an ``array<string>`` shingle column.

    Returns ``array<long>`` of length ``num_hashes``; element i is
    min over shingles of ``(aᵢ·h(s) + bᵢ) mod P``. Single-pass
    ``aggregate``: md5 runs once per shingle (not once per shingle
    per hash) and all k minima advance together through one
    ``zip_with`` — whole-stage codegen, no UDF, one array traversal.
    """
    if num_hashes > len(MINHASH_AB):
        raise ValueError(f"at most {len(MINHASH_AB)} hashes frozen, got {num_hashes}")
    ab = MINHASH_AB[:num_hashes]

    def step(acc: Column, s: Column) -> Column:
        # bind the base hash: without it the md5+conv subtree is
        # inlined (and re-evaluated) once per hash-family member.
        return bind(
            base_hash(s),
            lambda h: F.zip_with(
                acc,
                F.array(*[(F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P) for a, b in ab]),
                lambda m, v: F.least(m, v),
            ),
        )

    return F.aggregate(
        shingles,
        F.array_repeat(F.lit(MINHASH_P).cast("bigint"), num_hashes),
        step,
    )


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys of a MinHash signature: ``array<string>`` of length
    ``bands``; key b = 'b|sig[b·r],…,sig[b·r+r-1]'.

    Two docs share a band key iff their signatures agree on that whole
    band — the classic S-curve collision probability. Downstream,
    ``explode`` + self-join on the key yields candidate pairs with a
    single shuffle on the band key (no O(n²) compare).
    """
    keys = []
    for b in range(bands):
        sl = [
            F.element_at(signature, b * rows_per_band + j + 1).cast("string")
            for j in range(rows_per_band)
        ]
        keys.append(F.concat_ws(",", F.lit(f"{b}|"), *sl))
    return F.array(*keys)


def hex_digit_value(digit: Column) -> Column:
    """Value 0-15 of one lowercase hex digit, identically in DuckDB:
    ``strpos('0123456789abcdef', d) - 1`` ⇔ ``F.instr(...) - 1``."""
    return F.instr(F.lit(HEX_DIGITS), digit) - F.lit(1)


def md5_bit(col: Column, bit: int) -> Column:
    """Bit ``bit`` (0 = MSB of first hex digit) of ``md5(col)`` as 0/1."""
    h = F.md5(col)
    digit = F.substring(h, bit // 4 + 1, 1)
    shift = 3 - bit % 4
    return F.floor(hex_digit_value(digit) / F.lit(2**shift)) % F.lit(2)


def _hex_bit(h: Column, bit: int) -> Column:
    """Bit ``bit`` (0 = MSB of first hex digit) of an md5 hex string."""
    digit = F.substring(h, bit // 4 + 1, 1)
    shift = 3 - bit % 4
    return F.floor(hex_digit_value(digit) / F.lit(2**shift)) % F.lit(2)


def simhash_bits(tokens: Column, num_bits: int) -> list[Column]:
    """SimHash of an ``array<string>`` token column, one 0/1 Column per
    bit: bit_j = 1 iff Σ_tokens (2·bit_j(md5(t)) − 1) ≥ 0.

    Single-pass form: ONE ``aggregate`` over the tokens with an
    ``array<long>`` tally accumulator — md5 is evaluated once per
    token (not once per token per bit; a 16× md5 saving) and the 16
    bit-tallies advance together via ``zip_with`` against the hash.
    Stays entirely JVM-side; bit values are identical to the naive
    per-bit definition the DuckDB oracle runs.
    """
    tallies = _simhash_tallies(tokens, num_bits)
    return [
        F.when(F.element_at(tallies, j + 1) >= 0, F.lit(1)).otherwise(F.lit(0))
        for j in range(num_bits)
    ]


def _simhash_tallies(tokens: Column, num_bits: int) -> Column:
    def step(acc: Column, t: Column) -> Column:
        # bind: one md5 per token, not one per token per bit
        return bind(
            F.md5(t),
            lambda h: F.zip_with(
                acc,
                F.array(*[(_hex_bit(h, j) * 2 - 1).cast("long") for j in range(num_bits)]),
                lambda a, d: a + d,
            ),
        )

    return F.aggregate(
        tokens,
        F.array_repeat(F.lit(0).cast("long"), num_bits),
        step,
    )


def simhash(tokens: Column, num_bits: int = 16) -> Column:
    """SimHash packed into a long (bit 0 = MSB): the tally array is
    folded once more to the packed value, so the whole sketch is ONE
    expression tree referencing the tally aggregate exactly once
    (element_at per bit would inline the aggregate num_bits times)."""
    return F.aggregate(
        _simhash_tallies(tokens, num_bits),
        F.lit(0).cast("long"),
        lambda acc, tally: acc * 2 + F.when(tally >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def hash_u32(col: Column | str, prefix: str) -> Column:
    """Deterministic 32-bit hash as int64 in [0, 2³²): the first 8 md5
    hex digits of ``"<prefix>|" + value``. This is the Spark twin of
    the oracle-side ``ducksql.hex_int(md5('<prefix>|' || CAST(col AS
    VARCHAR)), 1, 8)`` — the engine-parity-critical expression every
    md5-derived assignment (fold ids, sketch buckets, uniform draws)
    must share, so it lives HERE once instead of being re-derived
    inline at each use site (r6 code-review finding)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{prefix}|"), c.cast("string")).cast("binary")), 1, 8
        ),
        16,
        10,
    ).cast("bigint")
