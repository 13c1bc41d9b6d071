"""Engine-portable deterministic hashing (MinHash / SimHash substrate).

Spark's ``xxhash64`` and DuckDB's ``hash`` are different algorithms, so
cross-engine-checkable hashing is built on md5 (identical everywhere):
take the first 15 hex chars of md5 → a 60-bit non-negative bigint.

Spark:   cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint)
DuckDB:  cast(concat('0x', substr(md5(s), 1, 15)) as bigint)

MinHash uses the classic universal-hash family (a*h + b) mod p over the
60-bit hash reduced mod p first (keeps a*h below 2^63). Constants live
here and are interpolated into both the Column expressions and the oracle
SQL so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Mersenne prime 2^31 - 1: small enough that a*h never overflows int64.
MERSENNE_P = 2_147_483_647

# (a, b) pairs for the universal hash family, k=16 permutations.
# Fixed arbitrary odd multipliers — deterministic across runs and engines.
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1_299_721, 104_729),
    (15_485_863, 32_452_843),
    (49_979_687, 67_867_967),
    (86_028_121, 5_915_587),
    (2_038_074_743, 472_882_027),
    (198_491_317, 6_620_830_889 % MERSENNE_P),
    (573_259_391, 982_451_653),
    (1_000_000_007 % MERSENNE_P, 141_650_939),
    (756_065_159, 88_969_913),
    (122_949_829, 533_000_401),
    (76_543_211, 987_654_323),
    (314_159_257, 271_828_171),
    (161_803_399, 141_421_357),
    (223_092_827, 20_996_011),
    (37_156_667, 42_643_801),
    (257_885_161, 74_207_281),
]

SIMHASH_BITS = 60


def md5_hash60(col: Column) -> Column:
    """60-bit bigint hash of a string column via md5 (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_hash60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`md5_hash60`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def hashed_shingles(shingles: Column) -> Column:
    """Map a string array to 60-bit hashes reduced mod MERSENNE_P.

    Reducing mod p first keeps the universal-hash product a*h below 2^63.
    """
    return F.transform(shingles, lambda s: md5_hash60(s) % F.lit(MERSENNE_P))


def hashed_shingles_sql(shingles_expr: str) -> str:
    return f"list_transform({shingles_expr}, s -> {md5_hash60_sql('s')} % {MERSENNE_P})"


def minhash_signature_sql(hashes_expr: str, k: int = 16) -> str:
    """DuckDB rendering of the MinHash signature
    (operators/minhash.py::signatures, same constants): k slots of
    min((a*h + b) mod p) over the pre-hashed shingles. Empty shingle sets
    keep the sentinel ``MERSENNE_P`` in every slot.

    ``hashes_expr`` should be a bare column/alias holding the pre-hashed
    shingle list so each of the k slots reuses it.
    """
    slots = ", ".join(
        f"CASE WHEN len({hashes_expr}) > 0 THEN "
        f"list_min(list_transform({hashes_expr}, h -> ({a} * h + {b}) % {MERSENNE_P})) "
        f"ELSE {MERSENNE_P} END"
        for (a, b) in MINHASH_COEFFS[:k]
    )
    return f"[{slots}]"


def signature_agreement(a: Column, b: Column, k: int = 16) -> Column:
    """Fraction of agreeing MinHash slots between two signatures — the
    est_jaccard estimator. ONE shared definition for every near-dup tier
    (batch pair queries, incremental ingest, streaming filter, cluster
    index, bucketed band index): a tau or estimator change lands
    everywhere at once instead of drifting across re-implementations."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda eq: eq)
    ) / F.lit(float(k))


def simhash(tokens: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash over distinct tokens: per bit, +1 if the token's hash has the
    bit set else -1; output bit is 1 when the sum is positive. Packed into
    one bigint (60 bits < 2^63).

    Single-pass fold with an array<int> vote accumulator — per-bit
    aggregates would recompute the token hashing ``bits`` times: Spark
    cannot eliminate common subexpressions inside interpreted
    higher-order functions (observed 17× slowdown at sf0.1 for the same
    shape over MinHash slots).
    """
    hashes = F.array_distinct(F.transform(tokens, md5_hash60))
    bit_masks = F.array(*[F.lit(2**i).cast("long") for i in range(bits)])
    zero = F.array_repeat(F.lit(0), bits)
    votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            bit_masks,
            lambda v, m: v
            + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    packed = F.zip_with(
        votes,
        bit_masks,
        lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(packed, F.lit(0).cast("long"), lambda acc, v: acc + v)


def simhash_sql(tokens_expr: str, bits: int = SIMHASH_BITS) -> str:
    """DuckDB rendering of :func:`simhash`."""
    hashes = f"list_distinct(list_transform({tokens_expr}, s -> {md5_hash60_sql('s')}))"
    terms = []
    for i in range(bits):
        votes = (
            f"list_sum(list_transform({hashes}, "
            f"h -> CASE WHEN (h & {2**i}) != 0 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {votes} > 0 THEN CAST({2**i} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"
