"""Hash-family builders for MinHash and SimHash — deterministic, seedable,
and pure Catalyst expressions (xxhash64 + long arithmetic).

MinHash signature: each shingle is hashed ONCE into two base hashes
(a, b); the k hash functions are derived arithmetically as
``h_i = (a + i*b) mod p`` (Kirsch-Mitzenmacher 2006 — two hashes
suffice for Bloom/MinHash-style families), and the signature is the
per-document ``min`` of each of those k columns in a hash aggregate over
exploded shingles (:func:`minhash_components`). There is no per-salt
string re-hashing, and the aggregate is whole-stage-codegen'd with
map-side partials, so a 100 TB corpus minhashes at scan speed; the only
shuffle in LSH dedup is the band-bucket groupBy.

SimHash: 64-bit; bit b of the signature is the sign of the sum over
tokens of ±1 according to bit b of the token's xxhash64 — bits extracted
with shiftright/AND (long arithmetic), never via binary-string rendering.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# base hashes reduced mod a Mersenne prime so h1 + k*h2 stays < 2^38:
# overflow-free under ANSI mode and order-comparable as plain longs
_M61 = (1 << 31) - 1


def md5_part60(md5_hex: Column, part: int = 0) -> Column:
    """Parse 15 hex chars of an md5 digest (chars ``1+15*part`` …
    ``15+15*part``) into an unsigned 60-bit long. Engine-portable: the
    DuckDB twin is ``CAST('0x' || substr(md5(x), 1+15*part, 15) AS
    BIGINT)`` — verified bit-identical to Spark's
    ``conv(substr(md5(x), …), 16, 10)``. Two independent 60-bit values
    per digest (parts 0 and 1) from ONE md5 evaluation; bind the digest
    column first when both parts are needed."""
    return F.conv(F.substring(md5_hex, 1 + 15 * part, 15), 16, 10).cast("bigint")


def portable_hash60(col: Column, part: int = 0) -> Column:
    """60-bit engine-portable hash of a string column (md5-derived — see
    :func:`md5_part60`). Drop-in for ``xxhash64`` wherever a driver
    query needs a DuckDB-replicable hash; ~same cost class (one digest
    per value) and uniform. xxhash64 stays the choice for join-key-only
    hashing where no oracle ever recomputes the value."""
    return md5_part60(F.md5(col.cast("binary")), part)


def lsh_band_keys_portable(
    signature: Column, bands: int, rows_per_band: int
) -> Column:
    """Array of ``bands`` LSH bucket keys; docs sharing any key are
    candidate near-duplicates (standard banding: P[candidate] ≈
    1-(1-j^r)^b). Each key is the '|'-joined string of (band index,
    band's signature slice), byte-identical in any engine that renders
    integers in decimal. It is ~5x wider than a hashed long (≈45 B vs
    8 B), which only the band-bucket shuffle pays."""
    return F.array(
        *[
            F.concat_ws(
                "|",
                F.lit(b),
                *[
                    F.element_at(signature, b * rows_per_band + r + 1)
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )


def minhash_components(a: Column, b: Column, k: int) -> list[Column]:
    """The k Kirsch-Mitzenmacher hash values ``(a + i*b) mod p`` as
    separate columns, for the explode/groupBy MinHash formulation: the
    signature is the per-document ``min`` of each. Higher-order array
    functions are interpreted per element in Spark, so folding
    signatures per row is ~20x slower than exploding shingles and
    taking ``min`` of these k expressions in a hash aggregate, which is
    whole-stage-codegen'd and map-side partial (shuffle = one 64-long
    row per document)."""
    return [F.pmod(a + F.lit(i) * b, F.lit(_M61)) for i in range(1, k + 1)]


def signature_jaccard(sig_a: Column, sig_b: Column) -> Column:
    """MinHash estimate of Jaccard = fraction of agreeing components."""
    agree = F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree / F.size(sig_a)


def simhash_bit_sums(h: Column, nbits: int = 64) -> list[Column]:
    """The ``nbits`` SimHash accumulator aggregates for an exploded
    token-hash column: sum over tokens of ±1 according to bit j of the
    token's 64-bit hash. Bit j of a negative long is still
    ``(h >> j) & 1`` under arithmetic shift for j < 64. Like
    :func:`minhash_components`, the explode/groupBy formulation keeps
    the whole signature inside a codegen'd hash aggregate with map-side
    partials — the shuffle is one 64-long row per document — where a
    per-row higher-order-function fold over a 64-element array is
    evaluated interpreted per element (~30% slower here and allocates an
    array per token)."""
    return [
        F.sum(F.shiftright(h, j).bitwiseAND(F.lit(1)) * F.lit(2) - F.lit(1))
        for j in range(nbits)
    ]


def pack_sign_bits(counts: list[Column], nbits: int = 64) -> Column:
    """Fold per-bit accumulator columns into ONE 64-bit long signature:
    bit j set iff counts[j] > 0. A packed long halves nothing less than
    everything downstream — the banded self-join shuffles 8 bytes per
    signature instead of a 64-element int array, and Hamming distance
    becomes native ``bit_count(a ^ b)`` instead of an interpreted
    zip_with fold. Bit 63 lands in the sign position; the value is a
    bag of bits, never compared numerically."""
    packed = F.lit(0).cast("long")
    for j in range(nbits):
        packed = packed.bitwiseOR(
            F.shiftleft((counts[j] > 0).cast("long"), j)
        )
    return packed


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed 64-bit signatures — a single
    XOR + population count, whole-stage codegen'd."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_keys(sh: Column, bands: int = 4, nbits: int = 64) -> Column:
    """Split the packed signature into ``bands`` bit-chunks; near-dups
    within Hamming distance < bands share at least one exact chunk
    (pigeonhole). Key = (band_index << width) | chunk — pure long
    arithmetic, distinct across bands, no hashing or string rendering.
    Arithmetic shiftright sign-extends the high band, but the AND mask
    strips the extension, so every chunk is exact."""
    width = nbits // bands
    mask = (1 << width) - 1
    return F.array(
        *[
            F.shiftright(sh, b * width)
            .bitwiseAND(F.lit(mask))
            .bitwiseOR(F.lit(b << width))
            for b in range(bands)
        ]
    )
