"""Stable hashing primitives shared by dedup operators.

Everything is built on ``md5`` (bit-identical across Spark and DuckDB, so
oracle SQL can reproduce results exactly). MinHash permutations use the
classic ``(a*h + b) mod p`` family over the Mersenne prime 2^31-1 with
deterministic coefficients — all products stay < 2^62, safe under Spark's
ANSI integer overflow checks — so signatures are reproducible
run-to-run and across engines.

Reference analog: the INEI organizer dedupes documentation files by
SHA-256 content hash (perustats/inei/organizer.py:207-231); here content
hashing generalizes to exact/near dedup over document text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

P31 = (1 << 31) - 1  # Mersenne prime 2^31-1


def md5_hash64(col: Column) -> Column:
    """First 15 hex chars of md5 → non-negative int64.

    ``conv(hex, 16, 10)`` returns an unsigned decimal string; a
    15-hex-char slice (60 bits) always fits in int64.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def xx_hash31(col: Column) -> Column:
    """xxHash64 reduced into [0, 2^31-1) — native JVM hash, ~10× cheaper
    than the md5→hex→conv path. Use for rows-only operators (MinHash,
    SimHash) where no DuckDB oracle needs to reproduce the hash."""
    return F.pmod(F.xxhash64(col), F.lit(P31))


def minhash_coeffs(k: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs in [1, P31) for k permutations."""
    coeffs = []
    a, b = seed, seed * 31 + 17
    for _ in range(k):
        a = (a * 1103515245 + 12345) % P31
        b = (b * 69069 + 1) % P31
        coeffs.append((a | 1, b))
    return coeffs


def minhash_signature_from_hashes(hashes: Column, k: int = 32, seed: int = 7) -> Column:
    """Signature from a pre-hashed int31 array column.

    Splitting hashing from permuting lets callers materialize the hash
    array once (e.g. persist) instead of Catalyst inlining the md5
    pipeline into all k permutation expressions.

    The k permutations iterate over a LITERAL coefficient array inside
    one nested ``transform`` instead of k unrolled ``array_min`` siblings
    — same arithmetic, but the expression tree stays tiny. The *hashes*
    subtree is let-bound FIRST: referenced directly from the permutation
    lambda, Catalyst would re-evaluate the whole shingle→hash pipeline
    once per permutation (k× per row)."""
    from pyperustats_spark.functions.text import let

    coeffs = F.array(
        *[
            F.struct(F.lit(a).cast("bigint").alias("a"), F.lit(b).cast("bigint").alias("b"))
            for a, b in minhash_coeffs(k, seed)
        ]
    )
    # permuted values live in [0, P31): store as int32, not int64 — the
    # signature is what rides the LSH band shuffle (bands × k values per
    # doc), so element width is shuffle bytes. Arithmetic stays int64
    # (h*a < 2^62, ANSI-safe); only the final mod-reduced value narrows.
    return let(
        hashes,
        lambda hs: F.transform(
            coeffs,
            lambda c: F.array_min(
                F.transform(hs, lambda h: (h * c["a"] + c["b"]) % F.lit(P31))
            ).cast("int"),
        ),
    )


def simhash64(toks: Column) -> Column:
    """63-bit SimHash of an array-of-string token column.

    Single pass over the token hashes: one ``aggregate`` folds each hash
    into a 63-slot vote array (+1 where the hash bit is set, −1 where
    clear, via ``zip_with`` against a literal mask array), then positive
    votes OR their mask into the fingerprint. 63 bits keeps the result
    non-negative. Compact expression tree — compiles fast, no
    63-sibling unroll — and everything stays JVM-side per row.

    Deliberately NOT the explode→groupBy(doc_id) formulation with 63
    conditional sums: that measured 2.3× faster at sf1 on local[32]
    (codegen'd aggregates beat interpreted higher-order lambdas) but it
    converts a ZERO-shuffle narrow projection into a per-document
    shuffle of 63 partial sums (~0.5 KB/doc on the wire) and silently
    drops zero-token documents. At corpus scale the shuffle dwarfs the
    CPU saving; the per-row fold is the 100 TB-right shape.
    """
    masks = F.lit([1 << b for b in range(63)])  # one array<bigint> literal
    zeros = F.array_repeat(F.lit(0).cast("bigint"), 63)
    # xxhash64: native JVM hash; bits 0..62 are uniform and the sign bit
    # is never read (masks stop at bit 62). SimHash has no SQL oracle,
    # so the hash need not be reproducible in DuckDB.
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) > 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint"))
        ),
        F.lit(0).cast("bigint"),
        lambda acc, m: acc + m,
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
