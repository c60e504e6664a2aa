"""JVM-expression references for the MinHash and SimHash signatures
(``operators/neardup.minhash_prep`` and
``operators/neardup.simhash64_text_udf``)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.neardup import (
    _MERSENNE,
    SIM_MIX,
    SIM_PRIME,
    _perm_coeffs,
)


def shingle_hashes(shingle_col: str):
    """Shingle strings -> 31-bit xxhash ids (``xxhash64(s) & M31``)."""
    return F.expr(
        f"transform({shingle_col}, s -> xxhash64(s) & {_MERSENNE}L)"
    )


def minhash_signature(hash_col: str, k: int = 64, seed: int = 1):
    """k-permutation MinHash over pre-hashed shingle ids:
    h_i(x) = (a_i * x + b_i) mod M31, one JVM expression per
    permutation, each folded by array_min."""
    mins = [
        F.array_min(
            F.expr(
                f"transform({hash_col}, x -> "
                f"(({a}L * x + {b}L) % {_MERSENNE}L))"
            )
        )
        for a, b in _perm_coeffs(k, seed)
    ]
    return F.array(*mins)


def _sim_tokhash(base: int, mult: int, add: int) -> str:
    # acc < 2^31, so acc*41 + c < 2^37; h*mult < 2^62 — safe in
    # BIGINT (no overflow under Spark ANSI mode).
    return (f"(aggregate(filter(split(t, ''), c -> c <> ''), 0L, "
            f"(acc, c) -> (acc * {base}L + ascii(c)) % {SIM_PRIME}L) "
            f"* {mult}L + {add}L) % {SIM_PRIME}L")


def simhash64(text_col: str):
    """64-bit SimHash over whitespace tokens as one JVM expression:
    per token the three SIM_MIX hashes, then a 64-counter aggregate
    (+1/-1 per bit b read from bit b % 31 of hash b // 31) folded to
    sign bits.  NULL text gives NULL."""
    th = (f"transform(split({text_col}, ' '), t -> "
          "array(" + ", ".join(_sim_tokhash(*m) for m in SIM_MIX) + "))")
    return F.expr(
        f"aggregate({th}, "
        "array_repeat(0, 64), "
        "(acc, h) -> zip_with(acc, sequence(0, 63), (a, bit) -> a + "
        "(case when (shiftright(element_at(h, cast(bit div 31 as int) + 1), "
        "bit % 31) & 1) = 1 then 1 else -1 end)), "
        "acc -> aggregate(zip_with(acc, sequence(0, 63), (c, bit) -> "
        "case when c >= 0 then shiftleft(1L, bit) else 0L end), "
        "0L, (s, v) -> s + v))"
    )
