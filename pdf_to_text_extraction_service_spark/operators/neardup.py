"""Deduplication operators for training-data pipelines.

Beyond the reference's url-keyed dedup, the operations a 100 TB
training-data pipeline needs (prompt mandate): exact content dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard. Shingling,
hashing and signatures run as one Arrow text-row pass per operator
(numpy kernels, bit-identical to the JVM expression chains in
tests/reference/neardup.py that pin them); the only shuffles are the
width guard (operators/salt.widen_for_python) and the grouping/join
steps intrinsic to each algorithm.

Scale notes per operator:
- exact_dedup:      1 shuffle on content hash (partial agg).
- minhash_lsh_pairs: shingle->minhash in one Arrow pass; explode b
  bands -> 1 shuffle on (band, signature-slice); candidate self-join
  inside buckets only; exact-Jaccard verification filters false
  positives.  Bucket skew (e.g. boilerplate-identical docs) is
  bounded by the flood cap (operators/floodcap.py).
- simhash_pairs:    Arrow signature pass; 4 band keys through the
  block -> verify -> emit-once pair engine (operators/floodcap.py).
- ngram_jaccard_pairs: exact quadratic within a blocking key — for
  audits at small scale or within fine blocks, not the 100 TB path
  (that's what the LSH variant is for).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..functions.textrows import map_text_rows
from .floodcap import (
    _checkpoint_release,
    cap_flooded_buckets,
    hamming_pairs,
)
from .salt import widen_for_python

# ----------------------------------------------------------------- exact


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per exact text; adds group size.

    groupBy(sha2) gets map-side partial aggregation; the shuffle
    carries one (hash, min_id, count) triple per distinct text per
    partition — never the text payload itself.
    """
    h = F.sha2(F.col(text_col).cast("binary"), 256)
    return (
        df.withColumn("_h", h)
        .groupBy("_h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .drop("_h")
    )


# ------------------------------------------------------------- shingling


def tokens_col(text_col: str):
    return F.split(F.col(text_col), " ")


def shingles_from_tokens(tokens_col: str, n: int = 3):
    """Word n-gram shingles from a PRE-SPLIT token array column —
    the token array is materialized once per row instead of re-split
    inside the per-shingle lambda."""
    return F.expr(
        f"transform(sequence(0, greatest(size({tokens_col}) - {n}, 0)), "
        f"i -> array_join(slice({tokens_col}, i + 1, {n}), ' '))"
    )


# --------------------------------------------------------------- minhash

# Mersenne prime 2^31-1: keeps a*x + b < 2^62, inside ANSI-mode long
# arithmetic (Spark 4 defaults spark.sql.ansi.enabled=true).
_MERSENNE = (1 << 31) - 1


def _perm_coeffs(k: int, seed: int):
    """Deterministic (a_i, b_i) permutation coefficients — shared with
    the JVM reference (tests/reference/neardup.py) so both produce
    identical signatures."""
    import random

    rng = random.Random(seed)
    coeffs = []
    for _ in range(k):
        a = rng.randrange(1, _MERSENNE)
        b = rng.randrange(0, _MERSENNE)
        coeffs.append((a, b))
    return coeffs


def _shingle_ids_chunk(texts, n: int):
    """Vectorized shingling: list of texts -> list of int64 arrays of
    DISTINCT 31-bit shingle-hash ids, bit-identical to the JVM chain
    ``array_distinct(shingle_hashes(array_distinct(
    shingles_from_tokens(split(text, ' '), n))))`` (reference in
    tests/reference/neardup.py, pinned by tests/test_minhash_opt.py):

    - split/slice/array_join replicated with Python string ops
      (identical semantics for the literal-space split, the
      whole-array shingle when the text has fewer than n tokens,
      and first-occurrence distinct);
    - the per-shingle ``xxhash64(s) & M31`` runs through the
      vectorized XXH64 (operators/xxh64np.py, seed 42 — Spark's) on
      the whole chunk instead of interpreted ``array_join(slice(...))``
      lambdas hashing row-at-a-time;
    - NULL text -> [42]: the JVM chain builds a single NULL shingle
      (slice of a NULL token array), and ``xxhash64(NULL)`` returns
      the seed — replicated literally so null rows band identically.
    """
    from .xxh64np import xxh64_bytes

    m31 = np.int64(_MERSENNE)
    null_ids = np.array([42], dtype=np.int64)   # xxhash64(NULL) & M31
    counts: list[int | None] = []
    all_sh: list[bytes] = []
    for t in texts:
        if t is None:
            counts.append(None)
            continue
        toks = t.split(" ")
        if len(toks) >= n:
            sh = [" ".join(toks[i:i + n])
                  for i in range(len(toks) - n + 1)]
        else:
            sh = [" ".join(toks)]
        sh = list(dict.fromkeys(sh))     # first-occurrence distinct
        counts.append(len(sh))
        all_sh.extend(s.encode("utf-8") for s in sh)
    hs = xxh64_bytes(all_sh) & m31
    # one global duplicate scan instead of a per-row np.unique: a
    # 31-bit collision between two DISTINCT shingles of one row is
    # ~2e-5 per row — detect globally (lexsort), fix locally
    valid_counts = [c for c in counts if c is not None]
    row_of = np.repeat(np.arange(len(valid_counts)),
                       valid_counts) if valid_counts else \
        np.empty(0, np.int64)
    dup_rows: set[int] = set()
    if len(hs):
        order = np.lexsort((hs, row_of))
        same = (np.diff(row_of[order]) == 0) & (np.diff(hs[order]) == 0)
        if same.any():
            dup_rows = set(row_of[order[1:][same]].tolist())
    out, lo, vi = [], 0, 0
    for c in counts:
        if c is None:
            out.append(null_ids)
            continue
        seg = hs[lo:lo + c]
        lo += c
        if vi in dup_rows:               # rare: keep first occurrence
            _, idx = np.unique(seg, return_index=True)
            seg = seg[np.sort(idx)]
        vi += 1
        out.append(seg)
    return out


def _mod_m31(y):
    """y mod (2^31 - 1) for 0 <= y < 2^62 via the Mersenne shift
    identity — exact (== numpy ``%``), ~3x cheaper than int64 ``%``."""
    m = np.int64(_MERSENNE)
    r = (y & m) + (y >> np.int64(31))
    r = (r & m) + (r >> np.int64(31))
    return np.where(r >= m, r - m, r)


#: signature kernel block: the (k x N) permutation matrix and its
#: temporaries must stay cache-sized — 32 concurrent workers each
#: holding 100+ MB temporaries thrash the box's shared memory
#: bandwidth (measured 40x slowdown per task vs this blocked shape).
_SIG_BLOCK = 1 << 15


def _minhash_sig_chunk(id_arrays, a, b):
    """MinHash signatures for a list of shingle-id arrays:
    h_i(x) = (a_i * x + b_i) mod M31 per permutation, min per row —
    the JVM ``minhash_signature`` reference's coefficients and int64
    arithmetic (a, x < 2^31 so a*x + b < 2^62 never overflows); the
    Mersenne ``%`` runs through the exact shift identity and the
    per-row min through minimum.reduceat — both value-identical,
    integer ops are order-free.  An empty array gets None (array_min
    of [] is NULL).  Work proceeds in row blocks of <= _SIG_BLOCK
    total shingles (see above)."""
    n = len(id_arrays)
    out: list = []
    i = 0
    while i < n:
        j, tot = i, 0
        while j < n and (tot == 0
                         or tot + len(id_arrays[j]) <= _SIG_BLOCK):
            tot += len(id_arrays[j])
            j += 1
        block = id_arrays[i:j]
        i = j
        lens = np.array([len(v) for v in block], dtype=np.int64)
        if tot == 0:
            out.extend([None] * len(block))
            continue
        flat = np.concatenate([v for v in block if len(v)])
        m = _mod_m31(a * flat[None, :] + b)      # k x <=block
        nz = lens > 0
        starts = (np.cumsum(lens) - lens)[nz]
        mins = np.minimum.reduceat(m, starts, axis=1)
        col = 0
        for keep in nz:
            if not keep:
                out.append(None)
                continue
            out.append(mins[:, col])
            col += 1
    return out


#: the MinHash prep pass's output rows (see :func:`minhash_prep`)
MINHASH_PREP_SCHEMA = StructType([
    StructField("_id", LongType()),
    StructField("_hsh", ArrayType(LongType())),
    StructField("_sig", ArrayType(LongType())),
])


def minhash_prep(n: int, num_perm: int, seed: int = 1):
    """Chunk kernel for functions/textrows.map_text_rows: ``(ids,
    texts)`` -> ``(_id, _hsh, _sig)``, one row per document — shingle
    ids (:func:`_shingle_ids_chunk`) and the signature kernel
    (:func:`_minhash_sig_chunk`) fused, so text crosses the Arrow
    boundary once.  Pinned against the JVM chain ``shingle_hashes`` +
    ``minhash_signature`` in tests/reference/neardup.py by
    tests/test_minhash_opt.py."""
    coeffs = _perm_coeffs(num_perm, seed)
    a = np.array([x for x, _ in coeffs], dtype=np.int64)[:, None]
    b = np.array([y for _, y in coeffs], dtype=np.int64)[:, None]

    def chunk(ids: list, texts: list) -> dict:
        hsh = _shingle_ids_chunk(texts, n)
        return {"_id": np.asarray(ids, dtype=np.int64), "_hsh": hsh,
                "_sig": _minhash_sig_chunk(hsh, a, b)}

    return chunk


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", shingle_n: int = 3,
                      num_perm: int = 64, bands: int = 16,
                      threshold: float = 0.8,
                      max_bucket: int = 64) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact verification.

    Returns (id_a, id_b, jaccard) with id_a < id_b and verified
    word-shingle Jaccard >= threshold. With (bands=16, rows=4) the
    s-curve detects J=0.9 pairs with P ≈ 1-4e-8 and passes few J<0.5
    pairs to verification.

    max_bucket caps candidate generation per LSH bucket (boilerplate
    floods one signature at web scale) via the partial-agg flood cap
    in operators/floodcap.py: buckets at or under the cap are exact;
    flooded buckets keep a deterministic hash-prefix sample with
    expected size max_bucket (recall inside a flood is sampled, and
    the exact-Jaccard verification below means sampling can only
    lose pairs, never fabricate them).

    MinHash stays on a bucket self-join instead of the pair engine
    (floodcap.block_verify_pairs) that SimHash, embedding cosine and
    dHash use.  A true near-dup pair shares most of its bands, and
    the engine carries the payload into every bucket: each pair's
    whole shingle-id arrays would cross the bucket Exchange once per
    shared band and be verified in each, where the self-join ships
    scalar (id, band, key) rows and joins the arrays back once per
    candidate pair.

    The scalar pair output is materialized and the signature cache
    released before returning.
    """
    rows_per_band = num_perm // bands
    # Shingle-hash ids AND signatures are computed ONCE into the
    # persisted relation (the self-join below reads it twice; without
    # the persist each side would re-run the signature UDF) and never
    # travel through the banding explode/shuffle — the banded
    # relation is 3 small scalars per (doc, band). Candidates join
    # back to `sh` for verification over the 31-bit int arrays: the
    # document-sized shingle STRINGS are projected away right here,
    # so the verify join ships ~8 bytes per shingle instead of the
    # shingle text (set-identical Jaccard up to xxhash collisions at
    # ~2^-31 per differing-shingle pair — and the threshold filter is
    # the verified property anyway).  Shingling + hashing + the
    # MinHash signature run in ONE text-row pass
    # (minhash_prep, pinned to the JVM chain in
    # tests/reference/neardup.py) behind the width guard; every text,
    # even NULL, yields at least one shingle id, exactly as the JVM
    # chain did.
    sh = map_text_rows(
        widen_for_python(df.select(F.col(id_col).alias("_id"),
                                   F.col(text_col).alias("_t"))),
        minhash_prep(shingle_n, num_perm), MINHASH_PREP_SCHEMA,
    ).persist()
    # persist the banded scalars too: the flood-count pass and both
    # self-join sides otherwise re-run the 32-band explode + key
    # hash over every signature (4 recomputations at bench scale)
    banded = sh.select(
        "_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), b -> "
                f"struct(b as band, slice(_sig, b * {rows_per_band} + 1, "
                f"{rows_per_band}) as key))"
            )
        ).alias("_b"),
    ).select("_id", F.col("_b.band").alias("_band"),
             F.hash("_b.key").alias("_key")).persist()

    # Self-join inside buckets; the flood cap bounds the quadratic
    # blow-up from degenerate signatures (boilerplate floods) with a
    # partial-agg count + deterministic hash-prefix sample — never a
    # rank window, which would funnel a flooded bucket onto one
    # reducer task first (see operators/floodcap.py for the recall
    # semantics of capped buckets).
    bucketed = cap_flooded_buckets(
        banded, ["_band", "_key"], "_id", max_bucket)

    left = bucketed.select("_band", "_key", F.col("_id").alias("id_a"))
    right = bucketed.select("_band", "_key", F.col("_id").alias("id_b"))
    cand = (
        left.join(right, ["_band", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    jac = (
        cand
        .join(sh.select(F.col("_id").alias("id_a"),
                        F.col("_hsh").alias("_h_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"),
                        F.col("_hsh").alias("_h_b")), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_h_a", "_h_b"))
            / F.size(F.array_union("_h_a", "_h_b")),
        )
    )
    out = (
        jac.filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return _checkpoint_release(out, sh, banded)


# --------------------------------------------------------------- simhash


# SimHash token hashes: 31-bit cross-engine rolling hashes (same
# fold as textstats.polyhash but mod 2^31-1 so all 31 bits are
# near-uniform). Three (base, mult, add) triples cover the 64
# signature bits: bit b reads bit (b % 31) of hash (b div 31).
# The affine finalizer (h*mult + add) % M matters: a bare rolling
# hash of a short token is a SMALL number (3 chars < 2^17), leaving
# the high bits constantly zero across the corpus and collapsing the
# effective hamming space; the affine permutation mod the prime
# spreads every token across all 31 bits. Cross-engine means DuckDB
# mirrors the whole signature, so dedup_simhash is oracle-checkable;
# the JVM form of the same fold is the reference in
# tests/reference/neardup.py.
SIM_PRIME = 2147483647  # 2^31 - 1
SIM_MIX = (
    (31, 1103515245, 12345),
    (37, 1566083941, 1013904223),
    (41, 1812433253, 362437),
)


def simhash64_text_udf():
    """Whole-signature SimHash from the raw TEXT column in one scalar
    ``arrow_udf`` — bit-identical to the JVM ``simhash64`` expression in
    tests/reference/neardup.py (pinned by
    tests/test_training_ops.py::test_simhash_udf_matches_jvm_signatures)
    except on NULL text, with the per-character rolling hashes
    vectorized in numpy instead of interpreted JVM lambdas over every
    character (the char fold was the dominant cost of dedup_simhash
    signatures).

    Exact replication of the JVM semantics:
    - ``split(text, ' ')`` == segments between code point 32
      (consecutive spaces yield empty tokens; trailing empties kept);
    - per token, per (base, mult, add) in SIM_MIX:
      ``(fold(acc*base + ord(c)) % P * mult + add) % P`` — integer
      modular arithmetic is associativity-exact, so the position-wise
      fold over all tokens of a batch at once gives identical values;
    - bit b of the signature reads bit (b % 31) of hash (b // 31);
      token contributions sum (+1/-1); count >= 0 sets the bit
      (integer sums — summation order free);
    - empty text -> one empty token (hash = add % P), matching
      ``split('', ' ')``;
    - NULL text -> -1 (every bit set), where the JVM expression
      gives NULL.

    The batch's texts are joined by single spaces, so the tokens of
    the joined text are every row's tokens in order, and the fold runs
    over its code points with the tokens sorted longest first: at
    position ``pos`` only the tokens longer than ``pos``, a prefix of
    that order, take a step.  Memory is O(characters in the batch),
    whatever the longest token.
    """
    from pyspark.sql.functions import arrow_udf

    bases = np.array([m[0] for m in SIM_MIX], dtype=np.int64)[:, None]
    mults = np.array([m[1] for m in SIM_MIX], dtype=np.int64)[:, None]
    adds = np.array([m[2] for m in SIM_MIX], dtype=np.int64)[:, None]

    @arrow_udf("bigint")
    def _sig(texts: pa.Array) -> pa.Array:
        strs = texts.to_pylist()
        out = np.full(len(strs), -1, dtype=np.int64)  # NULL: every bit
        rows = [r for r, t in enumerate(strs) if t is not None]
        if not rows:
            return pa.array(out)
        valid = [strs[r] for r in rows]
        cp = np.frombuffer(" ".join(valid).encode("utf-32-le"),
                           dtype=np.uint32).astype(np.int64)
        cuts = np.flatnonzero(cp == 32)
        starts = np.concatenate(([0], cuts + 1))
        lens = np.concatenate((cuts, [len(cp)])) - starts
        order = np.argsort(-lens, kind="stable")
        first = starts[order]
        # live[pos]: the tokens longer than pos, a prefix of ``order``
        live = np.searchsorted(-lens[order], -np.arange(lens.max()))
        acc = np.zeros((3, len(lens)), dtype=np.int64)
        for pos, k in enumerate(live):
            acc[:, :k] = (acc[:, :k] * bases
                          + cp[first[:k] + pos]) % SIM_PRIME
        h = np.empty_like(acc)
        h[:, order] = (acc * mults + adds) % SIM_PRIME
        # per row: its token segment, and the set bits counted in it
        ntok = np.fromiter((t.count(" ") + 1 for t in valid),
                           dtype=np.int64, count=len(valid))
        seg = np.cumsum(ntok) - ntok
        sig = np.zeros(len(valid), dtype=np.uint64)
        for bit in range(64):
            ones = np.add.reduceat((h[bit // 31] >> (bit % 31)) & 1, seg)
            sig[2 * ones >= ntok] |= np.uint64(1 << bit)
        out[rows] = sig.view(np.int64)
        return pa.array(out)

    return _sig


def simhash_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  max_hamming: int = 3,
                  max_bucket: int = 4096) -> DataFrame:
    """Candidate near-dup pairs with SimHash Hamming distance <=
    max_hamming: ``(id_a, id_b, hamming)``, id_a < id_b, each pair
    once. Blocking: 4 16-bit bands (any pair within Hamming 3 of a
    64-bit signature shares at least one exact band), verified per
    bucket by the pair engine (operators/floodcap.hamming_pairs).

    max_bucket bounds each band bucket with the partial-agg flood cap
    (operators/floodcap.py) — identical-signature floods (boilerplate
    at web scale) otherwise make the bucket pairing quadratic.
    Buckets at or under the cap are exact; flooded buckets keep a
    deterministic hash-prefix sample.

    NULL-text documents get signature -1 (every bit set), so they
    pair with each other at Hamming 0."""
    sig = (widen_for_python(df.select(F.col(id_col).alias("_id"),
                                      F.col(text_col).alias("_t")))
           .select("_id", simhash64_text_udf()(F.col("_t"))
                   .alias("_sig")))
    return hamming_pairs(sig, max_hamming, max_bucket) \
        .withColumnRenamed("score", "hamming")


# --------------------------------------------------- exact n-gram jaccard


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        block_col: str | None = "source",
                        n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact word-n-gram Jaccard for all pairs within a blocking key
    (quadratic per block — audit tool / fine-block path)."""
    if block_col is None:
        raise ValueError(
            "ngram_jaccard_pairs without block_col is a full cartesian "
            "self-join; pass an explicit blocking column (or a "
            "constant column to opt into the quadratic audit path)"
        )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(block_col).alias("_blk"),
        tokens_col(text_col).alias("_t"),
    ).select(
        "_id", "_blk",
        F.array_distinct(shingles_from_tokens("_t", n)).alias("_sh"),
    ).filter(F.size("_sh") > 0)
    a = base.select("_blk", F.col("_id").alias("id_a"),
                    F.col("_sh").alias("_sh_a"))
    b = base.select("_blk", F.col("_id").alias("id_b"),
                    F.col("_sh").alias("_sh_b"))
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_sh_a", "_sh_b"))
            / F.size(F.array_union("_sh_a", "_sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
