"""Deduplication operators for training-data pipelines.

Beyond the reference's url-keyed dedup, the operations a 100 TB
training-data pipeline needs (prompt mandate): exact content dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard. Shingling,
hashing and signatures run either as JVM expressions or as one
rebatched Arrow pass per operator (numpy kernels, bit-identical to
the JVM expression chains they replaced); the only shuffles are the
grouping/join steps intrinsic to each algorithm.

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
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .floodcap import (
    _checkpoint_release,
    cap_flooded_buckets,
    hamming_pairs,
)

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


def word_shingles(text_col: str, n: int = 3):
    """Word n-gram shingles as an array<string> expression (JVM-side:
    transform over a sequence of start offsets)."""
    return F.expr(
        f"transform(sequence(0, greatest(size(split({text_col}, ' ')) - {n}, 0)), "
        f"i -> array_join(slice(split({text_col}, ' '), i + 1, {n}), ' '))"
    )


# --------------------------------------------------------------- minhash

# Mersenne prime 2^31-1: keeps a*x + b < 2^62, inside ANSI-mode long
# arithmetic (Spark 4 defaults spark.sql.ansi.enabled=true).
_MERSENNE = (1 << 31) - 1


def shingle_hashes(shingle_col: str):
    """Shingle strings → 31-bit xxhash ids (ONE string-hash pass; the
    k permutations then run integer arithmetic only)."""
    return F.expr(
        f"transform({shingle_col}, s -> xxhash64(s) & {_MERSENNE}L)"
    )


def _perm_coeffs(k: int, seed: int):
    """Deterministic (a_i, b_i) permutation coefficients — shared by
    the JVM and numpy signature paths so both produce identical
    signatures."""
    import random

    rng = random.Random(seed)
    coeffs = []
    for _ in range(k):
        a = rng.randrange(1, _MERSENNE)
        b = rng.randrange(0, _MERSENNE)
        coeffs.append((a, b))
    return coeffs


def minhash_signature(hash_col: str, k: int = 64, seed: int = 1):
    """k-permutation MinHash over pre-hashed shingle ids
    (shingle_hashes) — pure-JVM variant.

    h_i(x) = (a_i * x + b_i) mod M31, one JVM expression per
    permutation; array_min folds each. Seeds derive deterministically
    from ``seed`` (no wall clock anywhere). Kept as the reference
    implementation / cross-check for minhash_signature_udf; k
    interpreted HOF passes make it the slower path for large k.
    """
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


def minhash_signature_udf(k: int = 64, seed: int = 1):
    """Vectorized MinHash signatures: one Arrow-batched pandas_udf
    computing all k permutations with a single numpy matmul-shaped
    pass ((k x 1) * (1 x N) broadcast, then per-row segment min).

    Bit-identical to minhash_signature (same coefficients, same
    int64 arithmetic: a, x < 2^31 so a*x + b < 2^62 never overflows),
    but ~one numpy kernel per batch instead of k interpreted HOF
    passes per row. The signature is the ONLY Python hop in the LSH
    pipeline; shingle string-hashing stays JVM-side (xxhash64).
    """
    from pyspark.sql.functions import pandas_udf

    coeffs = _perm_coeffs(k, seed)
    A = np.array([a for a, _ in coeffs], dtype=np.int64)[:, None]
    B = np.array([b for _, b in coeffs], dtype=np.int64)[:, None]

    @pandas_udf("array<bigint>")
    def _sig(xs: pd.Series) -> pd.Series:
        arrs = [np.asarray(v, dtype=np.int64) for v in xs]
        lens = np.array([len(v) for v in arrs], dtype=np.int64)
        if lens.sum() == 0:
            return pd.Series([None] * len(arrs))
        flat = np.concatenate([v for v in arrs if len(v)]) \
            if len(arrs) else np.empty(0, np.int64)
        m = (A * flat[None, :] + B) % _MERSENNE  # k x N, one pass
        out, lo = [], 0
        for n in lens:
            if n == 0:
                out.append(None)  # array_min([]) is null in the JVM path
                continue
            out.append(m[:, lo:lo + n].min(axis=1))
            lo += n
        return pd.Series(out)

    return _sig


def _shingle_ids_chunk(texts, n: int):
    """Core of the vectorized shingling: list of texts -> list of
    int64 arrays of DISTINCT 31-bit shingle-hash ids (see
    shingle_hash_ids_udf for the exact JVM-chain semantics)."""
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
    """MinHash signatures for a list of shingle-id arrays — the
    minhash_signature_udf kernel (same coefficients, same int64
    arithmetic; the Mersenne ``%`` runs through the exact shift
    identity and the per-row min through minimum.reduceat — both
    value-identical, integer ops are order-free).  Work proceeds in
    row blocks of <= _SIG_BLOCK total shingles (see above)."""
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


#: fused-prep rebatch size: Arrow hands the UDF the session's small
#: payload-safe batches (256 rows); scalar text rows are cheap, so
#: the prep function re-accumulates them into chunks this size to
#: amortize the per-chunk numpy fixed costs.
_PREP_CHUNK = 8192


def minhash_prep_fn(n: int, num_perm: int, seed: int = 1):
    """mapInPandas body: (id, text) batches -> (_id, _hsh, _sig) in
    ONE Python hop — fuses shingle_hash_ids_udf + the signature
    kernel so text crosses the Arrow boundary once and the two
    chained ArrowEvalPython nodes (each paid per tiny batch)
    collapse into a single rebatched pass (guide §4.1/§4.5)."""
    coeffs = _perm_coeffs(num_perm, seed)
    a = np.array([x for x, _ in coeffs], dtype=np.int64)[:, None]
    b = np.array([y for _, y in coeffs], dtype=np.int64)[:, None]

    def fn(it):
        ids: list = []
        texts: list = []

        def flush():
            hsh = _shingle_ids_chunk(texts, n)
            sig = _minhash_sig_chunk(hsh, a, b)
            return pd.DataFrame({"_id": np.asarray(ids, dtype=np.int64),
                                 "_hsh": hsh, "_sig": sig})

        for pdf in it:
            if len(pdf) == 0:
                continue
            ids.extend(pdf["_id"].tolist())
            texts.extend(pdf["_t"].tolist())
            if len(ids) >= _PREP_CHUNK:
                yield flush()
                ids, texts = [], []
        if ids:
            yield flush()

    return fn


def shingle_hash_ids_udf(n: int = 3):
    """text -> DISTINCT 31-bit shingle-hash ids in one Arrow batch
    pass — bit-identical to the JVM chain
    ``array_distinct(shingle_hashes(array_distinct(
    shingles_from_tokens(split(text, ' '), n))))`` (pinned by
    tests/test_minhash_opt.py):

    - split/slice/array_join replicated with Python string ops
      (identical semantics for the literal-space split, the
      whole-array shingle when the text has fewer than n tokens,
      and first-occurrence distinct);
    - the per-shingle ``xxhash64(s) & M31`` runs through the
      vectorized XXH64 (operators/xxh64np.py, seed 42 — Spark's) on
      the whole batch instead of building every shingle string with
      interpreted ``array_join(slice(...))`` lambdas and hashing
      row-at-a-time (the dominant cost of dedup_minhash_lsh);
    - NULL text -> [42]: the JVM chain builds a single NULL shingle
      (slice of a NULL token array), and ``xxhash64(NULL)`` returns
      the seed — replicated literally so null rows band identically.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<bigint>")
    def _ids(texts: pd.Series) -> pd.Series:
        return pd.Series(_shingle_ids_chunk(texts.tolist(), n))

    return _ids


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
    # MinHash signature run in ONE rebatched mapInPandas hop
    # (minhash_prep_fn — bit-identical to the previous JVM expression
    # chain + signature UDF, parity-pinned); the size(...) > 0 gate
    # is unchanged (never drops — every text, even null, yields at
    # least one shingle id, exactly as the JVM chain did).
    # deterministic hash repartition on the id BEFORE the Python hop:
    # a compact parquet corpus scans as a handful of 128 MB splits,
    # which would serialize the shingling on 2-4 tasks (guide §2.5 —
    # deterministic key, not round-robin, so retries are safe; one
    # Exchange of (id, text) buys full-width parallelism for the
    # dominant compute stage)
    par = df.sparkSession.sparkContext.defaultParallelism
    sh = (
        df.select(F.col(id_col).alias("_id"),
                  F.col(text_col).alias("_t"))
        .repartition(par, F.col("_id"))
        .mapInPandas(minhash_prep_fn(shingle_n, num_perm),
                     "_id long, _hsh array<bigint>, _sig array<bigint>")
        .filter(F.size("_hsh") > 0)
        .persist()
    )
    sig = sh
    # persist the banded scalars too: the flood-count pass and both
    # self-join sides otherwise re-run the 32-band explode + key
    # hash over every signature (4 recomputations at bench scale)
    banded = sig.select(
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
# mirrors the whole signature, so dedup_simhash is oracle-checkable.
SIM_PRIME = 2147483647  # 2^31 - 1
SIM_MIX = (
    (31, 1103515245, 12345),
    (37, 1566083941, 1013904223),
    (41, 1812433253, 362437),
)


def _sim_tokhash(base: int, mult: int, add: int) -> str:
    # acc < 2^31, so acc*41 + c < 2^37; h*mult < 2^62 — safe in
    # BIGINT both engines (no overflow under Spark ANSI mode).
    return (f"(aggregate(filter(split(t, ''), c -> c <> ''), 0L, "
            f"(acc, c) -> (acc * {base}L + ascii(c)) % {SIM_PRIME}L) "
            f"* {mult}L + {add}L) % {SIM_PRIME}L")


def simhash64(text_col: str):
    """64-bit SimHash over whitespace tokens — single hashing pass.

    The token-hash array is the ``aggregate`` INPUT, so each token is
    hashed exactly once (previously: re-split + re-hashed per bit,
    64x redundant). The merge lambda updates all 64 counters per
    token (zip_with over the counter array); the finish lambda folds
    counters into sign bits.
    """
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


def sim_token_hashes(text_col: str):
    """The per-token 3-hash arrays (the simhash64 aggregate input) as
    a standalone column expression — hashing stays JVM-side so the
    DuckDB oracle can mirror it character-for-character."""
    return F.expr(
        f"transform(split({text_col}, ' '), t -> "
        "array(" + ", ".join(_sim_tokhash(*m) for m in SIM_MIX) + "))"
    )


def simhash64_udf():
    """Vectorized bit-fold: one Arrow batch in, signatures out. Takes
    the sim_token_hashes column; per row computes the (tokens x 64)
    sign matrix with numpy broadcasting instead of 64 interpreted
    counter updates per token. Bit-identical to simhash64 (same
    hashes, same count>=0 rule, empty token array → all bits set)."""
    from pyspark.sql.functions import pandas_udf

    bits = np.arange(64)
    idx = bits // 31
    sh = bits % 31
    weights = (np.uint64(1) << bits.astype(np.uint64))

    @pandas_udf("bigint")
    def _sig(ths: pd.Series) -> pd.Series:
        out = np.empty(len(ths), dtype=np.int64)
        for r, row in enumerate(ths):
            if row is None or len(row) == 0:
                out[r] = -1  # all-zero counters → every bit set
                continue
            h = np.asarray(list(row), dtype=np.int64)      # (T, 3)
            b = (h[:, idx] >> sh) & 1                      # (T, 64)
            counts = (2 * b - 1).sum(axis=0)
            sig = (weights[counts >= 0]).sum(dtype=np.uint64)
            out[r] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    return _sig


def simhash64_text_udf():
    """Whole-signature SimHash from the raw TEXT column in one Arrow
    pandas_udf — bit-identical to
    ``simhash64_udf()(sim_token_hashes(text))`` (pinned by
    tests/test_training_ops.py parity) but with the per-character
    rolling hashes vectorized in numpy instead of interpreted JVM
    lambdas over every character (guide §4.2; the char fold was the
    dominant cost of dedup_simhash signatures).

    Exact replication of the JVM semantics:
    - ``split(text, ' ')`` == segments between code point 32
      (consecutive spaces yield empty tokens; trailing empties kept);
    - per token, per (base, mult, add) in SIM_MIX:
      ``(fold(acc*base + ord(c)) % P * mult + add) % P`` — integer
      modular arithmetic is associativity-exact, so the padded
      column-wise fold gives identical values;
    - bit b of the signature reads bit (b % 31) of hash (b // 31);
      token contributions sum (+1/-1); count >= 0 sets the bit
      (integer sums — summation order free);
    - NULL text -> -1 (the old UDF's None branch), empty text ->
      one empty token (hash = add % P), matching ``split('', ' ')``.
    """
    from pyspark.sql.functions import pandas_udf

    bases = np.array([m[0] for m in SIM_MIX], dtype=np.int64)[:, None]
    mults = np.array([m[1] for m in SIM_MIX], dtype=np.int64)[:, None]
    adds = np.array([m[2] for m in SIM_MIX], dtype=np.int64)[:, None]
    bits = np.arange(64)
    idx = bits // 31
    sh = bits % 31
    weights = (np.uint64(1) << bits.astype(np.uint64))

    @pandas_udf("bigint")
    def _sig(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.int64)
        cps, tok_lens, row_ntok = [], [], []
        for r, t in enumerate(texts):
            if t is None:
                row_ntok.append(-1)   # sentinel: null text
                continue
            cp = np.frombuffer(t.encode("utf-32-le"),
                               dtype=np.uint32).astype(np.int64)
            cuts = np.nonzero(cp == 32)[0]
            starts = np.concatenate(([0], cuts + 1))
            ends = np.concatenate((cuts, [len(cp)]))
            cps.append(cp)
            tok_lens.append(ends - starts)
            row_ntok.append(len(starts))
        if cps:
            # flatten all tokens of the batch minus the spaces
            flat = np.concatenate(
                [cp[cp != 32] for cp in cps]) if cps else \
                np.empty(0, np.int64)
            lens = np.concatenate(tok_lens)
            ntok = len(lens)
            lmax = int(lens.max()) if ntok else 0
            padded = np.full((ntok, lmax), -1, dtype=np.int64)
            if ntok and lmax:
                row_i = np.repeat(np.arange(ntok), lens)
                col_i = (np.arange(len(flat))
                         - np.repeat(np.cumsum(lens) - lens, lens))
                padded[row_i, col_i] = flat
            # column-wise modular fold == per-char left fold
            acc = np.zeros((3, ntok), dtype=np.int64)
            for pos in range(lmax):
                col = padded[:, pos]
                valid = col >= 0
                if not valid.any():
                    continue
                acc[:, valid] = (acc[:, valid] * bases
                                 + col[valid]) % SIM_PRIME
            h = (acc * mults + adds) % SIM_PRIME       # (3, ntok)
            b = (h[idx, :] >> sh[:, None]) & 1          # (64, ntok)
            contrib = 2 * b - 1
            # per-row integer sums over the row's token segment
            seg = np.concatenate(
                ([0], np.cumsum([n for n in row_ntok if n >= 0])))[:-1]
            counts = np.add.reduceat(contrib, seg, axis=1) \
                if ntok else np.empty((64, 0), np.int64)
        ri = 0
        for r, n in enumerate(row_ntok):
            if n < 0:
                out[r] = -1           # null text (old UDF branch)
                continue
            c = counts[:, ri]
            ri += 1
            sig = (weights[c >= 0]).sum(dtype=np.uint64)
            out[r] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

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
    deterministic hash-prefix sample."""
    # same parallelism guard as minhash_lsh_pairs: hash-repartition
    # on the id so the signature UDF is not serialized on the scan's
    # few parquet splits
    par = df.sparkSession.sparkContext.defaultParallelism
    sig = (df.select(F.col(id_col).alias("_id"),
                     F.col(text_col).alias("_t"))
           .repartition(par, F.col("_id"))
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
