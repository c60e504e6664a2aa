"""Similarity search over embedding columns (array<float>).

Two paths (prompt mandate):
- brute_force_topk: exact cosine top-k — the correctness baseline.
  Dot products are one JVM ``aggregate(zip_with(...))`` expression per
  row (whole-stage codegen; no Python). No Exchange: the global
  top-k is a TakeOrderedAndProject (local top-k per partition).
- lsh_topk: the scale path — random-hyperplane LSH buckets; the query
  only scans its own bucket (and optionally multi-probe neighbors).
  At 100 TB the bucketed table is precomputed + partitioned by bucket,
  so a query touches 1/2^bits of the data; the brute path stays as
  the recall oracle.

An IVF variant (k-means coarse quantizer) would need an iterative
trainer; random-hyperplane LSH gives the same pruning shape without
iterative state, so it is the round-1 scale path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .floodcap import block_verify_pairs
from .salt import widen_for_python


def _dot(a: str, b: str):
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
        f"cast(y as double)), cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a: str):
    return F.sqrt(F.expr(
        f"aggregate({a}, cast(0.0 as double), (acc, v) -> "
        f"acc + cast(v as double) * cast(v as double))"
    ))


def with_cosine(df: DataFrame, query_vec: list[float],
                vec_col: str = "embedding") -> DataFrame:
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    df = df.withColumn("_q", q)
    return (
        df.withColumn(
            "cosine",
            _dot(vec_col, "_q")
            / (_norm(vec_col) * _norm("_q")),
        )
        .drop("_q")
    )


def brute_force_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k, deterministic tiebreak on id.

    orderBy().limit(k) expresses TakeOrderedAndProject directly —
    each partition keeps its local top-k and only k rows ever reach
    the driver-side merge — rather than a partition-less row_number
    window that relies on the WindowGroupLimit pushdown."""
    scored = with_cosine(df, query_vec, vec_col)
    return (
        scored.orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, F.round("cosine", 6).alias("cosine"))
    )


def hyperplane_bucket(vec_col: str, planes: list[list[float]]):
    """LSH bucket id: sign bits against fixed random hyperplanes."""
    bits = []
    for i, p in enumerate(planes):
        arr = "array(" + ",".join(f"cast({v} as double)" for v in p) + ")"
        bits.append(
            f"(case when aggregate(zip_with({vec_col}, {arr}, "
            f"(x, y) -> cast(x as double) * y), cast(0.0 as double), "
            f"(acc, v) -> acc + v) >= 0 then {1 << i} else 0 end)"
        )
    return F.expr(" + ".join(bits))


def make_planes(dim: int, bits: int = 4, seed: int = 7) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)]
            for _ in range(bits)]


def lsh_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             id_col: str = "vec_id", vec_col: str = "embedding",
             bits: int = 4, seed: int = 7) -> DataFrame:
    """Approximate top-k: scan only the query's hyperplane bucket."""
    planes = make_planes(len(query_vec), bits, seed)
    qbits = 0
    for i, p in enumerate(planes):
        if sum(x * y for x, y in zip(query_vec, p)) >= 0:
            qbits |= 1 << i
    bucketed = df.withColumn("_bkt", hyperplane_bucket(vec_col, planes))
    cand = bucketed.filter(F.col("_bkt") == qbits)
    return brute_force_topk(cand, query_vec, k, id_col, vec_col)


def hyperplane_buckets_pd(all_planes: list[list[list[float]]]):
    """All LSH-table bucket ids in ONE Arrow pass: returns an
    array<int> column (one bucket per table).  Bit-identical to
    :func:`hyperplane_bucket` per table — the per-plane dot folds
    sequentially over dims (np.cumsum == the SQL aggregate order)
    and the sign test is Spark's ``>= 0`` on the identical IEEE
    double (a NaN dot sets the bit), so every bucket bit matches the
    interpreted JVM expression (pinned by
    tests/test_similarity_opt.py)."""
    from pyspark.sql.functions import arrow_udf

    mats = [np.asarray(p, dtype=np.float64) for p in all_planes]

    @arrow_udf("array<int>")
    def _bkts(vs: pa.Array) -> pa.Array:
        out = vs.to_pylist()
        rows = [i for i, v in enumerate(out) if v is not None]
        if not rows:
            return pa.array(out, type=pa.list_(pa.int32()))
        mat = np.asarray([out[i] for i in rows], dtype=np.float64)
        per_table = []
        for planes in mats:
            bits_val = np.zeros(mat.shape[0], dtype=np.int32)
            for i in range(planes.shape[0]):
                # sequential left-fold over dims == SQL aggregate
                dot = np.cumsum(mat * planes[i][None, :],
                                axis=1)[:, -1]
                # `~(dot < 0)`, not `dot >= 0`: Spark's NaN >= 0 is
                # true (NaN sorts above every number), numpy's false
                bits_val |= np.where(~(dot < 0.0),
                                     np.int32(1 << i), np.int32(0))
            per_table.append(bits_val)
        stacked = np.stack(per_table, axis=1)   # (rows, tables)
        for i, b in zip(rows, stacked.tolist()):
            out[i] = b
        return pa.array(out, type=pa.list_(pa.int32()))

    return _bkts


#: prefilter slack: float32 GEMM cosine error is bounded by
#: ~gamma_dim(f32) = dim * 2^-24 relative (any summation order, with
#: or without FMA, via |fl(dot) - dot| <= gamma * sum|a_i b_i| and
#: Cauchy-Schwarz sum|a_i b_i| <= ||a|| ||b||), i.e. ~4e-6 at
#: dim=64, ~6e-5 at dim=1024.  1e-3 is a >15x safety margin: every
#: pair whose EXACT cosine reaches the threshold is guaranteed into
#: the candidate set, and every candidate is re-decided by the exact
#: fold — so the float32 pass (and BLAS summation-order freedom)
#: cannot change the output.
_PREFILTER_MARGIN = 1e-3

#: exact-recheck chunk: bounds the (pairs x dim) float64 temporaries
#: when a capped flood makes the candidate set quadratic.
_RECHECK_CHUNK = 1 << 18


def cosine_verify(threshold: float):
    """Pair verify over ``_v`` vectors (rows sorted by id): every pair
    ``i < j`` with cosine >= threshold, bit-identical to the SQL
    ``_dot(a, b) / (_norm(a) * _norm(b))``.

    Two phases: a float32 GEMM cosine over the whole group keeps
    every pair with approx cosine >= threshold - _PREFILTER_MARGIN
    (plus non-finite entries); only those candidates are recomputed
    EXACTLY as a float64 sequential left-fold over dims (np.cumsum ==
    the SQL aggregate(zip_with) order) and IEEE division.  A zero-norm
    vector gives a NaN cosine, and NaN qualifies (Spark/DuckDB order
    NaN above every number)."""
    def verify(p):
        mat = np.asarray(p["_v"], dtype=np.float64)
        m = len(mat)
        n64 = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        m32 = mat.astype(np.float32)
        g = m32 @ m32.T
        n32 = n64.astype(np.float32)
        with np.errstate(divide="ignore", invalid="ignore"):
            g /= np.multiply.outer(n32, n32)
        cand = (g >= np.float32(threshold - _PREFILTER_MARGIN)) \
            | ~np.isfinite(g)
        cand &= np.tri(m, m, -1, dtype=bool).T   # strictly upper: i<j
        ii, jj = np.nonzero(cand)
        cos = np.empty(len(ii), dtype=np.float64)
        for lo in range(0, len(ii), _RECHECK_CHUNK):
            ci = ii[lo:lo + _RECHECK_CHUNK]
            cj = jj[lo:lo + _RECHECK_CHUNK]
            dots = np.cumsum(mat[ci] * mat[cj], axis=1)[:, -1]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos[lo:lo + _RECHECK_CHUNK] = dots / (n64[ci] * n64[cj])
        ok = (cos >= threshold) | np.isnan(cos)
        return ii[ok], jj[ok], cos[ok]

    return verify


def embedding_neardup_pairs(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            threshold: float = 0.99,
                            tables: int = 4, bits: int = 8,
                            seed: int = 11,
                            max_bucket: int = 256) -> DataFrame:
    """Embedding-cosine NEAR-DUP pairs (the dedup counterpart of
    lsh_topk's search): multi-table random-hyperplane blocking, then
    exact cosine verification inside buckets only — never all-pairs.

    Returns (id_a, id_b, cosine) with id_a < id_b and cosine >=
    threshold. Recall math: a pair at angle θ splits on one plane
    with p = θ/π, shares one table's bucket with (1-p)^bits, and is
    missed entirely with (1-(1-p)^bits)^tables — for true near-dups
    (cosine >= 0.99 → θ <= 8.1°, p <= 0.045) that is < 2e-5 at
    (4 tables × 8 bits). False bucket-mates are removed by the exact
    cosine check, so the output equals the quadratic truth w.h.p.;
    max_bucket caps each bucket exactly like the MinHash banding cap
    (boilerplate/zero-vector floods at web scale): buckets at or
    under the cap are exact, flooded buckets keep a deterministic
    hash-prefix sample (operators/floodcap.py) — the exact verify
    means sampling only loses flood-internal pairs, never fabricates
    them.

    Zero-norm vectors: a zero vector's cosine with any bucket-mate is
    NaN (0/0), and a NaN cosine counts as a duplicate (Spark/DuckDB
    order NaN above every number), so it is emitted with cosine NaN.
    A zero vector has dot 0 >= 0 against every plane, so all zero
    vectors share one bucket in every table.
    """
    dim_row = df.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine double")
    dim = dim_row["d"]
    base = widen_for_python(df.select(F.col(id_col).alias("_id"),
                                      F.col(vec_col).alias("_v")))
    # all LSH tables in ONE vectorized Arrow pass
    all_planes = [make_planes(dim, bits, seed + t)
                  for t in range(tables)]
    keyed = base.select(
        "_id", hyperplane_buckets_pd(all_planes)(F.col("_v"))
        .alias("_keys"), "_v")
    pairs = block_verify_pairs(keyed, cosine_verify(threshold), "double",
                               max_bucket)
    return pairs.select("id_a", "id_b",
                        F.round("score", 6).alias("cosine"))
