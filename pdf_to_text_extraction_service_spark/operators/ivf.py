"""IVF (inverted-file) approximate nearest neighbor — the trained
scale path beyond hyperplane LSH (operators/similarity.py).

Coarse quantizer = k-means trained with distributed Lloyd
iterations (Arrow passes over cached id-blocks, see train_kmeans), so
training is fully distributed; centroids are tiny and come back to
the driver only between iterations (k × dim floats). The index is the
vector table with a ``cluster`` column — at 100 TB you write it
partitioned by cluster so a query scans nprobe/k of the data.

Determinism: initial centroids are the k lowest-id vectors; no RNG,
no wall clock.  Since round 3 the per-(cluster, dim) means are
BIT-deterministic too: instead of ``avg`` (whose float sum follows
Spark's nondeterministic partition order), values fold through a
fixed-shape reduction tree — left-fold in ``vec_id`` order inside
fixed id-blocks of 4096, then left-fold the block sums in block
order.  The tree shape depends only on the ids, never on the
physical partitioning, so the same corpus yields the same IEEE-754
centroid on every run, on any cluster size — which is what lets a
DuckDB/numpy oracle mirror the index exactly
(``train_kmeans_mirror`` below).  Block folds are bounded
(``collect_list`` ≤ 4096 structs), so the shape survives scale.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .floodcap import _column_np
from .similarity import brute_force_topk


def _argmin_dist2(mat, cents):
    """(rows, k) argmin of the SEQUENTIAL left-fold squared distance —
    the exact IEEE sum `aggregate(zip_with(...))` computes (np.cumsum
    is defined sequentially; np.sum is pairwise and would differ in
    the last bits).  First minimum == lowest cluster, matching
    array_min over struct(d, c) — including Spark's NaN ordering: NaN
    ranks after +inf (and ties with NaN), so a NaN distance never
    beats a number and an all-NaN row goes to cluster 0."""
    d2 = np.empty((mat.shape[0], len(cents)), dtype=np.float64)
    for c in range(len(cents)):
        diff2 = (mat - cents[c][None, :]) ** 2
        d2[:, c] = np.cumsum(diff2, axis=1)[:, -1]
    nan = np.isnan(d2)
    best = np.argmin(np.where(nan, np.inf, d2), axis=1)
    # where the minimum is +inf (or every distance is NaN), the first
    # non-NaN cluster wins; argmax of an all-False row is cluster 0
    lo = d2[np.arange(d2.shape[0]), best]
    tail = np.isnan(lo) | np.isposinf(lo)
    return np.where(tail, np.argmax(~nan, axis=1), best)


def assign_clusters_pd(df: DataFrame, centroids: list[list[float]],
                       vec_col: str = "embedding") -> DataFrame:
    """Vectorized nearest-centroid assignment (scalar ``arrow_udf``): one
    numpy pass per batch, bit-identical to the JVM struct-argmin
    ``assign_clusters`` in tests/reference/ivf.py (same left-fold
    squared distance per `_argmin_dist2`, ties to the lowest
    cluster, Spark's NaN ordering) on every non-NULL vector.  A NULL
    vector gets cluster NULL (the JVM expression gives it 0)."""
    from pyspark.sql.functions import arrow_udf

    cents = np.asarray(centroids, dtype=np.float64)

    @arrow_udf("int")
    def _assign(vs: pa.Array) -> pa.Array:
        out = vs.to_pylist()
        rows = [i for i, v in enumerate(out) if v is not None]
        if rows:
            mat = np.asarray([out[i] for i in rows], dtype=np.float64)
            for i, a in zip(rows, _argmin_dist2(mat, cents).tolist()):
                out[i] = a
        return pa.array(out, type=pa.int32())

    return df.withColumn("cluster", _assign(F.col(vec_col)))


def _list_array(rows: list) -> pa.ListArray:
    """Equal-length float64 vectors -> one Arrow list<double> column
    (NaN stays NaN: numpy input carries no null mask)."""
    flat = np.concatenate(rows).astype(np.float64)
    off = np.arange(len(rows) + 1, dtype=np.int32) * (len(flat)
                                                      // len(rows))
    return pa.ListArray.from_arrays(pa.array(off), pa.array(flat))


#: id-block width of the deterministic reduction tree — values fold
#: left-to-right inside a block, block sums fold in block order.
FOLD_BLOCK = 4096


def train_kmeans(df: DataFrame, k: int = 16, iters: int = 5,
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> list[list[float]]:
    """Distributed Lloyd iterations; returns k centroids.

    The per-(cluster, dim) mean uses the fixed-shape reduction tree
    described in the module docstring, so the result is bit-identical
    across runs and across cluster sizes (mirrored by
    ``train_kmeans_mirror`` for the DuckDB oracle).

    Physical shape (r8; bit-identical to the posexplode SQL trainer
    ``train_kmeans_reference`` in tests/reference/ivf.py, pinned by
    tests/test_semdedup_opt.py):

    - the vector table is aggregated ONCE into one vid-sorted member
      list per FOLD_BLOCK id-block (a DECLARED groupBy — see the
      inline note on why physical repartition co-location is not a
      grouping contract under AQE) and cached: one Exchange of the
      vectors total, vs 2 shuffles of n x dim exploded rows per
      iteration before;
    - each iteration is one mapInArrow pass (numpy assignment
      + per-(cluster, block) ordered-fold block sums — np.cumsum is
      a sequential fold, matching the SQL aggregate exactly) plus a
      tiny shuffle of (cluster, blk, bsum) rows — ~n/FOLD_BLOCK x k
      scalar-array rows, independent of corpus width;
    - per-cluster block-sum folds (blk ascending) run in
      applyInArrow, k rows come back to the driver per iteration.
      Both passes are Arrow in and out, so a NaN component stays NaN
      (as in every Python pass of the package).

    NULL vectors take no part in training.  Ids are assumed unique
    (the callers' contract: vec_id keys / xxhash64-deduped doc ids);
    duplicate ids would make the fold order within a block
    underspecified in BOTH implementations.
    """
    df = df.filter(F.col(vec_col).isNotNull())
    init = (
        df.orderBy(id_col).limit(k)
        .select(vec_col).collect()
    )
    centroids = [[float(v) for v in r[vec_col]] for r in init]
    if not centroids:
        return centroids
    k_eff = len(centroids)

    # one row per FOLD_BLOCK id-block via a DECLARED aggregation
    # (collect_list bounded by the block width; sort_array orders
    # members by vid — unique — so every block row carries its
    # members in fold order).  A physical repartition by _blk is NOT
    # a co-location contract: AQE can rewrite the shuffle read to
    # local mode under a Python map node (observed on the SimHash bucket
    # pass — see floodcap.block_verify_pairs), which would
    # split id-blocks across tasks and break the bit-deterministic
    # fold.  The aggregation makes each block row self-contained.
    prep = df.select(
        F.col(id_col).alias("_vid"),
        (F.col(id_col) / F.lit(FOLD_BLOCK)).cast("long").alias("_blk"),
        F.col(vec_col).alias("_v"),
    ).groupBy("_blk").agg(
        F.sort_array(F.collect_list(F.struct("_vid", "_v")))
        .alias("_rows")
    ).persist()

    def _block_sums(cents):
        carr = np.asarray(cents, dtype=np.float64)

        def fn(batches):
            for batch in batches:
                if batch.num_rows == 0:
                    continue
                rows = batch.column("_rows")
                off = rows.offsets.to_numpy()
                vecs = _column_np(rows.values.field("_v")) \
                    .astype(np.float64)
                out_c, out_b, out_n, out_s = [], [], [], []
                for r, blk in enumerate(
                        batch.column("_blk").to_numpy().tolist()):
                    mat = vecs[off[r]:off[r + 1]]
                    assign = _argmin_dist2(mat, carr)
                    for c in np.unique(assign):
                        sel = assign == c       # keeps vid order
                        # ordered fold inside the id-block: cumsum is
                        # the sequential left-fold of the SQL aggregate
                        out_s.append(np.cumsum(mat[sel], axis=0)[-1])
                        out_c.append(c)
                        out_b.append(blk)
                        out_n.append(sel.sum())
                if out_c:
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(np.asarray(out_c, dtype=np.int32)),
                         pa.array(np.asarray(out_b, dtype=np.int64)),
                         pa.array(np.asarray(out_n, dtype=np.int64)),
                         _list_array(out_s)],
                        names=["cluster", "blk", "bn", "bsum"])

        return fn

    def _fold_cluster(table):
        order = np.argsort(table.column("blk").to_numpy())
        m = _column_np(table.column("bsum").combine_chunks())[order]
        tot = np.cumsum(m, axis=0)[-1]   # blk-ascending ordered fold
        n = table.column("bn").to_numpy().sum()
        return pa.table({
            "cluster": table.column("cluster").slice(0, 1),
            "centroid": _list_array([tot / np.float64(n)]),
        })

    try:
        for _ in range(iters):
            rows = (
                prep.mapInArrow(
                    _block_sums(centroids),
                    "cluster int, blk long, bn long, bsum array<double>")
                .groupBy("cluster")
                .applyInArrow(_fold_cluster,
                              "cluster int, centroid array<double>")
                .collect()
            )
            new = {r["cluster"]: [float(v) for v in r["centroid"]]
                   for r in rows}
            centroids = [new.get(i, centroids[i]) for i in range(k_eff)]
    finally:
        prep.unpersist()
    return centroids


def train_kmeans_mirror(ids, vecs, k: int = 16,
                        iters: int = 5) -> list[list[float]]:
    """Driver-side bit-exact mirror of :func:`train_kmeans` (numpy;
    no Spark).  Used by the DuckDB oracle to recompute the centroids
    the engine trained, and by tests to pin the determinism claim.

    ``ids``/``vecs``: parallel sequences (any order) of vec ids and
    float32-or-float64 vectors.  Every float op replicates the Spark
    expression: values cast to double, distances folded left-to-right
    over dims, sums folded through the same FOLD_BLOCK reduction
    tree in id order."""
    import numpy as np

    order = np.argsort(np.asarray(ids, dtype=np.int64), kind="stable")
    ids_s = np.asarray(ids, dtype=np.int64)[order]
    mat = np.asarray(
        [vecs[i] for i in order], dtype=np.float64)  # float32 -> double, exact
    n, dim = mat.shape
    centroids = [list(map(float, mat[i])) for i in range(min(k, n))]
    blk = ids_s // FOLD_BLOCK
    for _ in range(iters):
        cmat = np.asarray(centroids, dtype=np.float64)
        # per-(vec, centroid) squared distance with a SEQUENTIAL
        # left-fold over dims (np.cumsum is defined sequentially) —
        # same IEEE sum as Spark's aggregate(zip_with(...)).
        diff2 = (mat[:, None, :] - cmat[None, :, :]) ** 2
        d2 = np.cumsum(diff2, axis=2)[:, :, -1]
        assign = np.argmin(d2, axis=1)  # first minimum = lowest cluster
        new = []
        for c in range(len(centroids)):
            sel = assign == c
            if not sel.any():
                new.append(centroids[c])
                continue
            sub = mat[sel]
            sub_blk = blk[sel]
            cent = []
            for d in range(dim):
                tot = 0.0
                for b in np.unique(sub_blk):  # ascending block order
                    col = sub[sub_blk == b, d]
                    bsum = float(np.cumsum(col)[-1]) if len(col) else 0.0
                    tot += bsum
                cent.append(tot / float(len(sub)))
            new.append(cent)
        centroids = new
    return centroids


def build_ivf_index(df: DataFrame, k: int = 16, iters: int = 5,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding"):
    """Returns (indexed_df, centroids). Persist indexed_df partitioned
    by ``cluster`` for pruned scans at scale.

    Clusters come from :func:`assign_clusters_pd`.  NULL vectors take
    no part in training and get cluster NULL."""
    centroids = train_kmeans(df, k, iters, id_col, vec_col)
    return assign_clusters_pd(df, centroids, vec_col), centroids


def write_ivf_index(df: DataFrame, path: str, k: int = 16,
                    iters: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Build ONCE, query many: persist the clustered vector table
    partitioned by ``cluster`` (so a query's nprobe filter becomes
    parquet partition PRUNING — untouched clusters are never read)
    plus the k centroids as a tiny side table. At 100 TB this is the
    index build job; queries never retrain."""
    indexed, centroids = build_ivf_index(df, k, iters, id_col, vec_col)
    indexed.write.mode("overwrite").partitionBy("cluster") \
        .parquet(f"{path}/vectors")
    spark = df.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def load_ivf_index(spark, path: str):
    """Returns (indexed_df, centroids). The vectors df is the
    partition-pruned parquet scan; centroids come back to the driver
    (k x dim floats — tiny)."""
    indexed = spark.read.parquet(f"{path}/vectors")
    rows = spark.read.parquet(f"{path}/centroids").collect()
    by_cluster = {r["cluster"]: [float(v) for v in r["centroid"]]
                  for r in rows}
    centroids = [by_cluster[i] for i in range(len(by_cluster))]
    return indexed, centroids


def ivf_topk(indexed: DataFrame, centroids: list[list[float]],
             query_vec: list[float], topk: int = 10, nprobe: int = 4,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Scan only the nprobe nearest clusters; exact rerank inside."""
    q = [float(v) for v in query_vec]
    order = sorted(
        range(len(centroids)),
        key=lambda i: sum((x - y) ** 2 for x, y in zip(centroids[i], q)),
    )
    probe = order[:nprobe]
    cand = indexed.filter(F.col("cluster").isin(probe))
    return brute_force_topk(cand, q, topk, id_col, vec_col)
