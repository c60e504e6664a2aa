"""SemDeDup-style semantic deduplication over an embedding column.

The published method (Abbas et al. 2023, "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", public
arXiv): k-means-cluster the embedding space, compare pairs only
WITHIN a cluster, and drop every document whose cosine similarity to
a lower-id cluster-mate exceeds the threshold.  The clustering is
the candidate generator — the LSH-free counterpart of
operators/similarity.embedding_neardup_pairs, preferred when the
corpus already needs cluster structure (curriculum mixing, per-topic
caps) or when duplicates are semantic rather than near-verbatim.

Spark-first shape (100 TB posture; physical plan reworked r8 —
bit-identical results, pinned by tests/test_semdedup_opt.py parity):

- k-means = operators/ivf.train_kmeans — the bit-deterministic
  fixed-shape reduction tree already used by the IVF index, so the
  DuckDB oracle can recompute identical centroids driver-side
  (ivf.train_kmeans_mirror) and mirror the assignment exactly;
- assignment is one vectorized Arrow batch pass
  (ivf.assign_clusters_pd — same left-fold IEEE distance as the JVM
  expression); vectors cross exactly one Exchange (the per-cluster
  groupBy);
- a flooded cluster (boilerplate embeddings all at one point) is
  capped by the partial-agg flood sampler (operators/floodcap.py),
  never a rank window; clusters at or under the cap are EXACT;
- the within-cluster prune is ONE applyInArrow group per cluster
  instead of a cluster self-join exploding ~m^2/2 candidate rows
  through interpreted per-pair lambdas: a float32 GEMM prefilter
  with a proven error margin nominates candidate pairs, and only
  those are recomputed with the exact float64 sequential fold the
  SQL expression performed — every output value is bit-identical
  (see _cluster_prune_fn).  Parallelism = k clusters (the join had
  the same key fan-out); peak memory per group is ~m^2 float32 +
  2 bool masks (~100 MB at the 4096 cap) — size max_cluster to the
  worker.

Returns the REMOVED rows: (id, kept_id, cosine) where kept_id is
the lowest-id qualifying cluster-mate (deterministic witness).

Rows whose cosine evaluates NaN (zero-norm embeddings) follow
Spark/DuckDB NaN ordering (NaN >= threshold is TRUE) and are emitted
with a NaN cosine, as operators/similarity.embedding_neardup_pairs
emits them (both passes are Arrow in and out); the previous
ANSI-mode SQL division simply errored on such rows, so this is
strictly more tolerant.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, functions as F

from .floodcap import _checkpoint_release, cap_flooded_buckets
from .ivf import assign_clusters_pd, train_kmeans
from .similarity import cosine_verify


def _spark_round6(x: float) -> float:
    """Replicate Spark's ``round(x, 6)`` on doubles bit-for-bit:
    BigDecimal.valueOf(x) (shortest decimal repr — same value as
    Python ``repr``) rounded HALF_UP at 6 decimals; NaN/inf pass
    through unchanged."""
    if math.isnan(x) or math.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _cluster_prune_fn(threshold: float, id_col: str):
    """applyInArrow body: per-cluster pairwise cosine prune.

    Output bit-identical to the previous SQL self-join: the pairs are
    similarity.cosine_verify's (float32 GEMM prefilter, exact float64
    fold; NaN qualifies); witness = lowest qualifying lower id; round
    replicates Spark HALF_UP."""
    import numpy as np
    import pyarrow as pa

    verify = cosine_verify(threshold)
    schema = pa.schema([(id_col, pa.int64()), ("kept_id", pa.int64()),
                        ("cosine", pa.float64())])

    def fn(table: pa.Table) -> pa.Table:
        if table.num_rows < 2:
            return schema.empty_table()
        ids = table.column("_id").to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.asarray(table.column("_v").to_pylist(),
                         dtype=np.float64)[order]
        ii, jj, cc = verify({"_v": mat})
        srt = np.lexsort((ii, jj))
        ii, jj, cc = ii[srt], jj[srt], cc[srt]
        ju, first = np.unique(jj, return_index=True)
        cosv = np.fromiter(
            (_spark_round6(float(c)) for c in cc[first]),
            dtype=np.float64, count=len(first))
        return pa.table([ids[ju], ids[ii[first]], cosv], schema=schema)

    return fn


def semantic_dedup(df: DataFrame, k: int = 8, iters: int = 3,
                   threshold: float = 0.95,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: int = 4096,
                   centroids: list[list[float]] | None = None
                   ) -> DataFrame:
    """Cluster-then-prune semantic dedup; see module docstring.

    ``centroids`` lets callers reuse an already-trained IVF
    codebook (index build + dedup in one pass over the corpus).  The
    scalar output is materialized and the internal caches released
    before returning."""
    if centroids is None:
        centroids = train_kmeans(df, k=k, iters=iters,
                                 id_col=id_col, vec_col=vec_col)
    assigned = assign_clusters_pd(
        df.select(id_col, vec_col), centroids, vec_col,
    ).select(
        "cluster", F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
    ).persist()    # flood-count pass + the prune groupBy read this

    capped = cap_flooded_buckets(assigned, ["cluster"], "_id",
                                 max_cluster)
    out = capped.groupBy("cluster").applyInArrow(
        _cluster_prune_fn(threshold, id_col),
        f"{id_col} long, kept_id long, cosine double",
    )
    return _checkpoint_release(out, assigned)
