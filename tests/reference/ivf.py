"""JVM-expression references for ``operators/ivf.assign_clusters_pd``
and ``operators/ivf.train_kmeans``."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.ivf import FOLD_BLOCK


def _dist2_expr(vec_col: str, centroid: list[float]) -> str:
    # a NaN / inf centroid component renders as 'nan' / 'inf', which
    # SQL reads only as a string cast
    arr = "array(" + ",".join(f"cast('{float(v)}' as double)"
                              if not np.isfinite(v)
                              else f"cast({float(v)} as double)"
                              for v in centroid) + ")"
    return (
        f"aggregate(zip_with({vec_col}, {arr}, "
        f"(x, y) -> (cast(x as double) - y) * (cast(x as double) - y)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def assign_clusters(df: DataFrame, centroids: list[list[float]],
                    vec_col: str = "embedding") -> DataFrame:
    """Nearest-centroid assignment as one JVM expression: argmin over
    k left-fold squared distances via array_min of struct(d, c).  A
    NULL vector gets cluster 0 here (its NULL distances sort first)."""
    structs = ", ".join(
        f"struct({_dist2_expr(vec_col, c)} as d, {i} as c)"
        for i, c in enumerate(centroids)
    )
    return df.withColumn(
        "cluster", F.expr(f"array_min(array({structs})).c")
    )


def train_kmeans_reference(df: DataFrame, k: int = 16, iters: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           ) -> list[list[float]]:
    """Pure-SQL Lloyd iterations: posexplode -> per-(cluster, dim,
    blk) ordered collect_list folds -> blk-ordered folds of the block
    sums (the fixed-shape reduction tree of the ivf module)."""
    init = (
        df.orderBy(id_col).limit(k)
        .select(vec_col).collect()
    )
    centroids = [[float(v) for v in r[vec_col]] for r in init]
    for _ in range(iters):
        assigned = assign_clusters(df, centroids, vec_col)
        exploded = assigned.select(
            "cluster",
            (F.col(id_col) / F.lit(FOLD_BLOCK)).cast("long").alias("blk"),
            F.col(id_col).alias("_vid"),
            F.posexplode(vec_col).alias("dim", "val"),
        )
        block_sums = (
            exploded.groupBy("cluster", "dim", "blk")
            .agg(
                F.expr(
                    "aggregate(array_sort(collect_list("
                    "struct(_vid, val))), cast(0.0 as double), "
                    "(acc, s) -> acc + cast(s.val as double))"
                ).alias("bsum"),
                F.count("*").alias("bn"),
            )
        )
        means = (
            block_sums.groupBy("cluster", "dim")
            .agg(
                F.expr(
                    "aggregate(array_sort(collect_list("
                    "struct(blk, bsum))), cast(0.0 as double), "
                    "(acc, s) -> acc + s.bsum)"
                ).alias("tot"),
                F.sum("bn").alias("n"),
            )
            .withColumn("m", F.col("tot") / F.col("n"))
            .groupBy("cluster")
            .agg(F.array_sort(
                F.collect_list(F.struct("dim", "m"))).alias("dm"))
            .select("cluster",
                    F.expr("transform(dm, x -> x.m)").alias("centroid"))
            .collect()
        )
        new = {r["cluster"]: [float(v) for v in r["centroid"]]
               for r in means}
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids
