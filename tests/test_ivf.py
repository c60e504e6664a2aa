"""IVF ANN: k-means training determinism + recall vs brute force."""

from __future__ import annotations

import pytest

from pdf_to_text_extraction_service_spark.operators.ivf import (
    build_ivf_index,
    ivf_topk,
    train_kmeans,
)
from pdf_to_text_extraction_service_spark.operators.similarity import (
    brute_force_topk,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    df.count()
    return df


def test_kmeans_deterministic(spark, emb):
    c1 = train_kmeans(emb, k=4, iters=2)
    c2 = train_kmeans(emb, k=4, iters=2)
    assert c1 == c2
    assert len(c1) == 4 and len(c1[0]) == 64


def test_kmeans_deterministic_across_parallelism(spark, emb):
    """The fixed-shape reduction tree makes the centroids independent
    of the physical partitioning — the cluster-size-invariance claim
    behind the DuckDB oracle."""
    c1 = train_kmeans(emb.repartition(1), k=4, iters=2)
    c32 = train_kmeans(emb.repartition(32), k=4, iters=2)
    assert c1 == c32  # bit-exact, not approximately


def test_kmeans_numpy_mirror_bit_exact(spark, emb):
    """train_kmeans_mirror (the oracle's driver-side trainer) must
    reproduce the Spark centroids bit-for-bit."""
    from pdf_to_text_extraction_service_spark.operators.ivf import (
        train_kmeans_mirror,
    )

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    vecs = [[float(v) for v in r["embedding"]] for r in rows]
    for k, iters in [(4, 2), (16, 3)]:
        got = train_kmeans_mirror(ids, vecs, k=k, iters=iters)
        want = train_kmeans(emb, k=k, iters=iters)
        assert got == want, (k, iters)


def test_build_ivf_index_null_vector_gets_null_cluster(spark, emb):
    """build_ivf_index assigns through assign_clusters_pd: a NULL
    vector takes no part in training and gets cluster NULL (the JVM
    reference gives 0); every other row matches the JVM reference
    assignment over the same centroids."""
    from tests.reference.ivf import assign_clusters

    df = emb.unionByName(spark.createDataFrame(
        [(900000, None, 0)], emb.schema))
    indexed, centroids = build_ivf_index(df, k=4, iters=2)
    assert centroids == train_kmeans(emb, k=4, iters=2)
    got = dict(map(tuple, indexed.select("vec_id", "cluster").collect()))
    want = dict(map(tuple, assign_clusters(df, centroids)
                    .select("vec_id", "cluster").collect()))
    assert got.pop(900000) is None and want.pop(900000) == 0
    assert got == want and len(got) == emb.count()


def test_ivf_persisted_index_partition_pruning(spark, emb, tmp_path):
    """write_ivf_index + load_ivf_index: the nprobe filter must reach
    the scan as parquet PARTITION pruning — only probed cluster=K
    directories are read — and results must equal the in-memory
    index path."""
    from pdf_to_text_extraction_service_spark.operators.ivf import (
        load_ivf_index,
        write_ivf_index,
    )

    path = str(tmp_path / "ivf")
    write_ivf_index(emb, path, k=8, iters=3)
    indexed, centroids = load_ivf_index(spark, path)
    q = [float(v) for v in
         emb.filter("vec_id = 0").first()["embedding"]]

    got = ivf_topk(indexed, centroids, q, topk=10, nprobe=4)
    mem_indexed, mem_centroids = build_ivf_index(emb, k=8, iters=3)
    assert centroids == mem_centroids
    want = ivf_topk(mem_indexed, mem_centroids, q, topk=10, nprobe=4)
    assert [tuple(r) for r in got.collect()] == \
        [tuple(r) for r in want.collect()]

    # partition pruning (the PartitionFilters of the ivf_topk row of
    # tests/test_plan_contracts.py): the pruned scan reads 4 of the 8
    # partition directories
    order = sorted(
        range(len(centroids)),
        key=lambda i: sum((x - y) ** 2 for x, y in zip(centroids[i], q)),
    )
    probe = sorted(order[:4])
    from pyspark.sql import functions as F
    cand = indexed.filter(F.col("cluster").isin(probe))
    cand.collect()
    leaves = cand._jdf.queryExecution().executedPlan().collectLeaves()
    scan = leaves.head()
    n_files = scan.metrics().get("numFiles").get().value()
    all_files = len(indexed.inputFiles())
    assert n_files < all_files, (n_files, all_files)
    indexed, centroids = build_ivf_index(emb, k=8, iters=3)
    q = [float(v) for v in
         emb.filter("vec_id = 0").first()["embedding"]]
    brute = [r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [r["vec_id"]
              for r in ivf_topk(indexed, centroids, q, topk=10,
                                nprobe=4).collect()]
    # self-match always survives; recall@10 with half the clusters
    # probed should be high on 50 clustered vectors
    assert approx[0] == brute[0] == 0
    recall = len(set(approx) & set(brute)) / 10
    assert recall >= 0.5
    # full probe == exact
    exact = [r["vec_id"]
             for r in ivf_topk(indexed, centroids, q, topk=10,
                               nprobe=8).collect()]
    assert exact == brute


def test_semantic_dedup_recovers_planted_mutants(spark):
    """SemDeDup-style cluster-then-prune (operators/semdedup.py):
    every planted near-duplicate (dim-0 scaled copy, id+1000) is
    removed with its base as the witness; no false removals among
    the random base vectors."""
    import numpy as np
    from pyspark.sql import functions as F

    from pdf_to_text_extraction_service_spark.operators.semdedup import (
        semantic_dedup,
    )

    rng = np.random.default_rng(3)
    base = rng.standard_normal((60, 16))
    rows = [(int(i), [float(v) for v in base[i]]) for i in range(60)]
    rows += [(int(i + 1000),
              [float(base[i][0] * 1.02)] + [float(v)
                                            for v in base[i][1:]])
             for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, k=4, iters=2, threshold=0.95)
    got = {r["vec_id"]: (r["kept_id"], r["cosine"])
           for r in out.collect()}
    assert set(got) == {i + 1000 for i in range(60)}
    for i in range(60):
        kept, cos = got[i + 1000]
        assert kept == i and cos >= 0.99


def test_semantic_dedup_reuses_centroids_and_is_deterministic(spark):
    import numpy as np

    from pdf_to_text_extraction_service_spark.operators.ivf import (
        train_kmeans,
    )
    from pdf_to_text_extraction_service_spark.operators.semdedup import (
        semantic_dedup,
    )

    rng = np.random.default_rng(5)
    rows = [(int(i), [float(v) for v in rng.standard_normal(8)])
            for i in range(40)]
    rows += [(1000, list(rows[0][1])), (1001, list(rows[1][1]))]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    cents = train_kmeans(df, k=3, iters=2)
    a = sorted(map(tuple, semantic_dedup(
        df, threshold=0.999, centroids=cents).collect()))
    b = sorted(map(tuple, semantic_dedup(
        df, k=3, iters=2, threshold=0.999).collect()))
    assert a == b                      # codebook reuse == retrain
    assert [r[0] for r in a] == [1000, 1001]   # exact copies removed


def test_semantic_dedup_flood_cap_bounds_quadratic(spark):
    """A degenerate cluster (every vector identical — the boilerplate
    flood) is sampled to ~max_cluster, so the self-join is bounded;
    sampling only loses flood-internal pairs, never fabricates."""
    rows = [(int(i), [1.0, 0.0, 0.0, 0.0]) for i in range(300)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    out = semantic_dedup_import().semantic_dedup(
        df, k=2, iters=1, threshold=0.99, max_cluster=32)
    removed = {r["vec_id"] for r in out.collect()}
    assert removed                      # the flood still dedups
    assert all(r > 0 for r in removed)  # id 0 (lowest) never removed


def semantic_dedup_import():
    from pdf_to_text_extraction_service_spark.operators import (
        semdedup,
    )
    return semdedup
