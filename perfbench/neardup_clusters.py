"""Workload ``neardup_clusters``: near-duplicate clusters.

Input: seeded ``documents`` plus near-dup mutants (text + ' qq', id +
100000) and planted chain edges (i, i+1) for i % 50 == 0, built by the
same code as the repo's ``neardup_components`` query. The job is
``minhash_lsh_pairs`` and ``simhash_pairs``, then
``connected_components`` over the union of their edges and the chain.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pdf_to_text_extraction_service_spark.operators.components import (
    connected_components,
)
from pdf_to_text_extraction_service_spark.operators.neardup import (
    minhash_lsh_pairs,
    simhash_pairs,
)

import __spark_entry__ as entry
import gen

# exact Jaccard >= 0.7 over the oracle's shingle sets, joined through
# shared shingles instead of the all-pairs cross join: pairs sharing no
# shingle have Jaccard 0, so the result is the same pair set. The
# all-pairs oracle is quadratic in documents and takes most of a minute
# at the benchmark's size; the smoke mode checks that the two agree on
# a small input.
MINHASH_TRUTH_SQL = entry._SHINGLE_CTE + """
    , g AS (SELECT id, unnest(s) AS g, len(s) AS n FROM sh)
    , k AS (
        SELECT a.id AS id_a, b.id AS id_b, count(*) AS k,
               any_value(a.n) AS na, any_value(b.n) AS nb
        FROM g a JOIN g b ON a.g = b.g AND a.id < b.id
        GROUP BY 1, 2)
    SELECT id_a, id_b FROM k WHERE k::DOUBLE / (na + nb - k) >= 0.7
"""


def _chain(n: int) -> list[tuple[int, int]]:
    return [(i, i + 1) for i in range(0, n - 1, 50)]


def components(edges) -> dict[int, int]:
    """Minimum reachable id per node (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def oracle_pairs(docs: list[tuple], full: bool = False):
    """(minhash pairs, simhash pairs) from the repo's DuckDB oracles.
    ``full`` runs the all-pairs ``dedup_minhash_lsh`` oracle itself."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    try:
        con.register("documents", pd.DataFrame(
            docs, columns=["doc_id", "text", "lang", "source", "n_chars"]))
        oracle = entry.oracle_sql()
        mh_sql = oracle["dedup_minhash_lsh"] if full else MINHASH_TRUTH_SQL
        mh = {(a, b) for a, b, *_ in con.sql(mh_sql).fetchall()}
        sh = {(a, b) for a, b, *_ in
              con.sql(oracle["dedup_simhash"]).fetchall()}
    finally:
        con.close()
    return mh, sh


class NeardupClusters:
    name = "neardup_clusters"

    def __init__(self, seed: int, n_docs: int, work: str):
        self.seed, self.work = seed, work
        self.docs = gen.documents(n_docs, seed)
        self.input_rows = 2 * n_docs          # documents + mutants
        self.sf_dir = ""

    # --- set-up -------------------------------------------------------
    def stage(self, spark, tag: str) -> None:
        self.sf_dir = f"{self.work}/docs-{tag}"
        gen.write_documents(spark, f"{self.sf_dir}/documents.parquet",
                            self.docs)

    def reference(self) -> None:
        self.mh, self.sh = oracle_pairs(self.docs)
        self.labels = components(
            self.mh | self.sh | set(_chain(len(self.docs))))

    # --- the job ------------------------------------------------------
    def _inputs(self, spark, sf_dir: str):
        d2 = entry._docs_with_mutants(spark, sf_dir)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        n = docs.count()
        chain = docs.filter((F.col("doc_id") % 50 == 0)
                            & (F.col("doc_id") + 1 < n)).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"))
        return d2, chain

    @staticmethod
    def _edges(mh, sh, chain):
        return mh.select("id_a", "id_b").unionByName(
            sh.select("id_a", "id_b")).unionByName(chain)

    def run(self, spark, rep_dir: str) -> None:
        d2, chain = self._inputs(spark, self.sf_dir)
        mh = minhash_lsh_pairs(d2, shingle_n=3, num_perm=96, bands=32,
                               threshold=0.7)
        sh = simhash_pairs(d2, max_hamming=8)
        labels = connected_components(self._edges(mh, sh, chain))
        self.result = (
            [tuple(r) for r in mh.select("id_a", "id_b").collect()],
            [tuple(r) for r in sh.select("id_a", "id_b").collect()],
            {r["id"]: r["component"] for r in labels.collect()})

    def check(self, spark, rep_dir: str) -> list[tuple[str, bool]]:
        mh, sh, labels = self.result
        return [
            ("minhash_pairs_match_oracle",
             len(mh) == len(set(mh)) and set(mh) == self.mh),
            ("simhash_pairs_match_oracle",
             len(sh) == len(set(sh)) and set(sh) == self.sh),
            ("labels_match_oracle", labels == self.labels),
        ]

    # --- traced layer sweep -------------------------------------------
    def sweep(self, spark, tracer, job_wall: float) -> dict:
        m = {}
        with tracer.span("sources.scan", cover=True) as sp:
            d2, chain = self._inputs(spark, self.sf_dir)
            d2.write.format("noop").mode("overwrite").save()
        m["sources.scan_s"] = sp["end"] - sp["start"]

        d2 = d2.localCheckpoint(eager=True)
        with tracer.span("operators.minhash_lsh_pairs", cover=True) as sp:
            mh = minhash_lsh_pairs(d2, shingle_n=3, num_perm=96, bands=32,
                                   threshold=0.7)
        m["operators.minhash_lsh_pairs_s"] = sp["end"] - sp["start"]
        with tracer.span("operators.simhash_pairs", cover=True) as sp:
            sh = simhash_pairs(d2, max_hamming=8)
        m["operators.simhash_pairs_s"] = sp["end"] - sp["start"]
        m["operators.minhash_pairs"] = mh.count()
        m["operators.simhash_pairs"] = sh.count()

        edges = self._edges(mh, sh, chain).localCheckpoint(eager=True)
        m["operators.cc_edges_in"] = edges.count()
        with tracer.span("operators.connected_components",
                         cover=True) as sp:
            labels = connected_components(edges).collect()
        m["operators.connected_components_s"] = sp["end"] - sp["start"]
        m["operators.components"] = len({r["component"] for r in labels})
        return m
