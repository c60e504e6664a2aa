"""Connected components over near-duplicate pair edges — the step
after pairwise dedup in a training pipeline: near-dup PAIRS become
CLUSTERS, and each cluster keeps one canonical document (the min id).

Every call takes one distinct, localCheckpointed copy of the edge
relation and reads its row count from an ``observe()`` on that same
action. A relation of at most ``DRIVER_EDGES`` rows — every near-dup
graph the pair engines emit at benchmark scale — is finished on the
driver: the edges arrive as one Arrow table, and a NumPy union-find
(hook each root under the smallest root it touches, then pointer-jump
to stars) labels every node with its component minimum. That is three
Spark jobs whatever the graph's diameter.

Above the bound, CCF-Iterate rounds (Kardes et al., "CCF: Fast and
Scalable Connected Component Computation in MapReduce", ICNC 2014)
shrink the relation until it converges, when its pairs are the
labels, or fits under the bound, when the same driver step labels
it. Each round groups
edges by node and propagates the minimum label to every neighbor
(emitting only from groups whose key shrinks, per the paper): two wide
shuffles (the label groupBy and the emission dedup) and one
localCheckpoint, which keeps plan lineage constant-depth. A round
counts the pairs it keeps from NewPair emissions (zero exactly when
the paper's NewPair counter is) with an ``observe()`` on its
deduplicated emission, read at that checkpoint, so convergence costs
no job of its own. The per-node neighbor set is bounded by the
upstream per-bucket candidate caps (operators/neardup.py), so no group
explodes. (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014, is the large-star/small-star alternative.)

Everything is integer min-propagation — deterministic under any
partitioning, so the DuckDB oracle (recursive-CTE transitive closure
+ min label) matches exactly.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

# Largest distinct edge relation labelled on the driver; above it, CCF
# rounds run until the residual fits. The driver step is the faster
# one at every size tools/cc_sweep.py measures, so the bound is set by
# memory: at 2^20 random edges the step grows the driver JVM's
# resident set by about 1.2 GB, under a quarter of the 8 GB driver
# heap plans/session.py asks for (2^21 edges: about 2.1 GB).
DRIVER_EDGES = 1 << 20


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 100) -> DataFrame:
    """(id bigint, component bigint) for every node appearing in
    ``edges``; ``component`` is the minimum node id reachable from
    ``id``.

    Degenerate inputs: duplicate and reversed edges collapse; a
    self-loop ``(5, 5)`` gives ``(5, 5)``; a NULL endpoint links
    nothing, so in ``(1, NULL)`` node 1 is a singleton, and any NULL
    endpoint adds exactly one ``(NULL, NULL)`` row; empty input gives
    no rows. Raises ``RuntimeError`` if ``max_iter`` CCF rounds leave
    more than ``DRIVER_EDGES`` unconverged pairs."""
    spark = edges.sparkSession
    seen = Observation()
    # materialize the edge list ONCE (localCheckpoint: truncated
    # lineage AND no never-unpersisted cache leaking per invocation —
    # the input is typically an expensive near-dup pipeline, and the
    # driver step, or the first CCF round and the vertex join, read it)
    base = (
        edges.select(
            F.col(id_a).cast("long").alias("a"),
            F.col(id_b).cast("long").alias("b"),
        )
        .distinct()
        .observe(seen, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    if seen.get["n"] <= DRIVER_EDGES:
        return spark.createDataFrame(_min_labels(base.toArrow()))

    pairs = base
    for _ in range(max_iter):
        pairs, rows, new_pairs = _ccf_round(pairs)
        if not new_pairs:
            # converged: every non-root has one pair, to its root
            labels = pairs.withColumnRenamed("b", "component")
            break
        if rows <= DRIVER_EDGES:
            labels = spark.createDataFrame(
                _min_labels(pairs.toArrow())
            ).select(F.col("id").alias("a"), "component")
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds — raise max_iter (graph diameter exceeds it)")
    # nodes that left the pair relation (roots of converged stars,
    # self-loops, NULL-edge endpoints) label themselves
    vertices = (
        base.select("a")
        .union(base.select(F.col("b").alias("a")))
        .distinct()
    )
    return vertices.join(labels, "a", "left").select(
        F.col("a").alias("id"),
        F.coalesce("component", "a").alias("component"),
    )


def _ccf_round(pairs: DataFrame) -> tuple[DataFrame, int, int]:
    """One CCF-Iterate round: (checkpointed next relation, its row
    count, how many of its rows came from a NewPair emission).

    Both counts come from one ``observe()`` on the deduplicated
    emission, read at the checkpoint action. ``count`` and
    ``count_if`` report 0 on an empty emission, under AQE or not."""
    # CCF maps every pair in BOTH directions each round — the
    # reversal is what lets a label flow back up a chain. No
    # distinct here: min/collect_set are duplicate-insensitive,
    # so deduping the symmetrized relation would be a wasted
    # full-width shuffle.
    sym = pairs.union(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    grouped = sym.groupBy("a").agg(
        F.min("b").alias("m"),
        F.collect_set("b").alias("vs"),
    )
    seen = Observation()
    # CCF-Iterate emission, gated on a shrinking key (m < a): (a, m)
    # plus a NewPair (v, m) for each other neighbor; the dedup keeps
    # whether any copy of a pair was a NewPair, so the count is zero
    # exactly when the paper's NewPair counter is
    nxt = (
        grouped.filter(F.col("m") < F.col("a"))
        .select(
            F.expr(
                "explode(concat(array(struct(a as x, m as y, false as n)),"
                "  transform(filter(vs, v -> v != m and m < v), "
                "            v -> struct(v as x, m as y, true as n))"
                ")) as e"
            )
        )
        .groupBy(F.col("e.x").alias("a"), F.col("e.y").alias("b"))
        .agg(F.max("e.n").alias("n"))
        .observe(seen, F.count(F.lit(1)).alias("rows"),
                 F.count_if("n").alias("new"))
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    return nxt, seen.get["rows"], seen.get["new"]


def _min_labels(edges: pa.Table) -> pa.Table:
    """(id, component) for every non-NULL endpoint of ``edges``
    (int64 columns ``a``, ``b``), ``component`` the minimum id of its
    component; one (NULL, NULL) row if any endpoint is NULL."""
    a, b = edges["a"], edges["b"]
    both = pc.and_(pc.is_valid(a), pc.is_valid(b))
    nodes = np.unique(np.concatenate([
        pc.drop_null(a).to_numpy(), pc.drop_null(b).to_numpy()]))
    u = np.searchsorted(nodes, pc.filter(a, both).to_numpy())
    v = np.searchsorted(nodes, pc.filter(b, both).to_numpy())
    # node indices follow id order, so the smallest index in a
    # component is its minimum id; hooking only ever lowers a parent,
    # so every tree's root is its smallest member
    parent = np.arange(nodes.size)
    while u.size:
        pu, pv = parent[u], parent[v]
        live = pu != pv
        u, v, pu, pv = u[live], v[live], pu[live], pv[live]
        # every pu/pv is a root (the jumps below end at stars): hook
        # each one under the smallest root it shares an edge with —
        # the smallest, not any, or a flood hub walks its leaves one
        # round at a time
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
    ids, comp = pa.array(nodes), pa.array(nodes[parent])
    if a.null_count or b.null_count:
        ids = pa.concat_arrays([ids, pa.nulls(1, pa.int64())])
        comp = pa.concat_arrays([comp, pa.nulls(1, pa.int64())])
    return pa.table({"id": ids, "component": comp})
