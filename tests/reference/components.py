"""Pre-driver-finish reference for ``operators/components.
connected_components``: CCF-Iterate rounds (Kardes et al., "CCF: Fast
and Scalable Connected Component Computation in MapReduce", ICNC 2014)
until an anti-join finds no new pair, then a vertex join.  Every
round pays two wide shuffles, a localCheckpoint and the anti-join
``count()``, whatever the edge count."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 100) -> DataFrame:
    """(id, component) for every node appearing in ``edges``;
    ``component`` is the minimum node id reachable from ``id``."""
    # materialize the edge list ONCE (localCheckpoint: truncated
    # lineage AND no never-unpersisted cache leaking per invocation —
    # the input is typically an expensive near-dup pipeline, and
    # every CCF round plus the final vertex join reads it)
    base = edges.select(
        F.col(id_a).cast("long").alias("a"),
        F.col(id_b).cast("long").alias("b"),
    ).distinct().localCheckpoint(eager=True)
    pairs = base
    converged = False
    for _ in range(max_iter):
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
        # CCF-Iterate emission, gated on a shrinking key (m < a):
        # (a, m) plus (v, m) for the other neighbors
        nxt = (
            grouped.filter(F.col("m") < F.col("a"))
            .select(
                F.expr(
                    "explode(concat(array(struct(a as x, m as y)), "
                    "  transform(filter(vs, v -> v != m and m < v), "
                    "            v -> struct(v as x, m as y))"
                    ")) as e"
                )
            )
            .select(F.col("e.x").alias("a"), F.col("e.y").alias("b"))
            .distinct()
        )
        # localCheckpoint (not persist): each round's plan would
        # otherwise stack the whole previous lineage — after tens of
        # rounds Catalyst analysis blows up; checkpointing truncates
        # the plan while keeping the data executor-local
        nxt = nxt.localCheckpoint(eager=True)
        n_new = nxt.join(pairs, ["a", "b"], "left_anti").count()
        pairs = nxt
        if n_new == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds — raise max_iter (graph diameter exceeds it)")
    # after convergence every non-root points at its component min;
    # roots label themselves
    labels = pairs.groupBy("a").agg(F.min("b").alias("component"))
    vertices = (
        base.select("a")
        .union(base.select(F.col("b").alias("a")))
        .distinct()
    )
    return (
        vertices.join(labels, "a", "left")
        .select(
            F.col("a").alias("id"),
            F.when(F.col("component") < F.col("a"), F.col("component"))
            .otherwise(F.col("a")).alias("component"),
        )
    )
