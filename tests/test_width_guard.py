"""Plan pin for the width guard (operators/salt.widen_for_python): in
each text operator, the relation entering its first Python node must
be hash-partitioned on ``_id`` into ``defaultParallelism`` partitions,
so a few-split scan never serializes the dominant Python pass."""

from __future__ import annotations

import re

import pytest

_PYTHON_NODE = re.compile(
    r"(MapIn(Pandas|Arrow)|\w*EvalPython|FlatMapGroupsIn\w+)Exec$")


def _children(node):
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        return [node.executedPlan()]
    if name == "InMemoryTableScanExec":
        return [node.relation().cachedPlan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _first_python_nodes(node) -> dict:
    """Python nodes with no Python node below them, by plan text (a
    cached relation read twice is one node)."""
    found = {}
    for c in _children(node):
        found.update(_first_python_nodes(c))
    if not found and _PYTHON_NODE.search(node.getClass().getSimpleName()):
        found[node.toString()] = node
    return found


def _widened(node, par: int) -> bool:
    part = node.children().apply(0).outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return False
    keys = part.expressions()
    return (part.numPartitions() == par and keys.size() == 1
            and keys.apply(0).name() == "_id")


def _run(op: str, spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta iota "
             f"kappa lambda mu nu xi {i % 4}") for i in range(40)],
        "doc_id long, text string")
    if op == "minhash":
        from pdf_to_text_extraction_service_spark.operators.neardup import (
            minhash_lsh_pairs,
        )
        return minhash_lsh_pairs(docs)
    if op == "simhash":
        from pdf_to_text_extraction_service_spark.operators.neardup import (
            simhash_pairs,
        )
        return simhash_pairs(docs)
    if op == "embedding":
        from pdf_to_text_extraction_service_spark.operators.similarity import (
            embedding_neardup_pairs,
        )
        vecs = spark.createDataFrame(
            [(i, [float(i % 5), 1.0, 2.0]) for i in range(40)],
            "vec_id long, embedding array<float>")
        return embedding_neardup_pairs(vecs)
    if op == "remove_spans":
        from pdf_to_text_extraction_service_spark.operators.dupspans import (
            remove_duplicated_spans,
        )
        return remove_duplicated_spans(docs)
    if op == "span_stats":
        from pdf_to_text_extraction_service_spark.operators.dupspans import (
            duplicated_span_stats,
        )
        return duplicated_span_stats(docs)
    from pdf_to_text_extraction_service_spark.operators.decontam import (
        benchmark_overlap,
    )
    return benchmark_overlap(docs, docs.filter("doc_id < 3"))


# (guarded, unguarded) first Python nodes per operator: the decontam
# benchmark side is small and broadcast, so its pass stays narrow
@pytest.mark.parametrize("op,guarded,unguarded", [
    ("minhash", 1, 0), ("simhash", 1, 0), ("embedding", 1, 0),
    ("remove_spans", 1, 0), ("span_stats", 2, 0), ("decontam", 1, 1),
])
def test_first_python_pass_is_widened_on_id(spark, monkeypatch, op,
                                            guarded, unguarded):
    """The result checkpoint is patched to identity so the whole lazy
    plan stays inspectable; cached relations are read through."""
    from pdf_to_text_extraction_service_spark.operators import (
        dupspans,
        floodcap,
        neardup,
    )

    for mod in (floodcap, neardup, dupspans):
        monkeypatch.setattr(mod, "_checkpoint_release",
                            lambda out, *cached: out)
    out = _run(op, spark)
    par = spark.sparkContext.defaultParallelism
    try:
        nodes = _first_python_nodes(
            out._jdf.queryExecution().executedPlan())
        widened = [_widened(n, par) for n in nodes.values()]
    finally:
        spark.catalog.clearCache()
    assert (widened.count(True), widened.count(False)) == \
        (guarded, unguarded), list(nodes)
