"""Width guard (operators/salt.widen_for_python): in each text operator
the Python passes over the text are fed by a hash Exchange on ``_id``
into ``defaultParallelism`` partitions, so a few-split scan does not
serialize them.  The counts are read off the ``python`` column of the
operator's row in tests/test_plan_contracts.py."""

from __future__ import annotations

from collections import Counter

import pytest

ROWS = {"minhash": "minhash_lsh_pairs", "simhash": "simhash_pairs",
        "embedding": "embedding_neardup_pairs",
        "remove_spans": "remove_duplicated_spans",
        "span_stats": "duplicated_span_stats",
        "decontam": "benchmark_overlap"}


# (guarded, unguarded) Python passes per operator: unguarded passes
# read straight off the scan.  The decontam benchmark side is small and
# broadcast, so its pass stays narrow.
@pytest.mark.parametrize("op,guarded,unguarded", [
    ("minhash", 1, 0), ("simhash", 1, 0), ("embedding", 1, 0),
    ("remove_spans", 2, 0), ("span_stats", 2, 0), ("decontam", 1, 1),
])
def test_first_python_pass_is_widened_on_id(spark, plan_row, op,
                                            guarded, unguarded):
    fed = Counter()
    for node, n in plan_row(ROWS[op])["python"].items():
        fed[node.rsplit(" <- ", 1)[1]] += n
    par = spark.sparkContext.defaultParallelism
    assert (fed[f"hashpartitioning(_id, {par})"],
            fed["UnknownPartitioning(0)"]) == (guarded, unguarded)
