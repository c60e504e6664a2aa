"""Parity pins for ``operators/components.connected_components``: the
driver finish, the CCF rounds path (forced by setting
``DRIVER_EDGES`` to -1, so even an empty relation takes the rounds)
and the handoff from the rounds to the driver finish (``DRIVER_EDGES``
one under the distinct edge count) must give exactly the rows of the
pre-driver-finish CCF kept in tests/reference/components.py, on every
graph shape and degenerate input, and the driver finish must stay a
fixed handful of Spark jobs."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import DataFrame

from pdf_to_text_extraction_service_spark.operators import components
from tests.reference.components import connected_components as reference

PATHS = ("driver", "rounds", "handoff")
# graphs whose rounds shrink under the handoff bound before they
# converge; the others converge first and never reach the driver step
HANDS_OFF = {"shapes", "cycle97", "random", "degenerate"}


def _rows(df: DataFrame) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()),
                  key=lambda t: (t[0] is None, t))


def _labels(edges: DataFrame, path: str, monkeypatch,
            graph: str) -> DataFrame:
    with monkeypatch.context() as m:
        if path == "rounds":
            m.setattr(components, "DRIVER_EDGES", -1)
        if path != "handoff":
            return components.connected_components(edges)
        m.setattr(components, "DRIVER_EDGES", edges.distinct().count() - 1)
        calls = []
        ccf_round, min_labels = components._ccf_round, components._min_labels
        m.setattr(components, "_ccf_round",
                  lambda p: calls.append("round") or ccf_round(p))
        m.setattr(components, "_min_labels",
                  lambda t: calls.append("labels") or min_labels(t))
        out = components.connected_components(edges)
        assert calls[0] == "round"
        assert (calls[-1] == "labels") == (graph in HANDS_OFF), calls
        return out


def _graph(name: str) -> list[tuple[int, int]]:
    if name == "shapes":        # test_pipeline_ops shapes graph
        return ([(0, 1), (1, 2), (2, 3), (10, 11), (20, 21), (21, 22),
                 (20, 22), (30, 31)]
                + [(i, i + 1) for i in range(40, 49)])
    if name == "cycle97":       # one self-loop plus a 96-cycle
        return [(i, (i * 7) % 97) for i in range(97)]
    if name.startswith("chain"):  # path whose minimum sits at the far end
        n = int(name[len("chain"):])
        return [(n - 1 - i, n - 2 - i) for i in range(n - 1)]
    if name == "flood20000":    # hub above every leaf id
        return [(20000, i) for i in range(20000)]
    rng = random.Random(20261017)
    return [(rng.randrange(3000), rng.randrange(3000))
            for _ in range(2500)]


@pytest.mark.parametrize("graph", ["shapes", "cycle97", "chain500",
                                   "flood20000", "random"])
def test_all_paths_match_reference(spark, monkeypatch, graph):
    edges = spark.createDataFrame(_graph(graph), "id_a long, id_b long")
    want = _rows(reference(edges))
    assert want
    for path in PATHS:
        assert _rows(_labels(edges, path, monkeypatch, graph)) == want, path


def test_driver_long_chain(spark):
    """A 5,000-node reversed path labels on the driver in one step; the
    reference and the rounds grow it to millions of pairs, so the
    500-node chain above carries the parity check."""
    edges = spark.createDataFrame(_graph("chain5000"), "id_a long, id_b long")
    got = _rows(components.connected_components(edges))
    assert got == [(i, 0) for i in range(5000)]


# (4, 3) makes the rounds take a second round, so the handoff path
# reaches the driver step
DEGENERATE = [(1, None), (None, 7), (7, 8), (5, 5), (2, 3), (3, 2),
              (2, 3), (4, 3)]


@pytest.mark.parametrize("path", PATHS)
def test_degenerate_inputs(spark, monkeypatch, path):
    edges = spark.createDataFrame(DEGENERATE, "id_a int, id_b int")
    out = _labels(edges, path, monkeypatch, "degenerate")
    assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"
    got = _rows(out)
    # (1, NULL): singleton 1; NULL endpoints: one (NULL, NULL) row;
    # (5, 5): itself; (2, 3) twice and (3, 2): one component
    assert got == [(1, 1), (2, 2), (3, 2), (4, 2), (5, 5), (7, 7),
                   (8, 7), (None, None)]
    assert got == _rows(reference(edges))

    empty = spark.createDataFrame([], "id_a int, id_b int")
    out = _labels(empty, path, monkeypatch, "empty")
    assert out.schema.simpleString() == "struct<id:bigint,component:bigint>"
    assert out.collect() == []


def test_driver_finish_job_count(spark, spark_jobs):
    """Under the bound a call is the distinct checkpoint (its shuffle
    map stage and its result stage) plus the Arrow collect; the
    labels come back as a local relation that collects without a
    job. The reference takes over forty jobs on this graph."""
    edges = spark.createDataFrame(_graph("shapes"), "id_a long, id_b long")
    n, rows = spark_jobs(lambda: components.connected_components(
        edges).collect())
    assert len(rows) == 21
    assert n <= 3


def test_rounds_run_no_convergence_job(spark, monkeypatch, spark_jobs):
    """Each forced CCF round is one checkpoint action, at most three
    jobs under AQE (two shuffle map stages and the result), like the
    base checkpoint; the new-pair count rides on it through
    ``observe()``, so no round adds the anti-join ``count()`` job the
    reference runs."""
    rounds = []
    real = components._ccf_round

    def counted(pairs):
        rounds.append(pairs)
        return real(pairs)

    edges = spark.createDataFrame(_graph("shapes"), "id_a long, id_b long")
    monkeypatch.setattr(components, "DRIVER_EDGES", -1)
    monkeypatch.setattr(components, "_ccf_round", counted)
    monkeypatch.setattr(type(edges), "count", None)  # any count() fails
    n, _ = spark_jobs(lambda: components.connected_components(edges))
    assert len(rounds) > 2
    assert n <= 3 * (len(rounds) + 1)
