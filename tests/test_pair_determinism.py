"""Pair emitters must not depend on the physical plan: the same input
gives the same pair set under every shuffle-partition count, with AQE
on or off, and with runtime broadcast joins on or off.  Disabling the
broadcast threshold is the knob that flips AQE between a sort-merge
join and a runtime-broadcast conversion with a local shuffle read —
the path on which a physically co-located (not declared) bucket
grouping once dropped most SimHash pairs."""

from __future__ import annotations

import itertools

import pytest

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
          "spark.sql.autoBroadcastJoinThreshold")
_MATRIX = list(itertools.product(("1", "4", "37"), ("true", "false"),
                                 ("-1", None)))


@pytest.mark.parametrize("name", ["dedup_simhash", "dedup_embedding_cosine",
                                  "dedup_image_dhash", "dedup_minhash_lsh"])
def test_pairs_identical_across_shuffle_configs(spark, name):
    query = entry.queries()[name]
    saved = {k: spark.conf.get(k, None) for k in _CONFS}
    results = {}
    try:
        for conf in _MATRIX:
            for k, v in zip(_CONFS, conf):
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            results[conf] = sorted(
                tuple(r) for r in query(spark, SF_DIR).collect())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    first = results[_MATRIX[0]]
    assert first
    for conf, rows in results.items():
        assert rows == first, conf
