from __future__ import annotations

import functools
import importlib
import pkgutil

import pytest


@pytest.fixture(scope="session")
def spark():
    from pdf_to_text_extraction_service_spark.plans.session import (
        build_session,
    )

    s = build_session(app_name="tests", master="local[4]",
                      shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)``: the Spark jobs launched while ``fn`` runs,
    and its result."""
    sc = spark.sparkContext
    group = "counted-jobs"

    def count(fn):
        before = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup(group, "job count")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)) - before, out

    return count


@functools.cache
def _checkpoint_binders() -> tuple:
    """Every package module that binds ``_checkpoint_release``."""
    import pdf_to_text_extraction_service_spark as pkg

    mods = (importlib.import_module(m.name) for m in
            pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."))
    return tuple(m for m in mods if hasattr(m, "_checkpoint_release"))


@pytest.fixture
def lazy_plans(spark, monkeypatch):
    """Operators return their whole lazy plan: ``_checkpoint_release``
    is the identity in every module that binds it, and the caches those
    plans read are cleared afterwards."""
    for mod in _checkpoint_binders():
        monkeypatch.setattr(mod, "_checkpoint_release",
                            lambda out, *cached: out)
    yield
    spark.catalog.clearCache()


@pytest.fixture(scope="session")
def plan_facts_by_row() -> dict:
    return {}


@pytest.fixture
def plan_row(spark, lazy_plans, tmp_path, plan_facts_by_row):
    """``plan_row(name)`` checks row ``name`` of the plan-contract table
    (tests/test_plan_contracts.py) and returns the plan's facts; each
    row's plan is read once per session."""
    from test_plan_contracts import check_row

    return lambda name: check_row(spark, name, tmp_path,
                                  plan_facts_by_row)
