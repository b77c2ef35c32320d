"""Run every catalog query against its DuckDB oracle — the local twin
of the driver's CORRECTNESS gate (sf0.001 for speed; driver uses sf0.01)."""

from __future__ import annotations

import pytest

from big_data_processing_spark.plans.catalog import CATALOG

from .conftest import assert_frames_match

ORACLE_QUERIES = sorted(n for n, q in CATALOG.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, q in CATALOG.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = CATALOG[name]
    result = q.fn(spark, sf_dir)
    # callable oracles embed data-dependent literals per sf_dir
    sql = q.oracle(sf_dir) if callable(q.oracle) else q.oracle
    oracle = duck.sql(sql).df()
    assert_frames_match(result, oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_dir, name):
    q = CATALOG[name]
    result = q.fn(spark, sf_dir)
    assert result.count() >= 0
    assert len(result.schema) > 0


def test_entry_module_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 15


# Public (spark, sf_dir) functions in plans/catalog*.py that are not
# catalog entries, each with the reason it stays public.
_PUBLIC_NON_ENTRIES = {
    "prebuild_artifacts": "bench/perfbench warm the shared artifacts through it",
    "curation_labels": "plans/curation.py builds its labelled frame from it",
    "events_asof_aggregate": "test_plan_quality pins its zero-join as-of plan",
    "knn_bruteforce_cosine": "exact-kNN reference for the ANN recall tests",
}


def test_registry_names_match_functions():
    """Guard against decorator mis-attachment during refactors: every
    catalog entry must be registered under its own function's name
    (a @query decorator landing on a helper shows up here instantly).

    Also enforces "no standalone twins": when entries merge, the
    survivor's registered oracle computes the merged arm and the
    retired function, oracle and tests are deleted (or the function
    becomes a private ``_name`` arm helper).  So every public top-level
    (spark, sf_dir) function in plans/catalog*.py must be a catalog
    entry or carry a reason in _PUBLIC_NON_ENTRIES."""
    import glob
    import importlib
    import inspect
    import os

    import big_data_processing_spark.plans as plans_pkg

    for name, q in CATALOG.items():
        assert q.fn.__name__ == name, (
            f"catalog entry '{name}' is bound to function '{q.fn.__name__}'"
        )
    pkg_dir = os.path.dirname(plans_pkg.__file__)
    public = set()
    for path in sorted(glob.glob(os.path.join(pkg_dir, "catalog*.py"))):
        mod = importlib.import_module(
            f"{plans_pkg.__name__}.{os.path.basename(path)[:-3]}"
        )
        for fname, fn in vars(mod).items():
            if (
                fname.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != mod.__name__
            ):
                continue
            if list(inspect.signature(fn).parameters)[:2] == ["spark", "sf_dir"]:
                public.add(fname)
    stray = sorted(public - set(CATALOG) - set(_PUBLIC_NON_ENTRIES))
    assert not stray, (
        f"public (spark, sf_dir) functions that are neither catalog entries "
        f"nor listed in _PUBLIC_NON_ENTRIES: {stray}"
    )
    stale = sorted(set(_PUBLIC_NON_ENTRIES) - public)
    assert not stale, f"_PUBLIC_NON_ENTRIES names no such function: {stale}"


def test_knn_bruteforce_oracle_parity(spark, duck, sf_dir):
    """The standalone exact-kNN formulation (retired from the catalog
    in r8: knn_lsh_cosine serves it as the 'brute' arm read from the
    shared artifact) keeps its DuckDB oracle check here."""
    from big_data_processing_spark.plans.catalog_ext import (
        KNN_BRUTEFORCE_ORACLE,
        knn_bruteforce_cosine,
    )

    result = knn_bruteforce_cosine(spark, sf_dir)
    oracle = duck.sql(KNN_BRUTEFORCE_ORACLE).df()
    assert_frames_match(result, oracle)


def test_session_gap_boundary_semantics_agree(spark):
    """The two sessionization arms joined by events_sessionize must
    agree at the EXACT 30:00 gap: the lag idiom splits only on gap
    strictly > 30 min, and Spark's native session_window was probed
    (r13) to merge inclusively at prev_ts + gap — an event exactly
    30:00.000000 later stays in the session, 30:00.000001 starts a new
    one.  If a Spark upgrade ever flips the native boundary to
    half-open, the merged entry's inner join would silently drop rows;
    this pin fails first."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),  # exactly the gap: same session
        (2, t0),
        (2, t0 + dt.timedelta(minutes=30, microseconds=1)),  # just over: split
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp")
    native = {
        r.user_id: r.n
        for r in df.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert native == {1: 1, 2: 2}, native
