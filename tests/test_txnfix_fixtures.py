"""Contract tests for the shared txnlog bench fixtures (plans/txnfix).

The fixtures are process-shared: a mutating entry that forgot to clone
would corrupt every later consumer's results in the same process —
exactly the failure mode the driver's hash gate would surface as a
confusing cross-entry mismatch.  Pin the contract mechanically.
"""

from __future__ import annotations

import os

from big_data_processing_spark.plans.catalog import CATALOG


def test_cdf_fixture_is_shared_and_never_mutated(spark, sf_dir):
    from big_data_processing_spark.plans.txnfix import (
        CDF_V_OPTIMIZE,
        cdf_history_fixture,
    )
    from big_data_processing_spark.sources.txnlog import latest_version

    p1 = cdf_history_fixture(spark, sf_dir)
    p2 = cdf_history_fixture(spark, sf_dir)
    assert p1 == p2, "fixture must memoize per (sf_dir, shape)"
    assert latest_version(p1) == CDF_V_OPTIMIZE

    # run every consumer of the shared table; none may commit to it
    consumers = [
        ("txnlog_incremental_mv", CATALOG["txnlog_incremental_mv"].fn),
        (
            "dashboard_rollup_incremental",
            CATALOG["dashboard_rollup_incremental"].fn,
        ),
    ]
    for name, fn in consumers:
        fn(spark, sf_dir).collect()
        assert latest_version(p1) == CDF_V_OPTIMIZE, (
            f"{name} committed to the shared cdf_history fixture"
        )


def test_mutating_entries_clone_and_leave_fixture_alone(spark, sf_dir):
    from big_data_processing_spark.plans.txnfix import create_fixture
    from big_data_processing_spark.sources.txnlog import (
        _read_manifest,
        latest_version,
    )

    src = create_fixture(spark, sf_dir)
    before = _read_manifest(src, 0)["files"]
    for name in (
        "txnlog_merge_snapshot",
        "txnlog_compacted_read",
        "txnlog_wap_publish",
        "txn_clone_isolation",
    ):
        CATALOG[name].fn(spark, sf_dir).collect()
        assert latest_version(src) == 0, (
            f"{name} committed to the shared base-create fixture"
        )
        missing = [
            e["path"]
            for e in before
            if not os.path.exists(os.path.join(src, e["path"]))
        ]
        assert not missing, (
            f"{name} removed shared fixture files: {missing[:3]}"
        )
