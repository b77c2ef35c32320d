"""Capstone: one call produces the reference's entire warehouse, with
the reference's output-shape invariants (table inventory and
cardinalities scaled to the fixture)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from big_data_processing_spark.plans import weather as W
from big_data_processing_spark.plans.pipeline import run_full_pipeline

from .conftest import assert_frames_match
from .weather_fixture import generate


@pytest.fixture(scope="module")
def weather_src(tmp_path_factory):
    return generate(str(tmp_path_factory.mktemp("weather_src")), years=(2012, 2013))


def test_full_pipeline_builds_warehouse(spark, tmp_path, weather_src):
    info = weather_src
    paths = run_full_pipeline(
        spark,
        info["weather_csv"],
        info["location_csv"],
        str(tmp_path / "warehouse"),
    )
    # table inventory mirrors the reference warehouse
    # (DATA_ANALYSIS_TABLES_MAPPING.md:531-544)
    assert set(paths) == {
        "weather_fact",
        "locations",
        "district_monthly_weather",
        "highest_precipitation",
        "top_temperate_cities",
        "evapotranspiration_by_season",
        "radiation_analysis",
        "weekly_max_temp_hottest_months",
        "ml_feature_statistics",
        "ml_model_performance",
        "et_model",
    }
    n_months = 2 * 12
    counts = {
        "weather_fact": info["n_clean_weather"],
        "district_monthly_weather": 27 * n_months,
        "highest_precipitation": 1,
        "top_temperate_cities": 10,
        "radiation_analysis": n_months,
        "ml_feature_statistics": 12 * 4,  # (month, feature) keyed, ref contract
        "ml_model_performance": 1,
        "locations": 27,
    }
    for name, expected in counts.items():
        got = spark.read.parquet(paths[name]).count()
        assert got == expected, f"{name}: {got} != {expected}"

    # the concurrently written tables hold exactly the rows each builder
    # yields when collected on its own
    weather = W.ingest_weather_csv(spark, info["weather_csv"])
    location = W.ingest_location_csv(spark, info["location_csv"])
    direct = {
        "locations": location,
        "district_monthly_weather": W.district_monthly_weather(weather, location),
        "highest_precipitation": W.highest_precipitation(weather),
        "top_temperate_cities": W.top_temperate_cities(weather, location),
        "evapotranspiration_by_season": W.evapotranspiration_by_season(
            weather, location
        ),
        "radiation_analysis": W.radiation_analysis(weather),
        "weekly_max_temp_hottest_months": W.weekly_max_temp_hottest_months(
            weather, location
        ),
        "ml_feature_statistics": W.ml_feature_statistics(weather),
    }
    for name, df in direct.items():
        assert_frames_match(spark.read.parquet(paths[name]), df.toPandas())

    # fact partitioned by year → pruning works
    fact = spark.read.parquet(paths["weather_fact"])
    assert set(r.year for r in fact.select("year").distinct().collect()) == {2012, 2013}

    # model performance row carries the full reference contract
    # (train_et_model.py:72-90): metrics + features + coefficients
    perf = spark.read.parquet(paths["ml_model_performance"]).first()
    assert perf.rmse > 0 and perf.mae > 0 and -1.0 < perf.r2 <= 1.0
    assert perf.train_size > 0 and perf.test_size > 0
    assert (perf.feature_1, perf.feature_2, perf.feature_3) == (
        "sunshine_hours",
        "precipitation_sum",
        "wind_speed_10m_max",
    )
    import math

    for c in (perf.coefficient_1, perf.coefficient_2, perf.coefficient_3, perf.intercept):
        assert math.isfinite(c)

    # persisted model is loadable and predicts
    from big_data_processing_spark.ml.pipeline import load_model, predict_single

    model = load_model(paths["et_model"])
    assert isinstance(predict_single(model, spark, 8.0, 5.0, 12.0), float)


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_failed_branch_propagates_after_the_others_finish(
    spark, tmp_path, weather_src, monkeypatch
):
    """One output builder raises: the error reaches the caller only
    after every other branch's jobs are done, and the cached fact is
    released."""

    def boom(weather):
        raise RuntimeError("radiation_analysis failed")

    monkeypatch.setattr(W, "radiation_analysis", boom)
    before = _persistent_rdds(spark)
    out = tmp_path / "warehouse"
    with pytest.raises(RuntimeError, match="radiation_analysis failed"):
        run_full_pipeline(
            spark, weather_src["weather_csv"], weather_src["location_csv"], str(out)
        )
    written = {p.name for p in out.iterdir() if (p / "_SUCCESS").exists()}
    assert written == {
        "weather_fact",
        "locations",
        "district_monthly_weather",
        "highest_precipitation",
        "top_temperate_cities",
        "evapotranspiration_by_season",
        "weekly_max_temp_hottest_months",
        "ml_feature_statistics",
        "ml_model_performance",
    }
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert _persistent_rdds(spark) <= before


def _group_jobs(spark, group: str, want: int = 0, timeout: float = 30.0) -> set[int]:
    """Job ids of ``group`` once the (asynchronous) status store holds
    at least ``want`` of them."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout
    while True:
        jobs = set(tracker.getJobIdsForGroup(group))
        if len(jobs) >= want or time.monotonic() > deadline:
            return jobs
        time.sleep(0.05)


def test_pipeline_jobs_carry_the_callers_job_group(spark, tmp_path, weather_src):
    """Jobs submitted from the pipeline's pool threads belong to the job
    group the caller set, like jobs of a serial run would."""
    sc = spark.sparkContext

    def mark(group: str) -> int:
        sc.setJobGroup(group, group)
        sc.parallelize([1]).count()
        return max(_group_jobs(spark, group, want=1))

    try:
        first = mark("pipeline-before")
        sc.setJobGroup("pipeline-run", "pipeline-run")
        run_full_pipeline(
            spark,
            weather_src["weather_csv"],
            weather_src["location_csv"],
            str(tmp_path / "warehouse"),
        )
        last = mark("pipeline-after")
    finally:
        sc._jsc.clearJobGroup()
    started = set(range(first + 1, last))  # job ids are allocated in order
    assert len(started) > 10
    assert started == _group_jobs(spark, "pipeline-run", want=len(started))


def test_pii_scrub_leaves_no_matches(spark, sf_dir):
    """After redaction, re-scanning the scrubbed text with the same
    regexes must find ZERO matches — the scrub is complete, not just
    counted."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.plans.catalog_ext import (
        _PII_EMAIL_RE,
        _PII_EMOD,
        _PII_PHONE_RE,
        _PII_PMOD,
        _PII_UMOD,
        _PII_URL_RE,
        _t,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % _PII_EMOD == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@mail.example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % _PII_UMOD == 0,
            F.concat(F.lit(" ref https://data.example.org/doc/"), did.cast("string")),
        ).otherwise(F.lit("")),
        F.when(
            did % _PII_PMOD == 0,
            F.concat(F.lit(" call 555-010-"), F.lpad((did % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL_RE, "<email>"), _PII_URL_RE, "<url>"
        ),
        _PII_PHONE_RE,
        "<phone>",
    )
    residuals = d.select(
        (
            F.regexp_count(clean, F.lit(_PII_EMAIL_RE))
            + F.regexp_count(clean, F.lit(_PII_URL_RE))
            + F.regexp_count(clean, F.lit(_PII_PHONE_RE))
        ).alias("n")
    ).agg(F.sum("n").alias("total")).first()
    assert residuals.total == 0


def test_curation_pipeline_statuses_partition_corpus(spark, sf_dir):
    """Every document lands in exactly one funnel status — the summary
    counts must sum to the corpus size."""
    from big_data_processing_spark.plans.catalog_ext import (
        curation_pipeline_summary,
        _t,
    )

    total = _t(spark, sf_dir, "documents").count()
    rows = curation_pipeline_summary(spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == total
    assert {r.status for r in rows} <= {
        "eval_holdout",
        "low_quality",
        "duplicate",
        "contaminated",
        "kept",
    }
    assert any(r.status == "kept" for r in rows)


def test_curation_pipeline_materializes_consistent_corpus(spark, sf_dir, tmp_path):
    """The written corpus must agree with the hash-checked summary:
    kept rows on disk == 'kept' count in the report, splits partition
    the kept set, and split=train reads prune to the train partition."""
    from pyspark.sql import functions as F

    from big_data_processing_spark.plans.curation import (
        read_curated_split,
        run_curation_pipeline,
    )

    paths = run_curation_pipeline(spark, sf_dir, str(tmp_path / "out"))
    curated = spark.read.parquet(paths["curated_documents"])
    report = spark.read.parquet(paths["curation_report"])

    kept_in_report = (
        report.filter(F.col("status") == "kept").agg(F.sum("n_docs")).first()[0]
    )
    assert curated.count() == kept_in_report
    assert set(r.split for r in curated.select("split").distinct().collect()) <= {
        "train",
        "validation",
        "test",
    }

    train = read_curated_split(spark, paths["curated_documents"], "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(split" in plan
    assert train.count() > 0
    # quality gate actually held
    assert curated.agg(F.min("quality_score")).first()[0] >= 0.45
