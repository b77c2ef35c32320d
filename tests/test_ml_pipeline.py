"""ML parity tests: pipeline trains on the fixture's correlated ET
signal, metrics are sane, model round-trips through persistence, the
scenario grid is distributed, and single-row inference works."""

from __future__ import annotations

import pytest

from big_data_processing_spark.ml import pipeline as M
from big_data_processing_spark.plans import weather as W

from .weather_fixture import generate


@pytest.fixture(scope="module")
def weather(spark, tmp_path_factory):
    info = generate(str(tmp_path_factory.mktemp("mlweather")))
    return W.ingest_weather_csv(spark, info["weather_csv"]).cache()


@pytest.fixture(scope="module")
def trained(weather):
    return M.train_et_model(weather)


def test_split_determinism(weather):
    m1, tr1, te1 = M.train_et_model(weather)
    _, tr2, te2 = M.train_et_model(weather)
    assert tr1.count() == tr2.count() and te1.count() == te2.count()
    total = M.prepare_training_frame(weather).count()
    assert tr1.count() + te1.count() == total
    assert 0.7 < tr1.count() / total < 0.9  # 80/20 split, seed 42


def test_metrics_sane(trained):
    model, _, test = trained
    metrics = M.evaluate(model, test)
    # fixture ET is linear in the features + noise(0.4): R² must be
    # strong, RMSE near the noise floor (reference run: R² 0.797)
    assert metrics["r2"] > 0.5, metrics
    assert 0.0 < metrics["rmse"] < 1.0, metrics
    assert 0.0 < metrics["mae"] <= metrics["rmse"], metrics


def test_performance_row_train_size_is_the_training_split(trained, spark):
    """train_size comes from the fit's own summary, not a recount: it
    must still equal the training split's row count."""
    model, train, test = trained
    row = M.model_performance_row(spark, model, test).first()
    assert row.train_size == train.count()
    assert row.test_size == test.count()


def test_model_persistence_roundtrip(trained, spark, tmp_path):
    model, _, test = trained
    path = str(tmp_path / "et_model")
    M.save_model(model, path)
    loaded = M.load_model(path)
    a = model.transform(test).select("predicted_et").limit(5).collect()
    b = loaded.transform(test).select("predicted_et").limit(5).collect()
    assert [r[0] for r in a] == [r[0] for r in b]


def test_grid_scenarios_distributed(spark):
    grid = M.grid_scenarios(spark)
    assert grid.count() == 13 * 12 * 11
    # distributed construction: no single collected python list behind it
    assert grid.rdd.getNumPartitions() >= 1
    cols = set(grid.columns)
    assert cols == {"sunshine_hours", "precipitation_sum", "wind_speed_10m_max"}


def test_recommendations(trained, spark):
    model, _, _ = trained
    grid = M.grid_scenarios(spark)
    recs = M.recommend_scenarios(model, grid, et_threshold=10.0, k=10)
    rows = recs.collect()
    assert len(rows) == 10
    assert [r.rank for r in rows] == list(range(1, 11))
    ets = [r.predicted_et for r in rows]
    assert ets == sorted(ets)  # ranked by ET ascending
    assert all(0.0 <= r.feasibility <= 100.0 for r in rows)


def test_single_row_inference(trained, spark):
    model, _, _ = trained
    v = M.predict_single(model, spark, sunshine=8.0, precip=5.0, wind=12.0)
    assert isinstance(v, float)
