"""ET-regression MLlib pipeline — reference parity (SURVEY §2.10).

The reference trains a ridge LinearRegression on May rows predicting
et0_fao_evapotranspiration from (sunshine_hours, precipitation_sum,
wind_speed_10m_max) with a VectorAssembler→StandardScaler→LR pipeline
(src/spark_mllib/train_et_model.py:313-376), evaluates RMSE/R²/MAE
(:416-436; recorded run: RMSE 0.532, R² 0.797, MAE 0.413), persists the
PipelineModel (:470-485), and scores a driver-side itertools.product
scenario grid (predict_et_model.py:279-325).

Spark-first changes: the scenario grid is built with distributed
crossJoins of literal ranges instead of collecting to the driver, and
the feasibility score (F13, predict_et_model.py:169-197) is a column
expression, not a Python loop.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.regression import LinearRegression
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

FEATURES = ["sunshine_hours", "precipitation_sum", "wind_speed_10m_max"]
LABEL = "et0_fao_evapotranspiration"


def prepare_training_frame(weather: DataFrame, month: int = 5) -> DataFrame:
    """May subset with seconds→hours sunshine conversion and null drop
    (train_et_model.py:241-258)."""
    return (
        weather.filter(F.col("month") == month)
        .withColumn("sunshine_hours", F.col("sunshine_duration") / 3600.0)
        .select(*FEATURES, LABEL)
        .na.drop()
    )


def build_pipeline() -> Pipeline:
    """assembler → scaler(withMean,withStd) → ridge LR, exactly the
    reference's stages and hyperparameters (train_et_model.py:313-365)."""
    assembler = VectorAssembler(inputCols=FEATURES, outputCol="features_raw")
    scaler = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True, withStd=True
    )
    lr = LinearRegression(
        featuresCol="features",
        labelCol=LABEL,
        predictionCol="predicted_et",
        maxIter=100,
        regParam=0.1,
        elasticNetParam=0.0,  # ridge
    )
    return Pipeline(stages=[assembler, scaler, lr])


def train_et_model(
    weather: DataFrame, seed: int = 42
) -> tuple[PipelineModel, DataFrame, DataFrame]:
    """80/20 split (seed 42, train_et_model.py:339-342), fit, return
    (model, train, test)."""
    data = prepare_training_frame(weather)
    train, test = data.randomSplit([0.8, 0.2], seed=seed)
    model = build_pipeline().fit(train)
    return model, train, test


def evaluate(model: PipelineModel, test: DataFrame) -> dict[str, float]:
    """RMSE / R² / MAE (train_et_model.py:416-436)."""
    preds = model.transform(test)
    out = {}
    for metric in ("rmse", "r2", "mae"):
        ev = RegressionEvaluator(
            labelCol=LABEL, predictionCol="predicted_et", metricName=metric
        )
        out[metric] = ev.evaluate(preds)
    return out


def model_performance_row(
    spark: SparkSession,
    model: PipelineModel,
    test: DataFrame,
    model_name: str = "LinearRegression_ET_Prediction",
) -> DataFrame:
    """One-row DataFrame with the reference's full ml_model_performance
    contract (train_et_model.py:72-90 table DDL, :120-140 insert):
    sizes, RMSE/R²/MAE, feature names, per-feature coefficients, and
    intercept. Coefficients come from the fitted LR stage (in scaled
    feature space, matching the reference which also scales first);
    the training-set size is the row count the fit already recorded,
    so no job recounts the training split."""
    metrics = evaluate(model, test)
    lr = model.stages[-1]
    coefs = [float(c) for c in lr.coefficients]
    row = (
        model_name,
        lr.summary.numInstances,
        test.count(),
        metrics["rmse"],
        metrics["r2"],
        metrics["mae"],
        *FEATURES,
        *coefs,
        float(lr.intercept),
    )
    return spark.createDataFrame(
        [row],
        "model_name string, train_size bigint, test_size bigint, "
        "rmse double, r2 double, mae double, "
        "feature_1 string, feature_2 string, feature_3 string, "
        "coefficient_1 double, coefficient_2 double, coefficient_3 double, "
        "intercept double",
    )


def save_model(model: PipelineModel, path: str) -> None:
    model.write().overwrite().save(path)  # train_et_model.py:470-485


def load_model(path: str) -> PipelineModel:
    return PipelineModel.load(path)


def grid_scenarios(
    spark: SparkSession,
    sunshine_hours: tuple[float, float, int] = (4.0, 10.0, 13),
    precipitation: tuple[float, float, int] = (0.0, 22.0, 12),
    wind_speed: tuple[float, float, int] = (5.0, 25.0, 11),
) -> DataFrame:
    """Distributed scenario grid (reference builds this driver-side with
    itertools.product, predict_et_model.py:279-295 — 13x12x11 = 1,716
    combos; here it's three range-DataFrames crossJoined so the grid
    scales to millions of cells without touching the driver)."""

    def axis(name: str, lo: float, hi: float, n: int) -> DataFrame:
        step = (hi - lo) / (n - 1) if n > 1 else 0.0
        return spark.range(n).select((F.lit(lo) + F.col("id") * step).alias(name))

    return (
        axis("sunshine_hours", *sunshine_hours)
        .crossJoin(axis("precipitation_sum", *precipitation))
        .crossJoin(axis("wind_speed_10m_max", *wind_speed))
    )


def feasibility_score(sunshine=None, precip=None, wind=None):
    """Piecewise-linear agronomic feasibility 0-100 (F13,
    predict_et_model.py:169-197) as a pure column expression."""
    sunshine = F.col("sunshine_hours") if sunshine is None else sunshine
    precip = F.col("precipitation_sum") if precip is None else precip
    wind = F.col("wind_speed_10m_max") if wind is None else wind
    sun_pen = F.when(sunshine < 6, (6 - sunshine) * 10).otherwise(
        F.when(sunshine > 9, (sunshine - 9) * 5).otherwise(F.lit(0.0))
    )
    rain_pen = F.when(precip > 15, (precip - 15) * 2).otherwise(F.lit(0.0))
    wind_pen = F.when(wind > 20, (wind - 20) * 3).otherwise(F.lit(0.0))
    return F.greatest(F.lit(0.0), F.lit(100.0) - sun_pen - rain_pen - wind_pen)


def recommend_scenarios(
    model: PipelineModel, grid: DataFrame, et_threshold: float = 1.5, k: int = 10
) -> DataFrame:
    """Score grid → filter ET < threshold → rank by (ET asc,
    feasibility desc) (predict_et_model.py:353-380 / the documented
    semantics in ASSIGNMENT_ASSESSMENT.md:402-418)."""
    scored = model.transform(grid).select(
        "sunshine_hours",
        "precipitation_sum",
        "wind_speed_10m_max",
        "predicted_et",
        feasibility_score().alias("feasibility"),
    )
    w = Window.orderBy(
        F.asc("predicted_et"),
        F.desc("feasibility"),
        F.asc("sunshine_hours"),
        F.asc("precipitation_sum"),
        F.asc("wind_speed_10m_max"),
    )
    return (
        scored.filter(F.col("predicted_et") < et_threshold)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("rank")
    )


def predict_single(
    model: PipelineModel, spark: SparkSession, sunshine: float, precip: float, wind: float
) -> float:
    """One-row inference (predict_et_manual.py:94-115)."""
    row = spark.createDataFrame(
        [(sunshine, precip, wind)], FEATURES
    )
    return model.transform(row).select("predicted_et").first()[0]
