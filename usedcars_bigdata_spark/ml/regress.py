"""Regression model zoo + evaluation (SURVEY.md §2.11, M3-M12).

Reproduces the reference's nine regressor configurations
(price-prediction.py:266-474) as a declarative registry, with:
- always-seeded splits (the reference's randomSplit at price-prediction.py:195
  is unseeded → unreproducible);
- a single-pass evaluator (one aggregate job computes mse/rmse/mae/r2
  together — the reference runs 4-5 evaluator jobs per model,
  price-prediction.py:223-245);
- CORRECT adjusted R². The reference constructs an "r2adj" evaluator but
  reuses plain r2 (bug at price-prediction.py:225-226); we compute
  1-(1-R²)(n-1)/(n-p-1) and keep the buggy behavior behind
  ``parity_adj_r2=True``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.ml.regression import (
    DecisionTreeRegressor,
    FMRegressor,
    GBTRegressor,
    GeneralizedLinearRegression,
    IsotonicRegression,
    LinearRegression,
    RandomForestRegressor,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class ModelSpec:
    name: str
    estimator_cls: type
    params: dict[str, Any] = field(default_factory=dict)
    cite: str = ""


# maxBins=40000 mirrors the reference's brute-force answer to high-cardinality
# categoricals (price-prediction.py:401); memory-heavy — see SURVEY.md §7.4.
MODEL_ZOO: dict[str, ModelSpec] = {
    "linear": ModelSpec(
        "linear", LinearRegression,
        {"maxIter": 100, "regParam": 0.1, "elasticNetParam": 0.7},
        "price-prediction.py:266-273",
    ),
    "lasso": ModelSpec(
        "lasso", LinearRegression,
        {"maxIter": 100, "regParam": 0.1, "elasticNetParam": 1.0},
        "price-prediction.py:297",
    ),
    "ridge": ModelSpec(
        "ridge", LinearRegression,
        {"maxIter": 100, "regParam": 0.3, "elasticNetParam": 0.1},
        "price-prediction.py:321",
    ),
    "isotonic": ModelSpec(
        "isotonic", IsotonicRegression, {}, "price-prediction.py:346"
    ),
    "fm": ModelSpec(
        "fm", FMRegressor, {"stepSize": 0.01}, "price-prediction.py:371"
    ),
    "decision_tree": ModelSpec(
        "decision_tree", DecisionTreeRegressor,
        {"maxDepth": 5, "maxBins": 40000},
        "price-prediction.py:401",
    ),
    "random_forest": ModelSpec(
        "random_forest", RandomForestRegressor,
        {"numTrees": 2, "maxDepth": 2, "maxBins": 40000},
        "price-prediction.py:426",
    ),
    "gbt": ModelSpec(
        "gbt", GBTRegressor,
        {"maxIter": 10, "maxDepth": 5, "seed": 42, "maxBins": 40000},
        "price-prediction.py:450",
    ),
    "glr": ModelSpec(
        "glr", GeneralizedLinearRegression,
        {"family": "gaussian", "link": "identity", "maxIter": 10, "regParam": 0.3},
        "price-prediction.py:474",
    ),
}


def evaluate_predictions(
    preds: DataFrame,
    label_col: str = "label",
    n_features: int | None = None,
    parity_adj_r2: bool = False,
) -> dict[str, float]:
    """All regression metrics in ONE aggregate job (vs one evaluator job per
    metric in the reference, price-prediction.py:223-245)."""
    err = F.col("prediction") - F.col(label_col)
    row = preds.agg(
        F.count("*").alias("n"),
        F.avg(err * err).alias("mse"),
        F.avg(F.abs(err)).alias("mae"),
        F.avg(F.col(label_col)).alias("mean_label"),
        F.sum(F.col(label_col) * F.col(label_col)).alias("ss_label"),
    ).collect()[0]
    n = row["n"]
    if n == 0:
        # an empty test split (tiny demo frames + randomSplit) returned
        # None aggregates and crashed on None*n — NaN metrics are the
        # honest empty-evaluation answer (r9 review)
        nan = float("nan")
        return {"n": 0.0, "mse": nan, "rmse": nan, "mae": nan,
                "r2": nan, "adj_r2": nan}
    sse = row["mse"] * n
    sst = row["ss_label"] - n * row["mean_label"] ** 2
    r2 = 1.0 - sse / sst if sst else float("nan")
    metrics = {
        "n": float(n),
        "mse": row["mse"],
        "rmse": row["mse"] ** 0.5,
        "mae": row["mae"],
        "r2": r2,
    }
    if parity_adj_r2 or n_features is None:
        metrics["adj_r2"] = r2  # the reference's actual (buggy) output
    else:
        p = n_features
        # n <= p+1: the adjustment denominator is <= 0 — undefined
        metrics["adj_r2"] = (
            1.0 - (1.0 - r2) * (n - 1) / (n - p - 1)
            if n > p + 1
            else float("nan")
        )
    return metrics


def fit_and_evaluate(
    train: DataFrame,
    test: DataFrame,
    model_name: str,
    label_col: str = "label",
    features_col: str = "features",
    n_features: int | None = None,
    parity_adj_r2: bool = False,
) -> tuple[Any, dict[str, float]]:
    """Fit one zoo model and evaluate on the held-out split."""
    spec = MODEL_ZOO[model_name]
    est = spec.estimator_cls(labelCol=label_col, featuresCol=features_col, **spec.params)
    model = est.fit(train)
    preds = model.transform(test)
    return model, evaluate_predictions(preds, label_col, n_features, parity_adj_r2)


def run_model_suite(
    data: DataFrame,
    model_names: list[str] | None = None,
    label_col: str = "label",
    seed: int = 42,
) -> DataFrame:
    """The reference's full train/compare loop (price-prediction.py:195-527):
    seeded 80/20 split, fit each model, one metrics row per model, returned
    as a DataFrame built with an explicit schema (S4)."""
    train, test = data.randomSplit([0.8, 0.2], seed=seed)
    train = train.cache()
    # Feature count from the assembler's column metadata, not a job —
    # needed so adj-R² actually applies the correction (n_features=None
    # falls back to adj_r2 == r2).
    ml_attr = train.schema["features"].metadata.get("ml_attr", {})
    n_features = ml_attr.get("num_attrs")
    rows = []
    for name in model_names or list(MODEL_ZOO):
        _, m = fit_and_evaluate(
            train, test, name, label_col=label_col, n_features=n_features
        )
        rows.append(
            {
                "model": name,
                "n_test": m["n"],
                "mse": m["mse"],
                "rmse": m["rmse"],
                "mae": m["mae"],
                "r2": m["r2"],
                "adj_r2": m["adj_r2"],
            }
        )
    train.unpersist()
    spark = data.sparkSession
    return spark.createDataFrame(
        rows,
        schema="model string, n_test double, mse double, rmse double, "
        "mae double, r2 double, adj_r2 double",
    )
