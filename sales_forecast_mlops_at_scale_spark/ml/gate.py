"""Model-quality gate (SURVEY.md §2.9 U6) — skip forecasting for groups
whose registered model failed its quality bar.

The reference checks the registered model's rmse after loading it and
refuses to serve when ``rmse > 1000``
(``/root/reference/services/forecast-service/app/handlers/mlflow.py:32-40``
— the check happens per HTTP request, after pulling metric history from
MLflow).  Here the gate is a DataFrame operator applied *before* any
predict work is scheduled: a semi-join of the training series against the
passing metric keys, so rejected groups never reach the grouped map at
all — at 100 TB that prunes whole shuffle partitions instead of loading a
model and then refusing to use it.

Scale shape: ``metrics`` has one row per group (orders of magnitude
smaller than the series); Spark/AQE broadcasts the passing-key side of the
semi-join, so the gate adds no extra shuffle of the fact data.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The reference's dummy quality bar (mlflow.py:37).
DEFAULT_MAX_RMSE = 1000.0


def passing_model_keys(
    metrics: DataFrame, keys: Sequence[str], *, max_rmse: float = DEFAULT_MAX_RMSE
) -> DataFrame:
    """Keys of groups whose CV rmse meets the bar.

    A NULL rmse (too little history for any CV split) is treated as
    failing — an unevaluated model is not a trusted model.
    """
    return metrics.filter(F.col("rmse") <= max_rmse).select(*keys)


def gate_series(
    series: DataFrame,
    metrics: DataFrame,
    keys: Sequence[str],
    *,
    max_rmse: float = DEFAULT_MAX_RMSE,
) -> DataFrame:
    """Prune the training series to groups passing the quality bar
    (left-semi join on the group keys — no payload duplication)."""
    return series.join(
        passing_model_keys(metrics, keys, max_rmse=max_rmse),
        on=list(keys),
        how="left_semi",
    )


def gate_report(
    metrics: DataFrame, *, max_rmse: float = DEFAULT_MAX_RMSE
) -> DataFrame:
    """One-row audit frame: how many models passed / were rejected."""
    passed = F.col("rmse") <= max_rmse
    return metrics.agg(
        F.sum(F.when(passed, 1).otherwise(0)).cast("long").alias("n_passed"),
        F.sum(F.when(passed, 0).otherwise(1)).cast("long").alias("n_rejected"),
    )
