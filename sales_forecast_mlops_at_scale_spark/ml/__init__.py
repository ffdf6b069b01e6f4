"""Grouped-map ML pipeline — Spark-native replacement for the reference's
Ray task fan-out + HTTP forecast service (SURVEY.md §2.9 U2-U6).

One Prophet model per (store, product) in the reference becomes one key
group here: the shuffle IS the fan-out, executors ARE the workers, and
the 1,115-model weekly run is a single Spark job with group-level
parallelism bounded only by cluster cores.  Every model pass runs on one
route, ``operators/groupmap.sorted_group_map``: many groups per Arrow
batch, each time-ordered; the seasonal-naive model runs vectorized batch
kernels, any other model is fit per group of the batch
(``train.make_model_kernel``).  The weekly run trains and forecasts in
one such job (``fused.fit_forecast_groups``): one row per group carrying
its metrics and its horizon forecast, from which the metrics and the
(optionally rmse-gated) forecast rows are JVM projections.
"""

from .fused import explode_forecasts, fit_forecast_groups, gated_forecast_groups
from .incremental import (
    delta_fingerprints,
    incremental_train,
    merge_fingerprints,
    series_fingerprints,
)
from .gate import DEFAULT_MAX_RMSE, gate_report, gate_series, passing_model_keys
from .models import SeasonalNaiveModel, get_model
from .predict import forecast_groups
from .train import train_groups

__all__ = [
    "DEFAULT_MAX_RMSE",
    "delta_fingerprints",
    "SeasonalNaiveModel",
    "explode_forecasts",
    "fit_forecast_groups",
    "forecast_groups",
    "gate_report",
    "gate_series",
    "gated_forecast_groups",
    "get_model",
    "incremental_train",
    "merge_fingerprints",
    "passing_model_keys",
    "series_fingerprints",
    "train_groups",
]
