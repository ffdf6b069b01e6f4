"""Fused grouped passes: one grouped map where the composed pipeline
runs two.

**Train + forecast** (:func:`fit_forecast_groups`, the weekly run).  The
weekly DAG trains one model per (store, product) and then forecasts the
next days from the same history (``train_predict_to_db_dag.py:76-83``).
Composed, that is two grouped-map jobs over the same series —
``train_groups`` for the metrics, ``forecast_groups`` for the forecasts —
each scanning the input, exchanging and sorting the series, and paying a
Python stage's fixed cost.  :func:`fit_forecast_groups` runs both
kernels on the same group inside one stage and emits ONE row per group:
the ``TRAIN_METRICS`` columns plus the horizon's ``forecast_sale`` /
``lower_ci`` / ``upper_ci`` as three ``array<int>`` columns.  Everything
downstream is JVM work on those rows: the metrics are a projection, the
model-quality gate is a ``filter(rmse <= max_rmse)``, and
:func:`explode_forecasts` turns each row back into horizon forecast rows
(``posexplode(arrays_zip(...))``, ``date_add(horizon_start, pos)``).
``pipeline.run_weekly`` materializes the rows once and derives both
outputs from them.  The kernels are the existing ones — the train and
predict batch kernels of ``ml/train.py`` and ``ml/predict.py``, for any
model — so the output equals the composed pipeline's row for row
(``tests/test_domain_pipeline.py``).

**CV → gate → predict** (:func:`gated_forecast_groups`), seasonal-naive
only.  When the only consumer of the metrics is the quality gate
(``services/forecast-service/app/handlers/mlflow.py:32-40``), composing
train → semi-join → predict costs TWO grouped-map shuffles of the same
series plus a semi-join.  This operator runs walk-forward CV, the rmse
gate, and the horizon forecast inside a single grouped map: one shuffle
on the group keys, and rejected groups emit zero rows without any
predict work being scheduled.  It keeps its own batch kernel rather
than filtering :func:`fit_forecast_groups`' rows, because it computes
only the rmse and forecasts only the survivors: the filtered train +
forecast pass, which also computes mape / mae / medae and every group's
forecast, measured slower on ``q_gated_forecast`` (sf0.1, cold).  Its
reference is the composed pipeline
``forecast_groups(gate_series(series, train_groups(series)))``: the
output is identical to it (``tests/test_groupmap.py``), which is exactly
what the oracle checks (``plans/ml_queries.py::_GATED_SQL`` derives the
gate from the *composed* definition).

Gate semantics are the composed path's in both: the mean CV rmse is
rounded half-away-from-zero to 4 decimals *before* the ``<= max_rmse``
comparison (the train kernels round their emitted metrics), and a group
with too little history for any CV split (NULL rmse) fails the gate —
an unevaluated model is not a trusted model.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schemas import FORECAST_OUTPUT, TRAIN_METRICS
from .predict import make_predict_batch_kernel
from .train import (
    N_SPLITS,
    _cv_average,
    _cv_test_rows,
    _fold_rmse,
    _grouped_model_pass,
    make_train_batch_kernel,
)

#: the forecast columns carried as one ``array<int>`` per group
FORECAST_ARRAYS = ("forecast_sale", "lower_ci", "upper_ci")

# the weekly run's input columns (the warehouse's ``sales`` table)
_DATE_COL = "date"
_Y_COL = "sales"


def make_fit_forecast_batch_kernel(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    model_spec: str = "seasonal_naive",
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    train and predict batch kernels of ``model_spec`` on the same sorted
    batch, one fused row per group."""
    train = make_train_batch_kernel(keys, model_spec=model_spec, y_col=_Y_COL)
    predict = make_predict_batch_kernel(
        keys, horizon_start, horizon_days, model_spec=model_spec, y_col=_Y_COL
    )

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        # each group's forecast rows (its horizon, date-ascending, in the
        # metrics' group order) become list columns of its metrics row
        metrics, forecasts = train(pdf, starts, ends), predict(pdf, starts, ends)
        for c in FORECAST_ARRAYS:
            metrics[c] = list(forecasts[c].to_numpy().reshape(-1, horizon_days))
        return metrics

    return kernel


def fit_forecast_groups(
    sales: DataFrame,
    keys: Sequence[str] = ("store", "productname"),
    *,
    horizon_start: _dt.date,
    horizon_days: int = 7,
    model_spec: str = "seasonal_naive",
) -> DataFrame:
    """One row per key group of a ``sales``-shaped frame (``date`` /
    ``sales`` columns): ``train_groups``' metrics plus the
    ``forecast_groups`` horizon as three ``array<int>`` columns (lazy),
    run by ``train._grouped_model_pass``."""
    from pyspark.sql import types as T

    template = T.StructType(
        TRAIN_METRICS.fields
        + [T.StructField(c, T.ArrayType(T.IntegerType())) for c in FORECAST_ARRAYS]
    )
    return _grouped_model_pass(
        sales,
        keys,
        template,
        make_fit_forecast_batch_kernel(
            keys, horizon_start, horizon_days, model_spec=model_spec
        ),
        date_col=_DATE_COL,
        y_col=_Y_COL,
    )


def explode_forecasts(
    fused: DataFrame, keys: Sequence[str], horizon_start: _dt.date
) -> DataFrame:
    """The ``forecast_groups`` rows of fused rows, in the JVM: one row per
    horizon day, ``forecast_date = horizon_start + pos``."""
    return fused.select(
        *keys,
        "model_name",
        "model_version",
        F.posexplode(F.arrays_zip(*FORECAST_ARRAYS)).alias("pos", "f"),
    ).select(
        *keys,
        F.date_add(F.lit(horizon_start), F.col("pos")).alias("forecast_date"),
        *(F.col(f"f.{c}").alias(c) for c in FORECAST_ARRAYS),
        "model_name",
        "model_version",
    )


def make_gated_batch_kernel(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    y_col: str = "y",
    max_rmse: float = 1000.0,
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    seasonal-naive CV → gate → predict of every group of an Arrow batch,
    ONE output frame holding the horizon rows of the survivors (rejects
    contribute nothing).  The fold rmse and its half-away rounded mean
    are the train batch kernel's own helpers and the survivors' forecast
    is the predict batch kernel, so the composed-pipeline oracle
    (``_GATED_SQL``) hash is unchanged."""
    predict = make_predict_batch_kernel(keys, horizon_start, horizon_days, y_col=y_col)

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ys = pdf[y_col].to_numpy(dtype=float)
        _, fold, rows, _, yhat = _cv_test_rows(
            ys, pdf["__dow"].to_numpy(), starts, ends, N_SPLITS
        )
        trained = ends - starts > N_SPLITS
        rmse = _cv_average(_fold_rmse(ys[rows], yhat, fold), trained, N_SPLITS)
        keep = rmse <= max_rmse  # NULL rmse (no fold) fails
        return predict(pdf, starts[keep], ends[keep])

    return kernel


def gated_forecast_groups(
    sales: DataFrame,
    keys: Sequence[str] = ("store", "productname"),
    *,
    horizon_start: _dt.date,
    horizon_days: int = 7,
    date_col: str = "date",
    y_col: str = "sales",
    max_rmse: float = 1000.0,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Seasonal-naive forecast rows for the groups whose walk-forward CV
    rmse meets the bar — identical output to ``forecast_groups(
    gate_series(series, train_groups(series)))`` in one grouped-map job
    instead of two plus a join (``pre_partitioned`` skips the
    exchange)."""
    return _grouped_model_pass(
        sales,
        keys,
        FORECAST_OUTPUT,
        make_gated_batch_kernel(
            keys, horizon_start, horizon_days, y_col=y_col, max_rmse=max_rmse
        ),
        date_col=date_col,
        y_col=y_col,
        pre_partitioned=pre_partitioned,
    )
