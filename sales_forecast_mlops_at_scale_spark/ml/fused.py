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
outputs from them.  The kernels are the existing ones — the
``sorted_group_map`` batch kernels of ``ml/train.py`` and
``ml/predict.py`` for the seasonal-naive model, ``make_train_fn`` and
``make_predict_fn`` for per-group models — so the output equals the
composed pipeline's row for row (``tests/test_domain_pipeline.py``).

**CV → gate → predict** (:func:`gated_forecast_groups`).  When the only
consumer of the metrics is the quality gate
(``services/forecast-service/app/handlers/mlflow.py:32-40``), composing
train → semi-join → predict costs TWO grouped-map shuffles of the same
series plus a semi-join.  This operator runs walk-forward CV, the rmse
gate, and the horizon forecast inside a single grouped map: one shuffle
on the group keys, and rejected groups emit zero rows without any
predict work being scheduled.  It keeps its own kernels rather than
filtering :func:`fit_forecast_groups`' rows, because they compute only
the rmse and forecast only the survivors: the filtered train + forecast
pass, which also computes mape / mae / medae and every group's
forecast, measured slower on ``q_gated_forecast`` (sf0.1, cold).  The
output is byte-identical to the composed pipeline — which is exactly
what the oracle checks (``plans/ml_queries.py::_GATED_SQL`` derives the
gate from the *composed* definition).

Gate semantics are the composed path's in both: the mean CV rmse is
rounded half-away-from-zero to 4 decimals *before* the ``<= max_rmse``
comparison (``train.train_fn`` rounds its emitted metrics), and a group
with too little history for any CV split (NULL rmse) fails the gate —
an unevaluated model is not a trusted model.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.groupmap import hash_partition, sorted_group_map
from ..schemas import TRAIN_METRICS
from .models import MODEL_NAME_FMT, SeasonalNaiveModel, get_model
from .predict import make_predict_batch_kernel, make_predict_fn
from .train import (
    _metrics,
    _round_half_away,
    _seasonal_naive_fold_preds,
    _seasonal_naive_lut,
    _split_bounds,
    _with_time_cols,
    make_train_batch_kernel,
    make_train_fn,
)

#: the forecast columns carried as one ``array<int>`` per group
FORECAST_ARRAYS = ("forecast_sale", "lower_ci", "upper_ci")

# the weekly run's input columns (the warehouse's ``sales`` table);
# walk-forward CV uses the train kernels' default 5 splits
_DATE_COL = "date"
_Y_COL = "sales"


def _attach_horizon(
    metrics: pd.DataFrame, forecasts: pd.DataFrame, horizon_days: int
) -> pd.DataFrame:
    """Fold the forecast rows (``horizon_days`` per group, in the metrics'
    group order, date-ascending) into list columns of the metrics rows."""
    for c in FORECAST_ARRAYS:
        metrics[c] = list(forecasts[c].to_numpy().reshape(-1, horizon_days))
    return metrics


def make_fit_forecast_batch_kernel(
    keys: Sequence[str], horizon_start: _dt.date, horizon_days: int
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    train and predict batch kernels on the same sorted batch, one fused
    row per group."""
    train = make_train_batch_kernel(keys, y_col=_Y_COL)
    predict = make_predict_batch_kernel(keys, horizon_start, horizon_days, y_col=_Y_COL)

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        return _attach_horizon(
            train(pdf, starts, ends), predict(pdf, starts, ends), horizon_days
        )

    return kernel


def make_fit_forecast_fn(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    model_spec: str = "seasonal_naive",
):
    """Per-group function for ``applyInPandas``: ``make_train_fn`` and
    ``make_predict_fn`` on the same pandas group, one fused row out."""
    train_fn = make_train_fn(
        keys, model_spec=model_spec, date_col=_DATE_COL, y_col=_Y_COL
    )
    predict_fn = make_predict_fn(
        keys, horizon_start, horizon_days,
        model_spec=model_spec, date_col=_DATE_COL, y_col=_Y_COL,
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return _attach_horizon(train_fn(pdf), predict_fn(pdf), horizon_days)

    return fn


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
    ``forecast_groups`` horizon as three ``array<int>`` columns (lazy).
    Routing mirrors ``train_groups``: batch-amortized ``sorted_group_map``
    for the deterministic model, per-group ``applyInPandas`` for heavy
    models."""
    from pyspark.sql import types as T

    key_fields = [sales.schema[k] for k in keys]
    metric_fields = [f for f in TRAIN_METRICS.fields if f.name not in ("store", "productname")]
    array_fields = [T.StructField(c, T.ArrayType(T.IntegerType())) for c in FORECAST_ARRAYS]
    schema = T.StructType(key_fields + metric_fields + array_fields)
    timed = _with_time_cols(sales, _DATE_COL)
    if model_spec == "seasonal_naive":
        kernel = make_fit_forecast_batch_kernel(keys, horizon_start, horizon_days)
        # guide §4.1: prune to the kernel's columns — the raw date column
        # is unused on the fast path (see ml/train.train_groups)
        timed = timed.select(*keys, _Y_COL, "__dow", "__ord")
        return sorted_group_map(timed, keys, kernel, schema, order_cols=("__ord",))
    fn = make_fit_forecast_fn(keys, horizon_start, horizon_days, model_spec=model_spec)
    return hash_partition(timed, keys).groupBy(*keys).applyInPandas(fn, schema)


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


_OUT_COLS = (
    "forecast_date",
    "forecast_sale",
    "lower_ci",
    "upper_ci",
    "model_name",
    "model_version",
)


def make_gated_forecast_fn(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    model_spec: str = "seasonal_naive",
    n_splits: int = 5,
    date_col: str = "ds",
    y_col: str = "y",
    max_rmse: float = 1000.0,
):
    """Executor-side group function: CV-evaluate, gate on rmse, and emit
    the horizon forecast rows for survivors (empty frame for rejects)."""

    fast = model_spec == "seasonal_naive"
    empty = pd.DataFrame(columns=[*keys, *_OUT_COLS])
    # group-invariant horizon artifacts, hoisted out of the kernel
    dates = pd.date_range(pd.Timestamp(horizon_start), periods=horizon_days, freq="D")
    h_dows = dates.dayofweek.to_numpy()
    f_dates = dates.date

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rmses: list[float] = []
        if fast:
            # numpy end to end: JVM-precomputed __ord/__dow (fallback to
            # to_datetime when absent), argsort instead of a pandas sort,
            # rmse on raw arrays — the per-group pandas constant is the
            # whole wall-clock story at thousands of groups
            if "__ord" in pdf:
                order = np.argsort(pdf["__ord"].to_numpy(), kind="stable")
                dows = pdf["__dow"].to_numpy()[order]
            else:
                ds = pd.to_datetime(pdf[date_col])
                order = np.argsort(ds.to_numpy(), kind="stable")
                dows = ds.dt.dayofweek.to_numpy()[order]
            ys = pdf[y_col].to_numpy(dtype=float)[order]
            n = len(ys)
        else:
            pdf = pdf.sort_values(date_col).reset_index(drop=True)
            history = pd.DataFrame({"ds": pdf[date_col], "y": pdf[y_col]})
            n = len(history)
        for train_end, test_end in _split_bounds(n, n_splits):
            if train_end < 1:
                continue
            if fast:
                yhat = _seasonal_naive_fold_preds(ys, dows, train_end, test_end)
                err = ys[train_end:test_end] - yhat
                rmses.append(float(math.sqrt((err * err).mean())))
            else:
                model = get_model(model_spec).fit(history.iloc[:train_end])
                fold = history.iloc[train_end:test_end]
                yhat = model.predict(fold["ds"])["yhat"].reset_index(drop=True)
                fold_y = fold["y"].reset_index(drop=True)
                rmses.append(_metrics(fold_y, yhat)[0])
        if not rmses:  # no evaluable split → NULL rmse → gate fails
            return empty
        rmse = _round_half_away(sum(rmses) / len(rmses), 4)
        if not (rmse <= max_rmse):
            return empty

        if fast:
            # numpy LUT predict — identical arithmetic to
            # SeasonalNaiveModel.predict (float yhat, ±10%, int-truncate)
            yhat = _seasonal_naive_lut(ys, dows)[h_dows]
            out = {
                "forecast_date": f_dates,
                "forecast_sale": yhat.astype(int),
                "lower_ci": (yhat * 0.9).astype(int),
                "upper_ci": (yhat * 1.1).astype(int),
            }
            version = SeasonalNaiveModel.version
        else:
            model = get_model(model_spec).fit(history)
            pred = model.predict(pd.Series(dates))
            out = {
                "forecast_date": pred["ds"].dt.date,
                "forecast_sale": pred["yhat"],
                "lower_ci": pred["yhat_lower"],
                "upper_ci": pred["yhat_upper"],
            }
            version = model.version
        key_vals = {k: pdf[k].iloc[0] for k in keys}
        store = key_vals.get(keys[0])
        product = key_vals.get(keys[1]) if len(keys) > 1 else ""
        res = pd.DataFrame(
            {**{k: [v] * horizon_days for k, v in key_vals.items()}, **out}
        )
        res["model_name"] = MODEL_NAME_FMT.format(store=store, product=product)
        res["model_version"] = version
        return res

    return fn


def make_gated_batch_kernel(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    n_splits: int = 5,
    y_col: str = "y",
    max_rmse: float = 1000.0,
):
    """Batch kernel twin of the fused CV→gate→predict group function for
    :func:`operators.groupmap.sorted_group_map`: evaluates and gates every
    group of an Arrow batch, then assembles ONE output frame holding the
    horizon rows of the survivors (rejects contribute nothing — no
    per-reject empty frame, no per-survivor one-group frame).  Fold rmse,
    half-away rounding, the ``<= max_rmse`` comparison, and the LUT
    predict arithmetic are expression-identical to the per-group path, so
    the composed-pipeline oracle (``_GATED_SQL``) hash is unchanged."""
    from .train import _fold_preds_from_positions

    dates = pd.date_range(pd.Timestamp(horizon_start), periods=horizon_days, freq="D")
    h_dows = dates.dayofweek.to_numpy()
    f_dates = np.asarray(dates.date, dtype=object)
    version = SeasonalNaiveModel.version

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ys_all = pdf[y_col].to_numpy(dtype=float)
        dows_all = pdf["__dow"].to_numpy()
        g = len(starts)
        keep: list[int] = []
        yhat_rows: list[np.ndarray] = []
        for gi in range(g):
            s, e = int(starts[gi]), int(ends[gi])
            ys = ys_all[s:e]
            dows = dows_all[s:e]
            rmses: list[float] = []
            wd_pos = None
            for train_end, test_end in _split_bounds(e - s, n_splits):
                if train_end < 1:
                    continue
                if wd_pos is None:
                    wd_pos = [np.nonzero(dows == wd)[0] for wd in range(7)]
                yhat = _fold_preds_from_positions(ys, dows, wd_pos, train_end, test_end)
                err = ys[train_end:test_end] - yhat
                rmses.append(float(math.sqrt((err * err).mean())))
            if not rmses:
                continue  # NULL rmse → gate fails
            rmse = _round_half_away(sum(rmses) / len(rmses), 4)
            if not (rmse <= max_rmse):
                continue
            keep.append(gi)
            yhat_rows.append(_seasonal_naive_lut(ys, dows)[h_dows])
        if not keep:
            return pd.DataFrame(columns=[*keys, *_OUT_COLS])
        kept = np.asarray(keep, dtype=np.int64)
        yhat_mat = np.vstack(yhat_rows)
        kept_starts = np.asarray(starts)[kept]
        key_arrs = {
            k: np.repeat(pdf[k].to_numpy()[kept_starts], horizon_days) for k in keys
        }
        stores = pdf[keys[0]].to_numpy()[kept_starts]
        products = (
            pdf[keys[1]].to_numpy()[kept_starts] if len(keys) > 1 else [""] * len(kept)
        )
        names = np.repeat(
            np.asarray(
                [
                    MODEL_NAME_FMT.format(store=s_, product=p_)
                    for s_, p_ in zip(stores, products)
                ],
                dtype=object,
            ),
            horizon_days,
        )
        return pd.DataFrame(
            {
                **key_arrs,
                "forecast_date": np.tile(f_dates, len(kept)),
                "forecast_sale": yhat_mat.astype(int).ravel(),
                "lower_ci": (yhat_mat * 0.9).astype(int).ravel(),
                "upper_ci": (yhat_mat * 1.1).astype(int).ravel(),
                "model_name": names,
                "model_version": version,
            }
        )

    return kernel


def gated_forecast_groups(
    sales: DataFrame,
    keys: Sequence[str] = ("store", "productname"),
    *,
    horizon_start: _dt.date,
    horizon_days: int = 7,
    model_spec: str = "seasonal_naive",
    n_splits: int = 5,
    date_col: str = "date",
    y_col: str = "sales",
    max_rmse: float = 1000.0,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Forecast rows for the groups whose walk-forward CV rmse meets the
    bar — identical output to ``forecast_groups(gate_series(series,
    train_groups(series)))`` in one grouped-map job instead of two plus a
    join.  Fast-model routing mirrors ``train_groups``: batch-amortized
    ``sorted_group_map`` for the deterministic model (``pre_partitioned``
    skips the exchange), per-group ``applyInPandas`` for heavy models."""
    from pyspark.sql import types as T

    key_fields = [sales.schema[k] for k in keys]
    out_fields = [
        T.StructField("forecast_date", T.DateType()),
        T.StructField("forecast_sale", T.IntegerType()),
        T.StructField("lower_ci", T.IntegerType()),
        T.StructField("upper_ci", T.IntegerType()),
        T.StructField("model_name", T.StringType()),
        T.StructField("model_version", T.StringType()),
    ]
    schema = T.StructType(key_fields + out_fields)
    timed = _with_time_cols(sales, date_col)
    if model_spec == "seasonal_naive":
        kernel = make_gated_batch_kernel(
            keys,
            horizon_start,
            horizon_days,
            n_splits=n_splits,
            y_col=y_col,
            max_rmse=max_rmse,
        )
        # guide §4.1: prune to the kernel's columns — the raw date column
        # is unused on the fast path (see ml/train.train_groups)
        timed = timed.select(*keys, y_col, "__dow", "__ord")
        return sorted_group_map(
            timed,
            keys,
            kernel,
            schema,
            order_cols=("__ord",),
            pre_partitioned=pre_partitioned,
        )
    fn = make_gated_forecast_fn(
        keys,
        horizon_start,
        horizon_days,
        model_spec=model_spec,
        n_splits=n_splits,
        date_col=date_col,
        y_col=y_col,
        max_rmse=max_rmse,
    )
    return hash_partition(timed, keys).groupBy(*keys).applyInPandas(fn, schema)
