"""Fused train → gate → predict in ONE grouped pass.

The composed pipeline (``train_groups`` → ``gate_series`` →
``forecast_groups``) is the right shape when metrics must be *persisted*
(the reference registers them in MLflow,
``services/training-service/app/train_utils.py:125-149``) — but when the
only consumer of the metrics is the quality gate itself
(``services/forecast-service/app/handlers/mlflow.py:32-40``), composing
them costs TWO grouped-map shuffles of the same series plus a semi-join.

This operator runs walk-forward CV, the rmse gate, and the horizon
forecast inside a single ``applyInPandas`` group function: one shuffle on
the group keys, one Arrow round-trip, and rejected groups emit zero rows
without any predict work being scheduled.  At 100 TB this halves the
dominant cost of the weekly job (the series shuffle) while producing
byte-identical output to the composed pipeline — which is exactly what
the oracle checks (``plans/ml_queries.py::_GATED_SQL`` derives the gate
from the *composed* definition).

Gate semantics are replicated exactly from the composed path:
the mean CV rmse is rounded half-away-from-zero to 4 decimals *before*
the ``<= max_rmse`` comparison (``train.train_fn`` rounds its emitted
metrics), and a group with too little history for any CV split (NULL
rmse) fails the gate — an unevaluated model is not a trusted model.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame

import math

import numpy as np

from ..operators.groupmap import hash_partition, sorted_group_map
from .models import MODEL_NAME_FMT, SeasonalNaiveModel, get_model
from .train import (
    _metrics,
    _round_half_away,
    _seasonal_naive_fold_preds,
    _seasonal_naive_lut,
    _split_bounds,
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
    from .train import _with_time_cols

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
