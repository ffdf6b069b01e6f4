"""Grouped-map batch forecasting — UDTF-shaped: each key group expands to
one row per horizon date.

Replaces the reference's forecast service loop (SURVEY.md §2.9 U5): a
sequential per-request HTTP handler that re-loads the model from MLflow
per (store, product) and times out past ~1,000 requests
(``forecast-service/app/main.py:67-116``).  Here the request set is a
DataFrame and predict is one grouped-map job
(``train._grouped_model_pass``): the seasonal-naive model as a batch
kernel over sorted partitions, dozens of groups per Arrow batch, any
other model as one ``applyInPandas`` call per group — ≥1,000 groups are
spread across executors either way (the BASELINE.md scale target).

Fit-at-predict: the group function receives the group's *history* and
fits the (cheap, deterministic) model in-batch, which keeps the whole
flow a single job with no registry round-trip.  For heavy models, train
via ``train.train_groups`` and persist parameters to a table joined in as
a broadcast — the dataflow shape is unchanged.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import FORECAST_OUTPUT
from .models import MODEL_NAME_FMT, SeasonalNaiveModel, get_model
from .train import _grouped_model_pass, _model_names, _seasonal_naive_lut


def _horizon(horizon_start: _dt.date, horizon_days: int):
    """The group-invariant horizon, built once per job: its dates, their
    weekdays, and their ``datetime.date`` values."""
    dates = pd.date_range(pd.Timestamp(horizon_start), periods=horizon_days, freq="D")
    return dates, dates.dayofweek.to_numpy(), np.asarray(dates.date, dtype=object)


def _forecast_frame(pdf: pd.DataFrame, keys: Sequence[str], starts, yhat, f_dates) -> pd.DataFrame:
    """FORECAST_OUTPUT rows of the batch groups whose first row is at
    ``starts``: ``yhat`` is their (groups × horizon) float forecast,
    truncated to int like ``SeasonalNaiveModel.predict`` (±10 % bands)."""
    horizon_days = len(f_dates)
    return pd.DataFrame(
        {
            **{k: np.repeat(pdf[k].to_numpy()[starts], horizon_days) for k in keys},
            "forecast_date": np.tile(f_dates, len(starts)),
            "forecast_sale": yhat.astype(int).ravel(),
            "lower_ci": (yhat * 0.9).astype(int).ravel(),
            "upper_ci": (yhat * 1.1).astype(int).ravel(),
            "model_name": np.repeat(
                np.asarray(_model_names(pdf, keys, starts), dtype=object), horizon_days
            ),
            "model_version": SeasonalNaiveModel.version,
        }
    )


def make_predict_fn(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    model_spec: str = "seasonal_naive",
    date_col: str = "ds",
    y_col: str = "y",
):
    """Build the per-group function for ``applyInPandas``: fit
    ``get_model(model_spec)`` on the group's history, one forecast row
    out per horizon date."""
    dates = _horizon(horizon_start, horizon_days)[0]

    def predict_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        history = pd.DataFrame({"ds": pdf[date_col], "y": pdf[y_col]})
        model = get_model(model_spec).fit(history)
        pred = model.predict(pd.Series(dates))
        key_vals = {k: pdf[k].iloc[0] for k in keys}
        store = key_vals.get(keys[0])
        product = key_vals.get(keys[1]) if len(keys) > 1 else ""
        res = pd.DataFrame(
            {
                **{k: [v] * horizon_days for k, v in key_vals.items()},
                "forecast_date": pred["ds"].dt.date,
                "forecast_sale": pred["yhat"],
                "lower_ci": pred["yhat_lower"],
                "upper_ci": pred["yhat_upper"],
            }
        )
        res["model_name"] = MODEL_NAME_FMT.format(store=store, product=product)
        res["model_version"] = model.version
        return res

    return predict_fn


def make_predict_batch_kernel(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    y_col: str = "y",
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    seasonal-naive forecast of :func:`make_predict_fn` as one (groups ×
    horizon) numpy matrix per Arrow batch, one output frame per batch —
    instead of a pandas frame per group.  Rows arrive pre-sorted by
    ``__ord``, so no per-group sort runs.  Float arithmetic and int
    truncation are expression-identical to
    ``SeasonalNaiveModel.predict``."""
    _, h_dows, f_dates = _horizon(horizon_start, horizon_days)

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ys_all = pdf[y_col].to_numpy(dtype=float)
        dows_all = pdf["__dow"].to_numpy()
        yhat = np.empty((len(starts), horizon_days))
        for gi in range(len(starts)):
            s, e = int(starts[gi]), int(ends[gi])
            yhat[gi] = _seasonal_naive_lut(ys_all[s:e], dows_all[s:e])[h_dows]
        return _forecast_frame(pdf, keys, starts, yhat, f_dates)

    return kernel


def forecast_groups(
    sales: DataFrame,
    keys: Sequence[str] = ("store", "productname"),
    *,
    horizon_start: _dt.date,
    horizon_days: int = 7,
    model_spec: str = "seasonal_naive",
    date_col: str = "date",
    y_col: str = "sales",
    pre_partitioned: bool = False,
) -> DataFrame:
    """7-day (by default) forecast rows per key group: FORECAST_OUTPUT
    with the key columns' actual types substituted, routed by
    ``train._grouped_model_pass`` (``pre_partitioned`` skips the exchange
    for key-partitioned input).

    ``horizon_start`` is explicit — the reference derives it from
    ``datetime.now()`` (``task_operators.py:68-74``), its reproducibility
    hazard; callers bind a Clock instead."""
    return _grouped_model_pass(
        sales,
        keys,
        FORECAST_OUTPUT,
        model_spec=model_spec,
        batch_kernel=make_predict_batch_kernel(keys, horizon_start, horizon_days, y_col=y_col),
        group_fn=make_predict_fn(
            keys, horizon_start, horizon_days,
            model_spec=model_spec, date_col=date_col, y_col=y_col,
        ),
        date_col=date_col,
        y_col=y_col,
        pre_partitioned=pre_partitioned,
    )
