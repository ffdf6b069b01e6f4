"""Grouped-map batch forecasting — UDTF-shaped: each key group expands to
one row per horizon date.

Replaces the reference's forecast service loop (SURVEY.md §2.9 U5): a
sequential per-request HTTP handler that re-loads the model from MLflow
per (store, product) and times out past ~1,000 requests
(``forecast-service/app/main.py:67-116``).  Here the request set is a
DataFrame and predict is one grouped-map job over sorted partitions
(``train._grouped_model_pass``), dozens of groups per Arrow batch: the
seasonal-naive model as one (groups × horizon) numpy kernel, any other
model fit per group of the batch by ``train.make_model_kernel`` —
≥1,000 groups are spread across executors either way (the BASELINE.md
scale target).

Fit-at-predict: the kernel receives each group's *history* and fits the
(cheap, deterministic) model in-batch, which keeps the whole flow a
single job with no registry round-trip.  For heavy models, train via
``train.train_groups`` and persist parameters to a table joined in as a
broadcast — the dataflow shape is unchanged.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..schemas import FORECAST_OUTPUT
from .models import SeasonalNaiveModel
from .train import (
    _forecast_frame,
    _grouped_model_pass,
    _has_batch_kernel,
    _horizon,
    _seasonal_naive,
    make_model_kernel,
)


def make_predict_batch_kernel(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    model_spec: str = "seasonal_naive",
    y_col: str = "y",
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    horizon forecast of every group of an Arrow batch, one output frame
    per batch.  For the seasonal-naive model it is one (groups ×
    horizon) numpy matrix instead of a pandas frame per group; rows
    arrive pre-sorted by ``__ord``, so no per-group sort runs.  Float
    arithmetic and int truncation (±10 % bands) are
    expression-identical to ``SeasonalNaiveModel.predict``."""
    if not _has_batch_kernel(model_spec):
        return make_model_kernel(
            keys, model_spec, y_col=y_col, horizon=(horizon_start, horizon_days)
        )
    _, h_dows, f_dates = _horizon(horizon_start, horizon_days)

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        # one train._seasonal_naive query per (group, horizon day), each
        # fit on the group's whole history
        yhat = _seasonal_naive(
            pdf[y_col].to_numpy(dtype=float),
            pdf["__dow"].to_numpy(),
            np.repeat(starts, horizon_days),
            np.repeat(ends, horizon_days),
            np.tile(h_dows, len(starts)),
        ).reshape(len(starts), horizon_days)
        bands = yhat.astype(int), (yhat * 0.9).astype(int), (yhat * 1.1).astype(int)
        return _forecast_frame(pdf, keys, starts, *bands, f_dates, SeasonalNaiveModel.version)

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
    with the key columns' actual types substituted, run by
    ``train._grouped_model_pass`` (``pre_partitioned`` skips the exchange
    for key-partitioned input).

    ``horizon_start`` is explicit — the reference derives it from
    ``datetime.now()`` (``task_operators.py:68-74``), its reproducibility
    hazard; callers bind a Clock instead."""
    return _grouped_model_pass(
        sales,
        keys,
        FORECAST_OUTPUT,
        make_predict_batch_kernel(
            keys, horizon_start, horizon_days, model_spec=model_spec, y_col=y_col
        ),
        date_col=date_col,
        y_col=y_col,
        pre_partitioned=pre_partitioned,
    )
