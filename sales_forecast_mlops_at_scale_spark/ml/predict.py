"""Grouped-map batch forecasting — UDTF-shaped: each key group expands to
one row per horizon date.

Replaces the reference's forecast service loop (SURVEY.md §2.9 U5): a
sequential per-request HTTP handler that re-loads the model from MLflow
per (store, product) and times out past ~1,000 requests
(``forecast-service/app/main.py:67-116``).  Here the request set is a
DataFrame and predict is one ``applyInPandas`` job — ≥1,000 groups is just
≥1,000 Arrow batches across executors (the BASELINE.md scale target).

Fit-at-predict: the group function receives the group's *history* and
fits the (cheap, deterministic) model in-batch, which keeps the whole
flow a single job with no registry round-trip.  For heavy models, train
via ``train.train_groups`` and persist parameters to a table joined in as
a broadcast — the dataflow shape is unchanged.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.groupmap import hash_partition, sorted_group_map
from .models import MODEL_NAME_FMT, get_model
from .train import _seasonal_naive_lut


def make_predict_fn(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    model_spec: str = "seasonal_naive",
    date_col: str = "ds",
    y_col: str = "y",
):
    fast = model_spec == "seasonal_naive"
    # the horizon is group-invariant: one date_range / weekday vector /
    # date array for the whole job, not one per group
    dates = pd.date_range(pd.Timestamp(horizon_start), periods=horizon_days, freq="D")
    h_dows = dates.dayofweek.to_numpy()
    f_dates = dates.date

    def predict_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if fast:
            # vectorized twin of SeasonalNaiveModel.fit/predict (see
            # train._seasonal_naive_lut): JVM-precomputed __ord/__dow +
            # numpy argsort + LUT instead of a pandas sort + to_datetime
            # + groupby PER GROUP — the per-group constant is what bounds
            # throughput at thousands of groups
            import numpy as np

            if "__ord" in pdf:
                order = np.argsort(pdf["__ord"].to_numpy(), kind="stable")
                ys = pdf[y_col].to_numpy(dtype=float)[order]
                dows = pdf["__dow"].to_numpy()[order]
            else:
                ds_sorted = pd.to_datetime(pdf[date_col]).sort_values()
                ys = pdf[y_col].to_numpy(dtype=float)[ds_sorted.index.to_numpy()]
                dows = ds_sorted.dt.dayofweek.to_numpy()
            yhat = _seasonal_naive_lut(ys, dows)[h_dows]
            out = {
                "forecast_date": f_dates,
                "forecast_sale": yhat.astype(int),
                "lower_ci": (yhat * 0.9).astype(int),
                "upper_ci": (yhat * 1.1).astype(int),
            }
            version = "1"
        else:
            history = pd.DataFrame({"ds": pdf[date_col], "y": pdf[y_col]})
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

    return predict_fn


def make_predict_batch_kernel(
    keys: Sequence[str],
    horizon_start: _dt.date,
    horizon_days: int,
    *,
    y_col: str = "y",
):
    """Batch kernel twin of ``predict_fn``'s fast path for
    :func:`operators.groupmap.sorted_group_map`: one (groups × horizon)
    numpy forecast matrix per Arrow batch, one output frame per batch —
    instead of a pandas frame per group.  Rows arrive pre-sorted by
    ``__ord``, so the per-group argsort disappears.  Float arithmetic and
    int truncation are expression-identical to ``predict_fn`` /
    ``SeasonalNaiveModel.predict``."""
    import numpy as np

    from .models import SeasonalNaiveModel

    dates = pd.date_range(pd.Timestamp(horizon_start), periods=horizon_days, freq="D")
    h_dows = dates.dayofweek.to_numpy()
    f_dates = np.asarray(dates.date, dtype=object)
    version = SeasonalNaiveModel.version

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ys_all = pdf[y_col].to_numpy(dtype=float)
        dows_all = pdf["__dow"].to_numpy()
        g = len(starts)
        yhat = np.empty((g, horizon_days))
        for gi in range(g):
            s, e = int(starts[gi]), int(ends[gi])
            yhat[gi] = _seasonal_naive_lut(ys_all[s:e], dows_all[s:e])[h_dows]
        key_arrs = {
            k: np.repeat(pdf[k].to_numpy()[starts], horizon_days) for k in keys
        }
        stores = pdf[keys[0]].to_numpy()[starts]
        products = (
            pdf[keys[1]].to_numpy()[starts] if len(keys) > 1 else [""] * g
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
                "forecast_date": np.tile(f_dates, g),
                "forecast_sale": yhat.astype(int).ravel(),
                "lower_ci": (yhat * 0.9).astype(int).ravel(),
                "upper_ci": (yhat * 1.1).astype(int).ravel(),
                "model_name": names,
                "model_version": version,
            }
        )

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
    """7-day (by default) forecast rows per key group.

    ``horizon_start`` is explicit — the reference derives it from
    ``datetime.now()`` (``task_operators.py:68-74``), its reproducibility
    hazard; callers bind a Clock instead.

    Fast-model routing mirrors :func:`ml.train.train_groups`: the
    deterministic model runs batch-amortized via ``sorted_group_map``
    (``pre_partitioned`` skips the exchange for key-partitioned input);
    pluggable heavy models keep per-group ``applyInPandas``."""
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
        kernel = make_predict_batch_kernel(
            keys, horizon_start, horizon_days, y_col=y_col
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
    fn = make_predict_fn(
        keys,
        horizon_start,
        horizon_days,
        model_spec=model_spec,
        date_col=date_col,
        y_col=y_col,
    )
    return hash_partition(timed, keys).groupBy(*keys).applyInPandas(fn, schema)
