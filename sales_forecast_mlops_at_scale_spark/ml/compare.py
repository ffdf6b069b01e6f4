"""Champion/challenger model comparison — one grouped-map pass.

The reference trains exactly one model family (Prophet) per (store,
product) and serves whatever came out (train_utils.py:72-151); there is
no challenger, so a store whose demand went flat keeps paying Prophet's
fit cost and serving its worse fit forever.  Production MLOps runs a
champion/challenger bake-off: evaluate ≥ 2 model families on the SAME
walk-forward CV folds and promote the winner per group.

This module evaluates three deterministic families in ONE pass:

- ``seasonal_naive`` (champion/incumbent): latest same-weekday value in
  the train window, train-mean fallback (ml/models.SeasonalNaiveModel).
- ``moving_average`` (challenger): the mean of the last ``MA_WINDOW``
  train-window OBSERVATIONS, constant across the fold — the right model
  when weekday seasonality is noise (ml/models.MovingAverageModel).
- ``lag_7`` (feature-matrix challenger, VERDICT r8 #4): serve each test
  day its OWN trailing ``lag_7`` feature from
  :func:`ml.features.feature_matrix` — the value exactly 7 calendar
  days earlier, point-in-time by the feature frame's construction —
  falling back to the fold's moving-average level on gap days.  This is
  the rolling one-day-ahead serving mode a feature-based model actually
  runs in production (the other two freeze at train_end), and it closes
  the control loop: the leak-free feature matrix FEEDS the bake-off and
  the retrain decision instead of standing alone.

All models share the group's fold bounds, so the comparison is
apples-to-apples by construction; promotion compares the 4-digit-rounded
CV RMSE both engines already share (never a raw-double coin flip), ties
keep the incumbent (and ``moving_average`` beats ``lag_7`` on a
challenger tie — strict inequality required to promote the newer
family).

Scale: ONE ``sorted_group_map`` job (same shape as ml/train.py — the
series shuffles once on the group keys; the lag feature is a RANGE
frame over that same Exchange+Sort, zero extra shuffles); all three
models fit inside the same Arrow batch visit, over the shared CV test
rows of ``train._cv_test_rows``, so the challengers cost numpy means per
fold, not more passes over 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.groupmap import sorted_group_map
from .train import N_SPLITS, _cv_average, _cv_test_rows, _fold_rmse, _window_mean

COMPARE_SCHEMA = (
    "l_suppkey long, l_returnflag string, n_rows long, n_splits int, "
    "rmse_sn double, rmse_ma double, rmse_lag double, champion string"
)

#: the challenger's trailing-mean window in train-window observations
#: (also the oracle SQL's)
MA_WINDOW = 28


def make_compare_kernel(keys: Sequence[str]):
    """Batch kernel: walk-forward CV RMSE for all THREE models over
    identical folds, plus the promotion verdict, for every group of the
    batch at once (``train._cv_test_rows``).  Expects a ``lag_7`` column
    (the point-in-time feature from ``ml.features.feature_matrix``; NaN
    on gap days)."""

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ys = pdf["y"].to_numpy(dtype=float)
        grp, fold, rows, train_end, yhat_sn = _cv_test_rows(
            ys, pdf["__dow"].to_numpy(), starts, ends, N_SPLITS
        )
        y = ys[rows]
        # challenger: trunc(mean of the last MA_WINDOW train rows),
        # constant over the fold (MovingAverageModel semantics)
        lo = np.maximum(starts[grp], train_end - MA_WINDOW)
        yhat_ma = np.trunc(_window_mean(ys, lo, train_end))
        # feature challenger: each test day served its OWN trailing
        # lag_7 (rolling one-day-ahead), MA level on gap days — exact
        # integers either way
        lag = pdf["lag_7"].to_numpy(dtype=float)[rows]
        yhat_lag = np.where(np.isnan(lag), yhat_ma, lag)
        trained = ends - starts > N_SPLITS
        r_sn, r_ma, r_lag = (
            _cv_average(_fold_rmse(y, yhat, fold), trained, N_SPLITS)
            for yhat in (yhat_sn, yhat_ma, yhat_lag)
        )
        return pd.DataFrame(
            {
                **{k: pdf[k].to_numpy()[starts] for k in keys},
                "n_rows": (ends - starts).astype("int64"),
                "n_splits": trained.astype("int32") * N_SPLITS,
                "rmse_sn": r_sn,
                "rmse_ma": r_ma,
                "rmse_lag": r_lag,
                # promotion on the ROUNDED values both engines share; ties
                # keep the incumbent, and the older challenger on a
                # challenger tie (strictly-better-or-stay)
                "champion": np.select(
                    [~trained, (r_lag < r_sn) & (r_lag < r_ma), r_ma < r_sn],
                    ["untrained", "lag_7", "moving_average"],
                    "seasonal_naive",
                ),
            }
        )

    return kernel


def compare_models_groups(
    series: DataFrame,
    keys: Sequence[str],
    *,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Per-group champion/challenger CV bake-off (see module doc) of a
    ``ds`` / ``y`` series.

    The ``lag_7`` column rides :func:`ml.features.feature_matrix`'s
    calendar-RANGE frame over the SAME Exchange+Sort the grouped map
    needs (``pre_partitioned=True`` keeps it one shuffle end-to-end),
    so the feature-based challenger adds zero data-scale movement.
    The grouped map's sort key ``__ord`` is an ALIAS of the feature
    frame's own ``__di`` day index (``keep_day_index=True``) — the
    Window's partition-local order then already satisfies the
    ``mapInPandas`` required ordering and Catalyst elides the second
    Sort; recomputing the epoch day as a fresh expression (what
    ``_with_time_cols`` does) breaks the alias chain and re-sorts the
    whole series per partition."""
    from .features import feature_matrix

    feats = feature_matrix(
        series, keys, lags=(7,), ma_window=MA_WINDOW, keep_day_index=True
    )
    with_cols = feats.withColumn(
        "__dow", ((F.dayofweek(F.col("ds")) + 5) % 7).cast("int")
    ).withColumn("__ord", F.col("__di"))
    return sorted_group_map(
        with_cols.select(*keys, "__dow", "__ord", "y", "lag_7"),
        keys,
        make_compare_kernel(keys),
        COMPARE_SCHEMA,
        order_cols=["__ord"],
        pre_partitioned=pre_partitioned,
    )
