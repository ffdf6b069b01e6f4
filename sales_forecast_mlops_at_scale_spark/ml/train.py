"""Grouped-map training with walk-forward cross-validation.

Re-expresses the reference's weekly training job (SURVEY.md §3.2) — Ray
task per (store, product), ``train_utils.py:72-151`` — as ONE Spark job.
Every grouped model pass takes one route, :func:`_grouped_model_pass`:
a batch kernel over sorted partitions
(``operators/groupmap.sorted_group_map``), many groups per Arrow batch.
Only the kernel depends on the model (:func:`_has_batch_kernel`): the
seasonal-naive model has vectorized kernels — :func:`_cv_test_rows` is
the one seasonal-naive walk-forward CV of ``ml/``, numpy over every
group of a batch at once, shared by the train, fused, gated, compare and
conformal kernels (the predict kernels run its model,
:func:`_seasonal_naive`, on the whole history) — and every other model
runs through :func:`make_model_kernel`, which fits the model from
``get_model`` on each group of the batch.

The reference's ``ray.put(df)`` broadcast of the full frame to 1,115 tasks
(``ray_train_all_job.py:37``) becomes the groupBy shuffle: each executor
receives only its groups' rows (Arrow batches), which is what makes the
same code hold at 100 TB — no node ever sees the whole table.

Walk-forward CV mirrors ``TimeSeriesSplit(n_splits=5)``
(``train_utils.py:94-123``): expanding train window, fixed-size eval
window, metrics averaged over splits.

Skew note: group sizes are bounded (≤ a few years of daily rows), so the
shuffle is uniform.  The model stage runs in exactly
``spark.sql.shuffle.partitions`` tasks — the grouped map fixes that
count itself, because AQE would coalesce a stage this small in bytes
into one task (``operators/groupmap.hash_partition``) — so set it to at
least the executor core count.
"""

from __future__ import annotations

import datetime as _dt
import math
from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..operators.groupmap import sorted_group_map
from ..schemas import TRAIN_METRICS
from .models import MODEL_NAME_FMT, SeasonalNaiveModel, get_model

#: walk-forward CV splits (``TimeSeriesSplit(n_splits=5)``, module doc)
N_SPLITS = 5
#: a model's forecast columns, as (forecast_sale, lower_ci, upper_ci)
_BANDS = ["yhat", "yhat_lower", "yhat_upper"]


def _with_time_cols(df: DataFrame, date_col: str) -> DataFrame:
    """Attach ``__dow`` (pandas ``dt.dayofweek`` numbering: Monday = 0)
    and ``__ord`` (epoch-day sort key) as JVM columns BEFORE the
    grouped-map shuffle.  Per-group ``pd.to_datetime`` has a fixed
    ~0.1-0.2 ms setup cost — at thousands of groups that constant is a
    measurable slice of the whole job, while the JVM computes both
    columns inside whole-stage codegen for free."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "__dow", ((F.dayofweek(F.col(date_col)) + 5) % 7).cast("int")
    ).withColumn("__ord", F.datediff(F.col(date_col), F.lit("1970-01-01")))


def _split_bounds(n: int, n_splits: int) -> list[tuple[int, int]]:
    """sklearn TimeSeriesSplit bounds: expanding train, equal test folds.

    Returns [(train_end, test_end)] index pairs over a time-ordered frame
    (mirrors train_utils.py:96 semantics without the sklearn dependency).
    """
    n_folds = n_splits + 1
    test_size = n // n_folds
    if test_size == 0:
        return []
    return [
        (n - (n_splits - i) * test_size, n - (n_splits - i) * test_size + test_size)
        for i in range(n_splits)
    ]


def _round_half_away(x, ndigits: int = 4):
    """Half-away-from-zero rounding — matching SQL ROUND (Spark HALF_UP,
    DuckDB std::round) — of a float or, elementwise, of an array.
    Python's built-in ``round`` is banker's rounding and diverges at
    exact .xxxx5 boundaries, which integral sales values hit constantly
    (e.g. mean MAE 16.15625 → SQL 16.1563, Python 16.1562) — a real
    hash-mismatch caught by the oracle harness."""
    p = 10.0**ndigits
    return np.copysign(np.floor(np.abs(x) * p + 0.5) / p, x)


def _metrics_np(y, yhat) -> tuple[float, float, float, float]:
    """RMSE / MAPE / MAE / MedAE — the reference's four metrics
    (train_utils.py:38-53) — on raw float64 numpy arrays: none of the
    pandas Series construction overhead that dominates grouped-map wall
    time at thousands of groups × folds.  MAPE skips zero actuals and is
    NaN (SQL NULL) when the fold has none, like the oracle's
    ``avg(CASE WHEN y <> 0 ...)``."""
    err = y - yhat
    abs_err = np.abs(err)
    rmse = float(math.sqrt((err * err).mean()))
    nz = y != 0
    mape = float((abs_err[nz] / y[nz]).mean()) if nz.any() else math.nan
    return rmse, mape, float(abs_err.mean()), float(np.median(abs_err))


def _window_mean(ys, lo, hi):
    """Mean of each batch window ``ys[lo[i]:hi[i]]``: differences of one
    ``cumsum``, exact — so equal to the per-window ``np.mean`` — while y
    is integral (demand counts, as every caller's is)."""
    csum = np.concatenate(([0.0], np.cumsum(ys)))
    return (csum[hi] - csum[lo]) / (hi - lo)


def _seasonal_naive(ys, dows, lo, hi, wd):
    """Seasonal-naive predictions for many windows of a sorted batch at
    once: query ``i`` fits on rows ``[lo[i], hi[i])`` and predicts
    weekday ``wd[i]`` — the latest same-weekday y in the window, else
    the window mean (``SeasonalNaiveModel`` before its int truncation).
    The latest row comes from one ``searchsorted`` per weekday on that
    weekday's row positions."""
    last = np.empty(len(hi), dtype=np.int64)
    for d in range(7):
        at = np.concatenate(([-1], np.flatnonzero(dows == d)))
        q = wd == d
        last[q] = at[np.searchsorted(at, hi[q]) - 1]
    return np.where(last >= lo, ys[last], _window_mean(ys, lo, hi))


def _cv_test_rows(ys, dows, starts, ends, n_splits: int):
    """Walk-forward CV of the seasonal-naive model for EVERY group of a
    sorted batch (group ``i`` is rows ``[starts[i], ends[i])``,
    time-ordered), with no Python loop over groups.

    ``TimeSeriesSplit`` folds (:func:`_split_bounds`): a group of ``n``
    rows has ``ts = n // (n_splits + 1)`` test rows per fold, so either
    no fold (``ts = 0``) or ``n_splits`` folds whose test rows tile its
    last ``n_splits · ts`` rows, each fold trained on every row before
    it (``train_end ≥ n - n_splits · ts ≥ ts ≥ 1``).  Returns flat
    arrays over all test rows, group-major, then fold, then time: group
    index, fold index in the batch (``fold % n_splits`` within the
    group), batch row, the fold's ``train_end`` (a batch row) and the
    int-truncated prediction (as float)."""
    ts = (ends - starts) // (n_splits + 1)
    n_test = n_splits * ts
    grp = np.repeat(np.arange(len(starts)), n_test)
    local = np.arange(len(grp)) - np.repeat(np.cumsum(n_test) - n_test, n_test)
    rows = (ends - n_test)[grp] + local
    train_end = rows - local % ts[grp]
    fold = np.repeat(np.cumsum(ts > 0) - 1, n_test) * n_splits + local // ts[grp]
    yhat = _seasonal_naive(ys, dows, starts[grp], train_end, dows[rows])
    return grp, fold, rows, train_end, yhat.astype(int).astype(float)


def _fold_mean(x, fold):
    """Per-fold mean of the test-row values ``x``: ``bincount`` sums,
    exact — so equal to ``np.mean``'s — for integral values."""
    return np.bincount(fold, weights=x) / np.bincount(fold)


def _fold_rmse(y, yhat, fold):
    """Per-fold RMSE of the predictions ``yhat`` of the test rows ``y``."""
    err = y - yhat
    return np.sqrt(_fold_mean(err * err, fold))


def _fold_metrics(y, yhat, fold):
    """RMSE / MAPE / MAE / MedAE of every CV fold: :func:`_metrics_np`
    over the flat test rows, same float operations.  The MAPE ratios are
    not integral, so their mean keeps ``np.mean``'s own summation order:
    one 2-D ``mean(axis=1)`` per distinct count of nonzero actuals."""
    abs_err = np.abs(y - yhat)
    size = np.bincount(fold)
    first = np.cumsum(size) - size
    srt = abs_err[np.lexsort((abs_err, fold))]
    medae = (srt[first + (size - 1) // 2] + srt[first + size // 2]) / 2
    nz = y != 0
    ratio = abs_err[nz] / y[nz]
    count = np.bincount(fold[nz], minlength=len(first))
    at = np.cumsum(count) - count
    mape = np.full(len(first), np.nan)
    for c in np.unique(count[count > 0]):
        f = np.flatnonzero(count == c)
        mape[f] = ratio[at[f, None] + np.arange(c)].mean(axis=1)
    return _fold_rmse(y, yhat, fold), mape, _fold_mean(abs_err, fold), medae


def _cv_average(per_fold, trained, n_splits: int):
    """Per batch group, the mean of its folds' metric rounded half-away
    to 4 digits (NaN where not ``trained``, i.e. no fold): folds added
    in fold order, as ``sum`` over a list does; NaN (NULL) folds are
    skipped, and a group whose folds are all NULL is NaN."""
    folds = per_fold.reshape(-1, n_splits)
    known = ~np.isnan(folds)
    total = np.zeros(len(folds))
    for k in range(n_splits):
        total = total + np.where(known[:, k], folds[:, k], 0.0)
    out = np.full(len(trained), np.nan)
    with np.errstate(invalid="ignore", divide="ignore"):
        out[trained] = _round_half_away(total / known.sum(axis=1), 4)
    return out


def _model_names(pdf: pd.DataFrame, keys: Sequence[str], starts) -> list[str]:
    """Registry name (``MODEL_NAME_FMT``) of each batch group whose first
    row is at ``starts``."""
    stores = pdf[keys[0]].to_numpy()[starts]
    products = pdf[keys[1]].to_numpy()[starts] if len(keys) > 1 else [""] * len(starts)
    return [MODEL_NAME_FMT.format(store=s_, product=p_) for s_, p_ in zip(stores, products)]


def _horizon(horizon_start: _dt.date, horizon_days: int):
    """The group-invariant horizon, built once per job: its dates, their
    weekdays, and their ``datetime.date`` values."""
    dates = pd.date_range(pd.Timestamp(horizon_start), periods=horizon_days, freq="D")
    return dates, dates.dayofweek.to_numpy(), np.asarray(dates.date, dtype=object)


def _metrics_frame(pdf, keys, starts, ends, n_folds, metrics, version) -> pd.DataFrame:
    """TRAIN_METRICS rows of the batch groups ``[starts[i], ends[i])``:
    ``n_folds`` CV folds run and ``metrics``, the (rmse, mape, mae,
    medae) fold means of each group."""
    return pd.DataFrame(
        {
            **{k: pdf[k].to_numpy()[starts] for k in keys},
            "n_rows": (ends - starts).astype("int64"),
            "n_splits": n_folds,
            **dict(zip(("rmse", "mape", "mae", "medae"), metrics)),
            "model_name": _model_names(pdf, keys, starts),
            "model_version": version,
        }
    )


def _forecast_frame(pdf, keys, starts, sale, lower, upper, f_dates, version) -> pd.DataFrame:
    """FORECAST_OUTPUT rows of the batch groups whose first row is at
    ``starts``: ``sale`` / ``lower`` / ``upper`` are their (groups ×
    horizon) int forecasts and bands."""
    horizon_days = len(f_dates)
    return pd.DataFrame(
        {
            **{k: np.repeat(pdf[k].to_numpy()[starts], horizon_days) for k in keys},
            "forecast_date": np.tile(f_dates, len(starts)),
            "forecast_sale": sale.ravel(),
            "lower_ci": lower.ravel(),
            "upper_ci": upper.ravel(),
            "model_name": np.repeat(
                np.asarray(_model_names(pdf, keys, starts), dtype=object), horizon_days
            ),
            "model_version": version,
        }
    )


def _has_batch_kernel(model_spec: str) -> bool:
    """The one model choice of ``ml/``: only the seasonal-naive model has
    vectorized batch kernels; any other runs in :func:`make_model_kernel`."""
    return model_spec == "seasonal_naive"


def _model_cv(model_spec: str, history: pd.DataFrame, n_splits: int):
    """Walk-forward CV of ``get_model(model_spec)`` on one time-ordered
    history: the folds run and the fold means of RMSE / MAPE / MAE /
    MedAE, rounded half-away to 4 digits (NaN without a fold; MAPE over
    the folds with a nonzero actual).  No closing full-history fit
    (``train_utils.py:125-149``): the forecast fits at predict time."""
    folds = []
    for train_end, test_end in _split_bounds(len(history), n_splits):
        model = get_model(model_spec).fit(history.iloc[:train_end])
        test = history.iloc[train_end:test_end]
        yhat = model.predict(test["ds"])["yhat"]
        folds.append(_metrics_np(test["y"].to_numpy(float), yhat.to_numpy(float)))
    rmse, mape, mae, medae = zip(*folds) if folds else ((),) * 4
    mean = lambda xs: _round_half_away(sum(xs) / len(xs), 4) if xs else math.nan  # noqa: E731
    mape = [p for p in mape if not math.isnan(p)]
    return len(folds), mean(rmse), mean(mape), mean(mae), mean(medae)


def make_model_kernel(
    keys: Sequence[str],
    model_spec: str,
    *,
    y_col: str = "y",
    n_splits: int = N_SPLITS,
    horizon: tuple[_dt.date, int] | None = None,
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map` of a
    model without its own: ``get_model(model_spec)`` per group of the
    batch, on the group's ``ds`` (from ``__ord``) and ``y`` rows, already
    time-ordered by the operator's sort.  Without ``horizon`` it emits
    the walk-forward CV (:func:`_model_cv`) as TRAIN_METRICS rows; with
    ``horizon = (start, days)`` the forecast of the model fit on the
    whole history as FORECAST_OUTPUT rows.  One output frame per batch."""
    if horizon is not None:
        dates, _, f_dates = _horizon(*horizon)

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ds = pd.to_datetime(pdf["__ord"].to_numpy(), unit="D")
        ys = pdf[y_col].to_numpy()
        groups = [pd.DataFrame({"ds": ds[s:e], "y": ys[s:e]}) for s, e in zip(starts, ends)]
        version = get_model(model_spec).version
        if horizon is None:
            cv = np.array([_model_cv(model_spec, g, n_splits) for g in groups])
            n_folds = cv[:, 0].astype("int32")
            return _metrics_frame(pdf, keys, starts, ends, n_folds, cv[:, 1:].T, version)
        fits = (get_model(model_spec).fit(g) for g in groups)
        bands = np.stack([m.predict(pd.Series(dates))[_BANDS].to_numpy() for m in fits])
        return _forecast_frame(pdf, keys, starts, *bands.transpose(2, 0, 1), f_dates, version)

    return kernel


def make_train_batch_kernel(
    keys: Sequence[str],
    *,
    model_spec: str = "seasonal_naive",
    n_splits: int = N_SPLITS,
    y_col: str = "y",
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    walk-forward CV of every group of an Arrow batch, one output frame
    per batch.  For the seasonal-naive model it is vectorized
    (:func:`_cv_test_rows`): rows arrive pre-sorted by ``__ord`` within
    each group (the operator's partition sort), so no sort by time runs.
    Property-tested equal to :func:`make_model_kernel` running
    ``SeasonalNaiveModel`` per group (``tests/test_groupmap.py``) and
    hash-checked by the DuckDB oracles."""
    if not _has_batch_kernel(model_spec):
        return make_model_kernel(keys, model_spec, y_col=y_col, n_splits=n_splits)

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ys = pdf[y_col].to_numpy(dtype=float)
        _, fold, rows, _, yhat = _cv_test_rows(
            ys, pdf["__dow"].to_numpy(), starts, ends, n_splits
        )
        per_fold = _fold_metrics(ys[rows], yhat, fold)
        trained = ends - starts > n_splits
        means = [_cv_average(m, trained, n_splits) for m in per_fold]
        n_folds = trained.astype("int32") * n_splits
        return _metrics_frame(pdf, keys, starts, ends, n_folds, means, SeasonalNaiveModel.version)

    return kernel


def _keyed_schema(template: T.StructType, df: DataFrame, keys: Sequence[str]) -> T.StructType:
    """``template`` — an output schema of ``schemas`` keyed on (store,
    productname) — with ``df``'s ``keys`` fields in place of its own."""
    return T.StructType(
        [df.schema[k] for k in keys]
        + [f for f in template.fields if f.name not in ("store", "productname")]
    )


def _grouped_model_pass(
    sales: DataFrame,
    keys: Sequence[str],
    template: T.StructType,
    kernel,
    *,
    date_col: str,
    y_col: str,
    pre_partitioned: bool = False,
) -> DataFrame:
    """The one route of every grouped model pass (train, forecast, fused
    train + forecast, gated forecast): ``kernel`` through
    :func:`operators.groupmap.sorted_group_map`, thousands of small
    groups per Arrow batch, each time-ordered by ``__ord``; the output
    schema is ``template`` keyed on ``sales``' key columns.
    ``pre_partitioned=True`` skips the exchange when the caller already
    hash-partitioned ``sales`` on ``keys`` (see
    ``plans/ml_queries.demand_series``)."""
    # guide §4.1: mapInPandas is opaque to column pruning, so select
    # exactly what the kernels read — the raw date column otherwise
    # rides the shuffle+sort+Arrow boundary unused (date32 → pandas
    # materializes an object array of datetime.date per task)
    timed = _with_time_cols(sales, date_col).select(*keys, y_col, "__dow", "__ord")
    return sorted_group_map(
        timed,
        keys,
        kernel,
        _keyed_schema(template, sales, keys),
        order_cols=("__ord",),
        pre_partitioned=pre_partitioned,
    )


def train_groups(
    sales: DataFrame,
    keys: Sequence[str] = ("store", "productname"),
    *,
    model_spec: str = "seasonal_naive",
    n_splits: int = N_SPLITS,
    date_col: str = "date",
    y_col: str = "sales",
    pre_partitioned: bool = False,
) -> DataFrame:
    """One CV-metrics row per key group (the reference's per-model MLflow
    metrics, as a DataFrame): TRAIN_METRICS with the key columns' actual
    types substituted, run by :func:`_grouped_model_pass`."""
    return _grouped_model_pass(
        sales,
        keys,
        TRAIN_METRICS,
        make_train_batch_kernel(keys, model_spec=model_spec, n_splits=n_splits, y_col=y_col),
        date_col=date_col,
        y_col=y_col,
        pre_partitioned=pre_partitioned,
    )
