"""Grouped-map training with walk-forward cross-validation.

Re-expresses the reference's weekly training job (SURVEY.md §3.2) — Ray
task per (store, product), ``train_utils.py:72-151`` — as ONE Spark job:

    sales.groupBy(keys).applyInPandas(train_fn, TRAIN_METRICS)

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
least the executor core count, and ≈ #groups / 4 for very large group
counts.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame

from ..operators.groupmap import hash_partition, sorted_group_map
from ..schemas import TRAIN_METRICS
from .models import MODEL_NAME_FMT, get_model


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


def _round_half_away(x: float, ndigits: int = 4) -> float:
    """Half-away-from-zero rounding — matching SQL ROUND (Spark HALF_UP,
    DuckDB std::round).  Python's built-in ``round`` is banker's rounding
    and diverges at exact .xxxx5 boundaries, which integral sales values
    hit constantly (e.g. mean MAE 16.15625 → SQL 16.1563, Python
    16.1562) — a real hash-mismatch caught by the oracle harness."""
    import math

    p = 10.0**ndigits
    return math.copysign(math.floor(abs(x) * p + 0.5) / p, x)


def _metrics(y: pd.Series, yhat: pd.Series) -> tuple[float, float, float, float]:
    """RMSE / MAPE / MAE / MedAE — the reference's four metrics
    (train_utils.py:38-53) in plain pandas."""
    err = y.astype(float) - yhat.astype(float)
    abs_err = err.abs()
    rmse = float(math.sqrt((err * err).mean()))
    nonzero = y.astype(float) != 0
    mape = float((abs_err[nonzero] / y.astype(float)[nonzero]).mean()) if nonzero.any() else 0.0
    return rmse, mape, float(abs_err.mean()), float(abs_err.median())


def _metrics_np(y, yhat) -> tuple[float, float, float, float]:
    """``_metrics`` on raw float64 numpy arrays — identical arithmetic
    (same element order, same pairwise summation, nan-free inputs), none
    of the pandas Series construction overhead that dominates grouped-map
    wall time at thousands of groups × folds."""
    import numpy as np

    err = y - yhat
    abs_err = np.abs(err)
    rmse = float(math.sqrt((err * err).mean()))
    nz = y != 0
    mape = float((abs_err[nz] / y[nz]).mean()) if nz.any() else 0.0
    return rmse, mape, float(abs_err.mean()), float(np.median(abs_err))


def _seasonal_naive_fold_preds(
    ys, dows, train_end: int, test_end: int
):
    """Vectorized fold prediction for the seasonal-naive model: for each
    test row, the last same-weekday y within the train window, else the
    train-window mean; truncated to int.  Pure numpy — no per-row Python,
    no pandas groupby per fit (the naive per-fold ``model.fit`` costs a
    pandas groupby + sort per fold per group, which dominated the job at
    3,000 groups)."""
    import numpy as np

    mean = float(ys[:train_end].mean())
    lut = np.full(7, mean)
    train_dows = dows[:train_end]
    for wd in range(7):
        pos = np.nonzero(train_dows == wd)[0]
        if len(pos):
            lut[wd] = ys[pos[-1]]
    return lut[dows[train_end:test_end]].astype(int)


def _seasonal_naive_lut(ys, dows):
    """Fitted seasonal-naive model as a 7-slot numpy lookup: latest y per
    weekday over the (time-ordered) history, overall mean for unseen
    weekdays.  The vectorized twin of ``SeasonalNaiveModel.fit`` — used by
    the grouped-map predict paths to avoid a pandas sort + to_datetime +
    groupby per group (which dominates wall time at thousands of
    groups)."""
    import numpy as np

    mean = float(ys.mean()) if len(ys) else 0.0
    lut = np.full(7, mean)
    for wd in range(7):
        pos = np.nonzero(dows == wd)[0]
        if len(pos):
            lut[wd] = ys[pos[-1]]
    return lut


def _fold_preds_from_positions(ys, dows, wd_pos, train_end: int, test_end: int):
    """``_seasonal_naive_fold_preds`` with the per-weekday position index
    precomputed ONCE per group instead of 7 ``np.nonzero`` scans per fold:
    the last same-weekday observation inside the expanding train window is
    found by ``searchsorted`` on the (sorted) position list.  Selects the
    identical element and performs the identical float arithmetic — the
    oracle hashes cannot move."""
    import numpy as np

    mean = float(ys[:train_end].mean())
    lut = np.full(7, mean)
    for wd in range(7):
        pos = wd_pos[wd]
        j = int(np.searchsorted(pos, train_end)) - 1
        if j >= 0:
            lut[wd] = ys[pos[j]]
    return lut[dows[train_end:test_end]].astype(int)


def make_train_batch_kernel(
    keys: Sequence[str],
    *,
    n_splits: int = 5,
    y_col: str = "y",
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    walk-forward-CV training of :func:`make_train_fn`'s fast path, applied
    to EVERY group in an Arrow batch with one output frame per batch.
    Rows arrive pre-sorted by ``__ord`` within each group (the operator's
    partition sort), so the per-group argsort disappears too.  Arithmetic
    is call-for-call identical to ``train_fn`` — property-tested equal and
    hash-checked by the same DuckDB oracles."""
    import numpy as np

    from .models import SeasonalNaiveModel

    version = SeasonalNaiveModel.version

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        ys_all = pdf[y_col].to_numpy(dtype=float)
        dows_all = pdf["__dow"].to_numpy()
        g = len(starts)
        n_rows = (ends - starts).astype("int64")
        splits_out = np.zeros(g, dtype="int32")
        rmse_o = np.full(g, np.nan)
        mape_o = np.full(g, np.nan)
        mae_o = np.full(g, np.nan)
        medae_o = np.full(g, np.nan)
        for gi in range(g):
            s, e = int(starts[gi]), int(ends[gi])
            ys = ys_all[s:e]
            dows = dows_all[s:e]
            rmses: list[float] = []
            mapes: list[float] = []
            maes: list[float] = []
            medaes: list[float] = []
            wd_pos = None
            for train_end, test_end in _split_bounds(e - s, n_splits):
                if train_end < 1:
                    continue
                if wd_pos is None:
                    wd_pos = [np.nonzero(dows == wd)[0] for wd in range(7)]
                yhat = _fold_preds_from_positions(ys, dows, wd_pos, train_end, test_end)
                r, p, a, m = _metrics_np(ys[train_end:test_end], yhat.astype(float))
                rmses.append(r)
                mapes.append(p)
                maes.append(a)
                medaes.append(m)
            if rmses:
                splits_out[gi] = len(rmses)
                rmse_o[gi] = _round_half_away(sum(rmses) / len(rmses), 4)
                mape_o[gi] = _round_half_away(sum(mapes) / len(mapes), 4)
                mae_o[gi] = _round_half_away(sum(maes) / len(maes), 4)
                medae_o[gi] = _round_half_away(sum(medaes) / len(medaes), 4)
        key_arrs = {k: pdf[k].to_numpy()[starts] for k in keys}
        stores = key_arrs[keys[0]]
        products = key_arrs[keys[1]] if len(keys) > 1 else [""] * g
        names = [
            MODEL_NAME_FMT.format(store=s_, product=p_)
            for s_, p_ in zip(stores, products)
        ]
        return pd.DataFrame(
            {
                **key_arrs,
                "n_rows": n_rows,
                "n_splits": splits_out,
                "rmse": rmse_o,
                "mape": mape_o,
                "mae": mae_o,
                "medae": medae_o,
                "model_name": names,
                "model_version": version,
            }
        )

    return kernel


def make_train_fn(
    keys: Sequence[str],
    *,
    model_spec: str = "seasonal_naive",
    n_splits: int = 5,
    date_col: str = "ds",
    y_col: str = "y",
):
    """Build the executor-side group function: walk-forward CV + final fit,
    one TRAIN_METRICS row out per group."""

    def train_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rmses, mapes, maes, medaes = [], [], [], []
        done_splits = 0
        fast = model_spec == "seasonal_naive"
        n = len(pdf)
        if fast and "__ord" in pdf:
            import numpy as np

            order = np.argsort(pdf["__ord"].to_numpy(), kind="stable")
            ys = pdf[y_col].to_numpy(dtype=float)[order]
            dows = pdf["__dow"].to_numpy()[order]
        elif fast:
            pdf = pdf.sort_values(date_col).reset_index(drop=True)
            ys = pdf[y_col].to_numpy(dtype=float)
            dows = pd.to_datetime(pdf[date_col]).dt.dayofweek.to_numpy()
        else:
            pdf = pdf.sort_values(date_col).reset_index(drop=True)
            history = pd.DataFrame({"ds": pdf[date_col], "y": pdf[y_col]})
        for train_end, test_end in _split_bounds(n, n_splits):
            if train_end < 1:
                continue
            if fast:
                yhat = _seasonal_naive_fold_preds(ys, dows, train_end, test_end)
                r, p, a, m = _metrics_np(
                    ys[train_end:test_end], yhat.astype(float)
                )
            else:
                model = get_model(model_spec).fit(history.iloc[:train_end])
                fold = history.iloc[train_end:test_end]
                yhat = model.predict(fold["ds"])["yhat"].reset_index(drop=True)
                fold_y = fold["y"].reset_index(drop=True)
                r, p, a, m = _metrics(fold_y, yhat)
            rmses.append(r)
            mapes.append(p)
            maes.append(a)
            medaes.append(m)
            done_splits += 1
        # The reference ends with a final full-history fit + MLflow registry
        # push (train_utils.py:125-149).  Our predict path fits-at-predict
        # (see predict.py), so the final fit here would be dead work; the
        # registry metadata (name/version) is still emitted per group.
        model = get_model(model_spec)
        key_vals = {k: pdf[k].iloc[0] for k in keys}
        store = key_vals.get(keys[0])
        product = key_vals.get(keys[1]) if len(keys) > 1 else ""
        mean = lambda xs: _round_half_away(sum(xs) / len(xs), 4) if xs else None  # noqa: E731
        return pd.DataFrame(
            [
                {
                    **key_vals,
                    "n_rows": n,
                    "n_splits": done_splits,
                    "rmse": mean(rmses),
                    "mape": mean(mapes),
                    "mae": mean(maes),
                    "medae": mean(medaes),
                    "model_name": MODEL_NAME_FMT.format(store=store, product=product),
                    "model_version": model.version,
                }
            ]
        )

    return train_fn


def train_groups(
    sales: DataFrame,
    keys: Sequence[str] = ("store", "productname"),
    *,
    model_spec: str = "seasonal_naive",
    n_splits: int = 5,
    date_col: str = "date",
    y_col: str = "sales",
    schema=None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """One CV-metrics row per key group (the reference's per-model MLflow
    metrics, as a DataFrame).  ``schema`` defaults to TRAIN_METRICS with
    the key columns' actual types substituted.

    The deterministic fast model runs through
    :func:`operators.groupmap.sorted_group_map` — thousands of small
    groups per Arrow batch instead of one ``applyInPandas`` call (and one
    one-row pandas frame) per group; ``pre_partitioned=True`` additionally
    skips the exchange when the caller already hash-partitioned ``sales``
    on ``keys`` (see ``plans/ml_queries.demand_series``).  Heavy pluggable
    models (Prophet) keep the classic per-group ``applyInPandas`` shape,
    where the per-call constant is noise next to the fit."""
    from pyspark.sql import types as T

    if schema is None:
        key_fields = [sales.schema[k] for k in keys]
        metric_fields = [f for f in TRAIN_METRICS.fields if f.name not in ("store", "productname")]
        schema = T.StructType(key_fields + metric_fields)
    timed = _with_time_cols(sales, date_col)
    if model_spec == "seasonal_naive":
        kernel = make_train_batch_kernel(keys, n_splits=n_splits, y_col=y_col)
        # guide §4.1: mapInPandas is opaque to column pruning, so select
        # exactly what the kernel reads — the raw date column otherwise
        # rides the shuffle+sort+Arrow boundary unused (date32 → pandas
        # materializes an object array of datetime.date per task)
        timed = timed.select(*keys, y_col, "__dow", "__ord")
        return sorted_group_map(
            timed,
            keys,
            kernel,
            schema,
            order_cols=("__ord",),
            pre_partitioned=pre_partitioned,
        )
    fn = make_train_fn(
        keys, model_spec=model_spec, n_splits=n_splits, date_col=date_col, y_col=y_col
    )
    return hash_partition(timed, keys).groupBy(*keys).applyInPandas(fn, schema)
