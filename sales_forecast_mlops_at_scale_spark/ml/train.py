"""Grouped-map training with walk-forward cross-validation.

Re-expresses the reference's weekly training job (SURVEY.md §3.2) — Ray
task per (store, product), ``train_utils.py:72-151`` — as ONE Spark job,
routed by :func:`_grouped_model_pass`: the seasonal-naive model runs as
a batch kernel over sorted partitions
(``operators/groupmap.sorted_group_map``), any other model as one
``applyInPandas`` call per group with the model from ``get_model``.

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
from pyspark.sql import types as T

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


def _metrics_np(y, yhat) -> tuple[float, float, float, float]:
    """RMSE / MAPE / MAE / MedAE — the reference's four metrics
    (train_utils.py:38-53) — on raw float64 numpy arrays: none of the
    pandas Series construction overhead that dominates grouped-map wall
    time at thousands of groups × folds."""
    import numpy as np

    err = y - yhat
    abs_err = np.abs(err)
    rmse = float(math.sqrt((err * err).mean()))
    nz = y != 0
    mape = float((abs_err[nz] / y[nz]).mean()) if nz.any() else 0.0
    return rmse, mape, float(abs_err.mean()), float(np.median(abs_err))


def _seasonal_naive_lut(ys, dows):
    """Fitted seasonal-naive model as a 7-slot numpy lookup: latest y per
    weekday over the (time-ordered) history, overall mean for unseen
    weekdays.  The vectorized twin of ``SeasonalNaiveModel.fit`` — used by
    the batch kernels to avoid a pandas sort + to_datetime + groupby per
    group (which dominates wall time at thousands of groups)."""
    import numpy as np

    mean = float(ys.mean()) if len(ys) else 0.0
    lut = np.full(7, mean)
    for wd in range(7):
        pos = np.nonzero(dows == wd)[0]
        if len(pos):
            lut[wd] = ys[pos[-1]]
    return lut


def _fold_preds_from_positions(ys, dows, wd_pos, train_end: int, test_end: int):
    """Seasonal-naive predictions for one CV fold: for each test row, the
    last same-weekday y within the train window, else the train-window
    mean; truncated to int (``SeasonalNaiveModel`` fit on the window).
    ``wd_pos`` holds each weekday's row positions, computed ONCE per group:
    the last same-weekday observation inside the expanding train window is
    found by ``searchsorted`` on the (sorted) position list."""
    import numpy as np

    mean = float(ys[:train_end].mean())
    lut = np.full(7, mean)
    for wd in range(7):
        pos = wd_pos[wd]
        j = int(np.searchsorted(pos, train_end)) - 1
        if j >= 0:
            lut[wd] = ys[pos[j]]
    return lut[dows[train_end:test_end]].astype(int)


def _model_names(pdf: pd.DataFrame, keys: Sequence[str], starts) -> list[str]:
    """Registry name (``MODEL_NAME_FMT``) of each batch group whose first
    row is at ``starts``."""
    stores = pdf[keys[0]].to_numpy()[starts]
    products = pdf[keys[1]].to_numpy()[starts] if len(keys) > 1 else [""] * len(starts)
    return [MODEL_NAME_FMT.format(store=s_, product=p_) for s_, p_ in zip(stores, products)]


def make_train_batch_kernel(
    keys: Sequence[str],
    *,
    n_splits: int = 5,
    y_col: str = "y",
):
    """Batch kernel for :func:`operators.groupmap.sorted_group_map`: the
    seasonal-naive walk-forward CV of :func:`make_train_fn`, applied to
    EVERY group in an Arrow batch with one output frame per batch.  Rows
    arrive pre-sorted by ``__ord`` within each group (the operator's
    partition sort), so no per-group sort runs either.  Property-tested
    equal to ``make_train_fn`` with ``SeasonalNaiveModel``
    (``tests/test_groupmap.py``) and hash-checked by the DuckDB oracles."""
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
        return pd.DataFrame(
            {
                **{k: pdf[k].to_numpy()[starts] for k in keys},
                "n_rows": n_rows,
                "n_splits": splits_out,
                "rmse": rmse_o,
                "mape": mape_o,
                "mae": mae_o,
                "medae": medae_o,
                "model_name": _model_names(pdf, keys, starts),
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
    """Build the per-group function for ``applyInPandas``: walk-forward CV
    of ``get_model(model_spec)``, one TRAIN_METRICS row out per group."""

    def train_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rmses, mapes, maes, medaes = [], [], [], []
        n = len(pdf)
        pdf = pdf.sort_values(date_col).reset_index(drop=True)
        history = pd.DataFrame({"ds": pdf[date_col], "y": pdf[y_col]})
        for train_end, test_end in _split_bounds(n, n_splits):
            if train_end < 1:
                continue
            model = get_model(model_spec).fit(history.iloc[:train_end])
            fold = history.iloc[train_end:test_end]
            yhat = model.predict(fold["ds"])["yhat"]
            r, p, a, m = _metrics_np(fold["y"].to_numpy(float), yhat.to_numpy(float))
            rmses.append(r)
            mapes.append(p)
            maes.append(a)
            medaes.append(m)
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
                    "n_splits": len(rmses),
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
    *,
    model_spec: str,
    batch_kernel,
    group_fn,
    date_col: str,
    y_col: str,
    pre_partitioned: bool = False,
) -> DataFrame:
    """The one routing point of every grouped model pass (train, forecast,
    fused train + forecast, gated forecast); the output schema is
    ``template`` keyed on ``sales``' key columns.

    The seasonal-naive model runs ``batch_kernel`` through
    :func:`operators.groupmap.sorted_group_map` — thousands of small
    groups per Arrow batch instead of one ``applyInPandas`` call (and one
    pandas frame) per group; ``pre_partitioned=True`` additionally skips
    the exchange when the caller already hash-partitioned ``sales`` on
    ``keys`` (see ``plans/ml_queries.demand_series``).  Any other model
    (Prophet) runs ``group_fn`` in the classic per-group
    ``applyInPandas`` shape, where the per-call constant is noise next to
    the fit."""
    schema = _keyed_schema(template, sales, keys)
    timed = _with_time_cols(sales, date_col)
    if model_spec == "seasonal_naive":
        # guide §4.1: mapInPandas is opaque to column pruning, so select
        # exactly what the kernel reads — the raw date column otherwise
        # rides the shuffle+sort+Arrow boundary unused (date32 → pandas
        # materializes an object array of datetime.date per task)
        timed = timed.select(*keys, y_col, "__dow", "__ord")
        return sorted_group_map(
            timed,
            keys,
            batch_kernel,
            schema,
            order_cols=("__ord",),
            pre_partitioned=pre_partitioned,
        )
    return hash_partition(timed, keys).groupBy(*keys).applyInPandas(group_fn, schema)


def train_groups(
    sales: DataFrame,
    keys: Sequence[str] = ("store", "productname"),
    *,
    model_spec: str = "seasonal_naive",
    n_splits: int = 5,
    date_col: str = "date",
    y_col: str = "sales",
    pre_partitioned: bool = False,
) -> DataFrame:
    """One CV-metrics row per key group (the reference's per-model MLflow
    metrics, as a DataFrame): TRAIN_METRICS with the key columns' actual
    types substituted, routed by :func:`_grouped_model_pass`."""
    return _grouped_model_pass(
        sales,
        keys,
        TRAIN_METRICS,
        model_spec=model_spec,
        batch_kernel=make_train_batch_kernel(keys, n_splits=n_splits, y_col=y_col),
        group_fn=make_train_fn(
            keys, model_spec=model_spec, n_splits=n_splits, date_col=date_col, y_col=y_col
        ),
        date_col=date_col,
        y_col=y_col,
        pre_partitioned=pre_partitioned,
    )
