"""Pluggable per-group forecasting models.

The reference hard-codes Prophet inside its Ray training task
(``/root/reference/services/training-service/app/train_utils.py:72-151``)
and reloads it per HTTP request at predict time
(``services/forecast-service/app/handlers/mlflow.py:24-31``).  Here the
model is a strategy object fit per key group by the grouped-map kernels
(``train.make_model_kernel``); the seasonal-naive model also has
vectorized batch kernels, equal to it row for row:

- :class:`SeasonalNaiveModel` — deterministic weekday-lookup baseline.
  Correctness tests run against it (SURVEY.md §7 phase 4: "test the
  pipeline *shape* with a deterministic model"), and it is exactly
  SQL-expressible, so the whole grouped-map pipeline is oracle-checkable.
- :class:`ProphetModel` — optional, used when the ``prophet`` package is
  importable in executors (it is not shipped in this container); same
  interface, swaps in without touching the pipeline.

Models are constructed **inside** the executor-side kernel (no
driver-side state to serialize beyond the spec string).
"""

from __future__ import annotations

import pandas as pd

#: Reference model-naming convention, forecast-service/app/main.py:18-23.
MODEL_NAME_FMT = "forecaster-store-{store}-{product}"


class SeasonalNaiveModel:
    """Weekday-seasonal naive forecaster.

    fit: remember, per weekday, the most recent observed value; plus the
    overall mean as fallback for unseen weekdays.
    predict(dates): value at same weekday; intervals ±10%.  All outputs
    truncated to int — matching the reference's float→int truncation
    (forecast-service/app/main.py:105-106, SURVEY.md F10).
    """

    name = "seasonal_naive"
    version = "1"

    def __init__(self) -> None:
        self._by_weekday: pd.Series = pd.Series(dtype=float)
        self._fallback: float = 0.0

    def fit(self, history: pd.DataFrame) -> "SeasonalNaiveModel":
        """``history``: columns ``ds`` (datetime-like) and ``y`` (numeric),
        any order; the latest observation per weekday wins."""
        h = history.dropna(subset=["y"]).sort_values("ds")
        if len(h):
            self._fallback = float(h["y"].mean())
            dow = pd.to_datetime(h["ds"]).dt.dayofweek
            # vectorized "last per weekday" (later rows overwrite earlier)
            self._by_weekday = h["y"].astype(float).groupby(dow.values).last()
        return self

    def predict(self, dates: pd.Series) -> pd.DataFrame:
        ds = pd.to_datetime(pd.Series(dates).reset_index(drop=True))
        yhat = (
            ds.dt.dayofweek.map(self._by_weekday)
            .fillna(self._fallback)
            .astype(float)
        )
        return pd.DataFrame(
            {
                "ds": ds,
                "yhat": yhat.astype(int),  # truncation, not rounding (F10)
                "yhat_lower": (yhat * 0.9).astype(int),
                "yhat_upper": (yhat * 1.1).astype(int),
            }
        )


class MovingAverageModel:
    """Trailing-mean challenger: predict the truncated mean of the last
    ``window`` observations for every horizon date — the right model when
    weekday seasonality is noise.  Deterministic and SQL-expressible, so
    the champion/challenger bake-off (``ml/compare.py``) stays fully
    oracle-checkable.  Same int-truncation + ±10% interval conventions as
    :class:`SeasonalNaiveModel` (SURVEY.md F10)."""

    name = "moving_average"
    version = "1"

    def __init__(self, window: int = 28) -> None:
        self._window = int(window)
        self._level: float = 0.0

    def fit(self, history: pd.DataFrame) -> "MovingAverageModel":
        h = history.dropna(subset=["y"]).sort_values("ds")
        if len(h):
            tail = h["y"].astype(float).tail(self._window)
            self._level = float(int(tail.mean()))
        return self

    def predict(self, dates: pd.Series) -> pd.DataFrame:
        ds = pd.to_datetime(pd.Series(dates).reset_index(drop=True))
        yhat = pd.Series([self._level] * len(ds))
        return pd.DataFrame(
            {
                "ds": ds,
                "yhat": yhat.astype(int),
                "yhat_lower": (yhat * 0.9).astype(int),
                "yhat_upper": (yhat * 1.1).astype(int),
            }
        )


class ProphetModel:
    """Prophet adapter (optional heavy dependency; import-gated)."""

    name = "prophet"
    version = "1"

    def __init__(self) -> None:
        from prophet import Prophet  # noqa: PLC0415 — executor-side import

        self._m = Prophet()

    def fit(self, history: pd.DataFrame) -> "ProphetModel":
        self._m.fit(history[["ds", "y"]])
        return self

    def predict(self, dates: pd.Series) -> pd.DataFrame:
        frame = pd.DataFrame({"ds": pd.to_datetime(pd.Series(dates))})
        out = self._m.predict(frame)
        return pd.DataFrame(
            {
                "ds": out["ds"],
                "yhat": out["yhat"].astype(int),
                "yhat_lower": out["yhat_lower"].astype(int),
                "yhat_upper": out["yhat_upper"].astype(int),
            }
        )


def get_model(spec: str = "seasonal_naive"):
    """Model factory used inside the grouped-map kernels; ``spec`` is a plain
    string so it ships to executors without pickling model state."""
    if spec == "seasonal_naive":
        return SeasonalNaiveModel()
    if spec == "moving_average":
        return MovingAverageModel()
    if spec == "prophet":
        return ProphetModel()
    raise ValueError(f"unknown model spec: {spec}")
