"""Split-conformal prediction intervals per group, with a coverage audit.

The reference serves Prophet's own ±intervals straight to users
(forecast-service/app/main.py) — intervals that carry no finite-sample
guarantee and are never audited.  Split conformal prediction (Vovk;
Lei et al. 2018) fixes both with distribution-free machinery that is also
*exactly* oracle-checkable:

- **calibrate**: collect absolute residuals of the deployed model on
  held-out data (here: every walk-forward CV fold except the last);
- **radius**: the k-th smallest calibration residual with
  ``k = ⌈(n_cal + 1)·(1 − α)⌉`` — then ``ŷ ± radius`` covers a fresh
  point with probability ≥ 1 − α under exchangeability;
- **audit**: empirical coverage on the LAST fold (never touched by
  calibration) — the number every forecasting service should report
  next to its intervals.

Determinism: residuals are integer-valued (integral demand minus the
int-truncated prediction), the rank ``k`` is computed in PURE integer
arithmetic (``α = a/b`` rational: ``k = (a·(n_cal+1) + b − 1) div b`` —
never ``ceil(n·0.8)``, whose double rounding both engines would have to
share by luck), the order statistic is exact selection, and coverage is
an exact integer ppm.  When ``k > n_cal`` (tiny calibration sets) the
guarantee needs an infinite radius: reported as NULL with vacuous
coverage 10^6 ppm, identically on both sides.

Scale: same single-shuffle ``sorted_group_map`` shape as ml/train.py —
per Arrow batch, one sort of every group's calibration residuals by
(class, residual); the calibration never leaves the executor.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..operators.groupmap import sorted_group_map
from .train import N_SPLITS, _cv_test_rows, _with_time_cols

CONFORMAL_SCHEMA = (
    "l_suppkey long, l_returnflag string, n_cal long, n_eval long, "
    "radius double, coverage_ppm long"
)

#: miscoverage α as an exact rational a/b (default 1/5 → 80% intervals)
ALPHA_NUM = 1
ALPHA_DEN = 5


def conformal_rank(n_cal):
    """``k = ⌈(n_cal + 1)·(1 − α)⌉`` in pure integer arithmetic (also
    elementwise over an integer array)."""
    a, b = ALPHA_NUM, ALPHA_DEN
    return ((b - a) * (n_cal + 1) + b - 1) // b


def _conformal_by_class(pdf: pd.DataFrame, starts, ends, n_classes: int):
    """``(n_cal, n_eval, radius, coverage_ppm)`` of every conformal class
    of the batch — the group for ``n_classes = 1``, (group, weekday) for
    ``n_classes = 7`` — from its CV residuals: calibration is every fold
    but the last, eval the last.  The radius is the k-th smallest
    calibration residual, NaN when ``k > n_cal``; coverage is the share
    of eval residuals ≤ radius in exact integer ppm, vacuous 10^6 for an
    infinite radius, NULL for a class with no eval row."""
    ys = pdf["y"].to_numpy(dtype=float)
    dows = pdf["__dow"].to_numpy()
    grp, fold, rows, _, yhat = _cv_test_rows(ys, dows, starts, ends, N_SPLITS)
    resid = np.abs(ys[rows] - yhat)
    cls = grp * n_classes + (dows[rows] if n_classes > 1 else 0)
    cal = fold % N_SPLITS < N_SPLITS - 1
    size = len(starts) * n_classes
    n_cal = np.bincount(cls[cal], minlength=size)
    n_eval = np.bincount(cls[~cal], minlength=size)
    k = conformal_rank(n_cal)
    # calibration residuals sorted within each class, then one NaN that
    # every class without a finite radius picks
    srt = np.append(resid[cal][np.lexsort((resid[cal], cls[cal]))], np.nan)
    radius = srt[np.where(k <= n_cal, np.cumsum(n_cal) - n_cal + k - 1, -1)]
    hit = resid[~cal] <= radius[cls[~cal]]
    covered = np.bincount(cls[~cal][hit], minlength=size)
    coverage = pd.array(
        np.where(np.isnan(radius), 1_000_000, covered * 1_000_000 // np.maximum(n_eval, 1)),
        dtype="Int64",
    )
    coverage[n_eval == 0] = pd.NA
    return n_cal, n_eval, radius, coverage


def make_conformal_kernel(keys: Sequence[str]):
    """Batch kernel: the marginal conformal radius and coverage audit of
    every group of the batch (module doc)."""

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        n_cal, n_eval, radius, coverage = _conformal_by_class(pdf, starts, ends, 1)
        return pd.DataFrame(
            {
                **{k_: pdf[k_].to_numpy()[starts] for k_ in keys},
                "n_cal": n_cal,
                "n_eval": n_eval,
                "radius": radius,
                "coverage_ppm": coverage,
            }
        )

    return kernel


def _conformal_pass(series: DataFrame, keys, kernel, schema, pre_partitioned: bool):
    """One ``sorted_group_map`` of a conformal ``kernel`` over a ``ds`` /
    ``y`` series."""
    return sorted_group_map(
        _with_time_cols(series, "ds").select(*keys, "__dow", "__ord", "y"),
        keys,
        kernel,
        schema,
        order_cols=["__ord"],
        pre_partitioned=pre_partitioned,
    )


def conformal_intervals_groups(
    series: DataFrame,
    keys: Sequence[str],
    *,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Per-group conformal radius + held-out coverage audit (module doc)
    of a ``ds`` / ``y`` series."""
    return _conformal_pass(
        series, keys, make_conformal_kernel(keys), CONFORMAL_SCHEMA, pre_partitioned
    )


MONDRIAN_SCHEMA = (
    "l_suppkey long, l_returnflag string, isodow int, n_cal long, "
    "n_eval long, radius double, coverage_ppm long"
)


def make_mondrian_kernel(keys: Sequence[str]):
    """Mondrian (weekday-conditional) variant: one calibration set — and
    one radius — PER ISO WEEKDAY within each group.  Marginal conformal
    guarantees only AVERAGE coverage; for a weekday-seasonal series the
    noisy weekdays get under-covered and the quiet ones over-covered.
    Conditioning on the weekday taxonomy (Vovk's Mondrian construction)
    restores the guarantee within every weekday class, at the price of
    7× smaller calibration sets (tiny classes report NULL radius +
    vacuous coverage, exactly like the marginal path).  One row per
    (group, weekday) class present in either window."""

    def kernel(pdf: pd.DataFrame, starts, ends) -> pd.DataFrame:
        n_cal, n_eval, radius, coverage = _conformal_by_class(pdf, starts, ends, 7)
        cls = np.flatnonzero((n_cal > 0) | (n_eval > 0))
        return pd.DataFrame(
            {
                **{k_: pdf[k_].to_numpy()[starts[cls // 7]] for k_ in keys},
                "isodow": (cls % 7 + 1).astype("int32"),
                "n_cal": n_cal[cls],
                "n_eval": n_eval[cls],
                "radius": radius[cls],
                "coverage_ppm": coverage[cls],
            }
        )

    return kernel


def mondrian_conformal_groups(
    series: DataFrame,
    keys: Sequence[str],
    *,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Weekday-conditional conformal radii + per-weekday coverage audit
    (see :func:`make_mondrian_kernel`) of a ``ds`` / ``y`` series."""
    return _conformal_pass(
        series, keys, make_mondrian_kernel(keys), MONDRIAN_SCHEMA, pre_partitioned
    )
