"""sorted_group_map (operators/groupmap.py): the many-groups-per-batch
grouped map that carries the ML family.

The contract under test: the seasonal-naive batch kernels over sorted
partitions are BIT-IDENTICAL to their references — train and forecast
to the per-group ``applyInPandas`` path running ``SeasonalNaiveModel``
itself, the fused gated forecast to the composed
``forecast_groups(gate_series(series, train_groups(series)))`` — on the
smoke demand series and on a fixture of degenerate series, and when
Arrow batches are shrunk far below group size, forcing the
trailing-group carry-over across many batches.  The ML registry queries
built on those kernels (train, forecast, gated, compare, marginal and
Mondrian conformal) also match their DuckDB oracles on the degenerate
series.  Plus the machinery units (boundary detection with null keys)
and the plan promise (``pre_partitioned=True`` downstream of
``repartition(keys)`` runs the whole pipeline on ONE exchange)."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from sales_forecast_mlops_at_scale_spark.ml import (
    forecast_groups,
    gate_series,
    gated_forecast_groups,
    train_groups,
)
from sales_forecast_mlops_at_scale_spark.ml.predict import make_predict_fn
from sales_forecast_mlops_at_scale_spark.ml.train import (
    _keyed_schema,
    _with_time_cols,
    make_train_fn,
)
from sales_forecast_mlops_at_scale_spark.operators.groupmap import (
    group_starts,
    sorted_group_map,
)
from sales_forecast_mlops_at_scale_spark.plans.ml_queries import (
    GATE_RMSE,
    KEYS,
    demand_series,
)
from sales_forecast_mlops_at_scale_spark.schemas import FORECAST_OUTPUT, TRAIN_METRICS

from .conftest import SMOKE_SF_DIR, assert_matches_oracle

_DAY0 = dt.date(2025, 11, 1)
#: degenerate (l_suppkey, l_returnflag, ds, y) series
DEGENERATE_ROWS = [
    # flat passer: 28 days of constant demand → rmse 0 → passes
    *[(1, "A", _DAY0 + dt.timedelta(days=i), 10) for i in range(28)],
    # erratic failer: alternating extremes → seasonal-naive rmse >> bar
    *[(2, "A", _DAY0 + dt.timedelta(days=i), 1 if i % 2 else 900) for i in range(28)],
    # degenerate: single observation → no fold with train_end >= 1 → NULL
    (3, "B", dt.date(2025, 12, 1), 5),
    # minimal two-point series: too short for a fold (ts = 0) → NULL
    (4, "B", dt.date(2025, 12, 1), 5),
    (4, "B", dt.date(2025, 12, 2), 7),
]
#: the equality tests' extra cases: an all-zero series (MAPE has no
#: nonzero actual) and a single-weekday series (every other weekday
#: falls back to the train-window mean)
EDGE_ROWS = [
    *[(5, "C", _DAY0 + dt.timedelta(days=i), 0) for i in range(28)],
    *[(6, "C", _DAY0 + dt.timedelta(weeks=i), 3 * i + 1) for i in range(12)],
]


#: the oracle test's further series: too short for a fold (5 rows,
#: ts = 0), one row per fold (6 rows, ts = 1), every third day, and 20
#: zero days before demand starts (folds with no nonzero actual)
SHORT_ROWS = [
    *[(7, "D", _DAY0 + dt.timedelta(days=i), i + 1) for i in range(5)],
    *[(8, "D", _DAY0 + dt.timedelta(days=i), 4 * i % 5) for i in range(6)],
    *[(9, "E", _DAY0 + dt.timedelta(days=3 * i), i % 4 + 1) for i in range(40)],
    *[(10, "E", _DAY0 + dt.timedelta(days=i), 0 if i < 20 else i) for i in range(30)],
]


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def series(spark):
    return demand_series(spark, SMOKE_SF_DIR)


@pytest.fixture(scope="module")
def anchor(spark):
    mx = (
        spark.read.parquet(f"{SMOKE_SF_DIR}/lineitem.parquet")
        .agg(F.max(F.col("l_shipdate").cast("date")))
        .collect()[0][0]
    )
    return mx + dt.timedelta(days=1)


@pytest.fixture(scope="module", params=["smoke", "degenerate"])
def cmp_series(request, spark, series):
    """The equality tests' inputs, both hash-partitioned on KEYS like
    ``demand_series`` (so ``pre_partitioned=True`` holds)."""
    if request.param == "smoke":
        return series
    return spark.createDataFrame(
        DEGENERATE_ROWS + EDGE_ROWS, "l_suppkey int, l_returnflag string, ds date, y int"
    ).repartition(*KEYS)


def _schemas(series):
    return (
        _keyed_schema(TRAIN_METRICS, series, KEYS),
        _keyed_schema(FORECAST_OUTPUT, series, KEYS),
    )


# ---------------------------------------------------------------------------
# machinery units
# ---------------------------------------------------------------------------


def test_group_starts_basic_and_null_keys():
    pdf = pd.DataFrame(
        {
            "a": [1, 1, 1, 2, 2, None, None, 3],
            "b": ["x", "x", "y", "y", "y", "y", "y", None],
        }
    )
    # groups: (1,x)(1,x) | (1,y) | (2,y)(2,y) | (NaN,y)(NaN,y) | (3,NaN)
    assert group_starts(pdf, ["a", "b"]).tolist() == [0, 2, 3, 5, 7]
    assert group_starts(pdf.iloc[:0], ["a", "b"]).tolist() == []
    one = pd.DataFrame({"a": [None], "b": [None]})
    assert group_starts(one, ["a", "b"]).tolist() == [0]


def test_sorted_group_map_counts_groups(spark):
    rows = [(k, i) for k in ["a", "b", "c"] for i in range(5)]
    df = spark.createDataFrame(rows, "k string, v int")

    def kernel(pdf, starts, ends):
        return pd.DataFrame(
            {"k": pdf["k"].to_numpy()[starts], "n": (ends - starts).astype("int64")}
        )

    out = sorted_group_map(df, ["k"], kernel, "k string, n long", order_cols=("v",))
    assert sorted((r.k, r.n) for r in out.collect()) == [("a", 5), ("b", 5), ("c", 5)]


# ---------------------------------------------------------------------------
# bit-exact equivalence vs the reference paths
# ---------------------------------------------------------------------------


def test_train_batched_equals_apply_in_pandas(spark, cmp_series):
    series = cmp_series
    tschema, _ = _schemas(series)
    old = (
        _with_time_cols(series, "ds")
        .groupBy(*KEYS)
        .applyInPandas(make_train_fn(KEYS, date_col="ds", y_col="y"), tschema)
    )
    new = train_groups(
        series, KEYS, model_spec="seasonal_naive", date_col="ds", y_col="y",
        pre_partitioned=True,
    )
    assert _canon(old) == _canon(new)


def test_forecast_batched_equals_apply_in_pandas(spark, cmp_series, anchor):
    series = cmp_series
    _, fschema = _schemas(series)
    old = (
        _with_time_cols(series, "ds")
        .groupBy(*KEYS)
        .applyInPandas(
            make_predict_fn(KEYS, anchor, 7, date_col="ds", y_col="y"), fschema
        )
    )
    new = forecast_groups(
        series, KEYS, horizon_start=anchor, horizon_days=7,
        model_spec="seasonal_naive", date_col="ds", y_col="y", pre_partitioned=True,
    )
    assert _canon(old) == _canon(new)


def test_gated_batched_equals_apply_in_pandas(spark, cmp_series, anchor):
    series = cmp_series
    metrics = train_groups(series, KEYS, date_col="ds", y_col="y")
    old = forecast_groups(
        gate_series(series, metrics, KEYS, max_rmse=GATE_RMSE),
        KEYS, horizon_start=anchor, horizon_days=7, date_col="ds", y_col="y",
    )
    new = gated_forecast_groups(
        series, KEYS, horizon_start=anchor, horizon_days=7,
        date_col="ds", y_col="y", max_rmse=GATE_RMSE, pre_partitioned=True,
    )
    assert _canon(old) == _canon(new)


def test_carry_over_across_tiny_arrow_batches(spark, series):
    """7-row Arrow batches split every ~30-row group across ≥4 batches —
    the carry-over path runs for essentially every group; the result must
    not move by a bit.  Also covers the whole-batch-is-one-group branch
    (len(starts) == 1 → accumulate into pending)."""
    tschema, _ = _schemas(series)
    baseline = train_groups(
        series, KEYS, model_spec="seasonal_naive", date_col="ds", y_col="y"
    )
    expected = _canon(baseline)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        small = train_groups(
            series, KEYS, model_spec="seasonal_naive", date_col="ds", y_col="y"
        )
        assert _canon(small) == expected
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_pre_partitioned_plan_has_single_exchange(spark, series):
    """demand_series repartitions on KEYS; the batched grouped map with
    pre_partitioned=True must add NO further exchange — the whole
    agg+train pipeline runs on one shuffle (the shape that survives
    1,115 → 1M groups)."""
    new = train_groups(
        series, KEYS, model_spec="seasonal_naive", date_col="ds", y_col="y",
        pre_partitioned=True,
    )
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_prophet_spec_still_routes_to_apply_in_pandas(spark, series):
    """The heavy-model fallback keeps the classic per-group shape: the
    physical plan must contain FlatMapGroupsInPandas (not MapInPandas).
    Import-gated specs raise only at execution, so the plan is buildable
    even without the prophet wheel."""
    df = train_groups(
        series, KEYS, model_spec="prophet", date_col="ds", y_col="y"
    )
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandas" in plan


def test_group_starts_preserves_int64_precision():
    """shift()'s int64→float64 upcast made surrogate keys >= 2**53 that
    differ only in low bits compare EQUAL, fusing adjacent groups into
    one — the positional raw-array comparison must keep them apart."""
    import numpy as np
    import pandas as pd

    from sales_forecast_mlops_at_scale_spark.operators.groupmap import (
        group_starts,
    )

    big = 2**53
    pdf = pd.DataFrame({"k": np.array([big, big, big + 1, big + 1, big + 2], dtype=np.int64)})
    assert group_starts(pdf, ["k"]).tolist() == [0, 2, 4]
    # null-safety unchanged: NaN == NaN groups, NaN != value splits
    pdf = pd.DataFrame({"k": [1.0, float("nan"), float("nan"), 2.0]})
    assert group_starts(pdf, ["k"]).tolist() == [0, 1, 3]
    pdf = pd.DataFrame({"k": ["a", "a", None, None, "b"]})
    assert group_starts(pdf, ["k"]).tolist() == [0, 2, 4]


def test_gate_rate_scaffold_invariant_on_degenerate_series(spark):
    """Pin the q_gate_rate derivation (VERDICT r12 #2): the readout
    reports ``n_forecast_rows = 7 × n_passed`` from the CV-metrics frame
    alone, trading a measured count for the invariant "the fused gated
    forecast emits exactly horizon_days rows per surviving group, zero
    per reject".  This test runs the ACTUAL gated forecast next to the
    derived count on a fixture of degenerate series — a 1-row series
    (no CV folds → NULL rmse → gate must reject), a 2-row minimal
    series, an erratic series engineered to fail the rmse bar, and a
    flat passer — so any future kernel path that emits fewer (or more)
    rows for a surviving group breaks HERE instead of silently shipping
    a wrong readout."""
    anchor = dt.date(2026, 1, 1)
    series = spark.createDataFrame(
        DEGENERATE_ROWS, "l_suppkey int, l_returnflag string, ds date, y int"
    )
    tm = train_groups(
        series, KEYS, model_spec="seasonal_naive", date_col="ds", y_col="y"
    ).collect()
    derived = {}
    for r in tm:
        passed = r.rmse is not None and r.rmse <= GATE_RMSE
        derived[r.l_returnflag] = derived.get(r.l_returnflag, 0) + (7 if passed else 0)
    gated = gated_forecast_groups(
        series, KEYS, horizon_start=anchor, horizon_days=7,
        date_col="ds", y_col="y", max_rmse=GATE_RMSE,
    ).collect()
    actual = {}
    for r in gated:
        actual[r.l_returnflag] = actual.get(r.l_returnflag, 0) + 1
    # the degenerate suppkey-3 group must have been rejected (NULL rmse)
    rmse_by_key = {(r.l_suppkey, r.l_returnflag): r.rmse for r in tm}
    assert rmse_by_key[(3, "B")] is None
    # scaffold invariant: actual materialized rows == 7 × survivors,
    # including returnflags where nothing survived (absent == 0)
    for rf in derived:
        assert actual.get(rf, 0) == derived[rf], (rf, actual, derived)
    assert set(actual) <= set(derived)


@pytest.fixture(scope="module")
def degenerate_sf(tmp_path_factory):
    """A ``lineitem.parquet`` of every degenerate series, typed like the
    TPC-H fixture's columns the ML queries read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = DEGENERATE_ROWS + EDGE_ROWS + SHORT_ROWS
    sf_dir = tmp_path_factory.mktemp("degenerate_sf")
    pq.write_table(
        pa.table(
            {
                "l_suppkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_returnflag": pa.array([r[1] for r in rows], pa.string()),
                "l_shipdate": pa.array(
                    [dt.datetime.combine(r[2], dt.time()) for r in rows], pa.timestamp("us")
                ),
                "l_quantity": pa.array([float(r[3]) for r in rows], pa.float64()),
            }
        ),
        sf_dir / "lineitem.parquet",
    )
    return str(sf_dir)


@pytest.mark.parametrize(
    "name",
    [
        "q_train_metrics",
        "q_forecast_7d",
        "q_gated_forecast",
        "q_model_compare",
        "q_conformal_intervals",
        "q_mondrian_conformal",
    ],
)
def test_degenerate_series_match_oracle(spark, degenerate_sf, name):
    """The seasonal-naive kernels against their DuckDB oracles on the
    degenerate series: no fold, one row per fold, gaps, single
    weekdays, and folds whose actuals are all zero."""
    import duckdb

    from sales_forecast_mlops_at_scale_spark.plans import all_queries

    qdef = all_queries()[name]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{degenerate_sf}/lineitem.parquet')"
    )
    assert_matches_oracle(qdef.fn(spark, degenerate_sf), con, qdef.oracle)
