"""Domain pipeline tests on reference-shaped fixtures, with a local
DuckDB differential for the interactive queries (the driver's oracle only
covers the star fixtures; here we register OUR generated domain tables in
DuckDB and run the same comparison)."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from sales_forecast_mlops_at_scale_spark.fixtures import (
    synthetic_forecast_results,
    synthetic_sales,
)
from sales_forecast_mlops_at_scale_spark.pipeline import (
    last_n_forecast_days,
    latest_forecasts,
    run_weekly,
    store_product_history,
)
from sales_forecast_mlops_at_scale_spark.session import FIXED_CLOCK


AS_OF = FIXED_CLOCK.as_of


@pytest.fixture(scope="module")
def sales(spark):
    return synthetic_sales(spark, n_stores=12, n_days=150, as_of=AS_OF).cache()


@pytest.fixture(scope="module")
def forecast_results(spark, tmp_path_factory):
    df = synthetic_forecast_results(spark, n_stores=10, as_of=AS_OF)
    path = str(tmp_path_factory.mktemp("domain") / "forecast_results.parquet")
    df.write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW forecast_results AS SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    return spark.read.parquet(path), con


def test_latest_per_key_matches_duckdb_oracle(spark, forecast_results):
    df, con = forecast_results
    got = latest_forecasts(df)
    want = con.execute(
        "SELECT id FROM (SELECT id, row_number() OVER ("
        " PARTITION BY store, productname, forecast_date ORDER BY id DESC) AS rn"
        " FROM forecast_results) t WHERE rn = 1 ORDER BY id"
    ).df()["id"].tolist()
    assert sorted(r.id for r in got.select("id").collect()) == want


def test_last_n_days_per_group(spark, forecast_results):
    df, con = forecast_results
    got = last_n_forecast_days(df, last_n=7)
    # every (store, product) has ≤7 rows, all from the newest generation
    per_group = got.groupBy("store", "productname").count().collect()
    assert all(r["count"] <= 7 for r in per_group)
    dup_check = got.groupBy("store", "productname", "forecast_date").count()
    assert dup_check.filter(F.col("count") > 1).count() == 0


def test_run_weekly_end_to_end(spark, sales):
    metrics, forecasts = run_weekly(sales, clock=FIXED_CLOCK)
    m = metrics.collect()
    assert len(m) == 12  # one row per (store, product_A)
    assert all(r.rmse is not None and r.rmse >= 0 for r in m)
    assert all(r.n_splits == 5 for r in m)
    f = forecasts
    assert f.count() == 12 * 7
    dates = sorted(r.forecast_date for r in f.select("forecast_date").distinct().collect())
    assert dates[0] == AS_OF and len(dates) == 7
    assert f.filter(F.col("forecast_sale") < 0).count() == 0
    # ids are unique generation stamps (feeding W1 dedup on re-runs)
    assert f.select("id").distinct().count() == 12 * 7


@pytest.mark.parametrize("gated", [False, True], ids=["ungated", "median_gate"])
@pytest.mark.parametrize("model_spec", ["seasonal_naive", "moving_average"])
def test_fused_run_weekly_equals_composed_pipeline(spark, sales, model_spec, gated):
    """run_weekly's one grouped pass must give exactly the rows of the
    composed train_groups → gate_series → forecast_groups pipeline: the
    metrics with floats compared exactly, the forecasts without their
    per-run id / created_on stamps."""
    from sales_forecast_mlops_at_scale_spark.ml import (
        forecast_groups,
        gate_series,
        train_groups,
    )

    keys = ("store", "productname")
    recent = sales.filter(
        (F.col("date") >= F.date_sub(F.lit(AS_OF), 120)) & (F.col("open") == 1)
    )
    want_metrics = train_groups(recent, keys, model_spec=model_spec)
    max_rmse, served = None, recent
    if gated:
        max_rmse = want_metrics.approxQuantile("rmse", [0.5], 0.0)[0]
        served = gate_series(recent, want_metrics, keys, max_rmse=max_rmse)
    want_forecasts = forecast_groups(
        served, keys, horizon_start=AS_OF, model_spec=model_spec
    )

    metrics, forecasts = run_weekly(
        sales, clock=FIXED_CLOCK, model_spec=model_spec, max_rmse=max_rmse
    )
    forecasts = forecasts.drop("id", "created_on")
    assert metrics.columns == want_metrics.columns
    assert forecasts.columns == want_forecasts.columns
    got_m, want_m = sorted(metrics.collect()), sorted(want_metrics.collect())
    assert [tuple(r) for r in got_m] == [tuple(r) for r in want_m]
    got_f, want_f = sorted(forecasts.collect()), sorted(want_forecasts.collect())
    assert [tuple(r) for r in got_f] == [tuple(r) for r in want_f]
    n_served = len({(r.store, r.productname) for r in got_f})
    if gated:
        assert 0 < n_served < len(got_m)
    else:
        assert n_served == len(got_m)


def test_quality_gate_prunes_bad_models(spark, sales):
    """U6: a tight rmse bar must drop whole groups from the forecast
    output while the default bar (1000, the reference's) passes all."""
    from sales_forecast_mlops_at_scale_spark.ml import gate_report

    metrics, forecasts = run_weekly(sales, clock=FIXED_CLOCK)
    n_groups = metrics.count()
    assert forecasts.select("store", "productname").distinct().count() == n_groups

    median_rmse = metrics.approxQuantile("rmse", [0.5], 0.0)[0]
    _, gated = run_weekly(sales, clock=FIXED_CLOCK, max_rmse=median_rmse)
    n_gated_groups = gated.select("store", "productname").distinct().count()
    assert 0 < n_gated_groups < n_groups

    report = gate_report(metrics, max_rmse=median_rmse).collect()[0]
    assert report.n_passed == n_gated_groups
    assert report.n_passed + report.n_rejected == n_groups


def test_store_product_history_slice(spark, sales):
    h = store_product_history(sales, store=3, product="product_A").collect()
    assert len(h) > 80
    assert all(r.store == 3 and r.open == 1 for r in h)
    assert [r.date for r in h] == sorted(r.date for r in h)


def test_weekly_rerun_dedups_via_latest(spark, sales):
    """Two weekly runs → union carries two generations; latest_forecasts
    must keep exactly the newer one (the reference's re-forecast dedup).
    Generations are distinguished by created_on (the composite version key
    is (created_on, id)); ids are only unique within a run."""
    _, f1 = run_weekly(sales, clock=FIXED_CLOCK)
    _, f2 = run_weekly(sales, clock=FIXED_CLOCK)
    f2b = f2.withColumn("created_on", F.col("created_on") + F.expr("INTERVAL 7 DAYS"))
    gen2_start = f2b.agg(F.min("created_on")).collect()[0][0]
    merged = f1.unionByName(f2b)
    latest = latest_forecasts(merged)
    assert latest.count() == f1.count()
    assert latest.filter(F.col("created_on") < gen2_start).count() == 0  # all gen 2


def test_ml_facets_internally_consistent(spark):
    """The three r7 facet queries (q_cv_split_stats, q_forecast_weekday,
    q_rmse_bands) must reconcile exactly with the trio they roll up —
    a facet that drifted from its parent dataflow would pass its own
    oracle while misrepresenting the pipeline."""
    from tests.conftest import SF_DIR

    from sales_forecast_mlops_at_scale_spark.plans.ml_queries import (
        q_cv_split_stats,
        q_forecast_7d,
        q_forecast_weekday,
        q_rmse_bands,
        q_train_metrics,
    )

    tm = q_train_metrics(spark, SF_DIR).collect()
    stats = q_cv_split_stats(spark, SF_DIR).collect()[0]
    assert stats.n_groups == len(tm)
    assert stats.n_scored_groups == sum(1 for r in tm if r.n_splits > 0)
    assert stats.total_splits == sum(r.n_splits for r in tm)
    assert stats.total_rows == sum(r.n_rows for r in tm)

    bands = {r.rmse_band: r.n_groups for r in q_rmse_bands(spark, SF_DIR).collect()}
    assert sum(bands.values()) == sum(1 for r in tm if r.rmse is not None)

    fc = q_forecast_7d(spark, SF_DIR).collect()
    wk = q_forecast_weekday(spark, SF_DIR).collect()
    assert sorted(r.iso_weekday for r in wk) == list(range(1, 8))
    assert sum(r.n_rows for r in wk) == len(fc)
    assert sum(r.total_forecast for r in wk) == sum(r.forecast_sale for r in fc)
