"""End-to-end domain pipelines — the reference's three entry points
(SURVEY.md §3) as engine functions.

Where the reference runs an Airflow DAG spanning five services (train via
Ray + HTTP poll, cross-join request builder on the Airflow worker, HTTP
batch forecast, JSON flatten, ``to_sql`` append — §3.2), each pipeline
here is ONE Spark job graph; process boundaries shrink to
driver↔executors, and every step is a DataFrame so Catalyst optimizes
across what used to be service seams.

All functions take an explicit :class:`~.session.Clock` — no wall-clock
reads anywhere (SURVEY.md §7 hazard #1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ml.fused import FORECAST_ARRAYS, explode_forecasts, fit_forecast_groups
from .operators import latest_per_key, top_n_per_group
from .session import Clock


def run_weekly(
    sales: DataFrame,
    *,
    clock: Clock,
    train_window_days: int = 120,
    horizon_days: int = 7,
    model_spec: str = "seasonal_naive",
    max_rmse: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The weekly DAG (§3.2) as ONE grouped pass: (metrics, forecasts).

    - filter last ``train_window_days`` (reference pulls ``last_days=120``,
      ray_train_all_job.py:23-25) — prunes date partitions at the scan
    - one grouped map (``ml.fit_forecast_groups``, replacing 1,115 Ray
      tasks) runs walk-forward CV and the ``horizon_days`` forecast on
      the same group: one scan, one exchange and sort, one Python stage.
      Its rows (metrics + three forecast arrays per group) are
      materialized ONCE, here, with ``localCheckpoint(eager=True)``
    - both outputs are JVM projections of those rows: ``metrics`` drops
      the arrays; ``forecasts`` explodes them into rows with
      generation-stamped ids (feeding the W1 dedup on re-runs)
    - model-quality gate (U6), opt-in via ``max_rmse``: a filter on the
      fused rows, so groups whose CV rmse exceeds the bar (or is NULL)
      emit no forecast rows; ``metrics`` keeps every group.  The
      reference checks rmse > 1000 at serve time but only logs the
      failure (forecast-service/app/handlers/mlflow.py:32-40); pass
      ``max_rmse=ml.DEFAULT_MAX_RMSE`` to make that check an actual hard
      gate — ``None`` (default) reproduces the reference's serve-anyway
      behavior

    Trade-off of the checkpoint: it cuts lineage, so both outputs read
    the same materialized rows (never a recomputation over newer data)
    and the caller's two writes run no model work; but its blocks live
    on the executors that computed them, so on a cluster an executor
    lost between the two writes fails the second write instead of
    recomputing it.  The blocks are not a CacheManager entry: Spark's
    ContextCleaner frees them once both frames are dropped.
    """
    keys = ("store", "productname")
    recent = sales.filter(
        (F.col("date") >= F.date_sub(F.lit(clock.as_of), train_window_days))
        & (F.col("open") == 1)
    )
    fused = fit_forecast_groups(
        recent,
        keys,
        horizon_start=clock.as_of,
        horizon_days=horizon_days,
        model_spec=model_spec,
    ).localCheckpoint(eager=True)
    metrics = fused.drop(*FORECAST_ARRAYS)
    if max_rmse is not None:
        fused = fused.filter(F.col("rmse") <= max_rmse)
    # Surrogate row ids WITHOUT a global total order: the reference's
    # Postgres sequence is replaced by the composite key
    # (created_on, id) — ``created_on`` stamps the generation, ``id`` is
    # ``monotonically_increasing_id()`` (partition-local counters, zero
    # shuffle, unique within a run).  A single global
    # ``row_number() OVER (ORDER BY ...)`` here would funnel the whole
    # forecast output through one task at 100 TB; nothing downstream
    # needs a total order — latest-per-key dedup only compares versions
    # *within* a (store, product, forecast_date) partition.
    forecasts = (
        explode_forecasts(fused, keys, clock.as_of)
        .withColumn("id", F.monotonically_increasing_id())
        .withColumn("created_on", F.lit(clock.as_of).cast("timestamp"))
    )
    return metrics, forecasts


def latest_forecasts(forecasts: DataFrame) -> DataFrame:
    """Interactive-query building block #1 (§3.3): newest generation per
    (store, productname, forecast_date) — the window rewrite of the
    reference's GROUP-BY-MAX self-join (J1/W1).

    Versions are ordered by the composite (created_on, id): generation
    timestamp first, partition-local surrogate id as the tie-breaker —
    matching the reference's ``MAX(id)`` semantics (its sequence ids grow
    with time) without requiring globally ordered ids."""
    return latest_per_key(
        forecasts,
        ["store", "productname", "forecast_date"],
        F.struct("created_on", "id"),
    )


def last_n_forecast_days(
    forecasts: DataFrame, *, last_n: int = 7
) -> DataFrame:
    """Interactive-query building block #2 (§3.3): last ``last_n``
    forecast days per (store, productname) — all groups in one pass
    (the reference re-queries Postgres per store, W2)."""
    deduped = latest_forecasts(forecasts)
    return top_n_per_group(
        deduped,
        ["store", "productname"],
        [F.col("forecast_date").desc(), F.col("id").desc()],
        last_n,
    )


def store_product_history(
    sales: DataFrame, store: int, product: str
) -> DataFrame:
    """Group slice feeding a single-model retrain (§3.3 retrain button;
    P8+O1): open days of one (store, product), time-ordered."""
    return (
        sales.filter(
            (F.col("store") == store)
            & (F.col("productname") == product)
            & (F.col("open") == 1)
        )
        .orderBy("date")
    )
