"""SparkSession factory.

Replaces the reference's ad-hoc session builder
(``/root/reference/services/airflow/dags/spark_streaming.py:32-42``) with one
tuned for large-scale batch + streaming analytics:

- **AQE on** (runtime coalescing, skew-join splitting, broadcast demotion) —
  the single most important knob for 100 TB plans.
- **Arrow on** for every pandas interchange (``applyInPandas`` / ``toPandas``)
  — the reference moved rows one at a time through an ORM; we move columnar
  Arrow batches.
- **UTC session timezone** and an **injectable clock**: the reference calls
  ``datetime.now()`` inside its operators (``put_data_in_postgres.py:30``,
  ``kafka_producer.py:58``, ``task_operators.py:69``), which makes results
  irreproducible.  Every operator here takes an explicit ``as_of`` argument
  instead; ``Clock`` is the one place a caller can bind "now".
- ``spark.sql.legacy.parquet.nanosAsLong`` — the driver fixtures carry
  TIMESTAMP(NANOS) columns which Spark's parquet reader rejects by default;
  we read them as long and convert in the catalog layer (micro truncation,
  bit-identical to DuckDB's read of the same files).
"""

from __future__ import annotations

import datetime as _dt
import os
from dataclasses import dataclass

from pyspark.sql import SparkSession

DEFAULT_PARALLELISM = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


@dataclass(frozen=True)
class Clock:
    """Injectable 'now' — operators must never call ``datetime.now()``."""

    as_of: _dt.date

    @property
    def today(self) -> _dt.date:
        return self.as_of

    @property
    def yesterday(self) -> _dt.date:
        return self.as_of - _dt.timedelta(days=1)


#: Deterministic clock used by tests and the driver's oracle comparisons.
FIXED_CLOCK = Clock(as_of=_dt.date(2026, 1, 1))


def default_driver_memory(total_bytes: int) -> str:
    """The driver heap for a host with ``total_bytes`` of physical RAM:
    half of it, capped at 16 GiB.  16g halves GC-induced run-to-run
    spread vs 8g when the bench drives ~100 queries × 3 reps through one
    JVM with operator-internal caches alive (128 GiB host); on a small
    host a 16g heap outgrows the RAM and the kernel kills the JVM."""
    return f"{max(1, min(16, total_bytes // 2 // 2**30))}g"


def get_spark(
    app_name: str = "sales-forecast-spark-engine",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``shuffle_partitions`` defaults to the local core count; on a real
    cluster set it ≈ 2-3× total executor cores (AQE coalesces the excess,
    except in grouped maps, which run exactly this many tasks — see
    ``operators/groupmap``).
    """
    # Before the JVM launches: forked Python workers inherit the JVM's
    # env, so a discovered protobuf runtime (TWS state protocol) must
    # land in os.environ now or never.  No-op when protobuf is a normal
    # install or absent entirely (see protobuf_compat).
    from .protobuf_compat import ensure_protobuf_runtime

    ensure_protobuf_runtime()

    master = master or os.environ.get("SPARK_MASTER", f"local[{DEFAULT_PARALLELISM}]")
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(
        os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_PARALLELISM))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MiB input splits: good balance of task count vs scheduling
        # overhead for columnar scans at any scale factor.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # InferFiltersFromGenerate re-creates the generator's argument
        # expression inside an inferred size()>0 filter; for expensive
        # array-building expressions (shingling) that doubles-to-triples
        # the row cost for no benefit (explode drops empties anyway).
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", driver_memory)
    )
    if master.startswith("local"):
        # list partition directories serially, without a Spark job: above
        # this many directories Spark launches a listing job, which on
        # one host costs more than the listing it spreads; remote masters
        # keep the parallel listing, which spreads object-store LIST
        # calls across executors
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
