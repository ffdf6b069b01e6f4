"""Catalog — load the parquet fixtures as DataFrames.

Analog of the reference's dual schema system (SURVEY.md §1.3): declared
StructTypes live in :mod:`schemas`; this module is the "reflection" side
(``automap_base()`` in the reference, ``spark.table`` here).

Scale notes
-----------
- Tables are plain parquet scans: Catalyst pushes filters + prunes columns
  into the scan, so downstream operators never pay for unread columns.
- ``events.ts`` is TIMESTAMP(NANOS) in the fixtures, which Spark's reader
  rejects; we read nanos-as-long (session conf) and truncate to micros —
  identical values to DuckDB reading the same file, so oracle hashes match.
- Nothing is cached here by default: at 100 TB you re-scan (cheap, pruned)
  rather than pin TBs in executor memory.  ``load_dim`` marks the small
  dimension tables broadcast-friendly instead.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .cache import path_sig

#: Dimension tables small enough to broadcast at any scale factor.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


#: Session-scoped memo of loaded tables: ``path -> (session, stat_sig,
#: DataFrame)``.  Each ``spark.read.parquet`` costs ~50-80 ms of py4j +
#: footer/listing work even for an already-seen path, and every query
#: build pays it 1-3×, so the memo is the single biggest lever on
#: cold-path plan-construction latency.  DataFrames are immutable plans:
#: handing the same object to many queries is safe.  Staleness is
#: checked per call against the path's ``cache.path_sig`` — a rewrite,
#: append, or compaction changes the signature and forces a re-read, so
#: correctness never depends on the memo (it only skips re-listing an
#: UNCHANGED path).  Entries are per-session (identity-checked) and the
#: map stays bounded by the number of distinct table paths touched.
_TABLE_MEMO: dict[str, tuple[object, tuple, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table, normalizing fixture quirks.

    - ``events``: nanos-as-long ``ts`` → TIMESTAMP_NTZ at micro precision
      (floor division, matching DuckDB's nanos read of the same parquet).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    sig = path_sig(path)
    if sig is not None:
        hit = _TABLE_MEMO.get(path)
        if hit is not None:
            owner, hit_sig, df = hit
            try:
                alive = owner.sparkContext._jsc is not None
            except Exception:  # noqa: BLE001 — stopped session
                alive = False
            if owner is spark and alive and hit_sig == sig:
                return df
    if name == "events":
        # The fixture's ts column is TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects unless nanos are surfaced as raw longs.  The conf is
        # runtime-settable, and callers (including the external driver harness)
        # may build their own SparkSession, so set it here rather than relying
        # on the builder in session.get_spark().
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    if sig is not None:
        _TABLE_MEMO[path] = (spark, sig, df)
    return df


def load_dim(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a dimension table with a broadcast hint attached.

    Joins against the result build a broadcast hash join regardless of
    AQE's size estimate — the right default for the star dims
    (``DIM_TABLES``), which stay broadcastable at every scale factor.
    Raises for fact tables so a 100 TB lineitem can't be hinted into
    executor memory by accident."""
    if name not in DIM_TABLES:
        raise ValueError(f"{name} is not a dimension table: {sorted(DIM_TABLES)}")
    return F.broadcast(load_table(spark, sf_dir, name))
