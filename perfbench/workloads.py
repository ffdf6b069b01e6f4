"""The two workloads.  Each is closed-loop with one caller: the next
operation starts when the previous one has returned and been checked.

Every workload has the same shape, driven by ``run.py``:

- ``prepare()``: generate the inputs into a fresh directory (untimed);
- ``warm()``: the first operations, which pay JIT and Python-worker
  start-up; returns the seconds the program spent in them (``setup_s``
  is JVM start plus this, without the benchmark's checks);
- ``step()``: one timed operation, recorded through ``run.run_op``, or
  ``False`` once the workload's fixed number of operations has run;
- ``finish()``: untimed checks that need the whole run;
- ``detail(ops)`` / ``layer_metrics(ops)``: the workload's own named
  metrics, and the per-layer metrics of a traced run.
"""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil
import statistics
import sys
import time
from collections import defaultdict

import numpy as np
import pandas as pd

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
FAMILIES = ("star", "tpch", "analytics", "ml", "llm")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


class Workload:
    def __init__(self, run, fault: str | None = None) -> None:
        self.run = run
        self.fault = fault

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.run.data, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path


# ---------------------------------------------------------------------------
# weekly_retrain
# ---------------------------------------------------------------------------

#: model spec -> (path label, store filter).  The per-group path runs on a
#: fixed one-in-32 store sample (70 series): at 2,230 series it takes
#: 14-30 s a week on 4 cores, more than a whole run may spend.
PATHS = {
    "seasonal_naive": ("fast", None),
    "moving_average": ("pergroup", 32),
}


class WeeklyRetrain(Workload):
    """Simulated weeks of the paper's pipeline.  Each week the week's
    Kafka-shaped sales events (one JSON-lines file a day) are drained by
    ``streaming.ingest.run_stream_ingest`` into the date-partitioned
    warehouse, one reader query runs over it, and ``pipeline.run_weekly``
    runs once per model path over the warehouse: metrics and forecasts
    are written, and the forecasts read back through
    ``pipeline.last_n_forecast_days``."""

    #: nine weeks: enough for the 28-day moving average and the 5-fold CV,
    #: few enough partitions that listing them does not dominate a read
    HISTORY_DAYS = 63
    START = dt.date(2025, 10, 27)  # a Monday
    #: timed weeks after the warm-up week, whatever the host's speed; a
    #: traced run times two, tracing the first (design.json says why not
    #: more)
    WEEKS = 1

    def prepare(self) -> None:
        self.root = self.fresh_dir("weekly")
        self.warehouse = os.path.join(self.root, "warehouse")
        self.src = os.path.join(self.root, "events")
        self.checkpoint = os.path.join(self.root, "checkpoint")
        os.makedirs(self.src)
        self.model = gen.SalesModel.draw(self.run.seed)
        gen.write_warehouse(self.model, gen.dates_from(self.START, self.HISTORY_DAYS), self.warehouse)
        self.first_drained = self.as_of = self.START + dt.timedelta(days=self.HISTORY_DAYS)
        self.events = gen.event_stream(self.model, self.as_of)
        self.delivered: dict[tuple, int] = {}  # natural key -> sales, drained dates only
        self.drained_rows = 0
        self.first_file = None

    def warm(self) -> float:
        self._deliver_week()
        op: dict = {}
        self._week(op)
        return op["wall"]

    def step(self):
        if len(self.run.ops) == self.WEEKS * (2 if self.run.trace else 1):
            return False
        self._deliver_week()
        self.run.run_op("week", self._week)

    def _deliver_week(self) -> None:
        """Land the week's seven daily event files in the source directory
        (the drain picks them up as one micro-batch)."""
        self.week_lines = 0
        for i in range(7):
            lines, keys = next(self.events)
            name = f"day-{self.as_of + dt.timedelta(days=i)}.json"
            gen.write_lines(lines, os.path.join(self.src, name))
            self.first_file = self.first_file or name
            self.week_lines += len(lines)
            for key, sales in keys.items():
                self.delivered.setdefault(key, sales)
        self.as_of += dt.timedelta(days=7)

    def _drain(self) -> None:
        from sales_forecast_mlops_at_scale_spark.streaming import ingest

        spark = self.run.spark
        ingest.run_stream_ingest(
            spark,
            source=ingest.file_event_source(spark, self.src),
            target_path=self.warehouse,
            checkpoint_path=self.checkpoint,
        )

    def _week(self, op) -> None:
        from pyspark.sql import functions as F

        from sales_forecast_mlops_at_scale_spark import pipeline
        from sales_forecast_mlops_at_scale_spark.session import Clock

        run = self.run
        t0 = time.perf_counter()
        with run.bucket("drain"):
            self._drain()
        t1 = time.perf_counter()
        if self.fault == "ingest_dup_row" and "kind" in op:  # timed weeks only
            _duplicate_one_row(self.warehouse)
        first = self.as_of - dt.timedelta(days=7)
        with run.bucket("read"), run.span("read.weekly_totals", "action"):
            totals = (
                run.spark.read.parquet(self.warehouse)
                .filter(F.col("date") >= F.lit(first))
                .groupBy("date")
                .agg(F.count("*").alias("n"), F.sum("sales").alias("sales"))
                .collect()
            )
        t2 = time.perf_counter()
        op["drain_s"], op["read_s"], op["delivered"] = t1 - t0, t2 - t1, self.week_lines
        wall = t2 - t0
        op["appended"] = self._check_warehouse(totals, first)
        run.sample_canary()
        for spec, (label, every) in PATHS.items():
            sales = run.spark.read.parquet(self.warehouse)
            if every:
                sales = sales.filter(F.col("store") % every == 1)
            t0 = time.perf_counter()
            with run.bucket(f"ml.{label}.train"):
                metrics, forecasts = pipeline.run_weekly(sales, clock=Clock(self.as_of), model_spec=spec)
                with run.span("write.metrics", "action"):
                    metrics.write.mode("append").parquet(os.path.join(self.root, f"metrics-{label}"))
            t1 = time.perf_counter()
            out = os.path.join(self.root, f"forecasts-{label}")
            with run.bucket(f"ml.{label}.forecast"), run.span("write.forecasts", "action"):
                forecasts.write.mode("append").parquet(out)
            t2 = time.perf_counter()
            with run.bucket(f"pipeline.{label}.read"):
                back = pipeline.last_n_forecast_days(run.spark.read.parquet(out))
                with run.span("read.forecasts", "action"):
                    got = back.toPandas()
            t3 = time.perf_counter()
            op[f"{label}_train_s"], op[f"{label}_forecast_s"] = t1 - t0, t2 - t1
            op[f"{label}_s"], op[f"{label}_read_s"] = t2 - t0, t3 - t2
            wall += t3 - t0
            run.check(
                _forecasts_match(got, self._expected(spec, every)),
                f"{label} forecasts for the week of {self.as_of}",
            )
            run.sample_canary()
        op["wall"] = wall

    def _check_warehouse(self, totals, first: dt.date) -> int:
        """The drained part of the warehouse holds exactly the distinct
        natural keys delivered, each once, with the delivered sales, and
        the reader query's totals agree; returns the rows the drain added."""
        import duckdb

        rows = duckdb.sql(
            f"SELECT store, productname, CAST(date AS VARCHAR), sales "
            f"FROM read_parquet('{self.warehouse}/*/*.parquet', hive_partitioning = true) "
            f"WHERE date >= DATE '{self.first_drained}'"
        ).fetchall()
        added, self.drained_rows = len(rows) - self.drained_rows, len(rows)
        stored = {r[:3]: r[3] for r in rows}
        self.run.check(
            len(stored) == len(rows) and stored == self.delivered,
            f"warehouse keys after the drain of the week of {first}",
        )
        want: dict[str, list] = defaultdict(lambda: [0, 0])
        for (_store, _product, date), sales in self.delivered.items():
            if date >= first.isoformat():
                want[date][0] += 1
                want[date][1] += sales
        have = {r["date"].isoformat(): [r["n"], r["sales"]] for r in totals}
        self.run.check(have == dict(want), f"reader query after the drain of the week of {first}")
        return added

    def _expected(self, spec: str, every: int | None) -> pd.DataFrame:
        """The forecasts, computed by DuckDB over the same warehouse files."""
        import duckdb

        where = f"AND store % {every} = 1" if every else ""
        history = (
            f"SELECT store, productname, date, CAST(sales AS DOUBLE) AS y "
            f"FROM read_parquet('{self.warehouse}/*/*.parquet', hive_partitioning = true) "
            f"WHERE date >= DATE '{self.as_of}' - INTERVAL 120 DAY AND open = 1 {where}"
        )
        horizon = f"SELECT CAST(DATE '{self.as_of}' + INTERVAL (i) DAY AS DATE) AS forecast_date FROM range(7) t(i)"
        if spec == "seasonal_naive":
            sql = f"""
            WITH h AS ({history}),
            m AS (SELECT store, productname, avg(y) AS mean FROM h GROUP BY ALL),
            l AS (SELECT store, productname, isodow(date) AS dow, arg_max(y, date) AS v FROM h GROUP BY ALL)
            SELECT m.store, m.productname, z.forecast_date, coalesce(l.v, m.mean) AS v
            FROM m CROSS JOIN ({horizon}) z
            LEFT JOIN l ON l.store = m.store AND l.productname = m.productname
                AND l.dow = isodow(z.forecast_date)"""
        else:
            sql = f"""
            WITH h AS ({history}),
            r AS (SELECT *, row_number() OVER (PARTITION BY store, productname ORDER BY date DESC) AS rn FROM h),
            m AS (SELECT store, productname, avg(y) AS mean FROM r WHERE rn <= 28 GROUP BY ALL)
            SELECT m.store, m.productname, z.forecast_date, trunc(m.mean) AS v
            FROM m CROSS JOIN ({horizon}) z"""
        want = duckdb.sql(sql).df()
        v = want.pop("v").to_numpy()
        want["forecast_sale"] = v.astype(int)
        want["lower_ci"] = (v * 0.9).astype(int)
        want["upper_ci"] = (v * 1.1).astype(int)
        return want

    def finish(self) -> None:
        """A redelivered day appends zero rows."""
        with open(os.path.join(self.src, self.first_file)) as f:
            lines = f.read().splitlines()
        gen.write_lines(lines, os.path.join(self.src, "replay-" + self.first_file))
        before = self.drained_rows
        self._drain()
        rows = self._count_drained()
        self.run.check(rows == before, "a redelivered day appends nothing")
        self.target_files = len(glob.glob(os.path.join(self.warehouse, "*", "*.parquet")))

    def _count_drained(self) -> int:
        import duckdb

        return duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{self.warehouse}/*/*.parquet', hive_partitioning = true) "
            f"WHERE date >= DATE '{self.first_drained}'"
        ).fetchone()[0]

    def detail(self, ops) -> dict:
        return {
            "drain_s": _median(op["drain_s"] for op in ops),
            "ingest_read_s": _median(op["read_s"] for op in ops),
            "ingest_rows_per_s": sum(op["delivered"] for op in ops) / sum(op["drain_s"] for op in ops),
            "retrain_fast_s": _median(op["fast_s"] for op in ops),
            "retrain_pergroup_s": _median(op["pergroup_s"] for op in ops),
            "forecast_read_s": _median(op[f"{p}_read_s"] for op in ops for p in ("fast", "pergroup")),
        }

    def layer_metrics(self, ops) -> dict:
        out = common_layer_metrics(self.run, ops)
        traced = [op for op in ops if op["traced"]]
        n = max(len(traced), 1)
        weeks = self.run.op_counters
        for key in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch"):
            out[f"streaming.{key}_ms"] = _mean(sum(p.get(key, 0) for p in c["progress"]) for c in weeks)
        out["streaming.batches_per_drain"] = _mean(len(c["progress"]) for c in weeks)
        delivered = sum(op["delivered"] for op in traced)
        appended = sum(op["appended"] for op in traced)
        out["ingest.rows_delivered"] = delivered / n
        out["ingest.rows_appended"] = appended / n
        out["ingest.useful_ratio"] = appended / max(delivered, 1)
        out["ingest.target_files"] = self.target_files
        out["ingest.read_s"] = _mean(op["read_s"] for op in traced)
        buckets = self.run.probe.buckets if self.run.probe else {}
        write_ms = 0.0
        for label in ("fast", "pergroup"):
            train = buckets.get(f"ml.{label}.train", {})
            fc = buckets.get(f"ml.{label}.forecast", {})
            out[f"ml.{label}.train_groups_s"] = _mean(op[f"{label}_train_s"] for op in traced)
            out[f"ml.{label}.forecast_groups_s"] = _mean(op[f"{label}_forecast_s"] for op in traced)
            for key in (
                "python_total_ms", "python_boot_ms", "python_init_ms",
                "python_bytes_sent", "python_bytes_received", "shuffle_bytes",
            ):
                out[f"ml.{label}.{key}"] = (train.get(key, 0) + fc.get(key, 0)) / n
            write_ms += fc.get("write_commit_ms", 0)
        out["pipeline.write_s"] = write_ms / 1000 / n
        out["pipeline.read_s"] = _mean(op["fast_read_s"] + op["pergroup_read_s"] for op in traced)
        return out


def _duplicate_one_row(target: str) -> None:
    """Fault injection: write a copy of one drained row as an extra file."""
    import pyarrow.parquet as pq

    part = sorted(glob.glob(os.path.join(target, "*", "part-*.parquet")))[-1]
    table = pq.read_table(part).slice(0, 1)
    pq.write_table(table, os.path.join(os.path.dirname(part), "part-injected-duplicate.parquet"))


def _forecasts_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    def rows(df: pd.DataFrame) -> list[tuple]:
        return sorted(
            zip(
                df["store"].astype(int),
                df["productname"],
                pd.to_datetime(df["forecast_date"]).dt.strftime("%Y-%m-%d"),
                df["forecast_sale"].astype(int),
                df["lower_ci"].astype(int),
                df["upper_ci"].astype(int),
            )
        )

    return rows(got) == rows(want)


# ---------------------------------------------------------------------------
# dashboard_session
# ---------------------------------------------------------------------------


def _family_of() -> dict[str, str]:
    from sales_forecast_mlops_at_scale_spark.plans import (
        analytics_queries,
        llm_queries,
        ml_queries,
        star_queries,
        tpch_queries,
    )

    mods = {
        "star": star_queries, "tpch": tpch_queries, "analytics": analytics_queries,
        "ml": ml_queries, "llm": llm_queries,
    }
    return {name: fam for fam, mod in mods.items() for name in mod.QUERIES}


class _Fixtures(RuntimeError):
    pass


def _forbid_fixtures() -> None:
    """Make an excluded on-disk fixture build fail loudly: a query that
    reaches one does not belong in these workloads (design.json lists
    every excluded query and why)."""
    from sales_forecast_mlops_at_scale_spark.plans import fixture_roots, ml_queries

    def refuse(*_a, **_k):
        raise _Fixtures("query reached an on-disk fixture build")

    originals = {fixture_roots.ensure_built, ml_queries._train_state_root}
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("sales_forecast_mlops_at_scale_spark"):
            for attr, val in list(vars(mod).items()):
                if callable(val) and val in originals:
                    setattr(mod, attr, refuse)


class DashboardSession(Workload):
    """One client on the read path at sf0.1, caches kept for the session.

    The session first loads each of its pages (design.json, with the
    source of each) once, in the listed order and with empty caches: the
    full result is collected, as the dashboard renders it.  These page
    loads end the set-up.  The timed part is the revisits: every page
    ``ROUNDS`` times, each round in a seeded order, served with whatever
    the page loads left cached.  After the session every page load's
    result is checked against the page's DuckDB oracle."""

    SF = 0.1
    #: revisits per page: every page is equally popular.  A traced run
    #: makes two rounds, tracing each page's first revisit
    ROUNDS = 1
    COLD_GROUPS = {"cold_sql_s": ("star", "tpch", "analytics"), "cold_ml_s": ("ml",), "cold_llm_s": ("llm",)}

    def prepare(self) -> None:
        self.sf_dir = self.fresh_dir("sf")
        gen.write_star(self.run.seed, self.SF, self.sf_dir)

    def warm(self) -> float:
        from sales_forecast_mlops_at_scale_spark.cache import clear_slots
        from sales_forecast_mlops_at_scale_spark.plans import all_queries

        start = time.perf_counter()
        run = self.run
        _forbid_fixtures()
        self.registry = all_queries()
        self.family = _family_of()
        self.pages = list(_design()["dashboard_session"]["pages"])
        # the session's first Spark job pays the SQL engine's own start-up;
        # keep it out of the first page load
        self.registry["q6_forecast_revenue"].fn(run.spark, self.sf_dir).count()
        clear_slots()
        run.spark.catalog.clearCache()
        self.loaded: dict[str, pd.DataFrame] = {}
        self.cold: dict[str, float] = {}
        for name in self.pages:
            t0 = time.perf_counter()
            self.loaded[name] = self.registry[name].fn(run.spark, self.sf_dir).toPandas()
            self.cold[name] = time.perf_counter() - t0
        warm_s = time.perf_counter() - start
        rng = np.random.default_rng([run.seed, 5])
        rounds = self.ROUNDS * (2 if run.trace else 1)
        self.sequence = [self.pages[i] for _ in range(rounds) for i in rng.permutation(len(self.pages))]
        return warm_s

    def step(self):
        if not self.sequence:
            return False
        name = self.sequence.pop(0)
        self.run.run_op("revisit", lambda op: self._query(name, op), key=name)

    def _query(self, name: str, op) -> None:
        """Build and count one registry query; the count must equal the
        page load's row count."""
        run = self.run
        fam = self.family[name]
        op["query"], op["family"] = name, fam
        with run.bucket(f"family.{fam}"):
            t0 = time.perf_counter()
            with run.span(f"plans.{name}", f"plans.{fam}"):
                df = self.registry[name].fn(run.spark, self.sf_dir)
            t1 = time.perf_counter()
            with run.span("count", "action"):
                n = df.count()
            t2 = time.perf_counter()
        want = len(self.loaded[name])
        op["build_s"], op["exec_s"], op["wall"] = t1 - t0, t2 - t1, t2 - t0
        run.check(n == want, f"{name} count {n} != page load's {want}")

    def finish(self) -> None:
        """Untimed: every page load's result equals its DuckDB oracle's
        (``compare_result``); the pages equal only up to a rounding tie
        are listed as ``rounding_ties`` on the detail line."""
        import duckdb

        sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
        from check_oracle import TABLES

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        self.ties = []
        for name in self.pages:
            sql = self.registry[name].oracle
            if sql is None:
                continue  # checked by the revisits' row counts only
            verdict = compare_result(self.loaded[name], con.execute(sql).df())
            self.run.check(verdict != "differ", f"{name} differs from its oracle")
            if verdict == "tie":
                self.ties.append(name)
        con.close()

    def detail(self, ops) -> dict:
        walls = [op["wall"] for op in ops]
        return {
            "query_p50_s": _median(walls),
            "query_p90_s": float(np.percentile(walls, 90)),
            "queries_per_s": len(walls) / sum(walls),
            **{
                key: sum(t for q, t in self.cold.items() if self.family[q] in fams)
                for key, fams in self.COLD_GROUPS.items()
            },
            "rounding_ties": self.ties,
        }

    def layer_metrics(self, ops) -> dict:
        out = common_layer_metrics(self.run, ops)
        traced = [op for op in ops if op["traced"]]
        buckets = self.run.probe.buckets if self.run.probe else {}
        for fam in FAMILIES:
            mine = [op for op in traced if op["family"] == fam]
            b = buckets.get(f"family.{fam}", {})
            out[f"plans.{fam}.build_s"] = _mean(op["build_s"] for op in mine)
            out[f"plans.{fam}.exec_s"] = _mean(op["exec_s"] for op in mine)
            out[f"sql.{fam}.spill_bytes"] = b.get("spill_bytes", 0) / max(len(mine), 1)
            out[f"sql.{fam}.shuffle_bytes"] = b.get("shuffle_bytes", 0) / max(len(mine), 1)
        return out


def _rounding_unit(values: np.ndarray) -> float:
    """The unit a float column is rounded to: ``10**-d`` for the fewest
    decimals ``d`` (1 to 5) that every value already has; else 1e-6, the
    six digits tools/check_oracle.py rounds every float to.  A column of
    whole numbers gets 1e-6 too."""
    v = values[np.isfinite(values)]
    if not np.all(v == np.round(v)):
        for d in range(1, 6):
            if np.all(np.abs(v - np.round(v, d)) <= 4 * np.spacing(np.abs(v))):
                return 10.0**-d
    return 1e-6


def compare_result(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Compare Spark's result with the oracle's: ``"same"`` when they are
    equal with floats rounded to six digits, as tools/check_oracle.py
    compares them; ``"tie"`` when each float is equal only within the
    unit its column is rounded to; else ``"differ"``.  Non-float values
    compare as the strings tools/check_oracle.py renders.

    Rounding to six digits splits a value that the query itself rounds
    when its exact value is a tie: q1_pricing_summary's
    ``round(sum(l_extendedprice), 4)`` of a group whose exact sum ends in
    ...771.63 reads 771.6299 in one engine and 771.63 in the other,
    depending on the order each adds its doubles in.  Neither answer is
    wrong, so a difference of one rounding unit passes."""
    cols = sorted(want.columns)
    if sorted(got.columns) != cols or len(got) != len(want):
        return "differ"
    floats = [c for c in cols if "f" in (got[c].dtype.kind, want[c].dtype.kind)]
    others = [c for c in cols if c not in floats]

    def ordered(df: pd.DataFrame) -> pd.DataFrame:
        df = df[cols].copy()
        for c in others:
            df[c] = df[c].astype(str)
        for c in floats:
            df[c] = pd.to_numeric(df[c]).astype(float)
        return df.sort_values(others + floats, kind="stable").reset_index(drop=True)

    g, w = ordered(got), ordered(want)
    if not g[others].equals(w[others]):
        return "differ"
    verdict = "same"
    for c in floats:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        # a few ulps on top of the unit: both sides are doubles
        if not np.allclose(a, b, rtol=1e-15, atol=_rounding_unit(b), equal_nan=True):
            return "differ"
        if not np.array_equal(np.round(a, 6), np.round(b, 6), equal_nan=True):
            verdict = "tie"
    return verdict


def _design() -> dict:
    import json

    with open(os.path.join(HERE, "design.json")) as f:
        return json.load(f)["workloads"]


# ---------------------------------------------------------------------------
# Per-layer metrics every workload reports (0 where the workload leaves a
# layer idle)
# ---------------------------------------------------------------------------


def common_layer_metrics(run, ops) -> dict:
    import tracing

    out = dict.fromkeys(run.per_layer_names, 0.0)
    traced = [op for op in ops if op["traced"]]
    plain = [op for op in ops if not op["traced"]]
    n = max(len(traced), 1)
    counters = run.op_counters
    for key in ("jobs", "stages", "tasks", "gc_ms"):
        metric = "jvm.gc_ms" if key == "gc_ms" else f"spark.{key}"
        out[metric] = _mean(c[key] for c in counters)
    out["cache.persisted_rdds"] = max((c["persisted_rdds"] for c in counters), default=0)
    out["cache.storage_mb"] = max((c["storage_mb"] for c in counters), default=0.0)
    if run.probe is not None:
        for phase in ("analysis", "optimization", "planning"):
            total = sum(b.get(f"{phase}_ms", 0) for b in run.probe.buckets.values())
            out[f"catalyst.{phase}_ms"] = total / n
        out["trace.listener_errors"] = run.probe.errors
    if run.tracer is not None:
        selfs = run.tracer.self_times()
        for layer in (*tracing.LAYERS, *tracing.BENCH_LAYERS):
            out[f"layer.{layer}.self_ms"] = 1000 * selfs.get(layer, 0.0) / n
        out["trace.spans_per_op"] = len(run.tracer.spans) / n
    out["trace.op_p50_s"] = _median(op["wall"] for op in traced)
    out["trace.untraced_op_p50_s"] = _median(op["wall"] for op in plain)
    # overhead: traced minus untraced wall of the same work, over the keys
    # (queries, weeks) that ran both ways
    diffs, shares = [], []
    for key in {op["key"] for op in plain}:
        t = _median(op["wall"] for op in traced if op["key"] == key)
        u = _median(op["wall"] for op in plain if op["key"] == key)
        if t and u:
            diffs.append(t - u)
            shares.append((t - u) / u)
    out["trace.overhead_s"] = _median(diffs)
    out["trace.overhead_share"] = _median(shares)
    return out


WORKLOADS = {
    "weekly_retrain": WeeklyRetrain,
    "dashboard_session": DashboardSession,
}
