"""Seeded, vectorized input generation for the benchmark.

Everything the engine reads in a run is written here from ``--seed``:
the same seed gives byte-identical inputs.  Nothing is taken from the
package's own fixture generators (``fixtures.synthetic_sales`` pins its
seed and builds rows in a Python loop).

Three input families:

- ``SalesModel`` / ``write_warehouse``: the reference's Rossmann-shaped
  ``sales`` table for 1,115 stores x 2 products (FIXTURES.md section 1).
- ``event_stream``: the Kafka-shaped JSON payloads of one day each
  (FIXTURES.md section 2), with redelivered events, late dates and nulls
  in nullable non-key fields.
- ``write_star``: the star-schema tables the registry queries read
  (TESTDATA.md), with the value domains of the testdata fixtures.
"""

from __future__ import annotations

import datetime as dt
import itertools
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

N_STORES = 1115
PRODUCTS = ("product_A", "product_B")
#: Monday-first weekday demand profile; Sunday is mostly closed.
_WEEKDAY = np.array([1.15, 1.0, 0.97, 0.95, 1.02, 0.88, 0.6])


@dataclass(frozen=True)
class SalesModel:
    """Per-series parameters drawn once per seed; days are generated from
    them independently, so any day can be produced on its own."""

    seed: int
    level: np.ndarray  # (stores, products) mean daily sales
    sunday_open: np.ndarray  # (stores,) bool

    @classmethod
    def draw(cls, seed: int) -> "SalesModel":
        rng = np.random.default_rng([seed, 1])
        level = rng.lognormal(8.4, 0.35, size=(N_STORES, 1)) * np.array([[1.0, 0.55]])
        return cls(seed=seed, level=level, sunday_open=rng.random(N_STORES) < 0.03)

    def day(self, date: dt.date) -> pd.DataFrame:
        """All 2,230 (store, product) rows of one calendar day."""
        rng = np.random.default_rng([self.seed, 2, date.toordinal()])
        n = N_STORES * len(PRODUCTS)
        store = np.repeat(np.arange(1, N_STORES + 1, dtype=np.int32), len(PRODUCTS))
        wd = date.weekday()
        open_ = rng.random(N_STORES) >= 0.03
        if wd == 6:
            open_ &= self.sunday_open
        open_ = np.repeat(open_, len(PRODUCTS))
        promo = np.repeat(rng.random(N_STORES) < 0.38, len(PRODUCTS))
        mean = self.level.ravel() * _WEEKDAY[wd] * np.where(promo, 1.25, 1.0)
        sales = np.where(open_, rng.gamma(16.0, mean / 16.0), 0.0).astype(np.int32)
        customers = np.where(open_, sales / rng.uniform(7.0, 11.0, n), 0).astype(np.int32)
        state = rng.choice(np.array(["0", "a", "b", "c"]), size=N_STORES, p=[0.97, 0.015, 0.01, 0.005])
        school = np.repeat(np.where(rng.random(N_STORES) < 0.18, "1", "0"), len(PRODUCTS))
        return pd.DataFrame(
            {
                "store": store,
                "dayofweek": np.full(n, wd + 1, dtype=np.int32),
                "date": date,
                "sales": sales,
                "customers": customers,
                "open": open_.astype(np.int32),
                "promo": promo.astype(np.int32),
                "stateholiday": np.repeat(state, len(PRODUCTS)),
                "schoolholiday": school,
                "productname": np.tile(np.array(PRODUCTS), N_STORES),
            }
        )


def dates_from(start: dt.date, n: int) -> list[dt.date]:
    return [start + dt.timedelta(days=i) for i in range(n)]


_WAREHOUSE_SCHEMA = pa.schema(
    [
        ("store", pa.int32()),
        ("dayofweek", pa.int32()),
        ("date", pa.string()),
        ("sales", pa.int32()),
        ("customers", pa.int32()),
        ("open", pa.int32()),
        ("promo", pa.int32()),
        ("stateholiday", pa.string()),
        ("schoolholiday", pa.string()),
        ("productname", pa.string()),
    ]
)


def write_warehouse(model: SalesModel, dates: list[dt.date], path: str) -> None:
    """Write the rows of ``dates`` as a date-partitioned parquet table with
    the columns the streaming ingest appends (the ``sales`` schema without
    the surrogate id): the warehouse's history before the first drain."""
    frame = pd.concat([model.day(d) for d in dates], ignore_index=True)
    frame["date"] = frame["date"].map(dt.date.isoformat)
    table = pa.Table.from_pandas(frame, schema=_WAREHOUSE_SCHEMA, preserve_index=False)
    pq.write_to_dataset(table, path, partition_cols=["date"])


# ---------------------------------------------------------------------------
# Kafka-shaped daily event files
# ---------------------------------------------------------------------------

#: Share of one day's events withheld and delivered one or two drains late.
LATE_SHARE = 0.03
#: Share of delivered events sent a second time (Kafka at-least-once).
REDELIVER_SHARE = 0.05
#: Share of events with a null in each nullable non-key field.
NULL_SHARE = 0.01


def event_stream(model: SalesModel, start: dt.date):
    """Yield one JSON-lines payload per day from ``start`` on, plus the
    natural keys it carries for the first time (``(store, productname,
    date) -> sales``).

    Day ``i``'s payload holds day ``i``'s events minus the late ones, the
    late events of days ``i-1``/``i-2``, and a redelivered copy of 5% of
    what it sends (some from the same day, some from the day before)."""
    rng = np.random.default_rng([model.seed, 3])
    late: dict[int, list[pd.DataFrame]] = {}
    previous: pd.DataFrame | None = None
    for i in itertools.count():
        date = start + dt.timedelta(days=i)
        day = model.day(date)
        for col in ("customers", "promo"):
            day[col] = day[col].astype("Int32").mask(rng.random(len(day)) < NULL_SHARE)
        for col in ("stateholiday", "schoolholiday"):
            day[col] = day[col].mask(rng.random(len(day)) < NULL_SHARE / 2)
        day["date"] = date.isoformat()
        held = rng.random(len(day)) < LATE_SHARE
        lag = rng.integers(1, 3, size=len(day))
        for d in (1, 2):
            late.setdefault(i + d, []).append(day[held & (lag == d)])
        batch = pd.concat([day[~held], *late.pop(i, [])], ignore_index=True)
        dup_pool = batch if previous is None else pd.concat([batch, previous], ignore_index=True)
        dups = dup_pool.sample(frac=REDELIVER_SHARE * len(batch) / len(dup_pool), random_state=rng)
        payload = pd.concat([batch, dups], ignore_index=True)
        payload = payload.iloc[rng.permutation(len(payload))]
        lines = payload.to_json(orient="records", lines=True).splitlines()
        keys = zip(batch["store"].tolist(), batch["productname"], batch["date"])
        yield lines, dict(zip(keys, batch["sales"].tolist()))
        previous = batch


def write_lines(lines: list[str], path: str) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# Star-schema tables (TESTDATA.md shapes and value domains)
# ---------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = np.array(["de", "en", "es", "fr", "zh"])


def _ts(start: str, days: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Seeded star schema at scale factor ``sf`` (0.1 -> 600k lineitems)."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    ck = np.arange(n_cust)
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck, i64),
            "c_name": [f"Customer#{i:09d}" for i in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    sk = np.arange(n_supp)
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(sk, i64),
            "s_name": [f"Supplier#{i:09d}" for i in sk],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in _P_ADJ for b in _P_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, n_part)],
            "p_type": np.array(_P_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n_ord)),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    discount = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li)),
        }
    )
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": (np.datetime64("2024-01-01T00:00:00", "us") + (secs * 1e6).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), i64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": np.array([f'{{"k": {i}}}' for i in range(100)])[rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return t


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary; 5% are a copy of
    an earlier document plus the token ``dup`` (near-duplicates) and a
    few are exact copies, so the dedup queries find real clusters."""
    lengths = rng.integers(10, 101, n)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i:
            text[i] = text[rng.integers(0, i)] + " dup"
    for i in np.nonzero(rng.random(n) < 0.002)[0]:
        if i:
            text[i] = text[rng.integers(0, i)]
    doc_id = np.arange(n)
    return pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": text,
            "lang": _LANGS[rng.choice(5, n, p=[0.14, 0.42, 0.15, 0.15, 0.14])],
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": pa.array([len(s) for s in text], pa.int64()),
        }
    )


def write_star(seed: int, sf: float, sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
