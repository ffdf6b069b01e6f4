"""The registry plan cache (cache.registry_plan, applied to every
``QueryDef.fn`` by plans.all_queries): a repeat call returns the first
call's DataFrame without rebuilding it, and anything a build depends on
(the session, ``sf_dir``, the shuffle partition count, the input files)
changing makes it miss."""

from __future__ import annotations

import os
import shutil

import pytest

from sales_forecast_mlops_at_scale_spark.cache import (
    _MEMO,
    clear_slots,
    memo_stats,
    registry_plan,
)
from sales_forecast_mlops_at_scale_spark.catalog import load_table

from .conftest import SF_DIR, normalize

#: perfbench's dashboard_session pages (perfbench/design.json)
DASHBOARD_PAGES = (
    "q_distinct_segments",
    "q_distinct_priorities",
    "q_latest_per_key",
    "q_last7_per_group",
    "q_topn_recent",
    "q_forecast_7d",
    "q_train_metrics_summary",
    "q1_pricing_summary",
    "q_asof_join",
    "q_dedup_exact",
)


@pytest.fixture()
def sf_copy(tmp_path):
    """A writable copy of two fixture tables."""
    root = tmp_path / "sf"
    root.mkdir()
    for t in ("orders", "region"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), root / f"{t}.parquet")
    return str(root)


class Counting:
    """A registry-shaped builder that counts its calls."""

    def __init__(self, build):
        self.build, self.calls = build, 0

    def __call__(self, spark, sf_dir):
        self.calls += 1
        return self.build(spark, sf_dir)


def _orders_by_status(spark, sf_dir):
    return load_table(spark, sf_dir, "orders").groupBy("o_orderstatus").count()


def test_repeat_call_returns_the_first_plan(spark, sf_copy):
    clear_slots()
    fn = Counting(_orders_by_status)
    before = memo_stats()["registry"]
    first = registry_plan("t_orders", spark, sf_copy, fn)
    assert registry_plan("t_orders", spark, sf_copy, fn) is first
    assert fn.calls == 1
    after = memo_stats()["registry"]
    assert after["hits"] - before["hits"] == 1
    assert after["misses"] - before["misses"] == 1
    clear_slots()


def test_same_size_rewrite_with_new_mtime_misses(spark, sf_copy):
    clear_slots()
    fn = Counting(_orders_by_status)
    first = registry_plan("t_orders", spark, sf_copy, fn)
    path = os.path.join(sf_copy, "orders.parquet")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000))
    assert os.stat(path).st_size == st.st_size
    again = registry_plan("t_orders", spark, sf_copy, fn)
    assert again is not first and fn.calls == 2
    # a table the plan does not read still belongs to sf_dir
    region = os.path.join(sf_copy, "region.parquet")
    st = os.stat(region)
    os.utime(region, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000))
    registry_plan("t_orders", spark, sf_copy, fn)
    assert fn.calls == 3
    clear_slots()


def test_second_session_misses(spark, sf_copy):
    clear_slots()
    fn = Counting(_orders_by_status)
    first = registry_plan("t_orders", spark, sf_copy, fn)
    other = spark.newSession()
    other.conf.set(
        "spark.sql.shuffle.partitions", spark.conf.get("spark.sql.shuffle.partitions")
    )
    theirs = registry_plan("t_orders", other, sf_copy, fn)
    assert theirs is not first and fn.calls == 2
    assert theirs.sparkSession is other
    clear_slots()


def test_shuffle_partitions_change_misses(spark, sf_copy):
    clear_slots()
    fn = Counting(_orders_by_status)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    first = registry_plan("t_orders", spark, sf_copy, fn)
    spark.conf.set(key, str(int(old) + 1))
    try:
        assert registry_plan("t_orders", spark, sf_copy, fn) is not first
    finally:
        spark.conf.set(key, old)
    assert fn.calls == 2
    assert registry_plan("t_orders", spark, sf_copy, fn) is first
    clear_slots()


def test_clear_slots_drops_registry_entries(spark, sf_copy):
    clear_slots()
    fn = Counting(_orders_by_status)
    first = registry_plan("t_orders", spark, sf_copy, fn)
    assert any(v[0] == "registry" for v in _MEMO.values())
    clear_slots()
    assert not _MEMO
    assert registry_plan("t_orders", spark, sf_copy, fn) is not first
    assert fn.calls == 2
    clear_slots()


def test_non_file_leaf_is_rebuilt_every_call(spark, sf_copy):
    clear_slots()

    def build(spark, sf_dir):
        local = spark.createDataFrame([(1,)], "one int")
        return load_table(spark, sf_dir, "region").crossJoin(local)

    fn = Counting(build)
    first = registry_plan("t_local", spark, sf_copy, fn)
    assert registry_plan("t_local", spark, sf_copy, fn) is not first
    assert fn.calls == 2
    assert not _MEMO
    clear_slots()


def test_deleted_fixture_root_is_rebuilt(spark, sf_copy, tmp_path):
    from sales_forecast_mlops_at_scale_spark.plans.fixture_roots import ensure_built

    clear_slots()
    root = str(tmp_path / "fixture_root")
    built = []

    def write(staging):
        built.append(staging)
        spark.range(5).write.parquet(os.path.join(staging, "t"))

    def build(spark, sf_dir):
        done = ensure_built(root, "_BUILT", write)
        return spark.read.parquet(os.path.join(done, "t"))

    fn = Counting(build)
    first = registry_plan("t_fixture", spark, sf_copy, fn)
    assert registry_plan("t_fixture", spark, sf_copy, fn) is first
    assert len(built) == 1
    # an in-place rewrite of a part file outside sf_dir misses too
    part = next(
        e.path for e in os.scandir(os.path.join(root, "t"))
        if e.name.endswith(".parquet")
    )
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000))
    touched = registry_plan("t_fixture", spark, sf_copy, fn)
    assert touched is not first and fn.calls == 2 and len(built) == 1
    shutil.rmtree(root)
    again = registry_plan("t_fixture", spark, sf_copy, fn)
    assert again is not touched and fn.calls == 3 and len(built) == 2
    assert again.count() == 5
    clear_slots()


def test_lru_cap_evicts_the_oldest_entry(spark, monkeypatch):
    from sales_forecast_mlops_at_scale_spark import cache

    clear_slots()
    monkeypatch.setattr(cache, "_MEMO_CAP", 2)
    before = memo_stats()["value"]
    for k in ("a", "b", "c"):
        cache.value_memo((0, k), lambda: k, session=spark)
    assert [key for _, key in _MEMO] == ["b", "c"]
    after = memo_stats()["value"]
    assert after["evictions"] - before["evictions"] == 1
    assert after["misses"] - before["misses"] == 3
    assert cache.value_memo((0, "a"), lambda: "rebuilt", session=spark) == "rebuilt"
    clear_slots()


def test_dashboard_hits_equal_fresh_builds(spark):
    """The dashboard pages are cacheable, and a hit's rows equal those
    of a fresh build of the same page."""
    from sales_forecast_mlops_at_scale_spark.plans import all_queries

    reg = all_queries()
    for name in DASHBOARD_PAGES:
        clear_slots()
        before = memo_stats()["registry"]
        first = reg[name].fn(spark, SF_DIR)
        first.toPandas()  # the hit below re-runs an executed frame
        hit = reg[name].fn(spark, SF_DIR)
        assert hit is first, name
        assert memo_stats()["registry"]["hits"] - before["hits"] == 1
        got = normalize(hit.toPandas())
        clear_slots()  # drops every memo: the next call builds from scratch
        fresh = reg[name].fn(spark, SF_DIR)
        assert fresh is not hit
        assert len(got), name
        assert got.equals(normalize(fresh.toPandas())), name
    clear_slots()


def test_micro_batch_frames_leave_the_memo_store_alone(spark):
    """A ``foreachBatch`` frame (a ``LogicalRDD`` leaf, keyed on a fresh
    RDD id each batch) can never be served again, so pushing it through
    the MinHash operators must store nothing that could evict a
    registry entry."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from sales_forecast_mlops_at_scale_spark.operators.llm.minhash import (
        minhash_incremental_pairs,
        minhash_lsh_pairs,
    )

    clear_slots()
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    text = "the quick brown fox jumps over the lazy dog"

    def batch(rows):
        return spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

    for i in range(3):
        new = batch([(10 * i + 1, text), (10 * i + 2, text + " twice")])
        n = len(_MEMO)
        minhash_lsh_pairs(new)
        minhash_incremental_pairs(new, batch([(100 + i, text)]))
        assert len(_MEMO) == n
    clear_slots()


def _registry_delta(before):
    after = memo_stats()["registry"]
    return after["hits"] - before["hits"], after["misses"] - before["misses"]


def test_dedup_queries_share_the_minhash_registry_plan(spark):
    """q_dedup_clusters, q_dedup_summary and q_triangle_stats take their
    pairs from q_minhash_dedup's registry entry: each build is one miss
    (its own) and one hit (the pairs), and the component labels of a
    second q_dedup_clusters build come from ``value_memo``."""
    from sales_forecast_mlops_at_scale_spark.plans import all_queries

    reg = all_queries()
    clear_slots()
    reg["q_minhash_dedup"].fn(spark, SF_DIR)
    for name in ("q_dedup_clusters", "q_dedup_summary", "q_triangle_stats"):
        before = memo_stats()["registry"]
        reg[name].fn(spark, SF_DIR)
        assert _registry_delta(before) == (1, 1), name
    before_value = memo_stats()["value"]
    reg["q_dedup_clusters"].fn(spark, SF_DIR)
    assert memo_stats()["value"]["hits"] - before_value["hits"] == 1
    assert memo_stats()["value"]["misses"] == before_value["misses"]
    clear_slots()


def test_ann_recall_all_serves_its_tiers_from_the_registry(spark):
    from sales_forecast_mlops_at_scale_spark.plans import all_queries

    reg = all_queries()
    clear_slots()
    reg["q_ann_recall_all"].fn(spark, SF_DIR)
    before = memo_stats()["registry"]
    reg["q_pq_topk"].fn(spark, SF_DIR)
    assert _registry_delta(before) == (1, 0)
    clear_slots()
