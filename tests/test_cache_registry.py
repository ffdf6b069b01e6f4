"""Unit tests for the plan-keyed cache registry (cache.py): slot reuse,
keyless persist tracking, and driver-side plan memoization."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from sales_forecast_mlops_at_scale_spark.cache import (
    _KEYLESS,
    _MEMO,
    _plan_key,
    clear_slots,
    derived_key,
    persist_slot,
    plan_memo,
    track_keyless,
)

from sales_forecast_mlops_at_scale_spark.catalog import load_table

from .conftest import SF_DIR


def test_plan_key_stable_across_invocations(spark):
    a = load_table(spark, SF_DIR, "embeddings")
    b = load_table(spark, SF_DIR, "embeddings")
    assert _plan_key(a) == _plan_key(b)
    # a different projection keys differently
    c = load_table(spark, SF_DIR, "embeddings").select("vec_id")
    assert _plan_key(a) != _plan_key(c)


def test_plan_key_is_data_sensitive_for_local_frames(spark):
    """Non-file-backed frames: two same-schema frames with DIFFERENT
    data must key differently beyond the 32-bit semanticHash (ADVICE
    r6).  PySpark ``createDataFrame`` frames are LogicalRDD-backed, so
    the key folds in the RDD id — same frame re-keys identically, any
    other local frame (even identical data, i.e. a conservative miss)
    keys differently, and a cross-dataset collision is impossible."""
    a = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"])
    c = spark.createDataFrame([(1, "x"), (9, "z")], ["id", "s"])
    ka, kc = _plan_key(a), _plan_key(c)
    assert ka is not None and _plan_key(a) == ka  # stable per frame
    assert kc is not None and kc[1] != ka[1]  # distinct data never aliases
    # mixed file + local leaves stay keyable and data-sensitive
    docs = load_table(spark, SF_DIR, "documents").select("doc_id")
    ja = docs.join(a, docs.doc_id == a.id, "left")
    jc = docs.join(c, docs.doc_id == c.id, "left")
    kja, kjc = _plan_key(ja), _plan_key(jc)
    assert kja is not None and kja[1] != kjc[1]
    assert _plan_key(ja) == kja
    # localCheckpoint output is LogicalRDD too: keyable, id-pinned
    ck = spark.range(10).localCheckpoint()
    kck = _plan_key(ck)
    assert kck is not None and _plan_key(ck) == kck
    assert kck[1] != _plan_key(spark.range(10).localCheckpoint())[1]


def test_load_table_memo_hits_until_path_changes(spark, tmp_path):
    """load_table memoizes the per-path DataFrame (the ~60 ms of py4j +
    footer listing per call is the dominant cold plan-build cost), but a
    rewrite of the path must invalidate: the memo may only ever skip
    re-listing an UNCHANGED path."""
    import time as _time

    from sales_forecast_mlops_at_scale_spark.catalog import load_table

    a = load_table(spark, SF_DIR, "documents")
    assert load_table(spark, SF_DIR, "documents") is a  # memo hit
    path = str(tmp_path)
    spark.range(5).write.mode("overwrite").parquet(path + "/t.parquet")
    b = load_table(spark, path, "t")
    assert load_table(spark, path, "t") is b
    _time.sleep(0.01)  # ensure mtime_ns moves even on coarse filesystems
    spark.range(9).write.mode("overwrite").parquet(path + "/t.parquet")
    c = load_table(spark, path, "t")
    assert c is not b  # rewrite invalidated
    assert c.count() == 9


def test_persist_slot_reuses_and_evicts(spark):
    clear_slots()
    a = load_table(spark, SF_DIR, "embeddings").select("vec_id")
    first = persist_slot("t.slot", a)
    again = persist_slot(
        "t.slot", load_table(spark, SF_DIR, "embeddings").select("vec_id")
    )
    assert again is first  # same semantic plan -> the SAME cached frame
    other = persist_slot(
        "t.slot", load_table(spark, SF_DIR, "documents").select("doc_id")
    )
    assert other is not first  # different plan evicts and takes the slot
    clear_slots()


def test_track_keyless_released_by_clear_slots(spark):
    clear_slots()
    df = track_keyless(spark.range(10))
    df.count()
    assert df.storageLevel.useMemory and len(_KEYLESS) == 1
    clear_slots()
    assert not _KEYLESS
    assert not df.storageLevel.useMemory  # actually unpersisted


def test_plan_memo_hits_on_same_key_only(spark):
    clear_slots()
    base = _plan_key(load_table(spark, SF_DIR, "embeddings"))
    builds = []

    def builder():
        out = spark.range(5).withColumn("x", F.col("id") * 2)
        builds.append(out)
        return out

    k1 = derived_key(base, "memo-test", 1)
    first = plan_memo(k1, builder)
    assert plan_memo(k1, builder) is first and len(builds) == 1
    # different params -> rebuild; None key -> always build
    plan_memo(derived_key(base, "memo-test", 2), builder)
    plan_memo(None, builder)
    assert len(builds) == 3
    clear_slots()
    assert not _MEMO


def test_value_memo_session_checked_and_cleared(spark):
    from sales_forecast_mlops_at_scale_spark.cache import _MEMO, value_memo

    clear_slots()
    base = _plan_key(load_table(spark, SF_DIR, "embeddings"))
    builds = []

    def builder():
        builds.append(1)
        return ([("a", "b")], "payload")

    k = derived_key(base, "vmemo-test", 7)
    first = value_memo(k, builder, session=spark)
    assert value_memo(k, builder, session=spark) is first and len(builds) == 1
    # a different owning session must NOT be served this session's value
    sentinel = object()
    value_memo(k, builder, session=sentinel)
    assert len(builds) == 2
    # None key -> always build; clear_slots drops everything
    value_memo(None, builder, session=spark)
    assert len(builds) == 3
    clear_slots()
    assert not _MEMO


def test_plan_key_covers_subquery_relations(spark, tmp_path):
    """Subquery expressions hang off expressions, not children(): a
    child-only walk omitted their relations from the key, so a table
    referenced only inside a scalar subquery could be rewritten without
    changing the key — the stale-aliasing class the opaque rule exists
    to prevent."""
    import shutil

    from sales_forecast_mlops_at_scale_spark.cache import _plan_key

    p1, p2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    spark.range(10).selectExpr("id AS x").write.parquet(p1)
    spark.range(5).selectExpr("id AS y").write.parquet(p2)

    def q():
        spark.read.parquet(p1).createOrReplaceTempView("sq_t1")
        spark.read.parquet(p2).createOrReplaceTempView("sq_t2")
        return spark.sql(
            "SELECT * FROM sq_t1 WHERE x > (SELECT max(y) FROM sq_t2)"
        )

    k1 = _plan_key(q())
    assert k1 is not None  # subquery plans stay keyable
    shutil.rmtree(p2)
    spark.range(7).selectExpr("id AS y").write.parquet(p2)
    assert _plan_key(q()) != k1  # the subquery table's rewrite is seen


def test_fixture_digest_sees_same_second_rewrite(tmp_path):
    """A same-size rewrite within one second still mints a new fixture
    root: the digest keys on the mtime in ns, not in whole seconds."""
    from sales_forecast_mlops_at_scale_spark.plans.fixture_roots import digest_root

    src = tmp_path / "lineitem.parquet"
    src.write_bytes(b"a" * 16)
    second = 1_700_000_000 * 10**9
    os.utime(src, ns=(second, second + 100))
    before = digest_root("t", [str(src), str(tmp_path)], [1])
    src.write_bytes(b"b" * 16)
    os.utime(src, ns=(second, second + 200))
    assert digest_root("t", [str(src), str(tmp_path)], [1]) != before
