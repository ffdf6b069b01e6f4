"""Streaming ingest tests: declared-schema parse, availableNow drain,
checkpoint resume, and exactly-once semantics under duplicate delivery
(FIXTURES.md §2: out-of-order dates, duplicate events, null fields)."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
    file_event_source,
    run_stream_ingest,
    windowed_daily_rollup,
)


def _event(store, date, sales, product="product_A", **kw):
    base = {
        "store": store,
        "dayofweek": 1,
        "date": date,
        "sales": sales,
        "customers": sales // 10,
        "open": 1,
        "promo": 0,
        "stateholiday": "0",
        "schoolholiday": "0",
        "productname": product,
    }
    base.update(kw)
    return base


def _write_batch(dirpath, name, events):
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_stream_ingest_exactly_once(spark, tmp_path):
    src = tmp_path / "stream_in"
    target = str(tmp_path / "sales_table")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [
        _event(1, "2026-01-02", 100),
        _event(2, "2026-01-01", 200),  # out of order
        _event(1, "2026-01-02", 100),  # in-batch duplicate
        _event(3, "2026-01-02", 0, open=0, stateholiday="a"),
    ]
    _write_batch(src, "b1.json", batch1)

    def drain():
        run_stream_ingest(
            spark,
            source=file_event_source(spark, str(src)),
            target_path=target,
            checkpoint_path=ckpt,
        )

    drain()
    got = spark.read.parquet(target)
    assert got.count() == 3  # in-batch dup collapsed
    assert dict(got.dtypes)["date"] == "date"
    assert dict(got.dtypes)["stateholiday"] == "string"

    # re-run with no new files: checkpoint says nothing to do
    drain()
    assert spark.read.parquet(target).count() == 3

    # second batch: one new row + one cross-batch duplicate (re-delivery)
    _write_batch(src, "b2.json", [_event(2, "2026-01-01", 200), _event(4, "2026-01-03", 50)])
    drain()
    final = spark.read.parquet(target)
    assert final.count() == 4  # re-delivered (2, 2026-01-01) not re-appended
    assert final.filter(F.col("store") == 4).count() == 1


def test_commit_manifest_skips_redelivered_batch(spark, tmp_path):
    """Torn-retry simulation: a batch whose commit marker exists must be
    skipped entirely — even if the redelivery carries rows the anti-join
    would consider fresh (models the object-store window where a
    completed write's files surface after the retry's existing-keys
    read)."""
    import datetime as dt

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        idempotent_append_batch,
    )

    target = str(tmp_path / "manifest_target")
    rows = [(1, "a", dt.date(2026, 1, 1)), (2, "b", dt.date(2026, 1, 1))]
    batch = spark.createDataFrame(rows, "store int, productname string, date date")
    key = ["store", "productname", "date"]

    idempotent_append_batch(batch, target, key, batch_id=7, app_id="t")
    assert spark.read.parquet(target).count() == 2
    # marker landed under the hidden _commits dir
    import os

    assert os.path.exists(os.path.join(target, "_commits", "t-7"))

    # redelivery of batch 7 with an EXTRA row: must be a full no-op
    extra = spark.createDataFrame(
        rows + [(3, "c", dt.date(2026, 1, 2))],
        "store int, productname string, date date",
    )
    idempotent_append_batch(extra, target, key, batch_id=7, app_id="t")
    assert spark.read.parquet(target).count() == 2

    # same data under a NEW batch id: anti-join appends only the new key
    idempotent_append_batch(extra, target, key, batch_id=8, app_id="t")
    assert spark.read.parquet(target).count() == 3
    # a different app (fresh checkpoint namespace) is not blocked by
    # app "t"'s markers
    idempotent_append_batch(extra, target, key, batch_id=7, app_id="u")
    assert spark.read.parquet(target).count() == 3  # keys all present already


def test_dedup_ingest_filters_near_dups_against_corpus(spark, tmp_path):
    """Streaming dedup ingest: within-batch near-dups collapse to the
    min id, later batches are filtered against the MATERIALIZED corpus
    index (no re-shingling of stored text), and the docs/sets tables
    stay in lockstep."""
    import json

    from sales_forecast_mlops_at_scale_spark.streaming.dedup_ingest import (
        run_dedup_ingest,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    root = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")

    alpha = "the quick brown fox jumps over the lazy dog again and again tonight"
    beta = "completely different text about distributed shuffle hash joins"

    def write_file(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def drain():
        source = (
            spark.readStream.schema("doc_id long, text string")
            .json(str(src))
        )
        run_dedup_ingest(
            spark, source=source, root_path=root, checkpoint_path=ckpt
        )

    write_file(
        "b1.json",
        [
            {"doc_id": 1, "text": alpha},
            {"doc_id": 2, "text": alpha},  # within-batch near-dup → dropped
            {"doc_id": 3, "text": beta},
        ],
    )
    drain()
    docs = spark.read.parquet(f"{root}/docs")
    assert {r.doc_id for r in docs.collect()} == {1, 3}

    write_file(
        "b2.json",
        [
            {"doc_id": 10, "text": alpha},  # near-dup of stored 1 → dropped
            {"doc_id": 11, "text": "fresh novel content with zero overlap whatsoever"},
        ],
    )
    drain()
    docs = spark.read.parquet(f"{root}/docs")
    assert {r.doc_id for r in docs.collect()} == {1, 3, 11}
    sets = spark.read.parquet(f"{root}/sets")
    assert {r.doc_id for r in sets.collect()} == {1, 3, 11}  # index in lockstep
    # the band-bucket index is maintained in lockstep too (16 bands/doc),
    # so later batches probe stored buckets instead of re-sketching
    bands = spark.read.parquet(f"{root}/bands").collect()
    assert {r.doc_id for r in bands} == {1, 3, 11}
    assert len(bands) == 3 * 16


def test_existing_keys_partition_pruned(spark, tmp_path):
    """The dedup scan must prune to the batch's date partitions (and the
    first-batch probe must distinguish missing path from real errors)."""
    import datetime as dt

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import existing_keys

    target = str(tmp_path / "pruned_target")
    assert existing_keys(spark, target, ["store", "date"]) is None  # not yet written

    df = spark.createDataFrame(
        [(s, dt.date(2026, 1, d)) for s in (1, 2) for d in (1, 2, 3)],
        "store int, date date",
    )
    df.write.partitionBy("date").parquet(target)

    pruned = existing_keys(
        spark,
        target,
        ["store", "date"],
        partition_by=["date"],
        partition_values=[(dt.date(2026, 1, 2),)],
    )
    assert pruned.count() == 2
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "PartitionFilters: []" not in plan  # the date filter reached the scan
    # empty batch → no partitions probed at all
    empty = existing_keys(
        spark, target, ["store", "date"], partition_by=["date"], partition_values=[]
    )
    assert empty.count() == 0


def test_windowed_daily_rollup_batch_twin(spark):
    from sales_forecast_mlops_at_scale_spark.catalog import load_table

    from .conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    out = windowed_daily_rollup(ev, keys=("event_type",))
    # golden invariant: rollup preserves totals
    assert out.agg(F.sum("n_events")).collect()[0][0] == ev.count()
    days = out.select("day").distinct().count()
    assert days >= 28  # fixture spans ~1 month


def test_sliding_rollup_stream_matches_batch_twin(spark, tmp_path):
    """The SAME operator run as a stream (complete mode) and as a batch
    frame must agree — F.window is trigger-agnostic."""
    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        windowed_sliding_rollup,
    )

    src = tmp_path / "slide_in"
    src.mkdir()
    rows = [
        {"event_type": "click", "ts": f"2026-01-01T{h:02d}:30:00", "value": float(h)}
        for h in range(0, 24, 3)
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    # watermarks need TIMESTAMP (not NTZ); session tz is UTC so the
    # window grid matches the batch twin exactly
    schema = "event_type string, ts timestamp, value double"
    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        windowed_sliding_rollup(stream, window="1 day", slide="6 hours")
        .writeStream.format("memory")
        .queryName("slide_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.window_end, r.event_type, r.n_events, r.sum_value)
        for r in spark.table("slide_out").collect()
    }
    batch = spark.read.schema(schema).json(str(src))
    want = {
        (r.window_start, r.window_end, r.event_type, r.n_events, r.sum_value)
        for r in windowed_sliding_rollup(batch, window="1 day", slide="6 hours").collect()
    }
    assert got == want and len(want) > 0
    # every event covered by exactly window/slide = 4 windows
    assert sum(r[3] for r in want) == len(rows) * 4


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a re-delivered event id in a later
    micro-batch must not be emitted twice."""
    import os
    import time

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import streaming_dedup

    src = tmp_path / "dedup_in"
    src.mkdir()
    a = [{"event_id": 1, "ts": "2026-01-01T10:00:00", "value": 1.0},
         {"event_id": 2, "ts": "2026-01-01T10:05:00", "value": 2.0}]
    b = [{"event_id": 1, "ts": "2026-01-01T10:00:00", "value": 1.0},  # re-delivery
         {"event_id": 3, "ts": "2026-01-01T10:10:00", "value": 3.0}]
    fa, fb = src / "a.json", src / "b.json"
    fa.write_text("\n".join(json.dumps(r) for r in a) + "\n")
    fb.write_text("\n".join(json.dumps(r) for r in b) + "\n")
    now = time.time()
    os.utime(fa, (now - 60, now - 60))
    os.utime(fb, (now, now))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        streaming_dedup(stream, keys=("event_id",), watermark="1 day")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("dedup_out").collect()
    assert sorted(r.event_id for r in emitted) == [1, 2, 3]  # id 1 exactly once


def test_stateful_latest_per_key_across_batches(spark, tmp_path):
    """applyInPandasWithState dedup: state carries the newest row across
    micro-batches — a later batch delivering only stale rows re-emits the
    stored maximum, not the stale one."""
    import os
    import time

    from sales_forecast_mlops_at_scale_spark.streaming.stateful import (
        streaming_latest_per_key,
    )

    src = tmp_path / "stateful_in"
    src.mkdir()
    rows_a = [{"user_id": 1, "event_id": 5, "value": 50.0},
              {"user_id": 2, "event_id": 7, "value": 70.0}]
    rows_b = [{"user_id": 1, "event_id": 3, "value": 30.0},  # stale
              {"user_id": 3, "event_id": 9, "value": 90.0}]
    fa, fb = src / "a.json", src / "b.json"
    fa.write_text("\n".join(json.dumps(r) for r in rows_a) + "\n")
    fb.write_text("\n".join(json.dumps(r) for r in rows_b) + "\n")
    now = time.time()
    os.utime(fa, (now - 60, now - 60))  # a.json is the older file → batch 1
    os.utime(fb, (now, now))

    stream = (
        spark.readStream.schema("user_id long, event_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = streaming_latest_per_key(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_latest")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.table("stateful_latest").collect()
    by_user = {}
    for r in emitted:
        by_user.setdefault(r.user_id, []).append((r.event_id, r.value))
    # user 1 emitted twice (touched in both batches), both times with the
    # NEWER row — proof the state survived into the stale batch
    assert by_user[1] == [(5, 50.0), (5, 50.0)]
    assert by_user[2] == [(7, 70.0)]
    assert by_user[3] == [(9, 90.0)]


def test_session_rollup_stream_matches_batch_twin(spark, tmp_path):
    """session_window as a stream (complete mode) equals the batch run.
    Boundary probes pin Spark's merge rule: exactly-gap-apart events
    MERGE (diff <= gap), one second beyond breaks."""
    from sales_forecast_mlops_at_scale_spark.streaming.ingest import session_rollup

    src = tmp_path / "sess_in"
    src.mkdir()
    rows = [
        {"user_id": 1, "ts": "2026-01-01T10:00:00", "value": 1.0},
        {"user_id": 1, "ts": "2026-01-01T10:20:00", "value": 2.0},  # merges
        {"user_id": 1, "ts": "2026-01-01T10:50:00", "value": 3.0},  # == gap: merges
        {"user_id": 1, "ts": "2026-01-01T11:20:01", "value": 5.0},  # gap+1s: NEW
        {"user_id": 2, "ts": "2026-01-01T09:00:00", "value": 4.0},
    ]
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    schema = "user_id bigint, ts timestamp, value double"

    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        session_rollup(stream, gap="30 minutes")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {tuple(r) for r in spark.table("sess_out").collect()}
    batch = spark.read.schema(schema).json(str(src))
    want = {tuple(r) for r in session_rollup(batch, gap="30 minutes").collect()}
    assert got == want
    # user 1: 10:00/10:20/10:50 merge (== gap included); 11:20:01 breaks
    assert sum(1 for r in want if r[0] == 1) == 2
    first = next(r for r in want if r[0] == 1 and r[3] == 3)
    assert str(first[2]) == "2026-01-01 11:20:00"  # end = last + gap


def test_interval_attribution_join_stream_matches_batch(spark, tmp_path):
    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        interval_attribution_join,
    )

    imps = [
        {"ad_id": 1, "imp_ts": "2026-01-01T10:00:00"},
        {"ad_id": 1, "imp_ts": "2026-01-01T12:00:00"},
        {"ad_id": 2, "imp_ts": "2026-01-01T10:30:00"},
    ]
    clicks = [
        {"ad_id": 1, "click_ts": "2026-01-01T10:40:00"},  # joins imp 10:00
        {"ad_id": 1, "click_ts": "2026-01-01T11:30:00"},  # > 1h after 10:00: no
        {"ad_id": 2, "click_ts": "2026-01-01T10:30:00"},  # boundary: joins
        {"ad_id": 3, "click_ts": "2026-01-01T10:00:00"},  # no impression
    ]
    for name, rows in [("imp", imps), ("clk", clicks)]:
        d = tmp_path / name
        d.mkdir()
        (d / "a.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    imp_schema = "ad_id bigint, imp_ts timestamp"
    clk_schema = "ad_id bigint, click_ts timestamp"
    out = interval_attribution_join(
        spark.readStream.schema(imp_schema).json(str(tmp_path / "imp")),
        spark.readStream.schema(clk_schema).json(str(tmp_path / "clk")),
        max_delay="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("attr_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.ad_id, str(r.imp_ts), str(r.click_ts)) for r in spark.table("attr_out").collect()}
    batch = interval_attribution_join(
        spark.read.schema(imp_schema).json(str(tmp_path / "imp")),
        spark.read.schema(clk_schema).json(str(tmp_path / "clk")),
        max_delay="1 hour",
    )
    want = {(r.ad_id, str(r.imp_ts), str(r.click_ts)) for r in batch.collect()}
    assert got == want
    assert (1, "2026-01-01 10:00:00", "2026-01-01 10:40:00") in want
    assert (2, "2026-01-01 10:30:00", "2026-01-01 10:30:00") in want
    assert len(want) == 2


def test_tws_running_totals(spark, tmp_path):
    """transformWithStateInPandas running totals: stream-vs-batch
    differential over two micro-batches.  Requires the protobuf package
    (the TWS python worker's state protocol) — skipped where absent; the
    executable stateful coverage without it is applyInPandasWithState
    (test_stateful_latest_per_key_across_batches)."""
    import json
    import os
    import time

    import pytest

    from sales_forecast_mlops_at_scale_spark.streaming.tws import (
        ROCKSDB_PROVIDER,
        streaming_running_totals,
        tws_available,
    )

    if not tws_available():
        pytest.skip("protobuf not installed; TWS python protocol unavailable")

    src = tmp_path / "tws_src"
    src.mkdir()
    a = [{"user_id": 1, "value": 10.0}, {"user_id": 1, "value": 5.0},
         {"user_id": 2, "value": 1.0}]
    b = [{"user_id": 1, "value": 2.0}, {"user_id": 3, "value": 7.0}]
    fa, fb = src / "a.json", src / "b.json"
    fa.write_text("\n".join(json.dumps(r) for r in a) + "\n")
    fb.write_text("\n".join(json.dumps(r) for r in b) + "\n")
    now = time.time()
    os.utime(fa, (now - 60, now - 60))
    os.utime(fb, (now, now))

    prior = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    try:
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = (
            streaming_running_totals(stream, key_col="user_id")
            .writeStream.format("memory")
            .queryName("tws_totals")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt_tws"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # last emitted row per key == the batch groupBy of everything
        rows = spark.sql(
            "SELECT user_id, n, total FROM ("
            " SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n DESC) rk"
            " FROM tws_totals) WHERE rk = 1"
        ).collect()
        got = {(r.user_id, r.n, r.total) for r in rows}
        assert got == {(1, 3, 17.0), (2, 1, 1.0), (3, 1, 7.0)}
    finally:
        if prior is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prior)


def test_tws_ttl_matches_classic_machine(spark):
    """Cross-API differential, surfaced as a pytest pin: the modern-API
    TTL machine (TWS EventTime timers + ValueState, ``q_stream_tws_ttl``)
    and the classic one (applyInPandasWithState + EventTimeTimeout,
    ``q_stream_ttl``) must produce row-identical logs over the identical
    sparsified three-epoch stream — two independent stateful runtimes
    realizing the same probed late-filter / fold / timer semantics.
    The fixture build enforces this too (a diverging twin refuses to
    build); this test re-asserts it on the COMMITTED logs so a stale or
    hand-edited fixture can't hide a divergence."""
    from sales_forecast_mlops_at_scale_spark.plans import all_queries
    from sales_forecast_mlops_at_scale_spark.streaming.tws import (
        tws_available,
    )

    if not tws_available():
        pytest.skip("protobuf not installed; TWS python protocol unavailable")

    reg = all_queries()
    sf_dir = "/root/testdata/sf0.001"

    def canon(df) -> list:
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    twin = canon(reg["q_stream_tws_ttl"].fn(spark, sf_dir))
    classic = canon(reg["q_stream_ttl"].fn(spark, sf_dir))
    assert twin, "tws ttl log is empty"
    assert twin == classic


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: each micro-batch broadcast-joins the static
    dimension (no state, no watermark needed) — the standard enrichment
    pattern for reference data at any stream volume."""
    import json

    src = tmp_path / "enrich_src"
    src.mkdir()
    rows = [{"user_id": 1, "value": 2.0}, {"user_id": 2, "value": 3.0},
            {"user_id": 9, "value": 5.0}]  # 9 has no dim row
    (src / "a.json").write_text("\n".join(json.dumps(r) for r in rows) + "\n")

    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema("user_id long, value double").json(str(src))
    q = (
        stream.join(dim.hint("broadcast"), "user_id", "left")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r.user_id, r.tier) for r in spark.table("enriched").collect()}
    assert got == {(1, "gold"), (2, "silver"), (9, None)}


def test_vector_ingest_incremental_index_and_search(spark, tmp_path):
    """Streaming IVF-PQ ingest: quantizers train once on the seed batch
    and freeze, later batches assign+encode O(batch), all tiers stay in
    lockstep, redelivered batches are no-ops, and ADC search over the
    materialized index finds a later-ingested near-duplicate."""
    import json

    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        run_vector_ingest,
        search_materialized,
    )

    src = tmp_path / "vecs_in"
    src.mkdir()
    root = str(tmp_path / "index")
    ckpt = str(tmp_path / "vckpt")

    def vec(seed):
        return [float(((seed * 31 + d * 7) % 1009) - 504) for d in range(64)]

    def write_file(name, rows):
        (src / name).write_text("\n".join(json.dumps(r) for r in rows))

    def drain():
        source = spark.readStream.schema(
            "vec_id long, embedding array<double>"
        ).json(str(src))
        run_vector_ingest(
            spark, source=source, root_path=root, checkpoint_path=ckpt, dim=64
        )

    write_file("b1.json", [{"vec_id": i, "embedding": vec(i)} for i in range(40)])
    drain()
    cents = spark.read.parquet(f"{root}/centroids")
    assert cents.count() == 16
    cent_digest = sorted(r.cid for r in cents.collect())

    # batch 2: an exact duplicate of vector 7 under a new id + fresh rows
    write_file(
        "b2.json",
        [{"vec_id": 100, "embedding": vec(7)}]
        + [{"vec_id": 200 + i, "embedding": vec(77 + i)} for i in range(5)],
    )
    drain()
    # quantizers FROZEN: same centroid ids after the second batch
    assert sorted(r.cid for r in spark.read.parquet(f"{root}/centroids").collect()) == cent_digest
    vecs = spark.read.parquet(f"{root}/vectors")
    assigns = spark.read.parquet(f"{root}/assignments")
    codes = spark.read.parquet(f"{root}/codes")
    ids = {r.vec_id for r in vecs.collect()}
    assert ids == set(range(40)) | {100} | {200 + i for i in range(5)}
    assert {r.vec_id for r in assigns.collect()} == ids
    assert codes.count() == len(ids) * 32  # M codes per vector, no dups

    # ADC search: vector 7's query finds its batch-2 duplicate at the
    # minimum distance (identical codes -> identical ADC value)
    q = spark.createDataFrame([(7, vec(7))], "vec_id long, embedding array<double>")
    hits = search_materialized(spark, root, q, k=41, dim=64).collect()
    best = min(r.adist for r in hits)
    dup = next(r for r in hits if r.nn_id == 100)
    assert dup.adist == best

    # re-rank tier: the {root}/vectors table settles the final order by
    # exact cosine — the duplicate must surface at rank 1 with score 1.0
    rr = search_materialized(spark, root, q, k=3, dim=64, rerank=10).collect()
    assert rr[0].rank == 1 or any(r.rank == 1 for r in rr)
    top = next(r for r in rr if r.rank == 1)
    assert top.nn_id == 100 and top.score == 1.0

    # serving-tier pin: pin_codes=True must be a pure performance knob —
    # identical rows, and the codes slot actually lands in the registry
    from sales_forecast_mlops_at_scale_spark import cache

    pinned = search_materialized(
        spark, root, q, k=3, dim=64, rerank=10, pin_codes=True
    ).collect()
    assert sorted(map(tuple, pinned)) == sorted(map(tuple, rr))
    assert "vecingest.codes" in cache._LIVE


def test_vector_ingest_empty_first_batch_does_not_freeze_quantizer(spark, tmp_path):
    """An empty first micro-batch must not train-and-freeze a 0-row
    quantizer (empty parquet reads back non-None, so training would
    never re-run and the index would be silently broken forever)."""
    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        vector_ingest_batch,
    )

    root = str(tmp_path / "emptyidx")
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    vector_ingest_batch(empty, root, dim=64, batch_id=0)
    import os

    assert not os.path.exists(f"{root}/centroids")

    def vec(seed):
        return [float(((seed * 31 + d * 7) % 1009) - 504) for d in range(64)]

    real = spark.createDataFrame(
        [(i, vec(i)) for i in range(30)], "vec_id long, embedding array<double>"
    )
    vector_ingest_batch(real, root, dim=64, batch_id=1)
    assert spark.read.parquet(f"{root}/centroids").count() == 16
    assert spark.read.parquet(f"{root}/assignments").count() == 30


def test_vector_ingest_online_semantic_dedup(spark, tmp_path):
    """dedup_threshold rejects batch vectors whose best COMMITTED match
    clears the cosine bar: the exact duplicate of a batch-1 vector never
    reaches the index tiers, lands in {root}/rejected with its match,
    and fresh vectors ingest normally."""
    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        vector_ingest_batch,
    )

    root = str(tmp_path / "dedupidx")

    def vec(seed):
        # hash-decorrelated components: the linear (seed*31 + d*7) family
        # used elsewhere makes DIFFERENT seeds near-collinear (affine
        # shifts), which is exactly what a 0.99 cosine bar would reject
        import hashlib

        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}:{d}".encode()).digest()[:4], "big"
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    first = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, embedding array<double>"
    )
    vector_ingest_batch(first, root, dim=64, batch_id=0, dedup_threshold=0.99)

    second = spark.createDataFrame(
        [(100, vec(7))] + [(200 + i, vec(77 + i)) for i in range(3)],
        "vec_id long, embedding array<double>",
    )
    vector_ingest_batch(second, root, dim=64, batch_id=1, dedup_threshold=0.99)

    ids = {r.vec_id for r in spark.read.parquet(f"{root}/vectors").collect()}
    assert 100 not in ids, "exact duplicate must be rejected"
    assert {200, 201, 202} <= ids, "fresh vectors must ingest"
    rej = spark.read.parquet(f"{root}/rejected").collect()
    assert [(r.vec_id, r.matched_id, r.score) for r in rej] == [(100, 7, 1.0)]
    # codes/assignments stay in lockstep with vectors (no orphan tiers)
    assert {
        r.vec_id for r in spark.read.parquet(f"{root}/assignments").collect()
    } == ids


def test_vector_ingest_torn_replay_does_not_reject_committed_rows(spark, tmp_path):
    """Crash-replay audit consistency: a batch whose appends LANDED but
    whose commit marker did NOT (torn commit) is redelivered; on replay
    the dedup search now sees the batch's own vectors in the committed
    index, so without healing, batch rows would 'reject' against
    themselves/batch-mates — ending up in {root}/rejected while ALSO
    present in the index.  The anti-join against {root}/vectors must
    keep the audit table and the index tiers consistent."""
    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        vector_ingest_batch,
    )

    root = str(tmp_path / "tornidx")

    def vec(seed):
        import hashlib

        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}:{d}".encode()).digest()[:4], "big"
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    batch = spark.createDataFrame(
        [(i, vec(i)) for i in range(20)], "vec_id long, embedding array<double>"
    )
    # attempt 1: full ingest WITHOUT a batch marker (simulates the crash
    # window after the appends, before fs.createNewFile(marker))
    vector_ingest_batch(batch, root, dim=64, batch_id=None, dedup_threshold=0.99)
    ids1 = {r.vec_id for r in spark.read.parquet(f"{root}/vectors").collect()}
    assert ids1 == set(range(20))

    # attempt 2: the redelivered batch — every row matches itself in the
    # committed index at cosine 1.0, which would clear any threshold
    vector_ingest_batch(batch, root, dim=64, batch_id=7, dedup_threshold=0.99)

    import os

    rej_path = f"{root}/rejected"
    rejected = (
        spark.read.parquet(rej_path).collect() if os.path.exists(rej_path) else []
    )
    assert rejected == [], f"committed rows must not self-reject: {rejected}"
    # healing appends stay idempotent: no duplicate tier rows either
    vecs = spark.read.parquet(f"{root}/vectors").collect()
    assert len(vecs) == 20 and {r.vec_id for r in vecs} == ids1
    asg = spark.read.parquet(f"{root}/assignments").collect()
    assert len(asg) == 20


def test_compact_parquet_table_preserves_rows_and_shrinks_files(spark, tmp_path):
    """Compaction over a many-small-appends table: identical row
    multiset, far fewer part files, operator stats truthful, and a
    sort_by compaction restores per-file clustering."""
    from sales_forecast_mlops_at_scale_spark.streaming.compact import (
        compact_parquet_table,
    )

    path = str(tmp_path / "tbl")
    for b in range(12):
        spark.range(b * 50, (b + 1) * 50).selectExpr(
            "id", "id * 2 AS v"
        ).write.mode("append").parquet(path)
    before = sorted(
        tuple(r) for r in spark.read.parquet(path).collect()
    )
    import os

    n_before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_before >= 12
    stats = compact_parquet_table(spark, path, sort_by=["id"])
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    assert stats["rows"] == 600 and stats["files_before"] == n_before
    assert stats["files_after"] < n_before
    assert not os.path.exists(path + ".pre-compact")


def test_compact_transform_migrates_schema(spark, tmp_path):
    """``transform`` turns the rewrite into a schema migration:
    add-column-with-default + rename applied to every row while the
    rewrite pays for the scan anyway; row-preserving enforced (a
    filtering transform aborts with the table untouched); the
    already-compact no-op shortcuts are bypassed — they certify
    layout, not schema."""
    import os

    import pyspark.sql.functions as F

    from sales_forecast_mlops_at_scale_spark.streaming.compact import (
        compact_parquet_table,
    )

    path = str(tmp_path / "tbl")
    spark.range(100).selectExpr("id", "id * 2 AS v").coalesce(
        2
    ).write.parquet(path)
    # stamp the marker: a repeat same-params compaction would no-op
    compact_parquet_table(spark, path, sort_by=["id"])
    assert compact_parquet_table(spark, path, sort_by=["id"])["rows"] is None

    stats = compact_parquet_table(
        spark,
        path,
        sort_by=["id"],
        transform=lambda df: df.withColumnRenamed("v", "value").withColumn(
            "source", F.lit("legacy")
        ),
    )
    assert stats["rows"] == 100  # migration really ran despite the marker
    got = spark.read.parquet(path)
    assert set(got.columns) == {"id", "value", "source"}
    assert got.where(F.col("source") == "legacy").count() == 100
    assert got.agg(F.sum("value")).first()[0] == sum(i * 2 for i in range(100))

    # a row-dropping transform is refused, table untouched
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    try:
        compact_parquet_table(
            spark, path, transform=lambda df: df.where(F.col("id") < 10)
        )
        raise AssertionError("row-dropping transform must abort")
    except RuntimeError:
        pass
    assert sorted(tuple(r) for r in spark.read.parquet(path).collect()) == before
    assert not os.path.exists(path + ".pre-compact")


def test_migrate_snapshot_table_publishes_version(spark, tmp_path):
    import pyspark.sql.functions as F

    from sales_forecast_mlops_at_scale_spark.streaming.compact import (
        compact_parquet_table,
    )
    from sales_forecast_mlops_at_scale_spark.streaming.snapshots import (
        enable_snapshots,
        read_manifest,
        read_snapshot,
    )

    path = str(tmp_path / "tbl")
    spark.range(50).selectExpr("id", "id AS v").coalesce(1).write.parquet(path)
    enable_snapshots(path)
    compact_parquet_table(
        spark, path, transform=lambda df: df.withColumn("w", F.col("v") + 1)
    )
    assert read_manifest(path)["op"] == "migrate"
    got = read_snapshot(spark, path)
    assert set(got.columns) == {"id", "v", "w"} and got.count() == 50


def test_compact_sorted_tier_repeat_is_noop_until_append(spark, tmp_path):
    """A sort_by compaction leaves a layout-signature marker, so a
    repeat maintenance invocation over the unchanged tier skips the
    rewrite (rows=None, files untouched) instead of paying a full
    rewrite + unavailability window; an append invalidates the marker
    and the next compaction is a real rewrite again.  Also exercises the
    file:// form of the path (Spark writers emit such URIs)."""
    import os

    from sales_forecast_mlops_at_scale_spark.streaming.compact import (
        compact_parquet_table,
    )

    path = str(tmp_path / "tbl")
    for b in range(6):
        spark.range(b * 40, (b + 1) * 40).selectExpr(
            "id", "id % 7 AS k"
        ).write.mode("append").parquet(path)
    stats1 = compact_parquet_table(spark, "file://" + path, sort_by=["id"])
    assert stats1["rows"] == 240
    mtimes = {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    }
    stats2 = compact_parquet_table(spark, path, sort_by=["id"])
    assert stats2["rows"] is None  # marker certified: untouched
    assert stats2["files_after"] == stats2["files_before"]
    assert {
        f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)
    } == mtimes
    # different params → marker mismatch → real rewrite
    stats3 = compact_parquet_table(spark, path, sort_by=["k"])
    assert stats3["rows"] == 240
    # append → marker mismatch → real rewrite picking up the new rows
    spark.range(1000, 1010).selectExpr("id", "id % 7 AS k").write.mode(
        "append"
    ).parquet(path)
    stats4 = compact_parquet_table(spark, path, sort_by=["k"])
    assert stats4["rows"] == 250


def test_compact_heal_restores_interrupted_swap(spark, tmp_path):
    """A swap that died between its two renames (table dir gone, backup
    present) must be restored verbatim by heal_compaction — and the next
    compact call heals first, so the operator never sees a lost table."""
    import os

    from sales_forecast_mlops_at_scale_spark.streaming.compact import (
        compact_parquet_table,
        heal_compaction,
    )

    path = str(tmp_path / "tbl")
    spark.range(100).write.parquet(path)
    before = sorted(r.id for r in spark.read.parquet(path).collect())
    # simulate the crash window: table renamed away, new one never landed
    os.rename(path, path + ".pre-compact")
    assert heal_compaction(path) is True
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before
    # compact after heal works end-to-end (the multi-part-file range
    # write sits above the default target's n_out=1, so this is a real
    # rewrite, not the already-compact early-exit)
    os.rename(path, path + ".pre-compact")
    stats = compact_parquet_table(spark, path)
    assert stats["rows"] == 100
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == before


def test_compact_index_tables_preserves_search_results(spark, tmp_path):
    """OPTIMIZE over a multi-batch-fragmented IVF-PQ index: every tier
    shrinks to fewer files and search results are bit-identical before
    and after (the quantizers are untouched; only file layout changes)."""
    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        compact_index_tables,
        search_materialized,
        vector_ingest_batch,
    )

    root = str(tmp_path / "cidx")

    def vec(seed):
        return [float((seed * 31 + d * 7) % 97) for d in range(64)]

    for b in range(5):
        batch = spark.createDataFrame(
            [(b * 20 + i, vec(b * 20 + i)) for i in range(20)],
            "vec_id long, embedding array<double>",
        )
        vector_ingest_batch(batch, root, dim=64, batch_id=b)

    q = spark.createDataFrame(
        [(1000, vec(3)), (1001, vec(47))], "vec_id long, embedding array<double>"
    )
    before = sorted(
        tuple(r)
        for r in search_materialized(spark, root, q, k=5, dim=64, rerank=10).collect()
    )
    from sales_forecast_mlops_at_scale_spark.cache import clear_slots

    clear_slots()  # drop plan memos pinned to the pre-compaction files
    stats = compact_index_tables(spark, root)
    assert set(stats) == {"vectors", "assignments", "codes"}
    for tier in stats.values():
        assert tier["files_after"] <= tier["files_before"]
    after = sorted(
        tuple(r)
        for r in search_materialized(spark, root, q, k=5, dim=64, rerank=10).collect()
    )
    assert after == before
    clear_slots()


def test_compact_corpus_tables_preserves_dedup_behavior(spark, tmp_path):
    """OPTIMIZE over the dedup corpus between drains: tiers shrink,
    and a post-compaction batch still dedups against the stored corpus
    (near-dup of a stored doc rejected, fresh doc admitted)."""
    import json

    from sales_forecast_mlops_at_scale_spark.streaming.dedup_ingest import (
        compact_corpus_tables,
        run_dedup_ingest,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    root = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    alpha = "the quick brown fox jumps over the lazy dog again and again tonight"

    def drain():
        source = (
            spark.readStream.schema("doc_id long, text string").json(str(src))
        )
        run_dedup_ingest(
            spark, source=source, root_path=root, checkpoint_path=ckpt
        )

    (src / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 1, "text": alpha},
                {"doc_id": 2, "text": "unrelated text about catalyst plans"},
            ]
        )
    )
    drain()
    stats = compact_corpus_tables(spark, root)
    assert set(stats) == {"docs", "sets", "bands"}

    (src / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"doc_id": 10, "text": alpha},  # near-dup of stored 1
                {"doc_id": 11, "text": "genuinely novel content with no overlap"},
            ]
        )
    )
    drain()
    docs = {r.doc_id for r in spark.read.parquet(f"{root}/docs").collect()}
    assert docs == {1, 2, 11}


def test_compact_partitioned_table_preserves_layout_and_markers(spark, tmp_path):
    """Compacting a Hive-partitioned ingest target must (a) REFUSE to
    run without partition_by (flattening corrupts the table for the next
    partitioned append), (b) preserve the partition layout and the
    in-table _commits marker manifest across the swap, and (c) leave the
    table appendable and readable afterwards."""
    import datetime as dt
    import os

    import pytest

    from sales_forecast_mlops_at_scale_spark.streaming.compact import (
        compact_parquet_table,
    )

    target = str(tmp_path / "sales")
    for b in range(4):
        df = spark.createDataFrame(
            [(b * 10 + i, dt.date(2026, 1, 1 + (i % 2))) for i in range(10)],
            "store int, date date",
        )
        df.write.mode("append").partitionBy("date").parquet(target)
    os.makedirs(os.path.join(target, "_commits"), exist_ok=True)
    open(os.path.join(target, "_commits", "app-3"), "w").write("")
    before = sorted(tuple(r) for r in spark.read.parquet(target).collect())

    with pytest.raises(ValueError, match="Hive-partitioned"):
        compact_parquet_table(spark, target)

    stats = compact_parquet_table(spark, target, partition_by=["date"])
    assert stats["rows"] == 40 and stats["files_after"] < stats["files_before"]
    assert sorted(
        tuple(r) for r in spark.read.parquet(target).collect()
    ) == before
    assert sorted(
        d for d in os.listdir(target) if d.startswith("date=")
    ) == ["date=2026-01-01", "date=2026-01-02"]
    assert os.path.exists(os.path.join(target, "_commits", "app-3"))

    # the table stays appendable with the partitioned layout
    spark.createDataFrame(
        [(99, dt.date(2026, 1, 3))], "store int, date date"
    ).write.mode("append").partitionBy("date").parquet(target)
    assert spark.read.parquet(target).count() == 41


def test_compact_no_op_and_non_local_guard(spark, tmp_path):
    """An already-compact unpartitioned table is a no-op (no scan, no
    unavailability window) and remote URIs raise instead of silently
    skipping."""
    import pytest

    from sales_forecast_mlops_at_scale_spark.streaming.compact import (
        compact_parquet_table,
    )

    path = str(tmp_path / "one")
    spark.range(10).coalesce(1).write.parquet(path)
    stats = compact_parquet_table(spark, path)
    assert stats["files_after"] == stats["files_before"] == 1
    assert stats["rows"] is None  # untouched

    with pytest.raises(NotImplementedError, match="local paths only"):
        compact_parquet_table(spark, "hdfs://nn/warehouse/t")


def test_vector_ingest_dedup_survives_codes_less_replay(spark, tmp_path):
    """Torn first batch: the vectors append landed but the codes append
    did not (crash between them).  The replay's dedup search must NOT
    read the missing codes tier — that wedged the stream permanently —
    and the anti-join appends must heal the torn tiers."""
    import shutil

    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        vector_ingest_batch,
    )

    root = str(tmp_path / "index")

    def vec(seed):
        return [float(((seed * 31 + d * 7) % 1009) - 504) for d in range(64)]

    seed_df = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, embedding array<double>"
    )
    vector_ingest_batch(seed_df, root, dim=64, dedup_threshold=0.99)
    # simulate the crash point: codes (and assignments) never landed
    shutil.rmtree(f"{root}/codes")
    shutil.rmtree(f"{root}/assignments")

    vector_ingest_batch(seed_df, root, dim=64, dedup_threshold=0.99)  # replay
    import os

    assert os.path.isdir(f"{root}/codes")
    assert spark.read.parquet(f"{root}/codes").count() == 40 * 32
    assert spark.read.parquet(f"{root}/vectors").count() == 40  # no dups


def test_vector_ingest_rejects_threshold_without_rerank(spark, tmp_path):
    import pytest

    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        vector_ingest_batch,
    )

    b = spark.createDataFrame(
        [(1, [1.0] * 64)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dedup_rerank"):
        vector_ingest_batch(
            b, str(tmp_path / "i"), dim=64, dedup_threshold=0.9, dedup_rerank=0
        )


def test_dedup_ingest_empty_batch_is_a_pure_noop(spark, tmp_path):
    from sales_forecast_mlops_at_scale_spark.streaming.dedup_ingest import (
        dedup_ingest_batch,
    )

    root = str(tmp_path / "corpus")
    empty = spark.createDataFrame([], "doc_id long, text string")
    dedup_ingest_batch(empty, root)
    import os

    # no tier tables minted: an empty-batch-created table would flip the
    # stored-corpus branch for every later batch
    assert not os.path.exists(f"{root}/docs")
    assert not os.path.exists(f"{root}/sets")


def test_index_drift_observes_two_epoch_shift_and_retrain_resets(
    spark, tmp_path
):
    """Drift observability + the retrain remedy: a second ingest epoch
    drawn from a shifted distribution shows nonzero drift_ppm; after
    retrain_index the baseline is the post-retrain distribution, so
    drift restarts at ~zero, search still serves every corpus id, and
    every tier's row counts are preserved."""
    import os

    from sales_forecast_mlops_at_scale_spark.streaming.vector_ingest import (
        index_drift,
        retrain_index,
        search_materialized,
        vector_ingest_batch,
    )

    root = str(tmp_path / "driftidx")

    def vec(seed, shift=0):
        import hashlib

        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}-{d}-{shift}".encode()).digest()[:4],
                    "big",
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    epoch1 = spark.createDataFrame(
        [(i, vec(i)) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    # epoch 2: a different generator family → shifted distribution
    epoch2 = spark.createDataFrame(
        [(100 + i, vec(i, shift=7)) for i in range(120)],
        "vec_id long, embedding array<double>",
    )
    vector_ingest_batch(epoch1, root, dim=64, batch_id=0)
    assert os.path.isdir(f"{root}/seed_stats")
    vector_ingest_batch(epoch2, root, dim=64, batch_id=1)

    drift = index_drift(spark, root).collect()
    assert sum(r.n_seed for r in drift) == 60
    assert sum(r.n_current for r in drift) == 180
    assert any(r.drift_ppm != 0 for r in drift)  # the shift is visible

    before = {
        t: spark.read.parquet(f"{root}/{t}").count()
        for t in ("vectors", "assignments", "codes")
    }
    stats = retrain_index(spark, root, dim=64)
    assert stats == {
        "n_vectors": 180,
        "num_centroids": 16,
        "retrained": True,
    }
    after = {
        t: spark.read.parquet(f"{root}/{t}").count()
        for t in ("vectors", "assignments", "codes")
    }
    assert after == before  # wholesale replacement, nothing lost
    assert not os.path.exists(f"{root}/_retrain_journal.json")

    # baseline reset: seed distribution == current distribution now
    drift2 = index_drift(spark, root).collect()
    assert all(r.drift_ppm == 0 for r in drift2)
    assert all(r.n_seed == r.n_current for r in drift2)

    # search continuity: a probe carrying a corpus vector (under a
    # FRESH id — search excludes qid==vid self-matches by design) must
    # find that vector as its exact-cosine top-1.  rerank spans the
    # corpus: iid-random vectors give ADC no structure to exploit, so
    # only a full re-rank is deterministic.
    probes = spark.createDataFrame(
        [(10_000 + i, vec(i)) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    hits = search_materialized(
        spark, root, probes, k=3, nprobe=16, dim=64, rerank=200
    ).filter("rank = 1")
    assert {(r.q_id, r.nn_id) for r in hits.collect()} == {
        (10_000 + i, i) for i in range(5)
    }


def test_retrain_index_crash_mid_swap_heals_forward(
    spark, tmp_path, monkeypatch
):
    """A crash between two tier renames leaves the journal on disk;
    heal_retrain completes the swap and the index is consistent (all
    tiers from the NEW generation, counts intact, drift zero)."""
    import os

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "crashidx")

    def vec(seed):
        import hashlib

        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}-{d}".encode()).digest()[:4], "big"
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    batch = spark.createDataFrame(
        [(i, vec(i)) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    vi.vector_ingest_batch(batch, root, dim=64, batch_id=0)

    real_rename = os.rename
    state = {"renames_after_journal": 0, "armed": False}

    def crashing_rename(src, dst):
        if state["armed"] and "/codes" in dst.replace("\\", "/"):
            raise RuntimeError("simulated crash mid-swap")
        real_rename(src, dst)
        if dst.endswith("_retrain_journal.json"):
            state["armed"] = True  # crash on the codes-tier rename

    monkeypatch.setattr(vi.os, "rename", crashing_rename)
    try:
        vi.retrain_index(spark, root, dim=64)
        raise AssertionError("expected simulated crash")
    except RuntimeError as e:
        assert "mid-swap" in str(e)
    monkeypatch.setattr(vi.os, "rename", real_rename)
    assert os.path.isfile(f"{root}/_retrain_journal.json")
    assert vi.heal_retrain(root)  # rolls the swap forward
    assert not os.path.exists(f"{root}/_retrain_journal.json")
    from sales_forecast_mlops_at_scale_spark.operators.llm.pq import PQ_M

    for t, n in (("vectors", 50), ("assignments", 50), ("codes", 50 * PQ_M)):
        assert spark.read.parquet(f"{root}/{t}").count() == n
    drift = vi.index_drift(spark, root).collect()
    assert all(r.drift_ppm == 0 for r in drift)  # post-retrain baseline


def test_maybe_retrain_policy_thresholds(spark, tmp_path):
    """The drift→retrain policy: under threshold it only measures (the
    cheap assignments scan), over threshold it rebuilds and the next
    tick reports ~zero drift."""
    import hashlib

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "policyidx")

    def vec(seed, shift=0):
        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}-{d}-{shift}".encode()).digest()[:4],
                    "big",
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    e1 = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    e2 = spark.createDataFrame(
        [(100 + i, vec(i, shift=3)) for i in range(80)],
        "vec_id long, embedding array<double>",
    )
    vi.vector_ingest_batch(e1, root, dim=64, batch_id=0)
    vi.vector_ingest_batch(e2, root, dim=64, batch_id=1)

    # absurdly high bar: measure-only tick
    out = vi.maybe_retrain(spark, root, drift_threshold_ppm=999_999, dim=64)
    assert out["retrained"] is False
    assert out["max_abs_drift_ppm"] > 0

    # zero bar: any drift triggers the rebuild, and drift resets
    out2 = vi.maybe_retrain(spark, root, drift_threshold_ppm=1, dim=64)
    assert out2["retrained"] is True
    out3 = vi.maybe_retrain(spark, root, drift_threshold_ppm=1, dim=64)
    assert out3["retrained"] is False  # post-retrain baseline is current
    assert out3["max_abs_drift_ppm"] == 0


# -- incremental decayed counters (streaming/decay.py) -------------------------


def _decay_events(spark, seed_rows):
    import datetime as dt

    rows = [
        (uid, dt.datetime(2024, 1, 1) + dt.timedelta(days=d, hours=h), v)
        for uid, d, h, v in seed_rows
    ]
    return spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    )


def _decay_fixture_rows(n=600):
    # deterministic, spans ~20 weeks, late/out-of-order across batches
    return [
        (i % 9, (i * 37) % 140, i % 23, 0.01 * ((i * 97) % 4999))
        for i in range(n)
    ]


def test_decay_fold_equals_batch_bit_for_bit(spark, tmp_path):
    """THE exactness contract: fold 3 out-of-order batches, read back,
    and every (decayed_num, n_events) equals the batch operator over the
    concatenated history — integer arithmetic leaves no tolerance."""
    from sales_forecast_mlops_at_scale_spark.operators.timeseries import (
        decayed_score,
    )
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    rows = _decay_fixture_rows()
    # batch 2 carries the OLDEST events (late data), batch 3 a mix
    batches = [rows[0::3], rows[1::3], rows[2::3]]
    root = str(tmp_path / "decaystate")
    for b in batches:
        decay.fold_batch(
            spark, _decay_events(spark, b), root, keys=["user_id"]
        )
    got = {
        r.user_id: (r.n_events, r.decayed_num, r.decayed_units)
        for r in decay.read_scores(spark, root, keys=["user_id"]).collect()
    }
    want = {
        r.user_id: (r.n_events, r.decayed_num, r.decayed_units)
        for r in decayed_score(
            _decay_events(spark, rows), keys=["user_id"]
        ).collect()
    }
    assert got == want


def test_decay_prune_bounds_state_without_changing_scores(spark, tmp_path):
    """After pruning, state holds ≤ shift+2 buckets per key (live window
    + sentinel), yet scores AND total n_events still match the batch
    recompute exactly — the sentinel preserves pruned counts."""
    from sales_forecast_mlops_at_scale_spark.operators.timeseries import (
        decayed_score,
    )
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    rows = _decay_fixture_rows()
    root = str(tmp_path / "prunestate")
    # fold oldest half first, then newest half (anchor advances → prune)
    rows_sorted = sorted(rows, key=lambda r: r[1])
    for b in (rows_sorted[:300], rows_sorted[300:]):
        decay.fold_batch(
            spark, _decay_events(spark, b), root, keys=["user_id"], shift=4
        )
    state = spark.read.parquet(
        decay._state_dir(root, decay._state_version(root))
    )
    import pyspark.sql.functions as F

    per_key = state.groupBy("user_id").count().agg(F.max("count")).first()[0]
    assert per_key <= 4 + 2  # live window + sentinel
    got = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decay.read_scores(
            spark, root, keys=["user_id"], shift=4
        ).collect()
    }
    want = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decayed_score(
            _decay_events(spark, rows), keys=["user_id"], shift=4
        ).collect()
    }
    assert got == want


def test_decay_fold_crash_before_pointer_flip_is_replayable(
    spark, tmp_path, monkeypatch
):
    """Kill the fold between the staging rename and the pointer flip:
    the state pointer still names the OLD version, so replaying the
    batch (what a checkpointed foreachBatch driver does) folds it
    exactly once — the torn higher version is healed at entry."""
    import os as _os

    from sales_forecast_mlops_at_scale_spark.operators.timeseries import (
        decayed_score,
    )
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    rows = _decay_fixture_rows(200)
    b1, b2 = rows[:100], rows[100:]
    root = str(tmp_path / "crashstate")
    decay.fold_batch(spark, _decay_events(spark, b1), root, keys=["user_id"])

    real_replace = _os.replace

    def exploding_replace(src, dst):
        if _os.path.basename(dst) == "LATEST":
            raise OSError("simulated crash before pointer flip")
        return real_replace(src, dst)

    monkeypatch.setattr(decay.os, "replace", exploding_replace)
    import pytest as _pytest

    with _pytest.raises(OSError, match="simulated"):
        decay.fold_batch(spark, _decay_events(spark, b2), root, keys=["user_id"])
    monkeypatch.setattr(decay.os, "replace", real_replace)

    assert decay._state_version(root) == 1  # commit never happened
    # checkpoint replay: same batch again
    decay.fold_batch(spark, _decay_events(spark, b2), root, keys=["user_id"])
    got = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decay.read_scores(spark, root, keys=["user_id"]).collect()
    }
    want = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decayed_score(
            _decay_events(spark, rows), keys=["user_id"]
        ).collect()
    }
    assert got == want


def test_decay_fold_is_batch_split_invariant(spark, tmp_path):
    """Any partition of the history into batches commits the same state
    (integer addition commutes): 1 fold vs 5 folds, identical scores."""
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    rows = _decay_fixture_rows(300)
    ra = str(tmp_path / "one")
    rb = str(tmp_path / "five")
    decay.fold_batch(spark, _decay_events(spark, rows), ra, keys=["user_id"])
    for i in range(5):
        decay.fold_batch(
            spark, _decay_events(spark, rows[i::5]), rb, keys=["user_id"]
        )
    a = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decay.read_scores(spark, ra, keys=["user_id"]).collect()
    }
    b = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decay.read_scores(spark, rb, keys=["user_id"]).collect()
    }
    assert a == b


def test_decay_stream_drain_equals_batch_and_restart_is_noop(spark, tmp_path):
    """run_decay_stream over a file source: the drained state equals the
    batch operator on the same rows; a SECOND drain of the same
    checkpoint (a restart with no new data) changes nothing — and a new
    file folds incrementally on the next drain."""
    import json as _json

    from sales_forecast_mlops_at_scale_spark.operators.timeseries import (
        decayed_score,
    )
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    src = tmp_path / "src"
    src.mkdir()
    root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows) + "\n"
        )

    rows1 = [
        {"user_id": i % 5, "ts": f"2024-03-{(i % 28) + 1:02d}T12:00:00",
         "value": 1.0 + (i % 7)}
        for i in range(60)
    ]
    write_file("b1.json", rows1)

    def drain():
        decay.run_decay_stream(
            spark,
            source=spark.readStream.schema(
                "user_id long, ts timestamp, value double"
            ).json(str(src)),
            root=root,
            keys=["user_id"],
            checkpoint_path=ckpt,
        )

    drain()
    v1 = decay._state_version(root)
    got1 = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decay.read_scores(spark, root, keys=["user_id"]).collect()
    }
    all1 = spark.createDataFrame(
        [(r["user_id"], r["ts"].replace("T", " "), r["value"]) for r in rows1],
        "user_id long, ts string, value double",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    want1 = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decayed_score(all1, keys=["user_id"]).collect()
    }
    assert got1 == want1

    drain()  # restart, no new data: no new commit, same scores
    assert decay._state_version(root) == v1

    rows2 = [
        {"user_id": 9, "ts": "2024-03-30T09:00:00", "value": 2.5},
        {"user_id": 0, "ts": "2024-03-30T10:00:00", "value": 4.0},
    ]
    write_file("b2.json", rows2)
    drain()
    got2 = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decay.read_scores(spark, root, keys=["user_id"]).collect()
    }
    all2 = spark.createDataFrame(
        [
            (r["user_id"], r["ts"].replace("T", " "), r["value"])
            for r in rows1 + rows2
        ],
        "user_id long, ts string, value double",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    want2 = {
        r.user_id: (r.n_events, r.decayed_num)
        for r in decayed_score(all2, keys=["user_id"]).collect()
    }
    assert got2 == want2


def test_decay_batch_id_fence_blocks_replay_double_count(spark, tmp_path):
    """The replay fence: folding the SAME epoch id twice commits once —
    at-least-once delivery cannot double-count; a higher id folds."""
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "fence")
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00", 3.0)], "user_id long, ts string, value double"
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=0)
    before = decay.read_scores(spark, root, keys=["user_id"]).collect()[0]
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=0)  # replay
    after = decay.read_scores(spark, root, keys=["user_id"]).collect()[0]
    assert (before.n_events, before.decayed_num) == (
        after.n_events,
        after.decayed_num,
    )
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=1)  # new epoch
    final = decay.read_scores(spark, root, keys=["user_id"]).collect()[0]
    assert final.n_events == 2 * before.n_events
    assert final.decayed_num == 2 * before.decayed_num


def test_decay_fence_scope_reset_on_new_checkpoint(spark, tmp_path):
    """Epoch ids restart at 0 under a fresh checkpoint: a scope change
    must RESET the fence (fold the new stream's batch 0), never drop it
    (code-review r8 silent-data-loss finding)."""
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "scoped")
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00", 3.0)], "user_id long, ts string, value double"
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    # checkpoint A folds epochs 0..5
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=5, fence_scope="ckptA")
    # fresh checkpoint B restarts at epoch 0 with NEW data: must fold
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=0, fence_scope="ckptB")
    out = decay.read_scores(spark, root, keys=["user_id"]).collect()[0]
    assert out.n_events == 2
    # and within scope B the fence works again
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=0, fence_scope="ckptB")
    out2 = decay.read_scores(spark, root, keys=["user_id"]).collect()[0]
    assert out2.n_events == 2


def test_decay_empty_batch_is_free_and_legacy_pointer_readable(spark, tmp_path):
    """An idle micro-batch must not rewrite state or mint a version; a
    legacy plain-int LATEST (pre-fence format) must still read."""
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "idle")
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00", 3.0)], "user_id long, ts string, value double"
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    decay.fold_batch(spark, df, root, keys=["user_id"])
    v1 = decay._state_version(root)
    decay.fold_batch(spark, df.limit(0), root, keys=["user_id"])
    assert decay._state_version(root) == v1  # no version churn
    # legacy pointer: plain int, as the pre-fence format wrote it
    import os as _os

    with open(_os.path.join(root, "LATEST"), "w") as fh:
        fh.write(str(v1))
    assert decay._state_version(root) == v1
    assert decay._pointer(root)["fences"] == {}
    assert decay.read_scores(spark, root, keys=["user_id"]).count() == 1


def test_decay_pre_epoch_timestamps_not_eaten_by_sentinel(spark, tmp_path):
    """Pre-1970 events produce negative buckets; they must decay like any
    other data (the old -1 sentinel collided with bucket(1969-12-25) and
    zeroed it).  Anchor in 1969 + small shift: the old event still
    contributes exactly value >> 1."""
    from sales_forecast_mlops_at_scale_spark.operators.timeseries import (
        decayed_score,
    )
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    rows = [
        (1, "1969-12-26 12:00:00", 4.0),   # bucket -1 (the old sentinel!)
        (1, "1969-12-19 12:00:00", 8.0),   # one bucket older
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts string, value double"
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    root = str(tmp_path / "preepoch")
    decay.fold_batch(spark, df, root, keys=["user_id"], shift=8)
    got = decay.read_scores(spark, root, keys=["user_id"], shift=8).collect()[0]
    want = decayed_score(df, keys=["user_id"], shift=8).collect()[0]
    assert (got.n_events, got.decayed_num) == (want.n_events, want.decayed_num)
    assert got.decayed_num == 400 * 256 + 800 * 128  # both events live


def test_entry_points_heal_mid_swap_retrain(spark, tmp_path, monkeypatch):
    """code-review r8: a mid-swap retrain crash must be healed by EVERY
    entry point (ingest / search / drift), not only by a manual
    heal_retrain — otherwise new batches assign against NEW centroids
    but encode with OLD codebooks, silently corrupting search."""
    import hashlib
    import os

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "healentry")

    def vec(seed):
        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}-{d}".encode()).digest()[:4], "big"
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    batch = spark.createDataFrame(
        [(i, vec(i)) for i in range(50)],
        "vec_id long, embedding array<double>",
    )
    vi.vector_ingest_batch(batch, root, dim=64, batch_id=0)

    real_rename = os.rename
    state = {"armed": False}

    def crashing_rename(src, dst):
        if state["armed"] and "/codes" in dst.replace("\\", "/"):
            raise RuntimeError("simulated crash mid-swap")
        real_rename(src, dst)
        if dst.endswith("_retrain_journal.json"):
            state["armed"] = True

    monkeypatch.setattr(vi.os, "rename", crashing_rename)
    try:
        vi.retrain_index(spark, root, dim=64)
        raise AssertionError("expected simulated crash")
    except RuntimeError:
        pass
    monkeypatch.setattr(vi.os, "rename", real_rename)
    assert os.path.isfile(f"{root}/_retrain_journal.json")

    # drift entry heals, measures the healed index, and reports zero
    drift = vi.index_drift(spark, root).collect()
    assert not os.path.exists(f"{root}/_retrain_journal.json")
    assert all(r.drift_ppm == 0 for r in drift)


def test_ingest_replay_heals_missing_seed_stats(spark, tmp_path):
    """code-review r8: quantizer writes landed, the process died before
    the drift-baseline write — the marker-less replay must rebuild
    seed_stats instead of skipping training forever (which crashed every
    index_drift / maybe_retrain tick)."""
    import hashlib
    import shutil

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "seedheal")

    def vec(seed):
        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}-{d}".encode()).digest()[:4], "big"
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    batch = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    vi.vector_ingest_batch(batch, root, dim=64, batch_id=0)
    # simulate the torn TRAINING commit precisely: the crash happened
    # between the quantizer writes and everything after — quantizers
    # live, baseline AND all data tiers absent
    for tier in ("seed_stats", "assignments", "vectors", "codes"):
        shutil.rmtree(f"{root}/{tier}", ignore_errors=True)
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        vi.index_drift(spark, root).collect()
    # the replay of the (uncommitted — its marker was never written)
    # seed batch heals the baseline and re-appends the tiers
    vi.vector_ingest_batch(batch, root, dim=64)
    drift = vi.index_drift(spark, root).collect()
    assert all(r.drift_ppm == 0 for r in drift)
    assert spark.read.parquet(f"{root}/vectors").count() == 40  # no dupes


def test_legacy_index_without_baseline_is_not_silently_healed(spark, tmp_path):
    """code-review r8 round 2: an index that PREDATES drift tracking
    (assignments exist, seed_stats never written) must NOT get a
    baseline minted from an arbitrary later batch — that would report
    ~zero drift on exactly the index that wandered most.  The loud
    error (and its retrain_index remedy) stays."""
    import hashlib
    import shutil

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "legacyidx")

    def vec(seed, salt=0):
        return [
            float(
                int.from_bytes(
                    hashlib.md5(f"{seed}-{d}-{salt}".encode()).digest()[:4],
                    "big",
                )
                % 1009
                - 504
            )
            for d in range(64)
        ]

    seed_batch = spark.createDataFrame(
        [(i, vec(i)) for i in range(40)], "vec_id long, embedding array<double>"
    )
    vi.vector_ingest_batch(seed_batch, root, dim=64, batch_id=0)
    shutil.rmtree(f"{root}/seed_stats")  # the legacy shape
    later = spark.createDataFrame(
        [(100 + i, vec(i, salt=9)) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    vi.vector_ingest_batch(later, root, dim=64, batch_id=1)
    import os as _os

    import pytest as _pytest

    assert not _os.path.exists(f"{root}/seed_stats")  # not silently minted
    with _pytest.raises(FileNotFoundError, match="predates drift tracking"):
        vi.index_drift(spark, root).collect()
    # the later batch itself was still admitted normally
    assert spark.read.parquet(f"{root}/vectors").count() == 60


def test_decay_fences_are_per_scope_multi_writer_safe(spark, tmp_path):
    """code-review r8 round 2: stream B committing under its own scope
    must NOT erase stream A's fence — A's redelivered batch would
    double-count.  Fences live per scope in one atomic pointer."""
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "multiw")
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00", 3.0)], "user_id long, ts string, value double"
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=5, fence_scope="A")
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=0, fence_scope="B")
    n0 = decay.read_scores(spark, root, keys=["user_id"]).collect()[0].n_events
    assert n0 == 2
    # A's crash-redelivery of its already-folded batch 5: must be fenced
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=5, fence_scope="A")
    n1 = decay.read_scores(spark, root, keys=["user_id"]).collect()[0].n_events
    assert n1 == 2  # no double count
    # and B's replay too
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=0, fence_scope="B")
    assert decay.read_scores(spark, root, keys=["user_id"]).collect()[0].n_events == 2


def test_decay_concurrent_folds_lose_no_commit(spark, tmp_path):
    """ADVICE r8: two writers folding one root concurrently (the
    per-scope fences invite it) must serialize through the writer claim
    — without it, B's entry heal can rmtree A's just-renamed state_v,
    both collide on the staging name, and the pointer flip is
    last-writer-wins.  Both commits must land."""
    import os
    import threading

    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "concfold")
    rows = _decay_fixture_rows()
    halves = [rows[0::2], rows[1::2]]
    errs = []

    def fold(i):
        try:
            decay.fold_batch(
                spark,
                _decay_events(spark, halves[i]),
                root,
                keys=["user_id"],
                batch_id=0,
                fence_scope=f"scope{i}",
            )
        except Exception as e:  # pragma: no cover - failure path
            errs.append(e)

    ts = [threading.Thread(target=fold, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    assert decay._state_version(root) == 2  # both commits minted
    total = (
        decay.read_scores(spark, root, keys=["user_id"])
        .agg(F.sum("n_events"))
        .collect()[0][0]
    )
    assert total == len(rows)  # no lost fold, no double count
    assert not os.path.exists(os.path.join(root, decay._CLAIM))


def test_decay_claim_dead_owner_adopted_live_owner_blocks(spark, tmp_path):
    """The writer claim is adopted ONLY when its owner pid is dead; a
    claim held by a live process blocks (TimeoutError after the bound)
    instead of being destroyed mid-fold."""
    import json
    import os

    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "claims")
    os.makedirs(root)
    claim = os.path.join(root, decay._CLAIM)
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00", 3.0)],
        "user_id long, ts string, value double",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")

    # dead owner: pick a pid that cannot be alive (our own max-range probe)
    dead = 2**22 + (os.getpid() % 1000)
    with open(claim, "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"pid": dead}))
    decay.fold_batch(spark, df, root, keys=["user_id"])  # adopts orphan
    assert decay._state_version(root) == 1

    # live owner (pid 1 — provably alive): acquisition must time out,
    # never unlink the live writer's claim
    with open(claim, "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"pid": 1}))
    import pytest as _pytest

    with _pytest.raises(TimeoutError):
        decay._acquire_claim(root, timeout_s=0.3)
    assert os.path.exists(claim)
    os.unlink(claim)


def test_decay_bucket_uses_floor_not_truncation(spark, tmp_path):
    """ADVICE r8: Spark `div` truncates toward zero, DuckDB `//` floors —
    they differ for pre-1970 day counts.  1969-12-26 (day −6) and
    1970-01-02 (day +1) sit in DIFFERENT hl=7 buckets under floor
    (−1 vs 0) but the SAME bucket (0) under truncation; the decayed
    numerator pins floor on both the batch operator and the fold."""
    from sales_forecast_mlops_at_scale_spark.operators.timeseries import (
        decayed_score,
    )
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    df = spark.createDataFrame(
        [(1, "1969-12-26 12:00:00", 4.0), (1, "1970-01-02 12:00:00", 4.0)],
        "user_id long, ts string, value double",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    want = 400 * (1 << 7) + 400 * (1 << 8)  # ages 1 and 0 — NOT 2·400·256
    got_batch = decayed_score(df, keys=["user_id"], shift=8).collect()[0]
    assert got_batch.decayed_num == want
    root = str(tmp_path / "floorbuckets")
    decay.fold_batch(spark, df, root, keys=["user_id"], shift=8)
    got_stream = decay.read_scores(spark, root, keys=["user_id"], shift=8).collect()[0]
    assert got_stream.decayed_num == want


def test_decay_empty_first_batch_still_commits_readable_state(spark, tmp_path):
    """code-review r8 round 2: a stream whose first drain is empty must
    leave a READABLE (empty) state — the idle-skip only applies after
    the first commit."""
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "emptyfirst")
    df = spark.createDataFrame(
        [], "user_id long, ts timestamp, value double"
    )
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=0, fence_scope="s")
    assert decay._state_version(root) == 1
    assert decay.read_scores(spark, root, keys=["user_id"]).count() == 0
    # later idle batches skip (no version churn)
    decay.fold_batch(spark, df, root, keys=["user_id"], batch_id=1, fence_scope="s")
    assert decay._state_version(root) == 1


def test_heal_retrain_claim_is_exclusive_and_orphans_age_out(
    spark, tmp_path, monkeypatch
):
    """The journal is claimed by atomic rename: a second healer sees no
    journal (False); a claim orphaned by a dead healer is adopted only
    after the age bar, again by exclusive rename."""
    import glob as _glob
    import os

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "claimidx")
    os.makedirs(root)
    journal = os.path.join(root, "_retrain_journal.json")
    with open(journal, "w") as fh:
        fh.write('{"rid": "r1", "tiers": []}')

    # healer A claims and crashes mid-heal (simulated: claim the journal
    # but fail before the tier loop by making json.load raise once)
    real_rename = os.rename
    calls = {"n": 0}

    def crash_after_claim(src, dst):
        real_rename(src, dst)
        if ".claim-" in dst:
            calls["n"] += 1
            raise RuntimeError("simulated healer death post-claim")

    monkeypatch.setattr(vi.os, "rename", crash_after_claim)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="post-claim"):
        vi.heal_retrain(root)
    monkeypatch.setattr(vi.os, "rename", real_rename)
    (orphan,) = _glob.glob(f"{journal}.claim-*")

    # a FRESH orphan is assumed live: rivals leave it alone
    assert vi.heal_retrain(root) is False
    assert os.path.exists(orphan)

    # age it past the bar: the next healer adopts and completes
    old = os.path.getmtime(orphan) - vi._CLAIM_ADOPT_AGE_S - 5
    os.utime(orphan, (old, old))
    assert vi.heal_retrain(root) is True
    assert not _glob.glob(f"{journal}.claim-*")
    assert not os.path.exists(journal)


def test_expire_drift_log_bounds_partition_count(tmp_path):
    """VERDICT r8 #3: the monitor log appends one batch_id= partition
    per trigger forever; retention must bound the partition count (the
    listing cost) — newest N survive, the rest die whole, a 1000-trigger
    synthetic run stays bounded."""
    import os

    from sales_forecast_mlops_at_scale_spark.operators.drift import (
        expire_drift_log,
    )

    out = str(tmp_path / "log1000")
    os.makedirs(out)
    for i in range(1000):
        d = os.path.join(out, f"batch_id={i}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write("x")
    stats = expire_drift_log(out, keep_last_batches=50)
    assert stats == {"partitions_removed": 950, "partitions_kept": 50}
    left = sorted(
        int(n.split("=")[1]) for n in os.listdir(out) if n.startswith("batch_id=")
    )
    assert left == list(range(950, 1000))  # the NEWEST 50
    # idempotent re-run removes nothing
    assert expire_drift_log(out, keep_last_batches=50) == {
        "partitions_removed": 0,
        "partitions_kept": 50,
    }
    # missing log dir is a no-op, not a crash
    assert expire_drift_log(str(tmp_path / "nolog")) == {
        "partitions_removed": 0,
        "partitions_kept": 0,
    }


def test_expire_drift_log_live_monitor_and_replay_still_noop(
    spark, tmp_path
):
    """Retention composed with the live monitor: expired partitions
    vanish from the read-back, the kept rows are untouched, and a
    checkpointed replay drain after expiry is still a no-op (it can only
    rewrite the newest partition, which retention always keeps)."""
    import json as _json
    import os

    from sales_forecast_mlops_at_scale_spark.operators.drift import (
        expire_drift_log,
        run_drift_monitor,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "driftlog")
    ckpt = str(tmp_path / "ckpt")
    ref = spark.createDataFrame(
        [(float(i % 10),) for i in range(100)], "x double"
    )

    def drain():
        run_drift_monitor(
            ref,
            source=spark.readStream.schema("x double").json(str(src)),
            cols=["x"],
            out_path=out,
            checkpoint_path=ckpt,
        )

    for b in range(3):
        (src / f"b{b}.json").write_text(
            "\n".join(_json.dumps({"x": float((i + b) % 10)}) for i in range(100))
            + "\n"
        )
        drain()
    assert expire_drift_log(out, keep_last_batches=2) == {
        "partitions_removed": 1,
        "partitions_kept": 2,
    }
    rows = spark.read.parquet(out).collect()
    assert sorted(r.batch_id for r in rows) == [1, 2]
    before = sorted(map(tuple, rows))
    drain()  # replay with no new data: byte-level no-op
    assert sorted(map(tuple, spark.read.parquet(out).collect())) == before


def test_prune_decay_fences_keeps_recent_scopes_pointer_intact(
    spark, tmp_path
):
    """VERDICT r8 #3: fence entries accumulate one per checkpoint
    generation; pruning keeps the most recently committed scopes, never
    touches the state version or scores — and a pruned (retired) scope
    replaying WOULD re-fold, which is exactly why only dead checkpoints
    may be pruned (documented contract, pinned here)."""
    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "fenceprune")
    df = spark.createDataFrame(
        [(1, "2024-03-01 10:00:00", 3.0)],
        "user_id long, ts string, value double",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "value")
    for i, scope in enumerate(["genA", "genB", "genC"]):
        decay.fold_batch(
            spark, df, root, keys=["user_id"], batch_id=i, fence_scope=scope
        )
    v = decay._state_version(root)
    stats = decay.prune_decay_fences(root, keep_last_scopes=2)
    assert stats == {"scopes_removed": 1, "scopes_kept": 2}
    ptr = decay._pointer(root)
    assert set(ptr["fences"]) == {"genB", "genC"}  # genA was oldest
    assert int(ptr["version"]) == v  # state untouched
    n = decay.read_scores(spark, root, keys=["user_id"]).collect()[0].n_events
    assert n == 3
    # surviving scopes still fence their replays
    decay.fold_batch(
        spark, df, root, keys=["user_id"], batch_id=2, fence_scope="genC"
    )
    assert (
        decay.read_scores(spark, root, keys=["user_id"]).collect()[0].n_events
        == 3
    )
    # the pruned scope's replay re-folds — the reason pruning is only
    # for RETIRED checkpoint generations
    decay.fold_batch(
        spark, df, root, keys=["user_id"], batch_id=0, fence_scope="genA"
    )
    assert (
        decay.read_scores(spark, root, keys=["user_id"]).collect()[0].n_events
        == 4
    )


def test_heal_retrain_live_owner_never_adopted_by_age_alone(
    spark, tmp_path
):
    """ADVICE r8: a claim whose owner pid is provably ALIVE must not be
    adopted just because it aged past the short bar — a healer stalled
    >60 s would be raced on the very renames the claim protects.  Only
    the LONG pid-reuse bar (backed by the per-tier mtime heartbeat)
    overrides liveness."""
    import glob as _glob
    import os

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "liveclaim")
    os.makedirs(root)
    journal = os.path.join(root, "_retrain_journal.json")
    orphan = f"{journal}.claim-1-deadbeef"  # pid 1: provably alive
    with open(orphan, "w") as fh:
        fh.write('{"rid": "r1", "tiers": []}')

    # aged past the short bar but under the pid-reuse bar: left alone
    old = os.path.getmtime(orphan) - vi._CLAIM_ADOPT_AGE_S - 5
    os.utime(orphan, (old, old))
    assert vi.heal_retrain(root) is False
    assert os.path.exists(orphan)

    # aged past the pid-reuse bar: adopted (recycled-pid fallback)
    old = os.path.getmtime(orphan) - vi._CLAIM_PIDREUSE_AGE_S - 5
    os.utime(orphan, (old, old))
    assert vi.heal_retrain(root) is True
    assert not _glob.glob(f"{journal}.claim-*")


def test_retrain_sweep_waits_out_live_heal_and_spares_its_dirs(
    spark, tmp_path, monkeypatch
):
    """ADVICE r8: retrain_index's pre-clean must not rmtree staged/aside
    dirs owned by a rival healer holding a live claim — it waits for the
    heal to finish and times out (leaving the dirs intact) rather than
    destroying a mid-swap tier's only copies."""
    import os

    import pytest as _pytest

    import sales_forecast_mlops_at_scale_spark.streaming.vector_ingest as vi

    root = str(tmp_path / "sweepguard")
    os.makedirs(root)
    journal = os.path.join(root, "_retrain_journal.json")
    claim = f"{journal}.claim-1-cafef00d"  # live rival (pid 1), mid-heal
    with open(claim, "w") as fh:
        fh.write('{"rid": "r9", "tiers": ["assignments"]}')
    staged = os.path.join(root, "assignments.retrain-r9")
    aside = os.path.join(root, "assignments.old-r9")
    os.makedirs(staged)
    os.makedirs(aside)

    monkeypatch.setattr(vi, "_RETRAIN_QUIET_TIMEOUT_S", 0.3)
    with _pytest.raises(TimeoutError, match="in-flight heal"):
        vi.retrain_index(spark, root)
    assert os.path.isdir(staged) and os.path.isdir(aside)  # untouched
    os.unlink(claim)


def test_drift_monitor_stream_per_batch_rows_and_idempotent_replay(
    spark, tmp_path
):
    """run_drift_monitor: one drift row per (micro-batch, feature)
    against the frozen reference window; a stable batch scores ~0, a
    shifted one crosses the retrain band; re-draining the same
    checkpoint (restart, no new data) changes nothing."""
    import json as _json

    from sales_forecast_mlops_at_scale_spark.operators.drift import (
        run_drift_monitor,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "driftlog")
    ckpt = str(tmp_path / "ckpt")

    ref = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "x double"
    )

    def write_file(name, vals):
        (src / name).write_text(
            "\n".join(_json.dumps({"x": v}) for v in vals) + "\n"
        )

    def drain():
        run_drift_monitor(
            ref,
            source=spark.readStream.schema("x double").json(str(src)),
            cols=["x"],
            out_path=out,
            checkpoint_path=ckpt,
        )

    write_file("b1.json", [float(i % 100) for i in range(1000)])  # stable
    drain()
    write_file("b2.json", [float(150 + i % 100) for i in range(1000)])  # shifted
    drain()

    rows = {
        r.batch_id: r
        for r in spark.read.parquet(out).collect()
    }
    assert set(rows) == {0, 1}
    assert rows[0].psi == 0.0 and rows[0].ks_ppm == 0
    assert rows[1].psi > 0.25 and rows[1].feature == "x"

    before = sorted(map(tuple, spark.read.parquet(out).collect()))
    drain()  # restart with no new data
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert before == after


def test_windowed_rollup_stream_late_data_policy(spark, tmp_path):
    """Hand-computed watermark semantics through the REAL service
    (run_windowed_rollup_stream, append mode, three drains):

    - epoch 0: rows Jan-1 10:00 (w→Jan-2) and Jan-3 09:00 (w→Jan-4);
      nothing emits in the first batch (the watermark starts at 0 and
      only takes effect from the next batch's filter/eviction flush).
    - epoch 1: Jan-1 11:00 arrives for the ALREADY-CLOSED Jan-2 window
      (end ≤ wm after epoch 0 = Jan-2 09:00) → dropped; Jan-2 12:00 is
      late but its window end (Jan-3) is above that watermark → folded
      in; Jan-5 08:00 advances the watermark to Jan-4 08:00, closing
      the Jan-2 (count 1, NOT 2), Jan-3 and Jan-4 windows.
    - epoch 2: Jan-6 01:00 leaves every remaining window open
      (wm Jan-5 01:00) — the sink gains nothing, and a replay drain
      with no new data appends nothing (exactly-once)."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_windowed_rollup_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    epochs = [
        [("2024-01-01 10:00:00", "a", 1.0), ("2024-01-03 09:00:00", "a", 2.0)],
        [
            ("2024-01-01 11:00:00", "a", 4.0),
            ("2024-01-02 12:00:00", "a", 8.0),
            ("2024-01-05 08:00:00", "a", 16.0),
        ],
        [("2024-01-06 01:00:00", "a", 32.0)],
    ]

    def drain():
        s = spark.readStream.schema("ts string, k string, v double").json(
            str(src)
        )
        run_windowed_rollup_stream(
            s.select(F.col("ts").cast("timestamp").alias("ts"), "k", "v"),
            out_path=out,
            checkpoint_path=ck,
            value_col="v",
            keys=["k"],
            watermark="1 day",
        )

    def sink():
        try:
            return sorted(
                (str(r.day), r.k, r.n_events, r.sum_value)
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    for i, rows in enumerate(epochs):
        (src / f"e{i}.json").write_text(
            "\n".join(
                _json.dumps({"ts": ts, "k": k, "v": v}) for ts, k, v in rows
            )
            + "\n"
        )
        drain()
    want = [
        ("2024-01-01", "a", 1, 1.0),  # late 4.0 dropped: window was closed
        ("2024-01-02", "a", 1, 8.0),  # late-but-within: folded in
        ("2024-01-03", "a", 1, 2.0),
    ]
    assert sink() == want
    before = sink()
    drain()  # replay with no new data: appends nothing
    assert sink() == before


def test_run_latest_stream_state_carry_and_exactly_once(spark, tmp_path):
    """Hand-computed semantics through the REAL service
    (run_latest_stream, update mode, foreachBatch upsert, three drains):

    - epoch 0: u1 ord 50, u2 ord 70 → log rows (u1,0,50), (u2,0,70).
    - epoch 1: u1 delivers ONLY a stale row (ord 30) → the stored
      newest row re-emits under the new tag (u1,1,50) — state carried;
      u3 first appears → (u3,1,90).
    - epoch 2: u1 genuinely advances (ord 60) → (u1,2,60); u2 untouched
      (no row — update mode only emits touched keys).
    - replay drain with no new files appends nothing (exactly-once via
      the commit manifest, not the native sink)."""
    import json as _json

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_latest_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    epochs = [
        [(1, 50, 5.0, 0), (2, 70, 7.0, 0)],
        [(1, 30, 3.0, 1), (3, 90, 9.0, 1)],
        [(1, 60, 6.0, 2)],
    ]

    def drain():
        s = spark.readStream.schema(
            "user_id long, ord long, value double, epoch long"
        ).json(str(src))
        run_latest_stream(
            s,
            out_path=out,
            checkpoint_path=ck,
            keys=["user_id"],
            order_col="ord",
            value_col="value",
            tag_col="epoch",
        )

    def sink():
        try:
            return sorted(
                (r.user_id, r.epoch, r.ord, r.value)
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    for i, rows in enumerate(epochs):
        (src / f"e{i}.json").write_text(
            "\n".join(
                _json.dumps(
                    {"user_id": u, "ord": o, "value": v, "epoch": e}
                )
                for u, o, v, e in rows
            )
            + "\n"
        )
        drain()
    want = [
        (1, 0, 50, 5.0),
        (1, 1, 50, 5.0),  # stale batch re-emitted the STORED row
        (1, 2, 60, 6.0),  # genuine advance
        (2, 0, 70, 7.0),
        (3, 1, 90, 9.0),
    ]
    assert sink() == want
    before = sink()
    drain()  # replay with no new data: appends nothing
    assert sink() == before


def test_chained_rollup_cascade_within_one_drain(spark, tmp_path):
    """Hand-computed chained-stateful semantics through the REAL service
    (run_chained_rollup_stream: day windows → 3-day windows in ONE
    query, watermark 1 day, three drains):

    - epoch 0: Jan-1 (v=1) and Jan-2 12:00 (v=2) → wm Jan-1 12:00;
      nothing closes, log empty.
    - epoch 1: Jan-4 (v=4) → wm Jan-3 10:00 closes days Jan-1/Jan-2 AND
      the period Dec-31..Jan-3 in the SAME drain — the period row must
      contain BOTH days (n=2, sum=3.0, n_days=2): the day that closed in
      the very batch the period closed still cascaded in (watermark
      propagation; a one-drain lag or an outer late-drop would show
      n_days=1).
    - epoch 2: Jan-8 (v=8) → wm Jan-7 10:00 closes period Jan-3..Jan-6
      with day Jan-4; day Jan-8 and its period stay withheld.
    - replay drain appends nothing."""
    import json as _json

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_chained_rollup_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    epochs = [
        [("2024-01-01 10:00:00", "a", 1.0), ("2024-01-02 12:00:00", "a", 2.0)],
        [("2024-01-04 10:00:00", "a", 4.0)],
        [("2024-01-08 10:00:00", "a", 8.0)],
    ]

    def drain():
        s = spark.readStream.schema("ts timestamp, k string, v double").json(
            str(src)
        )
        run_chained_rollup_stream(
            s,
            out_path=out,
            checkpoint_path=ck,
            value_col="v",
            keys=["k"],
            watermark="1 day",
            period="3 days",
        )

    def sink():
        try:
            return sorted(
                (str(r.period_start), r.k, r.n_events, r.sum_value, r.n_days)
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    seen = []
    for i, rows in enumerate(epochs):
        (src / f"e{i}.json").write_text(
            "\n".join(
                _json.dumps({"ts": ts, "k": k, "v": v}) for ts, k, v in rows
            )
            + "\n"
        )
        drain()
        seen.append(sink())
    assert seen[0] == []
    assert seen[1] == [("2023-12-31", "a", 2, 3.0, 2)]  # both days cascaded
    assert seen[2] == seen[1] + [("2024-01-03", "a", 1, 4.0, 1)]
    before = sink()
    drain()
    assert sink() == before


def test_outer_attribution_null_emission_timing(spark, tmp_path):
    """Hand-computed LEFT OUTER stream-stream join semantics through
    the REAL service (run_attribution_stream how=left_outer, 1 h window,
    1 h watermarks, three drains):

    - epoch 0: u1 imp Jan-1 10:00 + conv 10:30 → pair emits in the same
      batch; u2 imp Jan-1 10:00 unmatched, withheld (wm Jan-1 09:00).
    - epoch 1: u3 imp Jan-5 10:00 + dummy conv advance wm to
      Jan-5 09:00 > u2's eviction point Jan-1 11:00 → u2's null row is
      flushed IN THIS DRAIN (the updated watermark, not the stale one).
    - epoch 2: wm → Jan-9 09:00.  u3 (eviction Jan-5 11:00) nulls;
      u5 imp Jan-9 07:00 (eviction Jan-9 08:00 < wm — the boundary is
      exactly imp+delay < wm) nulls; u6 imp Jan-9 08:30 (eviction
      09:30 > wm) and u4 imp Jan-9 10:00 stay withheld.
    - replay drain appends nothing."""
    import json as _json

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_attribution_stream,
    )

    lsrc, rsrc = tmp_path / "left", tmp_path / "right"
    lsrc.mkdir()
    rsrc.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    l_epochs = [
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")],
        [(3, "2024-01-05 10:00:00")],
        [(4, "2024-01-09 10:00:00"), (5, "2024-01-09 07:00:00"),
         (6, "2024-01-09 08:30:00")],
    ]
    r_epochs = [
        [(1, "2024-01-01 10:30:00")],
        [(9, "2024-01-05 10:00:00")],
        [(9, "2024-01-09 10:00:00")],
    ]

    def drain():
        l = spark.readStream.schema("user_id long, imp_ts timestamp").json(
            str(lsrc)
        )
        r = spark.readStream.schema("user_id long, conv_ts timestamp").json(
            str(rsrc)
        )
        run_attribution_stream(
            l, r, out_path=out, checkpoint_path=ck,
            max_delay="1 hour", left_watermark="1 hour",
            right_watermark="1 hour", how="left_outer",
        )

    def sink():
        try:
            return sorted(
                (r.user_id, str(r.imp_ts), str(r.conv_ts))
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    seen = []
    for i, (lrows, rrows) in enumerate(zip(l_epochs, r_epochs)):
        (lsrc / f"e{i}.json").write_text(
            "\n".join(_json.dumps({"user_id": u, "imp_ts": ts})
                      for u, ts in lrows) + "\n")
        (rsrc / f"e{i}.json").write_text(
            "\n".join(_json.dumps({"user_id": u, "conv_ts": ts})
                      for u, ts in rrows) + "\n")
        drain()
        seen.append(sink())
    assert seen[0] == [(1, "2024-01-01 10:00:00", "2024-01-01 10:30:00")]
    assert seen[1] == seen[0] + [(2, "2024-01-01 10:00:00", "None")]
    assert seen[2] == sorted(
        seen[1]
        + [(3, "2024-01-05 10:00:00", "None"),
           (5, "2024-01-09 07:00:00", "None")]
    )
    before = sink()
    drain()
    assert sink() == before


def test_run_ttl_rollup_stream_timeout_state_machine(spark, tmp_path):
    """Hand-computed EventTimeTimeout semantics through the REAL service
    (run_ttl_rollup_stream, append mode, ttl=1 day, watermark=1 hour,
    three drains) — every probed rule exercised:

    - epoch 0: u1 @Jan-1 10:00 (v=1), u4 @Jan-1 12:00 (v=2),
      u6 @Jan-1 09:00 (v=100).  wm→Jan-1 11:00; no timeout below it →
      log stays empty (open segments withheld).
    - epoch 1: u2 @Jan-5 10:00 (v=4), u5 @Jan-2 00:00 (v=8, late but
      ABOVE wm — survives), u6 @Jan-2 00:00 (v=200, FOLDS into the open
      segment).  wm advances to Jan-5 09:00, and the same drain's extra
      batch closes u1 (timeout Jan-2 10:00), u4 (Jan-2 12:00),
      u5 (Jan-3 00:00 — folded AND closed in one drain) and u6
      (n=2, sum=300 — the fold is visible in the closed record).
    - epoch 2: u1 @Jan-9 10:00 (v=16) RE-OPENS a fresh segment;
      u3 @Jan-2 00:00 (v=32) is BELOW wm Jan-5 09:00 → dropped before
      the function (u3 never appears anywhere).  wm→Jan-9 09:00 closes
      u2 (Jan-6 10:00); u1's new timeout Jan-10 10:00 stays open.
    - replay drain with no new data appends nothing (exactly-once)."""
    import json as _json

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_ttl_rollup_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    epochs = [
        [(1, "2024-01-01 10:00:00", 1.0), (4, "2024-01-01 12:00:00", 2.0),
         (6, "2024-01-01 09:00:00", 100.0)],
        [(2, "2024-01-05 10:00:00", 4.0), (5, "2024-01-02 00:00:00", 8.0),
         (6, "2024-01-02 00:00:00", 200.0)],
        [(1, "2024-01-09 10:00:00", 16.0), (3, "2024-01-02 00:00:00", 32.0)],
    ]

    def drain():
        s = spark.readStream.schema(
            "user_id long, ts timestamp, value double"
        ).json(str(src))
        run_ttl_rollup_stream(
            s,
            out_path=out,
            checkpoint_path=ck,
            keys=["user_id"],
            ttl="1 day",
            watermark="1 hour",
        )

    def sink():
        try:
            return sorted(
                (r.user_id, r.n_events, r.sum_value,
                 str(r.first_ts), str(r.last_ts))
                for r in spark.read.parquet(out).collect()
            )
        except Exception:
            return []

    seen = []
    for i, rows in enumerate(epochs):
        (src / f"e{i}.json").write_text(
            "\n".join(
                _json.dumps({"user_id": u, "ts": ts, "value": v})
                for u, ts, v in rows
            )
            + "\n"
        )
        drain()
        seen.append(sink())
    assert seen[0] == []  # nothing closed after epoch 0
    assert seen[1] == [
        (1, 1, 1.0, "2024-01-01 10:00:00", "2024-01-01 10:00:00"),
        (4, 1, 2.0, "2024-01-01 12:00:00", "2024-01-01 12:00:00"),
        (5, 1, 8.0, "2024-01-02 00:00:00", "2024-01-02 00:00:00"),
        (6, 2, 300.0, "2024-01-01 09:00:00", "2024-01-02 00:00:00"),
    ]
    assert seen[2] == sorted(
        seen[1] + [(2, 1, 4.0, "2024-01-05 10:00:00", "2024-01-05 10:00:00")]
    )
    before = sink()
    drain()  # replay with no new data: appends nothing
    assert sink() == before
    # u3's late row was dropped, u1's re-opened segment withheld
    assert not any(r[0] == 3 for r in sink())
    assert sum(1 for r in sink() if r[0] == 1) == 1


def test_decay_claim_adoption_and_liveness_rules(tmp_path, monkeypatch):
    """Cross-process rules of the hardened writer claim (code-review
    r9): a claim owned by a LIVE other pid under the pid-reuse bar
    blocks (TimeoutError, claim intact); the same claim past the bar is
    adopted; dead-owner and legacy torn claims are adopted immediately;
    and the claim is minted payload-atomically (no empty-visible
    window) by hardlink of a pre-written temp file."""
    import json
    import os
    import subprocess

    import pytest as _pytest

    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "claims")
    os.makedirs(root)
    path = os.path.join(root, decay._CLAIM)

    def put_claim(pid, age=0.0):
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(json.dumps({"pid": pid}))
        if age:
            old = os.path.getmtime(path) - age
            os.utime(path, (old, old))

    # (a) live other pid, fresh claim → block, never adopt
    put_claim(1)
    with _pytest.raises(TimeoutError, match="held by live pid 1"):
        decay._acquire_claim(root, timeout_s=0.2)
    assert os.path.exists(path)

    # (b) live other pid past the pid-reuse bar → adopted (recycled pid)
    put_claim(1, age=decay._CLAIM_PIDREUSE_AGE_S + 5)
    h = decay._acquire_claim(root, timeout_s=0.2)
    assert json.load(open(path))["pid"] == os.getpid()
    decay._release_claim(h)
    assert not os.path.exists(path)

    # (c) dead owner → adopted immediately (a really-exited pid)
    proc = subprocess.Popen(["true"])
    proc.wait()
    put_claim(proc.pid)
    h = decay._acquire_claim(root, timeout_s=0.2)
    decay._release_claim(h)

    # (d) legacy torn claim (empty payload) → adopted, not crashed on
    with open(path, "w", encoding="utf-8"):
        pass
    h = decay._acquire_claim(root, timeout_s=0.2)
    decay._release_claim(h)
    # no stray temp/adopt files leak
    assert os.listdir(root) == []


def test_decay_claim_release_spares_a_rivals_claim(tmp_path):
    """If a rival adopted our (wedged) claim and minted its own, our
    release must NOT unlink the rival's live claim — release is guarded
    by the claim inode, not the path."""
    import json
    import os

    from sales_forecast_mlops_at_scale_spark.streaming import decay

    root = str(tmp_path / "inode")
    os.makedirs(root)
    path = os.path.join(root, decay._CLAIM)
    h = decay._acquire_claim(root, timeout_s=0.2)
    # simulate the adoption: rival renames our claim away and mints its own
    os.rename(path, path + ".adopt-rival")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"pid": 1}))
    decay._release_claim(h)
    assert os.path.exists(path)  # the rival's claim survived our release
    assert json.load(open(path))["pid"] == 1
    os.unlink(path)
    os.unlink(path + ".adopt-rival")


def test_decay_claim_heartbeat_touches_mtime(tmp_path, monkeypatch):
    """The holder heartbeats the claim mtime, so a LONG fold is never
    mistaken for a recycled pid by the age bar."""
    import os
    import time

    from sales_forecast_mlops_at_scale_spark.streaming import decay

    monkeypatch.setattr(decay, "_CLAIM_HEARTBEAT_S", 0.05)
    root = str(tmp_path / "beat")
    os.makedirs(root)
    path = os.path.join(root, decay._CLAIM)
    h = decay._acquire_claim(root, timeout_s=0.2)
    try:
        m0 = os.path.getmtime(path)
        # age the file artificially; the heartbeat must re-touch it
        os.utime(path, (m0 - 100, m0 - 100))
        deadline = time.time() + 5
        while os.path.getmtime(path) < m0 - 50 and time.time() < deadline:
            time.sleep(0.05)
        assert os.path.getmtime(path) >= m0 - 50
    finally:
        decay._release_claim(h)


def test_dedup_stream_no_refresh_and_reemit_after_expiry(spark, tmp_path):
    """Hand-computed dropDuplicatesWithinWatermark semantics through the
    REAL service (run_dedup_stream, append mode, four drains), pinning
    the rule the q_stream_dedup oracle unrolls: the first survivor sets
    the key's expiry at its OWN event time + delay; a dropped duplicate
    does NOT extend it; the key re-emits once the (previous batch's)
    watermark passes the expiry."""
    import json as _json

    from pyspark.sql import functions as F

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_dedup_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    epochs = [
        # A emits, expiry Jan-2 00:00; Z pushes wm to Jan-1 00:00
        [("2024-01-01 00:00:00", "A"), ("2024-01-02 00:00:00", "Z")],
        # duplicate A: state alive (wm Jan-1 < expiry Jan-2) -> dropped;
        # under refresh semantics this would move the expiry to Jan-2 20:00
        [("2024-01-01 20:00:00", "A")],
        # wm advances to Jan-2 12:00 (> Jan-2 00:00, < Jan-2 20:00)
        [("2024-01-03 12:00:00", "Y")],
        # emitted ONLY because the dropped duplicate did not refresh
        [("2024-01-03 13:00:00", "A")],
    ]

    def drain():
        s = spark.readStream.schema("ts string, k string").json(str(src))
        run_dedup_stream(
            s.select(F.col("ts").cast("timestamp").alias("ts"), "k"),
            out_path=out,
            checkpoint_path=ck,
            keys=["k"],
            watermark="1 day",
        )

    for i, rows in enumerate(epochs):
        (src / f"e{i}.json").write_text(
            "\n".join(_json.dumps({"ts": ts, "k": k}) for ts, k in rows) + "\n"
        )
        drain()
    got = sorted((str(r.ts), r.k) for r in spark.read.parquet(out).collect())
    assert got == [
        ("2024-01-01 00:00:00", "A"),
        ("2024-01-02 00:00:00", "Z"),
        ("2024-01-03 12:00:00", "Y"),
        ("2024-01-03 13:00:00", "A"),  # re-emitted: no refresh, evicted
    ]
    drain()  # replay with no new data appends nothing
    assert len(spark.read.parquet(out).collect()) == 4


def test_session_stream_merges_open_withholds_open_and_replays_noop(
    spark, tmp_path
):
    """Hand-computed session_window streaming semantics through the REAL
    service (run_session_stream, gap 1h, watermark 1d): rows within the
    gap merge while the session is OPEN in state; the session emits only
    once the watermark passes its end (last event + gap); a still-open
    session is withheld from the log; a replay drain appends nothing."""
    import json as _json

    from pyspark.sql import functions as F

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_session_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    epochs = [
        # A: two rows 30 min apart -> ONE session [10:00, 11:30)
        [("2024-01-01 10:00:00", 1, 1.0), ("2024-01-01 10:30:00", 1, 2.0)],
        # cross-batch merge while OPEN (wm still -inf after batch 0's
        # data? no: wm0 = Jan-1 10:30 - 1d): 11:15 extends A's session
        # to end 12:15; Z pushes the watermark past it
        [("2024-01-01 11:15:00", 1, 4.0), ("2024-01-02 13:00:00", 9, 0.0)],
        # B opens a fresh session that stays OPEN at stream end
        [("2024-01-02 14:00:00", 2, 8.0)],
    ]

    def drain():
        s = spark.readStream.schema(
            "ts string, user_id int, value double"
        ).json(str(src))
        run_session_stream(
            s.select(
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id",
                "value",
            ),
            out_path=out,
            checkpoint_path=ck,
            gap="1 hour",
            watermark="1 day",
        )

    for i, rows in enumerate(epochs):
        (src / f"e{i}.json").write_text(
            "\n".join(
                _json.dumps({"ts": ts, "user_id": u, "value": v})
                for ts, u, v in rows
            )
            + "\n"
        )
        drain()
    got = sorted(
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events, r.sum_value)
        for r in spark.read.parquet(out).collect()
    )
    # A's session: all three rows merged (the 11:15 row arrived while
    # the session was open in state), end = 11:15 + 1h; emitted once
    # wm reached Jan-1 13:00.  Z's and B's sessions are still open.
    assert got == [(1, "2024-01-01 10:00:00", "2024-01-01 12:15:00", 3, 7.0)]
    drain()  # replay: byte-identical log
    assert len(spark.read.parquet(out).collect()) == 1


def test_attribution_stream_late_filter_and_eviction(spark, tmp_path):
    """Hand-computed stream-stream interval-join policy through the REAL
    service (run_attribution_stream, delay 1h, both watermarks 1h) —
    the rules the q_stream_attribution oracle applies on top of the
    batch join:

    - same-batch pair (A imp 10:00 / conv 10:20) emits;
    - a LATE right for an already-evicted left never emits (left A was
      evicted once the watermark passed imp+1h);
    - a left BELOW the watermark is dropped at input even though its
      expiry window still overlaps fresh conversions (the engine
      filters on the raw event time, not state usefulness);
    - right-then-left emits while the buffered right is alive;
    - a replay drain appends nothing."""
    import json as _json

    from pyspark.sql import functions as F

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_attribution_stream,
    )

    lsrc, rsrc = tmp_path / "l", tmp_path / "r"
    lsrc.mkdir(); rsrc.mkdir()
    out, ck = str(tmp_path / "log"), str(tmp_path / "ck")
    # wm after epoch 0 = Jan-1 23:00 (both sides max Jan-2 00:00 − 1h)
    L = [
        (0, "2024-01-01 10:00:00", 1),
        (0, "2024-01-01 23:45:00", 9),   # wm driver + right-then... no: left X partner arrives e1
        (0, "2024-01-02 00:00:00", 99),
        (1, "2024-01-01 22:30:00", 2),   # below wm0 → dropped (expiry 23:30 > wm0 is irrelevant)
        (1, "2024-01-01 23:30:00", 3),   # above wm0; matches buffered right (23:45)
    ]
    R = [
        (0, "2024-01-01 10:20:00", 1),   # same-batch match
        (0, "2024-01-01 23:45:00", 3),   # buffered; alive at e1 (wm0 23:00 ≤ 23:45)
        (0, "2024-01-02 00:00:00", 98),
        (1, "2024-01-01 10:40:00", 1),   # late right; left 1 evicted (expiry 11:00 < wm0)
        (1, "2024-01-01 23:20:00", 2),   # fresh-enough, but its left was dropped
    ]

    def drain():
        l = spark.readStream.schema("ts string, user_id int").json(str(lsrc))
        r = spark.readStream.schema("ts string, user_id int").json(str(rsrc))
        run_attribution_stream(
            l.select(F.col("ts").cast("timestamp").alias("imp_ts"), "user_id"),
            r.select(F.col("ts").cast("timestamp").alias("conv_ts"), "user_id"),
            out_path=out, checkpoint_path=ck,
            left_ts="imp_ts", right_ts="conv_ts",
        )

    for e in range(2):
        (lsrc / f"e{e}.json").write_text("\n".join(
            _json.dumps({"ts": ts, "user_id": u}) for ep, ts, u in L if ep == e
        ) + "\n")
        (rsrc / f"e{e}.json").write_text("\n".join(
            _json.dumps({"ts": ts, "user_id": u}) for ep, ts, u in R if ep == e
        ) + "\n")
        drain()
    got = sorted(
        (r.user_id, str(r.imp_ts), str(r.conv_ts))
        for r in spark.read.parquet(out).collect()
    )
    assert got == [
        (1, "2024-01-01 10:00:00", "2024-01-01 10:20:00"),
        (3, "2024-01-01 23:30:00", "2024-01-01 23:45:00"),
    ]
    drain()
    assert len(spark.read.parquet(out).collect()) == 2


def test_stateful_streams_identical_under_rocksdb_store(spark, tmp_path):
    """The scale story of every stateful stream here says "RocksDB holds
    billions of keys" — this pins that switching the state store
    provider from the default HDFS-backed one to RocksDB changes
    NOTHING about the semantics: the TTL-rollup state machine (custom
    state + EventTimeTimeout, the most provider-sensitive path: state
    encoding, timeout registry, eviction) produces byte-identical
    results under both providers on the hand fixture."""
    import json as _json

    from sales_forecast_mlops_at_scale_spark.streaming.ingest import (
        run_ttl_rollup_stream,
    )

    epochs = [
        [(1, "2024-01-01 10:00:00", 1.0), (4, "2024-01-01 12:00:00", 2.0),
         (6, "2024-01-01 09:00:00", 100.0)],
        [(2, "2024-01-05 10:00:00", 4.0), (5, "2024-01-02 00:00:00", 8.0),
         (6, "2024-01-02 00:00:00", 200.0)],
        [(1, "2024-01-09 10:00:00", 16.0), (3, "2024-01-02 00:00:00", 32.0)],
    ]

    def run(tag: str, provider: str | None) -> list:
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        out, ck = str(tmp_path / f"log_{tag}"), str(tmp_path / f"ck_{tag}")
        key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(key, None)
        if provider is not None:
            spark.conf.set(key, provider)
        try:
            for i, rows in enumerate(epochs):
                (src / f"e{i}.json").write_text(
                    "\n".join(
                        _json.dumps({"user_id": u, "ts": ts, "value": v})
                        for u, ts, v in rows
                    )
                    + "\n"
                )
                s = spark.readStream.schema(
                    "user_id long, ts timestamp, value double"
                ).json(str(src))
                run_ttl_rollup_stream(
                    s, out_path=out, checkpoint_path=ck,
                    keys=["user_id"], ttl="1 day", watermark="1 hour",
                )
        finally:
            if provider is not None:
                if old is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, old)
        return sorted(
            (r.user_id, r.n_events, r.sum_value, str(r.first_ts),
             str(r.last_ts))
            for r in spark.read.parquet(out).collect()
        )

    rocks = run(
        "rocks",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    hdfs = run("hdfs", None)
    assert rocks == hdfs
    assert len(rocks) == 5  # the pinned closure set of the hand fixture


#: the nine registry stream differentials not yet provider-swept (the
#: TTL machine is pinned above) — VERDICT r9 #4
_ROCKS_PARITY_QUERIES = (
    "q_stream_late_data",
    "q_stream_dedup",
    "q_stream_sessions",
    "q_stream_attribution",
    "q_stream_outer_attr",
    "q_stream_chained",
    "q_stream_latest",
    "q_stream_enrich",
    "q_ingest_merge",
    # the TWS machines build under RocksDB unconditionally (the API
    # refuses other providers), so for them this parametrization pins
    # REBUILD DETERMINISM against the committed fixture rather than
    # cross-provider parity
    "q_stream_tws",
    "q_stream_tws_ttl",
    "q_stream_tws_init",
)


@pytest.mark.parametrize("qname", _ROCKS_PARITY_QUERIES)
def test_stream_differential_rocksdb_parity(spark, tmp_path, monkeypatch, qname):
    """Extend the RocksDB state-store parity pin from the TTL machine to
    the FULL stateful matrix (VERDICT r9 #4): every registry stream
    differential — watermark late-data, dedup-within-watermark,
    session_window, stream-stream interval joins (inner + LEFT OUTER),
    chained stateful ops, custom applyInPandasWithState latest,
    stream-static enrich, exactly-once ingest MERGE — rebuilt from
    scratch with ``spark.sql.streaming.stateStore.providerClass`` set
    to RocksDB, must produce a value-identical log to the committed
    default-provider fixture.  The rebuild is forced by redirecting
    ``fixture_roots.digest_root`` into this test's tmp dir (the
    builders resolve it at call time), so the REAL checkpointed stream
    runs end-to-end under the provider the 100 TB scale notes assume."""
    import os as _os

    import sales_forecast_mlops_at_scale_spark.plans.fixture_roots as fr
    from sales_forecast_mlops_at_scale_spark.cache import clear_slots
    from sales_forecast_mlops_at_scale_spark.plans import all_queries
    from sales_forecast_mlops_at_scale_spark.streaming.tws import (
        ROCKSDB_PROVIDER,
        tws_available,
    )

    if qname.startswith("q_stream_tws") and not tws_available():
        pytest.skip("protobuf not installed; TWS python protocol unavailable")

    reg = all_queries()
    sf_dir = "/root/testdata/sf0.001"

    def canon(df) -> list:
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    base = canon(reg[qname].fn(spark, sf_dir))
    assert base, f"{qname} default-provider log is empty"

    orig_digest_root = fr.digest_root

    def redirected(namespace: str, src_paths, params):
        p = orig_digest_root(namespace, src_paths, params)
        return str(
            tmp_path
            / "rocks"
            / _os.path.basename(_os.path.dirname(p))
            / _os.path.basename(p)
        )

    monkeypatch.setattr(fr, "digest_root", redirected)
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    # the registry plan cache keys on files, not on the patched module
    # state: drop the first call's plan so the second really rebuilds
    clear_slots()
    try:
        rocks = canon(reg[qname].fn(spark, sf_dir))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    assert rocks == base


@pytest.mark.parametrize(
    "qname,split_col",
    [
        ("q_stream_dedup", "ts"),
        ("q_stream_chained", "ts"),
        # the TWS machine has no event-time axis at all (pure running
        # totals), so its split orders by key — invariance here rests on
        # the max-n reduction in q_stream_tws, not on time ordering
        ("q_stream_tws", "user_id"),
    ],
)
def test_stream_differential_batch_split_invariant(
    spark, tmp_path, monkeypatch, qname, split_col
):
    """Multi-micro-batch drain equivalence (VERDICT r9 #5): rebuild the
    dedup and chained stream fixtures with every epoch delivered as TWO
    time-ordered files and ``maxFilesPerTrigger=1`` — each availableNow
    drain then spans two data micro-batches plus the no-data batch —
    and pin that the final log is value-identical to the committed
    one-file-per-drain fixture.  This is the semantics a 100 TB
    backfill actually hits: the engine splits a drain's input into many
    micro-batches, and the watermark/eviction machinery must not let
    the split change the answer.

    The time-ordered split is part of the contract: sub-file j+1 holds
    strictly later-or-equal event times than sub-file j, so stragglers
    process first and no row becomes late against an intra-drain
    watermark it would not have faced single-batch.  Probed limit (NOT
    asserted here): delivering the same six files as six SEPARATE
    drains diverges for the dedup machine — availableNow runs one
    no-data eviction batch per DRAIN, so state eviction points differ
    with drain granularity; micro-batch granularity inside a drain
    (this test) is the invariant the engine guarantees."""
    import os as _os

    import sales_forecast_mlops_at_scale_spark.plans.analytics_queries as aq
    import sales_forecast_mlops_at_scale_spark.plans.fixture_roots as fr
    from sales_forecast_mlops_at_scale_spark.cache import clear_slots
    from sales_forecast_mlops_at_scale_spark.plans import all_queries
    from sales_forecast_mlops_at_scale_spark.streaming.tws import (
        tws_available,
    )

    if qname.startswith("q_stream_tws") and not tws_available():
        pytest.skip("protobuf not installed; TWS python protocol unavailable")

    reg = all_queries()
    sf_dir = "/root/testdata/sf0.001"

    def canon(df) -> list:
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    base = canon(reg[qname].fn(spark, sf_dir))
    assert base, f"{qname} committed log is empty"

    orig_digest_root = fr.digest_root

    def redirected(namespace: str, src_paths, params):
        p = orig_digest_root(namespace, src_paths, params)
        return str(
            tmp_path
            / "split"
            / _os.path.basename(_os.path.dirname(p))
            / _os.path.basename(p)
        )

    monkeypatch.setattr(fr, "digest_root", redirected)
    monkeypatch.setattr(aq, "_EPOCH_SPLIT", (split_col, 2))
    monkeypatch.setattr(
        aq, "_STREAM_READER_OPTIONS", {"maxFilesPerTrigger": "1"}
    )
    # the registry plan cache keys on files, not on the patched module
    # state: drop the first call's plan so the second really rebuilds
    clear_slots()
    split = canon(reg[qname].fn(spark, sf_dir))
    assert split == base


@pytest.mark.parametrize(
    "qname,expect_equal,split_col",
    [
        ("q_stream_chained", True, "ts"),
        ("q_stream_dedup", False, "ts"),
        # TWS running totals have no watermark, so extra no-data batches
        # per drain are inert — drain granularity CANNOT diverge
        ("q_stream_tws", True, "user_id"),
    ],
)
def test_stream_drain_granularity(
    spark, tmp_path, monkeypatch, qname, expect_equal, split_col
):
    """Pin the PROBED drain-granularity semantics: delivering the same
    six time-ordered files as six SEPARATE availableNow drains (one
    file each, via ``_DRAIN_PER_FILE``) — instead of three two-file
    drains — leaves the chained windowed aggregate IDENTICAL but makes
    the dedup machine DIVERGE from the committed log: availableNow runs
    one extra no-data batch per DRAIN, so dropDuplicatesWithinWatermark
    state eviction points are drain-granular (a key whose expiry falls
    between two intra-epoch watermarks is evicted — and its next row
    re-emitted — only under the finer drain sequence).  Watermark-close
    semantics (the chained case) depend only on the watermark VALUES,
    which are the same either way.  If the dedup case ever starts
    matching, Spark changed eviction granularity — update the
    batch-split invariance docstring accordingly."""
    import os as _os

    import sales_forecast_mlops_at_scale_spark.plans.analytics_queries as aq
    import sales_forecast_mlops_at_scale_spark.plans.fixture_roots as fr
    from sales_forecast_mlops_at_scale_spark.cache import clear_slots
    from sales_forecast_mlops_at_scale_spark.plans import all_queries
    from sales_forecast_mlops_at_scale_spark.streaming.tws import (
        tws_available,
    )

    if qname.startswith("q_stream_tws") and not tws_available():
        pytest.skip("protobuf not installed; TWS python protocol unavailable")

    reg = all_queries()
    sf_dir = "/root/testdata/sf0.001"

    def canon(df) -> list:
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    base = canon(reg[qname].fn(spark, sf_dir))
    orig_digest_root = fr.digest_root

    def redirected(namespace: str, src_paths, params):
        p = orig_digest_root(namespace, src_paths, params)
        return str(
            tmp_path
            / "perfile"
            / _os.path.basename(_os.path.dirname(p))
            / _os.path.basename(p)
        )

    monkeypatch.setattr(fr, "digest_root", redirected)
    monkeypatch.setattr(aq, "_EPOCH_SPLIT", (split_col, 2))
    monkeypatch.setattr(aq, "_DRAIN_PER_FILE", True)
    # the registry plan cache keys on files, not on the patched module
    # state: drop the first call's plan so the second really rebuilds
    clear_slots()
    per_file = canon(reg[qname].fn(spark, sf_dir))
    assert (per_file == base) is expect_equal
