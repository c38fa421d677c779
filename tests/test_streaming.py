"""Structured Streaming tests over the events table."""

from __future__ import annotations

import os

from clickhouse_only_importer_prototype_spark.streaming import events as ev


def test_with_event_time(spark, sf_dir):
    df = ev.with_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"))
    row = df.select("ts", "event_time").first()
    assert row.event_time is not None
    # micros derived from nanos
    assert abs(row.ts // 1000 - int(row.event_time.timestamp() * 1_000_000)) <= 1


def test_tumbling_counts_batch(spark, sf_dir):
    df = ev.with_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"))
    agg = ev.tumbling_counts(df, window="1 hour")
    rows = agg.collect()
    assert rows
    assert sum(r.n_events for r in rows) == df.count()
    assert all(r.window_start.minute == 0 for r in rows)


def test_sessionize_stateful_stream(spark, tmp_path):
    import pandas as pd

    gap = 1_000
    rows = [
        # user 1: two closed sessions + an open tail
        (1, 0), (1, 100), (1, 200),       # session A: 3 events
        (1, 5_000), (1, 5_500),           # session B: 2 events
        (1, 50_000),                      # open tail (never emitted)
        # user 2: one closed session + tail
        (2, 10), (2, 20_000),
    ]
    src = tmp_path / "sess_src"
    src.mkdir()
    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    pdf["event_id"] = range(len(pdf))
    pdf["event_type"] = "click"
    pdf["value"] = 0.0
    pdf["props"] = ""
    spark.createDataFrame(
        pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
    ).write.parquet(str(src / "part"))

    stream = spark.readStream.schema(ev.EVENTS_SCHEMA).parquet(str(src / "part"))
    out = ev.sessionize_stateful(stream, gap_ns=gap)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sess_test").collect()
    }
    assert got == {
        (1, 0, 200, 3),
        (1, 5_000, 5_500, 2),
        (2, 10, 10, 1),
    }


def test_sessionize_late_events_form_own_sessions(spark, tmp_path):
    """A late event arriving a micro-batch behind, hours before the open
    session, must NOT stretch the open session backwards — it forms (and
    closes) its own session; a chain of late events merges among itself."""
    import time

    import pandas as pd

    gap = 1_000

    def write_batch(name, rows):
        pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
        pdf["event_id"] = range(len(pdf))
        pdf["event_type"] = "click"
        pdf["value"] = 0.0
        pdf["props"] = ""
        spark.createDataFrame(
            pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]]
        ).coalesce(1).write.parquet(str(tmp_path / "late_src" / name))

    (tmp_path / "late_src").mkdir()
    # batch 1: open session far in the future
    write_batch("b1", [(1, 100_000), (1, 100_500)])
    time.sleep(1.1)  # file-source ordering is by mod time (second granularity)
    # batch 2: a late two-event chain way before the open session, plus a
    # borderline-late event within gap of the open session's start
    write_batch("b2", [(1, 10), (1, 600), (1, 99_400), (1, 101_000)])

    stream = (
        spark.readStream.schema(ev.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "late_src" / "*"))
    )
    out = ev.sessionize_stateful(stream, gap_ns=gap)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_late_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.sql("select * from sess_late_test").collect()
    }
    # late chain (10, 600) closes as ONE session; 99_400 merges into the
    # open session (99_400..101_000, n=4) which stays open (not emitted)
    assert got == {(1, 10, 600, 2)}


def test_sliding_type_counts_batch_semantics(spark, sf_dir):
    """Each event lands in exactly window/slide (=2) sliding windows;
    per-type totals across windows are 2x the raw counts."""
    from pyspark.sql import functions as F

    df = ev.with_event_time(spark.read.parquet(f"{sf_dir}/events.parquet"))
    out = ev.sliding_type_counts(df)
    doubled = {
        r.event_type: r.total
        for r in out.groupBy("event_type")
        .agg(F.sum("n_events").alias("total"))
        .collect()
    }
    raw = {
        r.event_type: r["count"]
        for r in df.groupBy("event_type").count().collect()
    }
    assert doubled == {t: 2 * c for t, c in raw.items()}


def test_stream_twin_nullable_ints_survive_without_arrow(spark, sf_dir):
    """Round-6 driver red: _stream_twin round-tripped the memory sink
    through toPandas(), which widens a nullable LongType holding NULLs
    to float64; the driver's externally-built session (Arrow conversion
    DISABLED) then hit the row-verification path of createDataFrame and
    rejected 88.0 for LongType. The fix materializes via toArrow(), so
    exact Spark types survive every rebuild path. This test pins the
    driver's code path: Arrow conversion off, OUTER twin (the only one
    whose sink holds NULL ints), full rebuild + rollup must run."""
    from clickhouse_only_importer_prototype_spark import queries as q

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = q._REGISTRY["stream_stream_outer_join"](spark, sf_dir)
        rows = df.collect()
    finally:
        spark.conf.set(key, before)
    assert rows
    # the sink schema must come back as exact longs, not doubles
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["n_pairs"] == "bigint"
    assert kinds["n_orphan_views"] == "bigint"
    assert all(isinstance(r.n_pairs, int) for r in rows)
    # at least one orphan view must exist at this SF or the outer half
    # of the operator was never exercised
    assert any(r.n_orphan_views > 0 for r in rows)


def test_stream_twin_restores_shuffle_conf_on_failure(spark):
    """_stream_twin pins the stream to 8 state partitions; the session
    conf must come back even when the build fails (a leaked pin would
    silently serialize every later batch query)."""
    import pytest

    from clickhouse_only_importer_prototype_spark import queries as q

    before = spark.conf.get("spark.sql.shuffle.partitions")

    def bad_build(src):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        q._stream_twin(
            spark,
            "/root/testdata/sf0.001",
            "events",
            "twin_conf_test_",
            bad_build,
        )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_throttle_audit_api_gate(spark, tmp_path):
    """The Spark 4 StatefulProcessor path is env-gated on protobuf;
    in this container auto must fall back to applyInPandasWithState
    and still build a streaming plan. The processor factory itself
    imports and validates without the gated deps."""
    import pytest

    from clickhouse_only_importer_prototype_spark.streaming import (
        events as se,
        throttle as th,
    )

    assert th.new_api_available() is False
    src = str(tmp_path / "src")
    import os
    import shutil

    os.mkdir(src)
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(src, "events.parquet"),
    ) if os.path.isfile(
        "/root/testdata/sf0.001/events.parquet"
    ) else shutil.copytree(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(src, "events.parquet"),
    )
    stream = se.read_events_stream(spark, src)
    df = th.throttle_audit(stream, limit=3, api="auto")
    assert df.isStreaming
    assert [f.name for f in df.schema] == [
        "user_id",
        "day_bucket",
        "n_events",
        "n_throttled",
    ]
    proc = th.make_processor(limit=2)
    assert hasattr(proc, "handleInputRows")
    with pytest.raises(ValueError):
        th.make_processor(limit=0)
    with pytest.raises(ValueError):
        th.throttle_audit_apply(stream, limit=0)
    with pytest.raises(ValueError):
        th.throttle_audit(stream, api="nope")


def test_throttle_state_merges_across_batches():
    """The per-day fold + held-state merge is the cross-batch
    contract; exercise it directly on pandas batches."""
    import pandas as pd

    from clickhouse_only_importer_prototype_spark.streaming.throttle import (
        DAY_NS,
        _fold_batches,
    )

    b1 = _fold_batches(
        [pd.DataFrame({"ts": [0, 1, DAY_NS, DAY_NS + 5]})]
    )
    assert b1 == {0: 2, 1: 2}
    b2 = _fold_batches(
        [pd.DataFrame({"ts": [2]}), pd.DataFrame({"ts": [DAY_NS * 2]})]
    )
    assert b2 == {0: 1, 2: 1}
    held = dict(b1)
    for k, v in b2.items():
        held[k] = held.get(k, 0) + v
    assert held == {0: 3, 1: 2, 2: 1}


def test_late_drop_twin_drops_by_watermark(spark, sf_dir):
    """The lateness twin's green oracle row rests on two claims pinned
    here: (a) the harness raises unless numRowsDroppedByWatermark > 0
    — so rows were dropped by the WATERMARK, not lost by the harness —
    and (b) the surviving counts equal the batch rollup minus exactly
    the late cohort, while the full batch rollup over the same fixture
    still includes it (the control: the deficit is the cohort, nothing
    else)."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark import queries as Q
    from clickhouse_only_importer_prototype_spark.streaming import (
        events as se,
        lateness as sl,
    )

    got = Q.stream_late_drop(spark, sf_dir)  # raises if no drop fired
    evd = se.normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
    tmax = evd.agg(F.max("ts")).collect()[0][0]
    cut = sl.late_cutoff_ns(tmax)
    is_late = (F.pmod(F.col("event_id"), F.lit(7)) == 0) & (
        F.col("ts") < F.lit(cut)
    )
    n_late = evd.where(is_late).count()
    n_total = evd.count()
    assert 0 < n_late < n_total  # fixture genuinely exercises both sides
    n_survived = got.agg(F.sum("n_events")).collect()[0][0]
    assert n_survived == n_total - n_late
    # per-bucket equality against the batch rollup minus the cohort
    expect = (
        evd.where(~is_late)
        .groupBy(
            F.expr(f"ts div {sl.HOUR_NS}").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count("*").cast("long").alias("n_events"))
    )
    assert got.exceptAll(expect).count() == 0
    assert expect.exceptAll(got).count() == 0


def test_late_drop_requires_multi_batch_regime(spark, sf_dir):
    """Control for the twin's mechanism: the SAME append-mode
    aggregation fed the SAME rows in ONE availableNow batch (no file
    split, no lateness) keeps the cohort — counts equal the full batch
    rollup. Proves the twin's deficit comes from watermark lateness
    injection, not from append-mode emission or the aggregation
    itself."""
    import os as _os

    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.streaming import (
        events as se,
        lateness as sl,
    )

    src_dir = str(
        __import__("tempfile").mkdtemp(prefix="late_drop_control_")
    )
    _os.symlink(
        f"{sf_dir}/events.parquet", _os.path.join(src_dir, "events.parquet")
    )
    ckpt = _os.path.join(src_dir, "ckpt")
    q = sl.windowed_counts_append(se.read_events_stream(spark, src_dir))
    h = (
        q.writeStream.format("memory")
        .queryName("late_drop_control")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    h.awaitTermination()
    try:
        assert sl.dropped_by_watermark(h.recentProgress) == 0
        # append emits only windows below the final watermark
        # (tmax - 1h): every emitted window must carry its FULL count,
        # late cohort included
        sink = spark.table("late_drop_control")
        evd = se.normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))
        full = {
            (r.hour_bucket, r.event_type): r.n_events
            for r in evd.groupBy(
                F.expr(f"ts div {sl.HOUR_NS}").alias("hour_bucket"),
                "event_type",
            )
            .agg(F.count("*").cast("long").alias("n_events"))
            .collect()
        }
        emitted = sink.select(
            (F.col("window_start").cast("long") / 3600)
            .cast("long")
            .alias("hour_bucket"),
            "event_type",
            "n_events",
        ).collect()
        assert emitted  # some windows closed below the final watermark
        for r in emitted:
            assert full[(r.hour_bucket, r.event_type)] == r.n_events
    finally:
        h.stop()
        spark.catalog.dropTempView("late_drop_control")
        __import__("shutil").rmtree(src_dir, ignore_errors=True)


def test_rocksdb_state_store_provider_equal_results(spark, sf_dir, tmp_path):
    """The 100 TB state backend: the default HDFS-backed provider
    holds every state row on-heap, which caps streaming state at
    executor memory; RocksDBStateStoreProvider (bundled, no extra
    jars) spills to local disk and is the deployment posture for
    unbounded-state streams. Pin that (a) the provider actually
    engages (rocksdb custom metrics in the query progress) and (b) the
    watermarked aggregation's results are provider-invariant."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark.streaming import (
        events as se,
    )

    def run(tag: str, provider: str | None):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        os.symlink(f"{sf_dir}/events.parquet", src / "events.parquet")
        if provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider
            )
        try:
            q = se.tumbling_counts(se.read_events_stream(spark, str(src)))
            h = (
                q.writeStream.format("memory")
                .queryName(f"rocks_{tag}")
                .outputMode("update")
                .trigger(availableNow=True)
                .option(
                    "checkpointLocation", str(tmp_path / f"ckpt_{tag}")
                )
                .start()
            )
            h.awaitTermination()
            rows = sorted(
                (
                    r.window_start,
                    r.event_type,
                    r.n_events,
                    float(r.value_sum),
                )
                for r in spark.table(f"rocks_{tag}").collect()
            )
            metrics = [
                op.get("customMetrics", {})
                for p in h.recentProgress
                for op in p.get("stateOperators", [])
            ]
            h.stop()
            spark.catalog.dropTempView(f"rocks_{tag}")
            return rows, metrics
        finally:
            if provider:
                spark.conf.unset(
                    "spark.sql.streaming.stateStore.providerClass"
                )

    default_rows, default_metrics = run("default", None)
    rocks_rows, rocks_metrics = run(
        "rocksdb",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    assert rocks_rows == default_rows and rocks_rows
    # provider engagement: rocksdb-specific metrics appear only on the
    # rocksdb run
    assert any("rocksdb" in str(m).lower() for m in rocks_metrics)
    assert not any("rocksdb" in str(m).lower() for m in default_metrics)


def test_late_drop_twin_survives_non_utc_session(spark, oracle_sf_dir):
    """Round-8 review finding #1, pinned: the twin setups normalize
    timestamps BEFORE read_events_stream's UTC pin runs in build(), so
    a driver session configured with a non-UTC timezone must not shift
    the written micro-batch files (the setups pin UTC themselves).
    Runs the absolute-time-sensitive twin under a deliberately skewed
    session timezone and checks the per-bucket counts still equal the
    batch rollup minus the late cohort."""
    from pyspark.sql import functions as F

    from clickhouse_only_importer_prototype_spark import queries as Q
    from clickhouse_only_importer_prototype_spark.streaming import (
        events as se,
        lateness as sl,
    )

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = {
            (r.hour_bucket, r.event_type): r.n_events
            for r in Q.stream_late_drop(spark, oracle_sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    evd = se.normalize_ts(
        spark.read.parquet(f"{oracle_sf_dir}/events.parquet")
    )
    tmax = evd.agg(F.max("ts")).collect()[0][0]
    cut = sl.late_cutoff_ns(tmax)
    expect = {
        (r.hour_bucket, r.event_type): r.n_events
        for r in evd.where(
            ~(
                (F.pmod(F.col("event_id"), F.lit(7)) == 0)
                & (F.col("ts") < F.lit(cut))
            )
        )
        .groupBy(
            F.expr(f"ts div {sl.HOUR_NS}").alias("hour_bucket"),
            "event_type",
        )
        .agg(F.count("*").cast("long").alias("n_events"))
        .collect()
    }
    assert got == expect
