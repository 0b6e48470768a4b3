"""Stateful sessionization stream (applyInPandasWithState)."""

from __future__ import annotations

import pandas as pd

from prajna_spark.streaming.sessions import sessionize

EVT_SCHEMA = "ts timestamp, user_id long, value double"


def _write_events(spark, path, rows):
    pdf = pd.DataFrame(rows, columns=["ts", "user_id", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], unit="s")
    spark.createDataFrame(pdf, EVT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def test_sessionize_gap_and_state_across_batches(spark, tmp_path):
    src = str(tmp_path / "events")
    gap = 30 * 60

    # batch file 1: user 1 has 3 events inside one session; user 2 has 1.
    # Times start at 1000: the stream's initial watermark is epoch 0, and
    # rows at-or-before the watermark are dropped as late (ts=0 would be).
    _write_events(
        spark,
        src,
        [(1000, 1, 1.0), (1060, 1, 2.0), (1120, 1, 3.0), (1000, 2, 10.0)],
    )
    # batch file 2: user 1 returns 2h later -> closes session 1, opens new
    _write_events(spark, src, [(8200, 1, 5.0)])

    stream = spark.readStream.schema(EVT_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        sessionize(stream, gap_sec=gap)
        .writeStream.format("memory")
        .queryName("t_sessions")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_sessions").collect()

    closed = [(r.user_id, r.session_start, r.session_end, r.n_events, r.total_value)
              for r in rows if r.status == "closed"]
    opens = {(r.user_id, r.session_start): (r.n_events, r.total_value)
             for r in rows if r.status == "open"}

    # the 2h-later event closed user 1's first session with its final state
    assert (1, 1000, 1120, 3, 6.0) in closed
    # latest open snapshots: user 1's new session, user 2's only session
    assert opens[(1, 8200)] == (1, 5.0)
    assert opens[(2, 1000)] == (1, 10.0)


def test_sessionize_gap_boundary_exactly_at_gap_opens_new(spark, tmp_path):
    """An event at exactly end + gap starts a NEW session ([start,
    last + gap) semantics), matching the batch F.session_window twin —
    and one second earlier still extends."""
    src = str(tmp_path / "e_gap")
    gap = 60
    _write_events(
        spark,
        src,
        [
            (1000, 1, 1.0), (1060, 1, 2.0),  # t=1060 == end+gap -> NEW
            (2000, 2, 1.0), (2059, 2, 2.0),  # t=2059 < end+gap -> extends
        ],
    )
    stream = spark.readStream.schema(EVT_SCHEMA).parquet(src)
    q = (
        sessionize(stream, gap_sec=gap)
        .writeStream.format("memory")
        .queryName("t_gap_boundary")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_gap"))
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_gap_boundary").collect()
    closed = [(r.user_id, r.session_start, r.session_end) for r in rows
              if r.status == "closed"]
    opens = {(r.user_id, r.session_start): r.n_events for r in rows
             if r.status == "open"}
    assert (1, 1000, 1000) in closed  # boundary event closed session 1
    assert opens[(1, 1060)] == 1      # and opened a new one
    assert opens[(2, 2000)] == 2      # sub-gap event extended


def test_batch_twin_splits_at_the_same_gap_boundary(spark, tmp_path):
    """Gaps of 1799, 1800 and 1801 s at the 30-minute timeout: the batch
    operator behind session_window_users and the streaming sessionizer
    must cut the same sessions — a gap of AT LEAST the timeout opens a
    new session (F.session_window merges the 1800 s pair)."""
    from prajna_spark.streaming.sessions import gap_sessions

    gap = 30 * 60
    events = [
        (t, user, 1.0)
        for user, second in ((1, 2799), (2, 2800), (3, 2801))
        for t in (1000, second)
    ]
    batch = gap_sessions(
        spark.createDataFrame(
            [(u, t, v) for t, u, v in events], "user_id long, t long, value double"
        ),
        gap,
    )
    batch_rows = sorted(
        (r.user_id, r.session_start, r.session_end - gap, r.n_events)
        for r in batch.collect()
    )

    src = str(tmp_path / "e_twin")
    _write_events(spark, src, events)
    q = (
        sessionize(spark.readStream.schema(EVT_SCHEMA).parquet(src), gap_sec=gap)
        .writeStream.format("memory")
        .queryName("t_gap_twin")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_twin"))
        .start()
    )
    q.awaitTermination()
    stream_rows = sorted(
        {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.table("t_gap_twin").collect()
        }
    )
    assert batch_rows == stream_rows == [
        (1, 1000, 2799, 2),
        (2, 1000, 1000, 1),
        (2, 2800, 2800, 1),
        (3, 1000, 1000, 1),
        (3, 2801, 2801, 1),
    ]


def _drain_with_scope(spark, tmp_path, name, threshold):
    """Drain the sessionizer under session_state_scope and return
    (rows, provider label, rocksdb* custom-metric keys seen)."""
    from prajna_spark.streaming.sessions import session_state_scope, sessionize

    src = str(tmp_path / f"e_{name}")
    _write_events(spark, src, [(1000, 1, 1.0), (1060, 1, 2.0), (5000, 2, 3.0)])
    stream = spark.readStream.schema(EVT_SCHEMA).parquet(src)
    with session_state_scope(spark, src, threshold=threshold) as provider:
        q = (
            sessionize(stream, gap_sec=60)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
            .start()
        )
        q.awaitTermination()
    keys: set[str] = set()
    for p in q.recentProgress:
        for op in p.get("stateOperators") or []:
            keys |= set(op.get("customMetrics") or {})
    rows = sorted(
        (r.user_id, r.session_start, r.n_events)
        for r in spark.table(name).collect()
        if r.status == "open"
    )
    return rows, provider, {k for k in keys if k.startswith("rocksdb")}


def test_session_state_scope_auto_selects_and_engages(spark, tmp_path):
    """The sessionizer's state is one row per active key — key-universe-
    sized, so its drain auto-selects the provider from the source's
    parquet footers (r7 VERDICT item 6). Above threshold the drain must
    PROVE RocksDB ran it (rocksdb* custom state metrics); below, the
    heap provider (no rocksdb metrics), with identical results."""
    rows_rocks, prov_rocks, rk_rocks = _drain_with_scope(
        spark, tmp_path, "t_sess_rocks", threshold=1
    )
    rows_heap, prov_heap, rk_heap = _drain_with_scope(
        spark, tmp_path, "t_sess_heap", threshold=10**9
    )
    assert prov_rocks == "rocksdb" and rk_rocks, rk_rocks
    assert prov_heap == "hdfs" and not rk_heap, rk_heap
    # t=1060 == end+gap opens a NEW session (boundary semantics above)
    assert rows_rocks == rows_heap == [(1, 1060, 1), (2, 5000, 1)]


def test_sessionize_is_streaming_and_schema(spark, tmp_path):
    src = str(tmp_path / "e2")
    _write_events(spark, src, [(1000, 1, 1.0)])
    stream = spark.readStream.schema(EVT_SCHEMA).parquet(src)
    out = sessionize(stream)
    assert out.isStreaming
    assert out.schema.fieldNames() == [
        "user_id", "session_start", "session_end",
        "n_events", "total_value", "status",
    ]
