"""Structured Streaming tests (SURVEY §7.3 M6): real streaming execution
via the parquet file source + memory sink, driven synchronously with
processAllAvailable. Exactly-once sink proven by re-delivery."""

import tempfile

from pyspark.sql import functions as F

from kommunedata_data_pipeline_spark.sources.readers import load_table
from kommunedata_data_pipeline_spark.streaming.windows import (
    foreach_batch_idempotent_sink,
    read_events_stream,
    run_to_memory,
    session_agg,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


def test_tumbling_counts_matches_batch(spark):
    stream = tumbling_counts(read_events_stream(spark, SF))
    run_to_memory(stream, "t_tumbling", output_mode="complete")
    got = spark.sql("SELECT sum(n) AS n FROM t_tumbling").collect()[0].n
    expected = load_table(spark, SF, "events").count()
    assert got == expected


def test_sliding_counts_double_count(spark):
    stream = sliding_counts(read_events_stream(spark, SF))
    run_to_memory(stream, "t_sliding", output_mode="complete")
    got = spark.sql("SELECT sum(n) AS n FROM t_sliding").collect()[0].n
    expected = load_table(spark, SF, "events").count()
    assert got == 2 * expected  # 1h window / 30min slide → every event twice


def test_session_agg_runs_and_covers_all_events(spark):
    stream = session_agg(read_events_stream(spark, SF))
    run_to_memory(stream, "t_sessions", output_mode="complete")
    rows = spark.sql("SELECT sum(n_events) AS n, count(*) AS s FROM t_sessions").collect()[0]
    assert rows.n == load_table(spark, SF, "events").count()
    assert rows.s > 0


def test_streaming_dedup(spark):
    stream = streaming_dedup(read_events_stream(spark, SF))
    run_to_memory(stream, "t_dedup", output_mode="append")
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM t_dedup").collect()[0]
    assert got.n == got.d


def test_foreach_batch_idempotent_sink(spark):
    """ST2 — run the sink twice over the same source: the second run must
    land zero new rows (anti-join vs landed keys)."""
    with tempfile.TemporaryDirectory() as tmp:
        out = f"{tmp}/landed"
        ev = read_events_stream(spark, SF).select("event_id", "ts", "event_type")
        q = foreach_batch_idempotent_sink(ev, out, ["event_id"]).start()
        q.awaitTermination(120)
        n1 = spark.read.parquet(out).count()
        assert n1 == load_table(spark, SF, "events").count()
        # re-deliver everything: fresh checkpoint, same data
        import shutil

        shutil.rmtree(out + "_chk")
        q2 = foreach_batch_idempotent_sink(ev, out, ["event_id"]).start()
        q2.awaitTermination(120)
        n2 = spark.read.parquet(out).count()
        assert n2 == n1  # exactly-once: nothing landed twice


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state persists across micro-batches — the
    second batch's emitted totals include the first batch's rows."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kommunedata_data_pipeline_spark.streaming.stateful import (
        COUNTS_SCHEMA,
        user_running_totals,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    rows1 = spark.createDataFrame(
        [(1, 1000, 7, "click", 1.0, None), (2, 2000, 7, "click", 2.0, None)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    rows2 = spark.createDataFrame(
        [(3, 3000, 7, "click", 3.0, None), (4, 4000, 8, "view", 5.0, None)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    rows1.coalesce(1).write.parquet(str(src / "a.parquet"))
    rows2.coalesce(1).write.parquet(str(src / "b.parquet"))

    stream = (
        spark.readStream.schema(rows1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    out = user_running_totals(stream.withColumn("ts", F.timestamp_micros(F.col("ts"))))
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_t")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    emitted = spark.sql("SELECT * FROM stateful_t").collect()
    # user 7 appears once per batch containing their rows; the LAST emission
    # carries the running total across batches (2 rows then 3)
    u7 = sorted(r.n_events for r in emitted if r.user_id == 7)
    assert u7[-1] == 3 and u7[0] == 2
    u8 = [r for r in emitted if r.user_id == 8]
    assert len(u8) == 1 and u8[0].n_events == 1 and u8[0].total_value == 5.0


def test_tws_value_stats_across_batches(spark, tmp_path):
    """transformWithStateInPandas: the ValueState accumulator persists
    across micro-batches (RocksDB provider), min/max fold correctly.
    Skips where the TWS python runner's protobuf dependency is absent."""
    import pytest

    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        pytest.skip("google.protobuf absent: transformWithState runner cannot start")

    from kommunedata_data_pipeline_spark.streaming.stateful import (
        enable_tws_workers,
        rocksdb_state_store,
        user_value_stats_tws,
    )

    assert enable_tws_workers(spark)

    src = tmp_path / "events_src"
    src.mkdir()
    rows1 = spark.createDataFrame(
        [(1, 1000, 7, "click", 4.0, None), (2, 2000, 7, "click", 2.0, None)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    rows2 = spark.createDataFrame(
        [(3, 3000, 7, "click", 9.0, None), (4, 4000, 8, "view", None, None)],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    )
    rows1.coalesce(1).write.parquet(str(src / "a.parquet"))
    rows2.coalesce(1).write.parquet(str(src / "b.parquet"))

    stream = (
        spark.readStream.schema(rows1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    with rocksdb_state_store(spark):
        out = user_value_stats_tws(
            stream.withColumn("ts", F.timestamp_micros(F.col("ts")))
        )
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_t")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    emitted = spark.sql("SELECT * FROM tws_t").collect()
    u7 = sorted(
        [r for r in emitted if r.user_id == 7], key=lambda r: r.n_events
    )
    # last emission folds both batches: 3 events, min 2.0, max 9.0
    assert u7[-1].n_events == 3 and u7[-1].total_value == 15.0
    assert u7[-1].min_value == 2.0 and u7[-1].max_value == 9.0
    u8 = [r for r in emitted if r.user_id == 8]
    # all-NULL values: count counts the row, min/max stay NULL
    assert len(u8) == 1 and u8[0].n_events == 1
    assert u8[0].min_value is None and u8[0].max_value is None


def test_tws_topk_liststate_across_batches(spark, tmp_path):
    """ListState top-k: standings merge across micro-batches, state stays
    bounded at k rows per key, ranks re-order as better values arrive."""
    import pytest

    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        pytest.skip("no usable protobuf runtime: transformWithState gated")

    from kommunedata_data_pipeline_spark.streaming.stateful import (
        enable_tws_workers,
        rocksdb_state_store,
        user_topk_tws,
    )

    assert enable_tws_workers(spark)
    schema = "event_id long, user_id long, value double"
    src = tmp_path / "topk_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 7, 5.0), (2, 7, 9.0), (3, 7, 1.0)], schema
    ).coalesce(1).write.parquet(str(src / "a.parquet"))
    spark.createDataFrame(
        [(4, 7, 7.0), (5, 7, 0.5), (6, 8, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "b.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    with rocksdb_state_store(spark):
        q = (
            user_topk_tws(stream, k=3)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_topk_t")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    rows = spark.sql("SELECT * FROM tws_topk_t").collect()
    # the memory sink keeps every batch's emission; the MERGED standings
    # for user 7 (top-3 of {5,9,1} ∪ {7,0.5} = 9,7,5) must be among them
    # — value 7.0 at rank 2 can only exist after cross-batch merge
    u7 = {(r.rnk, r.value, r.event_id) for r in rows if r.user_id == 7}
    assert {(1, 9.0, 2), (2, 7.0, 4), (3, 5.0, 1)} <= u7
    # state stays bounded at k: no emission ever ranks past 3
    assert max(r.rnk for r in rows) <= 3
    u8 = [(r.rnk, r.value, r.event_id) for r in rows if r.user_id == 8]
    assert u8 == [(1, 2.0, 6)]


def test_tws_typecounts_mapstate_across_batches(spark, tmp_path):
    """MapState per-subkey counts: point updates merge across batches,
    and a batch emits only the types it touched."""
    import pytest

    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        pytest.skip("no usable protobuf runtime: transformWithState gated")

    from kommunedata_data_pipeline_spark.streaming.stateful import (
        enable_tws_workers,
        rocksdb_state_store,
        user_type_counts_tws,
    )

    assert enable_tws_workers(spark)
    schema = "event_id long, user_id long, event_type string"
    src = tmp_path / "mc_src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 7, "click"), (2, 7, "click"), (3, 7, "view")], schema
    ).coalesce(1).write.parquet(str(src / "a.parquet"))
    spark.createDataFrame(
        [(4, 7, "click"), (5, 8, "view")], schema
    ).coalesce(1).write.parquet(str(src / "b.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    with rocksdb_state_store(spark):
        q = (
            user_type_counts_tws(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_mc_t")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    rows = spark.sql("SELECT * FROM tws_mc_t").collect()
    u7 = {(r.event_type, r.n) for r in rows if r.user_id == 7}
    # click reaches 3 only via the cross-batch MapState merge (2 then +1)
    assert {("click", 2), ("view", 1), ("click", 3)} <= u7
    # the second batch touched only 'click' for user 7: no re-emission
    # of an unchanged ('view', 1) beyond the first batch's
    assert sum(1 for r in rows if r.user_id == 7 and r.event_type == "view") == 1
    assert {(r.event_type, r.n) for r in rows if r.user_id == 8} == {("view", 1)}


def test_tws_event_time_timer_closes_sessions(spark, tmp_path):
    """Event-time timers: a key silent for the gap (per the watermark,
    not wall clock) emits its closed session exactly once; a key whose
    gap hasn't elapsed by the final watermark emits nothing."""
    import time

    import pytest

    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        pytest.skip("no usable protobuf runtime: transformWithState gated")

    from pyspark.sql import functions as F

    from kommunedata_data_pipeline_spark.streaming.stateful import (
        enable_tws_workers,
        rocksdb_state_store,
        session_close_tws,
    )

    assert enable_tws_workers(spark)
    schema = "event_id long, user_id long, sec long"
    src = tmp_path / "sess_src"
    src.mkdir()
    # batch 1: user 7 active at t=100..200s
    spark.createDataFrame(
        [(1, 7, 100), (2, 7, 200)], schema
    ).coalesce(1).write.parquet(str(src / "a.parquet"))
    # batch 2: user 8 at t=10000s — watermark jumps past 200+600=800s,
    # so user 7's timer fires; user 8's own gap never elapses
    spark.createDataFrame(
        [(3, 8, 10_000)], schema
    ).coalesce(1).write.parquet(str(src / "b.parquet"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
        .select("user_id", F.timestamp_seconds(F.col("sec")).alias("ts"))
    )
    with rocksdb_state_store(spark):
        q = (
            session_close_tws(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("tws_sess_t")
            .start()
        )
        q.processAllAvailable()
        # the timer fires in the no-data batch after the watermark
        # advances; poll briefly for it
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM tws_sess_t").count() > 0:
                break
            time.sleep(0.2)
            q.processAllAvailable()
        q.stop()
    rows = spark.sql("SELECT * FROM tws_sess_t").collect()
    assert [
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events) for r in rows
    ] == [(7, 100_000_000, 200_000_000, 2)]


def test_session_close_multibatch_random(spark, tmp_path):
    """Randomized (seeded) cross-batch differential test of the
    gap-session TWS processor: events for several users with gaps drawn
    around the session gap (including EXACTLY-gap merges), replayed
    in-order across 4 micro-batches, must emit exactly the sessions a
    Python reference model closes before the final watermark — sessions
    split across batch boundaries, multiple sessions inside one batch,
    and the never-closed trailing session per user are all covered."""
    import random
    import time

    import pytest

    from kommunedata_data_pipeline_spark.streaming.stateful import tws_available

    if not tws_available():
        pytest.skip("no usable protobuf runtime: transformWithState gated")

    from pyspark.sql import functions as F

    from kommunedata_data_pipeline_spark.streaming.stateful import (
        enable_tws_workers,
        rocksdb_state_store,
        session_close_tws,
    )

    assert enable_tws_workers(spark)
    gap_s = 600
    rng = random.Random(20260814)
    events = []  # (user, sec)
    for user in range(1, 7):
        t = rng.randint(0, 500)
        for _ in range(rng.randint(8, 20)):
            events.append((user, t))
            # mix: intra-session steps, EXACTLY-gap steps (must merge),
            # and gap-breaking steps (new session). Odd seconds only so
            # no end+gap can collide exactly with the global max ts.
            step = rng.choice([7, 123, gap_s, gap_s + 1, gap_s * 3 + 13])
            t += step
    events.sort(key=lambda e: e[1])

    # python reference: gap-merge per user, closed = end+gap < final max
    final_max = max(s for _, s in events)
    by_user: dict = {}
    for u, s in events:
        by_user.setdefault(u, []).append(s)
    expected = set()
    for u, ts in by_user.items():
        sess = [[ts[0], ts[0], 1]]
        for s in ts[1:]:
            if s - sess[-1][1] <= gap_s:
                sess[-1][1] = s
                sess[-1][2] += 1
            else:
                sess.append([s, s, 1])
        for st, en, n in sess:
            if en + gap_s < final_max:
                expected.add((u, st * 1_000_000, en * 1_000_000, n))

    src = tmp_path / "rand_sess_src"
    src.mkdir()
    quarter = (len(events) + 3) // 4
    schema = "user_id long, sec long"
    for i in range(4):
        chunk = events[i * quarter : (i + 1) * quarter]
        if chunk:
            spark.createDataFrame(chunk, schema).coalesce(1).write.parquet(
                str(src / f"b{i}.parquet")
            )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
        .select("user_id", F.timestamp_seconds(F.col("sec")).alias("ts"))
    )
    with rocksdb_state_store(spark):
        q = (
            session_close_tws(stream)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("tws_sess_rand")
            .start()
        )
        q.processAllAvailable()
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT * FROM tws_sess_rand").count() >= len(expected):
                break
            time.sleep(0.2)
            q.processAllAvailable()
        q.stop()
    rows = spark.sql("SELECT * FROM tws_sess_rand").collect()
    got = {
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in rows
    }
    assert len(rows) == len(got), "duplicate session emissions"
    assert got == expected


def test_dedup_within_watermark_ttl_reemission(spark, tmp_path):
    """dropDuplicatesWithinWatermark contract: a duplicate arriving
    within the delay window is suppressed; after the watermark passes
    first-seen + delay the key's state is gone, so a LATER duplicate is
    re-emitted (the bounded-state trade plain dropDuplicates doesn't
    make)."""
    from pyspark.sql import functions as F

    from kommunedata_data_pipeline_spark.streaming.windows import (
        streaming_dedup_within_watermark,
    )

    schema = "event_id long, sec long"
    src = tmp_path / "ttl_src"
    src.mkdir()
    # batch a: first sightings of 1 and 2
    spark.createDataFrame([(1, 100), (2, 200)], schema).coalesce(1).write.parquet(
        str(src / "a.parquet")
    )
    # batch b: duplicate of 1 inside the 600s window (suppressed) plus a
    # far-future event that advances the watermark past 100+600
    spark.createDataFrame([(1, 150), (3, 5000)], schema).coalesce(1).write.parquet(
        str(src / "b.parquet")
    )
    # batch c: duplicate of 1 in the same trigger that evicts its state
    # (eviction runs at END of batch -> still suppressed)
    spark.createDataFrame([(1, 4500)], schema).coalesce(1).write.parquet(
        str(src / "c.parquet")
    )
    # batch d: duplicate of 1 AFTER eviction completed -> re-emitted
    spark.createDataFrame([(1, 4600)], schema).coalesce(1).write.parquet(
        str(src / "d.parquet")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
        .select(
            "event_id", F.timestamp_seconds(F.col("sec")).alias("ts")
        )
    )
    q = (
        streaming_dedup_within_watermark(stream, "600 seconds")
        .select("event_id", "ts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_dedup_t")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM ttl_dedup_t").collect()
    counts: dict = {}
    for r in rows:
        counts[r.event_id] = counts.get(r.event_id, 0) + 1
    assert counts[2] == 1 and counts[3] == 1
    # within-window duplicate suppressed; the 4500s duplicate rides the
    # SAME trigger whose end-of-batch eviction drops the key, so it is
    # still suppressed; the 4600s duplicate lands after eviction and is
    # re-emitted - exactly the bounded-state trade of the API
    assert counts[1] == 2
    emitted_secs = sorted(int(r.ts.timestamp()) for r in rows if r.event_id == 1)
    assert emitted_secs == [100, 4600]
