"""Structured Streaming: each stream/batch-agnostic operator returns over
a file-source stream (availableNow backfill) what it returns over the
same files read as a batch."""

import pytest

import pyspark.sql.functions as F

from iatlas_cbioportal_export_spark.streaming.events import (
    hourly_event_counts_batch,
    sessionize,
)


def _stream_events(spark, path):
    """File-source stream over an events parquet directory, with the schema
    its files carry."""
    return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)


def _events(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 7, "click", 1.5),
            (2, "2024-01-01 00:50:00", 7, "click", 2.5),
            (3, "2024-01-01 01:10:00", 7, "view", 4.0),
            (4, "2024-01-01 03:00:00", 8, "click", 8.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "events_parquet")
    df.write.parquet(path)
    return df, path


def test_stream_equals_batch(spark, tmp_path):
    batch_df, path = _events(spark, tmp_path)
    batch = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["value_sum"])
        for r in hourly_event_counts_batch(batch_df).collect()
    }
    stream = _stream_events(spark, path)
    assert stream.isStreaming
    q = (
        hourly_event_counts_batch(stream)
        .writeStream.format("memory")
        .queryName("hourly_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["value_sum"])
        for r in spark.sql("select * from hourly_test").collect()
    }
    assert got == batch
    assert batch[("2024-01-01 00:00:00", "click")] == (2, 4.0)


def test_sessionize_gap(spark, tmp_path):
    df, _ = _events(spark, tmp_path)
    sessions = sessionize(df, gap_minutes=30).collect()
    by_user = {}
    for r in sessions:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 7: events at 00:10, 00:50 (40min gap -> new session), 01:10
    # (20min gap -> same session) => 2 sessions
    assert len(by_user[7]) == 2
    assert sorted(s["n_events"] for s in by_user[7]) == [1, 2]
    assert len(by_user[8]) == 1


@pytest.mark.slow
def test_attribution_stream_equals_batch(spark, tmp_path):
    """Stream-stream inner join (watermarked both sides, event-time-bounded
    condition) over availableNow backfill must equal the batch twin; a
    purchase outside the attribution window must not match."""
    from iatlas_cbioportal_export_spark.streaming.events import attribute_purchases

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 7, "click", 0.0),
            (2, "2024-01-01 00:25:00", 7, "purchase", 9.5),   # 15min after click 1
            (3, "2024-01-01 02:00:00", 7, "purchase", 4.0),   # outside any window
            (4, "2024-01-01 00:20:00", 8, "click", 0.0),
            (5, "2024-01-01 00:20:30", 8, "click", 0.0),
            (6, "2024-01-01 00:45:00", 8, "purchase", 2.0),   # matches BOTH 8-clicks
            (7, "2024-01-01 00:30:00", 9, "purchase", 1.0),   # user with no clicks
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    path = str(tmp_path / "attr_events")
    df.write.parquet(path)

    batch = {
        (r["user_id"], r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in attribute_purchases(df).collect()
    }
    assert batch == {(7, 1, 2, 9.5), (8, 4, 6, 2.0), (8, 5, 6, 2.0)}

    stream = _stream_events(spark, path)
    q = (
        attribute_purchases(stream)
        .writeStream.format("memory")
        .queryName("attr_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in spark.sql("select * from attr_test").collect()
    }
    assert got == batch


@pytest.mark.slow
def test_stream_dedup_keyset_equals_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps the first arrival per key (batch
    dropDuplicates keeps an arbitrary one), so stream==batch is asserted on
    the KEY SET — which is what dedup guarantees."""
    from iatlas_cbioportal_export_spark.streaming.events import dedup_events

    batch_df, path = _events(spark, tmp_path)
    batch_keys = {
        (r["user_id"], r["event_type"]) for r in dedup_events(batch_df).collect()
    }
    stream = _stream_events(spark, path)
    q = (
        dedup_events(stream)
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_type"])
        for r in spark.sql("select * from dedup_test").collect()
    }
    assert got == batch_keys
    assert len(got) == 3  # (7,click),(7,view),(8,click)


@pytest.mark.slow
def test_session_window_matches_lag_cumsum_sessionize(spark, tmp_path):
    from iatlas_cbioportal_export_spark.streaming.events import (
        sessionize_session_window,
    )

    df, _ = _events(spark, tmp_path)
    builtin = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize_session_window(df, gap_minutes=30).collect()
    }
    lag_based = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessionize(df, gap_minutes=30).collect()
    }
    assert builtin == lag_based


def test_session_window_boundary_event_joins_session(spark):
    # event at exactly last+gap joins the session — the semantics both
    # sessionizers (and the shared oracle) encode
    from iatlas_cbioportal_export_spark.streaming.events import (
        sessionize_session_window,
    )

    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, "c", 0.0),
            (2, "2024-01-01 00:30:00", 1, "c", 0.0),
            (3, "2024-01-01 01:00:01", 1, "c", 0.0),
        ],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sessionize_session_window(df, gap_minutes=30).collect()
    assert {(r["n_events"]) for r in out} == {2, 1}


@pytest.mark.slow
def test_session_window_streaming_mode(spark, tmp_path):
    from iatlas_cbioportal_export_spark.streaming.events import (
        sessionize_session_window,
    )

    batch_df, path = _events(spark, tmp_path)
    stream = _stream_events(spark, path).withWatermark("ts", "1 hour")
    q = (
        sessionize_session_window(stream, gap_minutes=30)
        .writeStream.format("memory")
        .queryName("sw_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql("select * from sw_test").collect()
    }
    batch = {
        (r["user_id"], r["session_start"], r["n_events"])
        for r in sessionize_session_window(batch_df, gap_minutes=30).collect()
    }
    assert got == batch


@pytest.mark.slow
def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    from iatlas_cbioportal_export_spark.streaming.events import (
        segment_hourly_counts,
    )

    batch_df, path = _events(spark, tmp_path)
    dim = spark.createDataFrame(
        [(7, "BUILDING"), (8, "MACHINERY")], "c_custkey long, c_mktsegment string"
    )
    batch = {
        (r["window_start"], r["segment"]): r["n_events"]
        for r in segment_hourly_counts(batch_df, dim).collect()
    }
    stream = _stream_events(spark, path)
    q = (
        segment_hourly_counts(stream, dim)
        .writeStream.format("memory")
        .queryName("seg_test")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["segment"]): r["n_events"]
        for r in spark.sql("select * from seg_test").collect()
    }
    assert got == batch
    assert batch[("2024-01-01 00:00:00", "BUILDING")] == 2


def test_enrich_events_unmatched_keys_kept(spark, tmp_path):
    from iatlas_cbioportal_export_spark.streaming.events import enrich_events

    df, _ = _events(spark, tmp_path)
    dim = spark.createDataFrame(
        [(7, "BUILDING")], "c_custkey long, c_mktsegment string"
    )
    out = enrich_events(df, dim).collect()
    assert len(out) == 4  # left join: user 8 kept with null segment
    segs = {r["user_id"]: r["c_mktsegment"] for r in out}
    assert segs[7] == "BUILDING" and segs[8] is None



def test_funnel_stages_ordered_matching(spark):
    from datetime import datetime
    from iatlas_cbioportal_export_spark.streaming.events import funnel_stages

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    rows = [
        # user 1: full ordered funnel
        (1, 1, t(1), "view"), (1, 2, t(2), "click"), (1, 3, t(3), "purchase"),
        # user 2: purchase arrives mid-funnel (ignored at stage 1), the
        # trailing click still advances -> stage 2, no purchase AFTER it
        (2, 4, t(1), "view"), (2, 5, t(2), "purchase"), (2, 6, t(3), "click"),
        # user 3: click first, then view -> the later click is gone, stage 1
        (3, 7, t(1), "click"), (3, 8, t(2), "view"),
        # user 4: only purchases -> stage 0
        (4, 9, t(1), "purchase"),
        # user 5: non-step events only -> not counted at all
        (5, 10, t(1), "login"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {r["stage"]: r["n_users"] for r in funnel_stages(df).collect()}
    assert out == {3: 1, 2: 1, 1: 1, 0: 1}


def test_funnel_stages_same_second_ties_break_by_event_id(spark):
    from datetime import datetime
    from iatlas_cbioportal_export_spark.streaming.events import funnel_stages

    ts = datetime(2024, 1, 1)
    rows = [(1, 1, ts, "view"), (1, 2, ts, "click"), (1, 3, ts, "purchase")]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, event_type string"
    )
    out = {r["stage"]: r["n_users"] for r in funnel_stages(df).collect()}
    assert out == {3: 1}


def test_time_decayed_value_halves_per_half_life(spark):
    from datetime import datetime
    from iatlas_cbioportal_export_spark.streaming.events import time_decayed_value

    ref = int(datetime(2024, 1, 31).timestamp()) - int(datetime(1970, 1, 1).timestamp())
    # place events exactly 0 and 10 half-lives-in-days before ref
    rows = [
        (1, 1, datetime.utcfromtimestamp(ref), 8.0),          # age 0 -> 8
        (1, 2, datetime.utcfromtimestamp(ref - 86400 * 10), 8.0),  # one half-life (10d) -> 4
        (2, 3, None, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, value double"
    )
    out = {
        r["user_id"]: r
        for r in time_decayed_value(
            df.filter("ts IS NOT NULL"), ref_epoch_sec=ref, half_life_days=10.0
        ).collect()
    }
    assert out[1]["n_events"] == 2
    assert abs(out[1]["decayed_value"] - 12.0) < 1e-9


def test_hourly_anomaly_zscore_flags_planted_spike(spark):
    from datetime import datetime, timedelta
    from iatlas_cbioportal_export_spark.streaming.events import (
        hourly_anomaly_zscore,
    )

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(40):
        # steady 5/hour, except a 50-event spike at hour 30
        n = 50 if h == 30 else 5 + (h % 2)  # small wobble -> nonzero variance
        for k in range(n):
            eid += 1
            rows.append((eid, 1, base + timedelta(hours=h, minutes=k % 60), "click", 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    out = hourly_anomaly_zscore(df)
    flagged = [r for r in out.collect() if r["is_anomaly"]]
    assert any(r["window_start"].startswith("2024-01-02 06") for r in flagged)
    # steady hours are not flagged
    assert all(r["n_events"] == 50 for r in flagged)


def test_hourly_anomaly_zscore_suppresses_cold_start_and_constant(spark):
    from datetime import datetime, timedelta
    from iatlas_cbioportal_export_spark.streaming.events import (
        hourly_anomaly_zscore,
    )

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(20):
        for k in range(3):  # perfectly constant series -> zero variance
            eid += 1
            rows.append((eid, 1, base + timedelta(hours=h), "view", 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, event_type string, value double"
    )
    assert hourly_anomaly_zscore(df).count() == 0


def test_retention_cohorts_triangle(spark):
    from iatlas_cbioportal_export_spark.streaming.events import (
        retention_cohorts,
    )

    rows = [
        # user 1: first day 01, returns 02 and 04 (two events on 02 -> one)
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 09:00:00"),
        (1, "2024-01-02 11:00:00"), (1, "2024-01-04 08:00:00"),
        # user 2: first day 01 only
        (2, "2024-01-01 23:59:59"),
        # user 3: first day 02, returns 03
        (3, "2024-01-02 00:00:01"), (3, "2024-01-03 12:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts"
    )
    got = {
        (r["cohort_day"], r["offset_days"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 3): 1,
        ("2024-01-02", 0): 1,
        ("2024-01-02", 1): 1,
    }


@pytest.mark.slow
def test_attribution_outer_stream_expiry_emits_unmatched(spark, tmp_path):
    """Left-outer stream-stream join: an unmatched click is emitted with
    null purchase columns once the watermark passes the end of its
    attribution window; a click whose window is still open stays pending.

    Watermarks only advance BETWEEN micro-batches, so the far-future event
    must arrive in a LATER batch (maxFilesPerTrigger=1 over two ordered
    files); the expiry emission then happens in the trailing no-data batch.
    """
    import time

    from iatlas_cbioportal_export_spark.streaming.events import (
        attribute_purchases_outer,
    )

    schema = (
        "event_id long, ts string, user_id long, event_type string,"
        " value double"
    )
    batch1 = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "click", 0.0),
            (2, "2024-01-01 10:10:00", 7, "purchase", 5.0),  # matches click 1
            (3, "2024-01-01 10:00:00", 8, "click", 0.0),     # never purchases
        ],
        schema,
    ).withColumn("ts", F.to_timestamp("ts"))
    # far-future events on BOTH sides: the global watermark is the MIN of
    # the click-side and purchase-side watermarks, so a lone future click
    # leaves the purchase watermark (and thus the join's state eviction)
    # pinned at the old time — both must advance past click 3's window end
    # (10:30 + 1h delay) to force its expiry emission
    batch2 = spark.createDataFrame(
        [
            (4, "2024-01-01 14:00:00", 9, "click", 0.0),
            (5, "2024-01-01 14:00:00", 10, "purchase", 1.0),
        ],
        schema,
    ).withColumn("ts", F.to_timestamp("ts"))

    both = batch1.unionByName(batch2)
    got_batch = {
        (r["click_id"], r["purchase_id"])
        for r in attribute_purchases_outer(both).collect()
    }
    assert got_batch == {(1, 2), (3, None), (4, None)}

    path = str(tmp_path / "attr_outer_events")
    batch1.coalesce(1).write.mode("append").parquet(path)
    time.sleep(1.1)  # distinct mtimes => deterministic file order
    batch2.coalesce(1).write.mode("append").parquet(path)

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    # availableNow terminates before the trailing no-data batch that
    # flushes expired outer state — use a periodic trigger and poll: the
    # no-data micro-batches it keeps running perform the eviction/emission
    q = (
        attribute_purchases_outer(stream)
        .writeStream.format("memory")
        .queryName("attr_outer_test")
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
        got = set()
        deadline = time.time() + 60
        while time.time() < deadline:
            got = {
                (r["click_id"], r["purchase_id"])
                for r in spark.sql("select * from attr_outer_test").collect()
            }
            if len(got) >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    # click 1 matched; click 3 expired-unmatched (watermark 13:00 > 11:30);
    # click 4's window end (14:30) is past the final watermark, so it is
    # STILL PENDING — the trailing-emission semantic under test
    assert got == {(1, 2), (3, None)}


def test_activity_streaks_runs_and_gaps(spark):
    from iatlas_cbioportal_export_spark.streaming.events import (
        activity_streaks,
    )

    rows = [
        # user 1: 01-01..01-03 (streak 3; two events one day), gap, 01-05
        (1, "2024-01-01 10:00:00"), (1, "2024-01-02 09:00:00"),
        (1, "2024-01-02 23:00:00"), (1, "2024-01-03 01:00:00"),
        (1, "2024-01-05 12:00:00"),
        # user 2: single day
        (2, "2024-01-10 00:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string").selectExpr(
        "user_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts"
    )
    got = {
        (r["user_id"], r["streak_start"]): r["streak_days"]
        for r in activity_streaks(df).collect()
    }
    assert got == {
        (1, "2024-01-01"): 3,
        (1, "2024-01-05"): 1,
        (2, "2024-01-10"): 1,
    }


def test_exp_smoothing_recursion(spark):
    from iatlas_cbioportal_export_spark.streaming.events import exp_smoothing

    # one key, three hourly buckets with values 10, 20, 40 (the second
    # hour aggregates two events); alpha=0.5 -> s = ((10*.5+? seed 10)
    # s1 = .5*20+.5*10 = 15; s2 = .5*40+.5*15 = 27.5
    rows = [
        (1, "2024-01-01 00:10:00", "click", 10.0),
        (2, "2024-01-01 01:20:00", "click", 15.0),
        (3, "2024-01-01 01:40:00", "click", 5.0),
        (4, "2024-01-01 02:05:00", "click", 40.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "event_type", "value"
    )
    r = exp_smoothing(df, alpha=0.5).collect()[0]
    assert (r["n_hours"], r["last_value"], r["smoothed"]) == (3, 40.0, 27.5)


def test_transition_matrix_counts_and_probs(spark):
    from iatlas_cbioportal_export_spark.streaming.events import (
        transition_matrix,
    )

    rows = [
        # user 7: view -> click -> view -> click ; user 8: view -> purchase
        (1, "2024-01-01 00:00:01", 7, "view"),
        (2, "2024-01-01 00:00:02", 7, "click"),
        (3, "2024-01-01 00:00:03", 7, "view"),
        (4, "2024-01-01 00:00:04", 7, "click"),
        (5, "2024-01-01 00:00:01", 8, "view"),
        (6, "2024-01-01 00:00:02", 8, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id", "event_type"
    )
    out = {
        (r["from_type"], r["to_type"]): (r["n_transitions"], r["prob"])
        for r in transition_matrix(df).collect()
    }
    # from view: 2x click, 1x purchase; from click: 1x view
    assert out[("view", "click")] == (2, round(2 / 3, 6))
    assert out[("view", "purchase")] == (1, round(1 / 3, 6))
    assert out[("click", "view")] == (1, 1.0)
    assert ("purchase", "view") not in out  # no cross-user transition


def test_seasonal_profile_residuals(spark):
    from iatlas_cbioportal_export_spark.streaming.events import (
        seasonal_profile_residuals,
    )

    # two days, same hour-of-day 10: values 10 and 30 -> seasonal mean 20,
    # residuals -10 and +10; a lone hour 11 has residual 0
    rows = [
        (1, "2024-01-01 10:00:00", "click", 10.0),
        (2, "2024-01-02 10:30:00", "click", 30.0),
        (3, "2024-01-01 11:00:00", "click", 7.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "event_type", "value"
    )
    out = {
        (r["window_start"], r["hour_of_day"]): (
            r["hourly_value"], r["seasonal_mean"], r["residual"]
        )
        for r in seasonal_profile_residuals(df).collect()
    }
    assert out[("2024-01-01 10:00:00", 10)] == (10.0, 20.0, -10.0)
    assert out[("2024-01-02 10:00:00", 10)] == (30.0, 20.0, 10.0)
    assert out[("2024-01-01 11:00:00", 11)] == (7.0, 7.0, 0.0)


@pytest.mark.slow
def test_time_to_convert_gaps_and_percentiles(spark):
    from iatlas_cbioportal_export_spark.streaming.events import (
        time_to_convert,
    )

    rows = [
        # user 7: view at t0, purchase 60s later (an EARLIER purchase at
        # t0-100 must not count)
        (1, "2024-01-01 00:00:00", 7, "view"),
        (2, "2023-12-31 23:58:20", 7, "purchase"),
        (3, "2024-01-01 00:01:00", 7, "purchase"),
        # user 8: view only -> not converted
        (4, "2024-01-01 00:00:00", 8, "view"),
        # user 9: view then purchase 120s later
        (5, "2024-01-01 00:00:00", 9, "view"),
        (6, "2024-01-01 00:02:00", 9, "purchase"),
        # user 10: purchase only (no view) -> excluded
        (7, "2024-01-01 00:00:00", 10, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string"
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "user_id",
        "event_type"
    )
    r = time_to_convert(df).collect()[0]
    # gaps sorted: [60, 120]; median = rank ceil(2/2)=1 -> 60; p90 = rank
    # ceil(1.8)=2 -> 120
    assert (r["n_converted"], r["median_seconds"], r["p90_seconds"]) == (
        2, 60, 120,
    )


def test_hll_registers_stream_equals_batch(spark, tmp_path):
    """The HLL register build is a plain bounded-state streaming aggregate
    (state = groups·m rows, independent of input volume): availableNow over
    a file source yields a register table identical to the batch build, so
    streaming distinct-profiling is the same tree-of-maxes as batch — no
    separate streaming operator needed."""
    from iatlas_cbioportal_export_spark.operators.sketch import (
        hll_register_table,
    )

    df = spark.range(5_000).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("k")
    )
    path = str(tmp_path / "hll_keys")
    df.write.parquet(path)
    batch = {
        (r["g"], r["bucket"]): r["mj"]
        for r in hll_register_table(
            spark.read.parquet(path), "k", ["g"], p=6
        ).collect()
    }
    stream = spark.readStream.schema("g string, k long").parquet(path)
    q = (
        hll_register_table(stream, "k", ["g"], p=6)
        .writeStream.format("memory")
        .queryName("hll_regs_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["g"], r["bucket"]): r["mj"]
        for r in spark.sql("select * from hll_regs_stream").collect()
    }
    assert got == batch and len(got) > 0


def test_resample_ffill_grid_and_fill(spark):
    from iatlas_cbioportal_export_spark.streaming.events import resample_ffill

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:10:00", 1.0),
            (1, "2024-01-01 00:50:00", 2.0),   # same hour, later ts wins
            (1, "2024-01-01 03:05:00", 9.0),
            (2, "2024-01-01 02:30:00", 5.0),
        ],
        "user_id long, ts string, value double",
    ).selectExpr("user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    rows = {
        (r["user_id"], str(r["bucket_ts"])): (r["value_ffill"], r["n_obs"])
        for r in resample_ffill(ev).collect()
    }
    # global span 00:00..03:00 -> 4 hourly buckets x 2 users
    assert len(rows) == 8
    assert rows[(1, "2024-01-01 00:00:00")] == (2.0, 2)
    assert rows[(1, "2024-01-01 01:00:00")] == (2.0, 0)  # forward filled
    assert rows[(1, "2024-01-01 02:00:00")] == (2.0, 0)
    assert rows[(1, "2024-01-01 03:00:00")] == (9.0, 1)
    # user 2: NULL until first observation
    assert rows[(2, "2024-01-01 00:00:00")] == (None, 0)
    assert rows[(2, "2024-01-01 02:00:00")] == (5.0, 1)
    assert rows[(2, "2024-01-01 03:00:00")] == (5.0, 0)


def test_sliding_distinct_users_manual(spark):
    """3 users across 3 hours; window=3h slide=1h. A user active twice in
    one window counts once; each trailing window covers its last 3 buckets."""
    from iatlas_cbioportal_export_spark.streaming.events import (
        sliding_distinct_users,
    )

    rows = [
        (1, "2024-01-01 00:10:00"),
        (1, "2024-01-01 00:50:00"),   # same (hour, user) — collapses
        (2, "2024-01-01 01:10:00"),
        (1, "2024-01-01 02:10:00"),   # user 1 again 2 hours later
        (3, "2024-01-01 02:20:00"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts string").select(
        "user_id", F.to_timestamp("ts").alias("ts")
    )
    out = {
        r["window_end_epoch"]: r["n_users"]
        for r in sliding_distinct_users(ev, 3, 1).collect()
    }
    base = 1704067200  # 2024-01-01 00:00 UTC epoch
    # window ending hour0 covers hour0 only (users {1}); hour1: {1,2};
    # hour2: {1,2,3}; hour3: {2,1,3}-hour0 → {1,2,3} minus none... buckets
    # 1..3 = {2,1,3}; hour4: buckets 2..4 = {1,3}
    assert out[base + 0 * 3600] == 1
    assert out[base + 1 * 3600] == 2
    assert out[base + 2 * 3600] == 3
    assert out[base + 3 * 3600] == 3
    assert out[base + 4 * 3600] == 2
    # trailing windows extend steps-1 past the last bucket, no further
    assert base + 5 * 3600 not in out or out[base + 5 * 3600] == 2



def test_user_feature_matrix_single_shuffle_and_values(spark):
    import datetime

    from iatlas_cbioportal_export_spark.streaming.events import (
        user_feature_matrix,
    )

    ts = lambda d, h: datetime.datetime(2024, 1, d, h)  # noqa: E731
    rows = [
        (1, ts(1, 1), 7, "view", 0.0, ""),
        (2, ts(1, 2), 7, "purchase", 10.5, ""),
        (3, ts(2, 1), 7, "purchase", 2.25, ""),
        (4, ts(2, 2), 8, "click", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    out = {r["user_id"]: r for r in user_feature_matrix(df).collect()}
    u7 = out[7]
    assert u7["n_events"] == 3 and u7["n_purchase"] == 2
    assert u7["purchase_value_sum"] == 12.75
    assert u7["first_day"] == "2024-01-01" and u7["last_day"] == "2024-01-02"
    assert u7["active_days"] == 2
    assert u7["purchase_per_view_ppm"] == 2_000_000
    assert u7["converted"] and not out[8]["converted"]
    # one fused aggregate: a single exchange on user_id in the plan
    plan = user_feature_matrix(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") <= 2  # partial+distinct-date phases
