"""Structured Streaming operators over the events table (extension).

The reference is pure batch (SURVEY.md §2.8) — this module is the streaming
extension: windowed aggregation with watermarked late-data handling, plus a
batch twin of each query so correctness is oracle-checkable (the batch twin
and the streaming run over the same files must agree; tests assert that).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def hourly_event_counts_batch(events: DataFrame) -> DataFrame:
    """Batch twin with string window key (deterministic, oracle-friendly)."""
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("value_sum"),
        )
    )


def dedup_events(events: DataFrame) -> DataFrame:
    """Streaming exact dedup — the continuous-ingestion form of the exact
    dedup tier: on a stream, ``dropDuplicatesWithinWatermark`` keeps ONE row
    per (user_id, event_type) with state bounded by a 1-hour watermark on
    ``ts`` (keys older than the watermark are evicted, so state never grows
    unboundedly — the difference from plain streaming ``dropDuplicates``,
    whose state is forever); on a batch frame the same call site is a
    plain ``dropDuplicates``. Stream/batch agnostic; the stream==batch
    key-set equality is tested.
    """
    keys = ["user_id", "event_type"]
    if events.isStreaming:
        return events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            keys
        )
    return events.dropDuplicates(keys)


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization (batch): a new session starts when the gap
    since the user's previous event exceeds ``gap_minutes``.

    Classic lag + cumulative-sum window plan — one shuffle on user_id; at
    100 TB, AQE skew-split handles hot users. (Streaming variant would use
    ``applyInPandasWithState``; batch form is the oracle-checkable core.)
    Output: one row per session: (user_id, session_id, n_events,
    session_start, session_end).
    """
    w_user = Window.partitionBy("user_id").orderBy("ts")
    gap_sec = gap_minutes * 60
    # timestamp_ntz cannot cast directly to long (Spark 4 forbids it); going
    # through "timestamp" first works for both ntz and ltz inputs (the ntz →
    # ltz cast interprets wall time in the session zone — pinned to UTC by
    # the callers' _ensure_session_confs, so this equals DuckDB's epoch()).
    epoch_sec = F.col("ts").cast("timestamp").cast("long")
    with_breaks = events.withColumn(
        "__new_session",
        F.when(
            epoch_sec - F.lag(epoch_sec).over(w_user) > gap_sec,
            1,
        )
        .otherwise(0),
    ).withColumn(
        "__session_seq",
        F.sum("__new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_breaks.groupBy("user_id", F.col("__session_seq").alias("session_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
    )


def sliding_event_counts(
    events: DataFrame, window_minutes: int = 60, slide_minutes: int = 15
) -> DataFrame:
    """SLIDING-window event counts (window > slide ⇒ each event lands in
    window/slide overlapping windows — the trend-smoothing shape fixed
    windows can't express). Works on streaming or batch input; Spark
    expands each row into its window set map-side, so the shuffle
    carries (window, key) pairs, not per-window copies of the payload.
    Output: (window_start, event_type, n_events)."""
    return (
        events.groupBy(
            F.window("ts", f"{window_minutes} minutes", f"{slide_minutes} minutes").alias(
                "__w"
            ),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("__w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
        )
    )


def enrich_events(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: attach dimension attributes to an
    event stream. Works identically on streaming and batch input — with a
    streaming left side Spark re-broadcasts the static dimension per
    micro-batch (no state, no watermark needed; this is the third join
    shape next to batch-batch and stream-stream). The dimension is
    explicitly broadcast: enrichment dims are small by definition and the
    fact/stream side must never shuffle for them."""
    sel = dim.select(F.col("c_custkey").alias("__k"), "c_mktsegment")
    return events.join(
        F.broadcast(sel), events["user_id"] == F.col("__k"), "left"
    ).drop("__k")


def segment_hourly_counts(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Hourly event counts per customer segment: stream-static enrichment →
    windowed aggregation. The composition pattern for "stream joined to
    reference data, then aggregated"."""
    enriched = enrich_events(events, dim)
    return (
        enriched.groupBy(
            F.window("ts", "1 hour").alias("__w"), F.col("c_mktsegment").alias("segment")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("__w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "segment",
            "n_events",
        )
    )


def sessionize_session_window(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap sessionization via the BUILT-IN ``session_window`` — the
    streaming-native form of :func:`sessionize`: on a streaming input (with
    a watermark) Spark maintains per-key session state and merges windows
    incrementally, which the lag/cumsum plan cannot do.

    Boundary semantics (pinned by test): an event at exactly
    ``last_event + gap`` JOINS the session — the dynamic-gap window is
    end-exclusive at ``last + gap`` but merge uses overlap-or-touch — which
    matches the batch plan's strict ``>`` break rule, so the two variants
    share one oracle modulo session numbering (this form emits window
    bounds, not a per-user sequence number).
    Output: (user_id, n_events, session_start, session_end).
    """
    win = F.session_window(F.col("ts"), f"{gap_minutes} minutes")
    return (
        events.groupBy(F.col("user_id"), win.alias("__w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
        .select("user_id", "n_events", "session_start", "session_end")
    )


def attribute_purchases(events: DataFrame) -> DataFrame:
    """Click→purchase attribution: every purchase joined to each click by
    the same user within the preceding 30 minutes.

    Stream/batch agnostic. On a streaming
    input this is a STREAM-STREAM inner join: both sides carry 1-hour
    watermarks
    and the join condition bounds event time on both ends, so Spark can
    size join state and evict rows older than the watermark — the two
    requirements for an unbounded-input join to hold bounded state. On a
    batch input the same code plans as an equi-join on user_id with the
    interval predicate as a post-join filter (no nested loop).
    """
    return _attribution_join(events, "inner")


def attribute_purchases_outer(events: DataFrame) -> DataFrame:
    """LEFT-OUTER click→purchase attribution: every click appears, with
    NULL purchase columns when no purchase followed within the window —
    the funnel-drop side the inner join cannot see.

    Streaming semantics differ fundamentally from the inner variant: an
    unmatched click can only be DECLARED unmatched once the watermark has
    passed the end of its attribution window (click_ts + window + delay) —
    Spark then evicts the click's state and emits the null-extended row.
    Until that point the click is pending, so a left-outer stream-stream
    join's output trails the watermark by design (late-emission, not loss;
    covered by the expiry test). Batch input plans as a plain left join
    with the interval residual. Both sides carry 1-hour watermarks, as in
    :func:`attribute_purchases`."""
    return _attribution_join(events, "left_outer")


def _attribution_join(events: DataFrame, how: str) -> DataFrame:
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if events.isStreaming:
        clicks = clicks.withWatermark("click_ts", "1 hour")
        purchases = purchases.withWatermark("purchase_ts", "1 hour")
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")
        ),
        how,
    )
    return joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.round(F.col("purchase_value").cast("decimal(18,2)"), 2)
        .cast("double")
        .alias("purchase_value"),
    )


def funnel_stages(events: DataFrame) -> DataFrame:
    """Ordered funnel analysis: how far does each user progress through the
    view → click → purchase sequence in event-time order? Stage s means the
    first s steps were matched in order (greedy earliest-transition
    matching, which is optimal for funnel existence). Output: (stage, n_users).

    The sequential pattern match is a single-shuffle composition — no UDF,
    no MATCH_RECOGNIZE: events are reduced map-side to (user, (k, step))
    pairs with non-step events FILTERED BEFORE the shuffle, one groupBy
    collects each user's compact pair list, and a codegen'd fold over the
    sorted list runs the state machine ``acc → acc+1 iff step == acc+1``.
    ``k = epoch_seconds·10⁹ + event_id`` is a deterministic total order
    (ties in ts break by event id) that both the engine and any SQL oracle
    can reproduce exactly. Hot users carry (8+4)-byte pairs, not payloads;
    AQE skew-split handles the rest.
    """
    step_idx = F.lit(None).cast("int")
    for i, step in reversed(list(enumerate(("view", "click", "purchase")))):
        step_idx = F.when(F.col("event_type") == step, F.lit(i + 1)).otherwise(
            step_idx
        )
    k = (
        F.col("ts").cast("timestamp").cast("long") * F.lit(1_000_000_000)
        + F.col("event_id")
    )
    pairs = (
        events.select(
            F.col("user_id").alias("u"),
            k.alias("k"),
            step_idx.alias("s"),
        )
        .filter(F.col("s").isNotNull())
    )
    folded = (
        pairs.groupBy("u")
        .agg(F.array_sort(F.collect_list(F.struct("k", "s"))).alias("__evs"))
        .select(
            F.aggregate(
                F.col("__evs"),
                F.lit(0),
                lambda acc, e: F.when(e["s"] == acc + 1, e["s"]).otherwise(acc),
            ).alias("stage")
        )
    )
    return folded.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


def time_decayed_value(
    events: DataFrame, ref_epoch_sec: int, half_life_days: float = 30.0
) -> DataFrame:
    """Recency-weighted engagement feature: per user, the sum of event
    values decayed by age — ``Σ value · 0.5^(Δdays / half_life)`` at a fixed
    reference instant. The standard feature-store aggregate for "recent
    activity matters more" signals feeding ranking/propensity models.

    ONE map-side-combined groupBy; the decay factor is a narrow per-row
    expression. Each term is quantized to decimal(28,12) BEFORE the sum so
    the aggregate is exact and independent of shuffle-merge order (the
    double-sum nondeterminism documented at ``similarity.mean_pool``).
    Ages use truncated-second epochs (the engine-portable convention of
    ``funnel_stages``). Output: (user, n_events, decayed_value)."""
    age_days = (
        F.lit(ref_epoch_sec) - F.col("ts").cast("timestamp").cast("long")
    ) / F.lit(86400.0)
    term = (
        F.col("value").cast("double")
        * F.pow(F.lit(0.5), age_days / F.lit(half_life_days))
    ).cast("decimal(28,12)")
    return (
        events.filter(F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(term), 6).cast("double").alias("decayed_value"),
        )
    )


def hourly_anomaly_zscore(events: DataFrame) -> DataFrame:
    """Volume-anomaly detection: each (hour, event_type) count scored
    against its own trailing window — z = (n − mean)/std over the previous
    24 rows. The standard ops-monitoring shape (traffic
    spike / outage detection) on top of the hourly rollup.

    Determinism: mean/std are derived from EXACT integer window sums
    (Σn, Σn² as longs — no floating accumulation across the window), so the
    double arithmetic is one fixed expression over exact inputs and any
    engine reproduces it. Plan: the rollup's single shuffle, then one
    window partitioned by event_type (tiny — one row per hour per type).
    Rows with under 12 trailing hours or zero variance are
    suppressed (cold start / constant series give no signal).
    Output: (window_start, event_type, n_events, zscore, is_anomaly)."""
    trailing_hours, min_history = 24, 12
    hourly = hourly_event_counts_batch(events).select(
        "window_start", "event_type", "n_events"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("window_start")
        .rowsBetween(-trailing_hours, -1)
    )
    n = F.col("n_events")
    s = F.sum(n).over(w)
    ss = F.sum(n * n).over(w)
    cnt = F.count(n).over(w)
    stats = hourly.select(
        "window_start",
        "event_type",
        "n_events",
        s.alias("__s"),
        ss.alias("__ss"),
        cnt.alias("__c"),
    )
    mean = F.col("__s") / F.col("__c")
    var = (F.col("__ss") - F.col("__s") * F.col("__s") / F.col("__c")) / (
        F.col("__c") - 1
    )
    z = (F.col("n_events") - mean) / F.sqrt(var)
    return (
        stats.filter((F.col("__c") >= min_history) & (var > 0))
        .select(
            "window_start",
            "event_type",
            "n_events",
            F.round(z, 6).alias("zscore"),
            (F.abs(z) > F.lit(3.0)).alias("is_anomaly"),
        )
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity day,
    counted on each subsequent day they return — the standard product
    analytics rollup (cohort × day-offset triangle).

    Plan: activity is first reduced to DISTINCT (user, day) pairs (map-side
    combine; the shuffle carries at most one pair per user-day, not raw
    events), cohorts come from a groupBy(user) min — co-partitioned with
    the activity join that follows (both sides hash on user, AQE reuses the
    exchange) — and the final (cohort, offset) rollup needs plain count(*)
    because (user, day) is already unique upstream: no expensive
    count-distinct state in the last aggregate.

    Output: (cohort_day: string yyyy-MM-dd, offset_days, n_users).
    """
    activity = events.select(
        F.col("user_id").alias("u"), F.to_date("ts").alias("d")
    ).distinct()
    first = activity.groupBy("u").agg(F.min("d").alias("cohort"))
    return (
        activity.join(first, on="u")
        .groupBy(
            F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "cohort").alias("offset_days"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def activity_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: each user's runs of CONSECUTIVE active days
    (streaks) — the engagement metric behind "7-day streak" features, and
    the canonical islands idiom: group consecutive integers by
    ``day − row_number()`` (constant within a run, shifts at every gap).

    Plan: activity reduces to DISTINCT (user, day) pairs first (map-side
    combined), ONE window per user orders the days, and the run groupBy
    reuses the same user-hash partitioning — nothing larger than
    (user, day) ever shuffles.

    Output: (user, streak_start yyyy-MM-dd, streak_days) — one row per run.
    """
    from pyspark.sql import Window

    days = events.select(
        F.col("user_id").alias("u"),
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
    ).distinct()
    w = Window.partitionBy("u").orderBy("day")
    runs = days.withColumn(
        "grp", F.col("day") - F.row_number().over(w)
    )
    return (
        runs.groupBy("u", "grp")
        .agg(
            F.min("day").alias("__start"),
            F.count(F.lit(1)).alias("streak_days"),
        )
        .select(
            F.col("u").alias("user_id"),
            F.date_format(
                F.date_add(F.lit("1970-01-01"), F.col("__start")),
                "yyyy-MM-dd",
            ).alias("streak_start"),
            "streak_days",
        )
    )


def exp_smoothing(events: DataFrame, alpha: float = 0.3) -> DataFrame:
    """Single exponential smoothing over each key's HOURLY value series —
    the first-line forecasting/denoising primitive (sₜ = α·vₜ + (1−α)·sₜ₋₁,
    seeded with v₀): the smoothed last level IS the one-step-ahead
    forecast.

    A recursion over time looks sequential, but per KEY it is one fold:
    hourly buckets aggregate exactly (decimal sums — the only corpus-sized
    shuffle), each key's series collects into ONE ordered array (bounded
    by the time-bucket count, not event count), and the recursion runs as
    a sequential array fold — deterministic order, so the double result is
    engine-replayable (DuckDB's list_reduce seeds from the first element;
    the fold here does the same via slice+seed).

    Output: (key, n_hours, last_value, smoothed) — smoothed to 6dp.
    """
    hourly = events.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v")
    )
    series = hourly.groupBy("k").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("h"), F.col("v")))
        ).alias("sv")
    )
    vals = F.transform("sv", lambda s: s["v"].cast("double"))
    a = F.lit(float(alpha))
    smoothed = F.aggregate(
        F.slice(vals, 2, F.size(vals) - 1),
        F.element_at(vals, 1),
        lambda acc, x: a * x + (F.lit(1.0) - a) * acc,
    )
    return series.select(
        F.col("k").alias("event_type"),
        F.size("sv").alias("n_hours"),
        F.round(F.element_at(vals, -1), 6).alias("last_value"),
        F.round(smoothed, 6).alias("smoothed"),
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition matrix over each user's event stream:
    counts and row-normalized probabilities of event-type bigrams — the
    behavioral model behind next-action prediction and anomaly scoring.

    The deterministic order key is truncated-second epoch·1e9 + event id
    (the funnel's total order, tie-safe and engine-replayable); transitions
    come from ONE lag window per user, the matrix from one (from, to)
    count aggregate (state bounded by |types|², not events), and
    probabilities divide by broadcast row totals — exact integers until
    the final division.

    Output: (from_type, to_type, n_transitions, prob).
    """
    k = (
        F.col("ts").cast("timestamp").cast("long") * F.lit(1_000_000_000)
        + F.col("event_id")
    )
    w = Window.partitionBy("user_id").orderBy("k")
    steps = (
        events.select(
            F.col("user_id"), k.alias("k"), F.col("event_type").alias("t")
        )
        .withColumn("prev", F.lag("t").over(w))
        .filter(F.col("prev").isNotNull())
    )
    counts = steps.groupBy(
        F.col("prev").alias("from_type"), F.col("t").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    totals = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("row_total")
    )
    return (
        counts.join(F.broadcast(totals), on="from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(
                F.col("n_transitions") / F.col("row_total").cast("double"), 6
            ).alias("prob"),
        )
    )


def seasonal_profile_residuals(events: DataFrame) -> DataFrame:
    """Seasonal-mean decomposition of each key's hourly series: the
    hour-of-day profile (the "seasonal" component a daily-cycle metric
    repeats) and each bucket's residual against it — the de-seasonalized
    signal anomaly detectors should consume instead of the raw series
    (cf. hourly_anomaly_zscore, which this complements).

    Exactness: hourly sums AND the per-(key, hour-of-day) seasonal means
    are decimal-exact (sum/count division deferred to ONE double division
    per row, identical in both engines); residual = hourly value − seasonal
    mean, rounded 6dp. Two aggregates + one broadcast-size join keyed on
    (key, hour_of_day) — 24·|keys| seasonal rows.

    Output: (key, window_start, hour_of_day, hourly_value, seasonal_mean,
    residual).
    """
    hourly = events.groupBy(
        F.col("event_type").alias("k"),
        F.date_trunc("hour", "ts").alias("h"),
    ).agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    hourly = hourly.withColumn("hod", F.hour("h"))
    seasonal = hourly.groupBy("k", "hod").agg(
        F.sum("v").alias("sv"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        hourly.join(F.broadcast(seasonal), on=["k", "hod"])
        .select(
            F.col("k").alias("event_type"),
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.col("hod").alias("hour_of_day"),
            F.col("v").cast("double").alias("hourly_value"),
            F.round(
                F.col("sv").cast("double") / F.col("cnt"), 6
            ).alias("seasonal_mean"),
            F.round(
                F.col("v").cast("double")
                - F.col("sv").cast("double") / F.col("cnt"),
                6,
            ).alias("residual"),
        )
    )


def time_to_convert(events: DataFrame) -> DataFrame:
    """Conversion-latency profile: per user, the gap between the FIRST
    ``view`` event and the first ``purchase`` AFTER it; exact
    discrete median and p90 of those gaps — the "how long does conversion
    take" readout next to the funnel's "how many convert".

    All integers: epoch-second truncation (both engines floor), one
    conditional-min aggregate per user, then exact discrete percentiles by
    CUMULATIVE-COUNT threshold over the distinct-gap grid: the k-th order
    statistic of the gap multiset is the smallest gap whose cumulative
    count reaches k, so the r9 global ``row_number()`` rank (an
    unpartitioned window — one task for the whole gap table, which grows
    with the converted-user count) is replaced by per-gap counts + ONE
    bucketed two-phase running sum (:func:`~iatlas_cbioportal_export_spark.
    operators.aggregates.global_running_sums`) + two TakeOrdered(1) picks.
    Values are identical: rank ties on equal gaps are interchangeable for
    the picked VALUE. Output: one row (n_converted, median_seconds,
    p90_seconds).
    """
    import math

    sec = F.col("ts").cast("timestamp").cast("long")
    per_user = (
        events.filter(F.col("event_type").isin(["view", "purchase"]))
        .select(
            F.col("user_id").alias("u"), F.col("event_type").alias("t"), sec.alias("s")
        )
        .groupBy("u")
        .agg(
            F.min(F.when(F.col("t") == "view", F.col("s"))).alias("fv")
        )
    )
    # first second_step AFTER the first first_step needs the fv bound:
    # one more conditional-min join pass keyed on user
    seconds = (
        events.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("u"), sec.alias("s"))
        .join(per_user.filter(F.col("fv").isNotNull()), on="u")
        .filter(F.col("s") >= F.col("fv"))
        .groupBy("u", "fv")
        .agg(F.min("s").alias("fp"))
        .select("u", (F.col("fp") - F.col("fv")).alias("gap"))
    )
    from iatlas_cbioportal_export_spark.operators.aggregates import (
        global_running_sums,
    )

    gcounts = seconds.groupBy("gap").agg(
        F.count(F.lit(1)).alias("__c")
    ).persist()
    mm = gcounts.agg(
        F.min("gap").alias("lo"), F.max("gap").alias("hi")
    ).collect()[0]
    spark = events.sparkSession
    if mm["lo"] is None:
        # no conversions: aggregate-over-empty shape (one row of NULLs),
        # matching the r9 version's agg over an empty ranked frame
        return spark.createDataFrame(
            [(None, None, None)],
            "n_converted long, median_seconds long, p90_seconds long",
        )
    width = max(1, (int(mm["hi"]) - int(mm["lo"])) // 2048 + 1)
    run, tot = global_running_sums(gcounts, "gap", ["__c"], width)
    # the helper's persisted frame supersedes gcounts' cache
    gcounts.unpersist()
    n = tot["__c"]
    k_med = math.ceil(n / 2)
    k_p90 = math.ceil(0.9 * n)
    med = (
        run.filter(F.col("running___c") >= k_med)
        .orderBy("gap")
        .limit(1)
        .select(F.col("gap").alias("median_seconds"))
    )
    p90 = (
        run.filter(F.col("running___c") >= k_p90)
        .orderBy("gap")
        .limit(1)
        .select(F.col("gap").alias("p90_seconds"))
    )
    # two one-row picks broadcast-crossed with the literal count — the
    # registry's standard scalar-assembly shape
    return (
        med.crossJoin(F.broadcast(p90))
        .select(
            F.lit(n).cast("long").alias("n_converted"),
            "median_seconds",
            "p90_seconds",
        )
    )


def resample_ffill(events: DataFrame) -> DataFrame:
    """Regular-grid resampling with forward fill — the panel-building step
    of a time-series feature pipeline: per key, one row per hour of the
    GLOBAL event span carrying the last observed value at-or-before that
    hour (``value_ffill`` stays NULL until the key's first observation;
    ``n_obs`` counts the hour's own events).

    Deterministic pick inside a bucket: the per-bucket observation is
    ``max(struct(ts, value))`` — last by timestamp, value-tiebroken, so
    replays and engines agree even on ts collisions.

    Scale shape: per-(key, hour) observations come from ONE map-side
    combined groupBy of the raw events (the only corpus-sized shuffle).
    The grid is |keys| × |hours| rows, generated narrowly from a 1-row
    broadcast span via ``sequence``+``explode`` — never a shuffle. The
    fill is one window per key ordered by hour over grid-sized (not
    event-sized) data. At 100 TB: events shuffle once; everything after is
    proportional to the PANEL, which is what the consumer reads anyway.
    """
    key, ts = F.col("user_id"), F.col("ts")
    obs = (
        events.groupBy(
            key.alias("key"), F.date_trunc("hour", ts).alias("bucket_ts")
        )
        .agg(
            F.max(F.struct(ts.alias("t"), F.col("value").alias("v")))
            .alias("__last"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select("key", "bucket_ts", F.col("__last.v").alias("__v"), "n_obs")
    )
    span = events.agg(
        F.date_trunc("hour", F.min(ts)).alias("__lo"),
        F.date_trunc("hour", F.max(ts)).alias("__hi"),
    )
    grid = (
        events.select(key.alias("key"))
        .distinct()
        .crossJoin(F.broadcast(span))
        .select(
            "key",
            F.explode(
                F.expr("sequence(__lo, __hi, interval 1 hour)")
            ).alias("bucket_ts"),
        )
    )
    w = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, on=["key", "bucket_ts"], how="left")
        .select(
            F.col("key").alias("user_id"),
            "bucket_ts",
            F.last("__v", ignorenulls=True).over(w).alias("value_ffill"),
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        )
    )


def sliding_distinct_users(
    events: DataFrame,
    window_hours: int = 6,
    slide_hours: int = 1,
) -> DataFrame:
    """EXACT distinct-user counts over sliding hour windows (the rolling
    MAU/DAU shape). COUNT(DISTINCT) does not decompose over overlapping
    windows — :func:`sliding_event_counts`'s plain counts can sum window
    slices, distincts cannot — so the scalable exact form is:

    1. collapse to distinct (hour-bucket, user) pairs FIRST — one
       combiner-reduced aggregate shrinks the corpus to activity pairs
       (bounded by users x hours, not by events);
    2. fan each pair out to the ``window_hours / slide_hours`` windows it
       belongs to (map-side explode of a tiny literal range — the same
       expansion Spark's ``window()`` does internally);
    3. distinct again on (window, user) — a user active in several hours
       of one window must count once — then count per window.

    Shuffles carry only (bucket, user) / (window, user) id pairs. The
    approximate alternative at extreme cardinality is per-hour HLL
    registers OR-merged across the window (``sketch.hll_fold_registers``);
    this operator is the exact path. Output: (window_end_epoch, n_users) —
    the label is the epoch second of the window's LAST slide boundary
    (windows are trailing: bucket range [end−window+slide, end]); an
    integer label sidesteps engine-dependent timestamptz rendering.
    """
    steps = window_hours // slide_hours
    pairs = events.select(
        (F.floor(F.unix_timestamp("ts") / (3600 * slide_hours))).alias(
            "__b"
        ),
        F.col("user_id"),
    ).distinct()
    fanned = pairs.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(steps)])
        ).alias("__i"),
        (F.col("__b")).alias("__b"),
        "user_id",
    ).select((F.col("__b") + F.col("__i")).alias("__w"), "user_id")
    return (
        fanned.groupBy("__w")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            (F.col("__w") * 3600 * slide_hours)
            .cast("long")
            .alias("window_end_epoch"),
            "n_users",
        )
    )


def user_feature_matrix(events: DataFrame) -> DataFrame:
    """Per-user training-feature matrix in ONE fused aggregate — the
    feature-store materialization shape: every feature is a conditional
    aggregate over the same groupBy(user), so the whole matrix costs one
    map-side-combined shuffle however many features ride it (adding a
    feature adds a column, not a pass).

    Exactness choices: monetary sums ride the DECIMAL(28,12) lane
    (shuffled double sums merge in nondeterministic order); the
    purchases-per-view rate is an integer parts-per-million `div` (no
    float divide to round differently); day boundaries are DATE-typed
    (tz-free under any session timezone).

    Output: (user_id, n_events, per-type counts, purchase_value_sum,
    first_day, last_day, active_days, purchase_per_view_ppm, converted).
    """
    t = F.col("event_type")

    def n_of(kind: str):
        return F.sum(F.when(t == kind, 1).otherwise(0)).alias(f"n_{kind}")

    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            n_of("click"),
            n_of("view"),
            n_of("purchase"),
            n_of("signup"),
            n_of("error"),
            F.round(
                F.sum(
                    F.when(
                        t == "purchase",
                        F.col("value").cast("decimal(28,12)"),
                    ).otherwise(F.lit(0).cast("decimal(28,12)"))
                ),
                6,
            )
            .cast("double")
            .alias("purchase_value_sum"),
            F.min(F.col("ts").cast("date")).cast("string").alias("first_day"),
            F.max(F.col("ts").cast("date")).cast("string").alias("last_day"),
            F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
        )
        .withColumn(
            "purchase_per_view_ppm",
            F.expr("n_purchase * 1000000 div greatest(n_view, 1)"),
        )
        .withColumn("converted", F.col("n_purchase") > 0)
    )
