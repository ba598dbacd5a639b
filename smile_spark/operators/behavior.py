"""Behavioral / event-sequence analytics (north-star extension; the
reference has no window or sequence surface at all — SURVEY.md §2.2).

The four canonical event-log shapes every large-scale pipeline needs:

* ``sessionize`` — gap-based sessionization (30-min inactivity gap):
  lag → new-session flag → running sum → session aggregate.  The
  foundational "turn a log into visits" operator.
* ``funnel_conversion`` — ordered-stage funnel (view → click →
  purchase) with strictly-increasing timestamps per user.
* ``retention_cohorts`` — first-seen cohort × day-offset activity
  matrix, the standard retention triangle.
* ``gap_fill_daily`` — per-user daily counts with missing days
  zero-filled from a generated calendar spine (the time-series
  densification that precedes any rolling metric).

All JVM-codegen expressions (zero Python UDFs); timestamp arithmetic
is exact integer µs on both engines; every aggregate goes through the
deterministic decimal helpers so value hashes match bit-for-bit.

Scale notes: each operator shuffles ONCE on ``user_id`` (sessionize /
funnel / retention / gap-fill are all per-user computations, so the
same partitioning serves every stage); per-user windows are bounded by
per-user event counts, never corpus size; the calendar spine explode
is sized by span-days × users, and grows linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from smile_spark.functions.numeric import dsum, sql_dsum
from smile_spark.tables import table

SESSION_GAP_US = 1_800_000_000  # 30 minutes, exact µs


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events fixture: a new session
    starts when a user's inter-event gap exceeds 30 minutes."""
    return sessionize_frame(table(spark, sf_dir, "events"))


def session_events_frame(
    events: DataFrame, gap_us: int = SESSION_GAP_US
) -> DataFrame:
    """Per-EVENT session assignment over any (user_id, event_id, ts,
    ...) frame: lag → new-session flag → running count within one
    per-user ordered window (single shuffle on user_id).  Ordering is
    (ts, event_id) so ties are deterministic on both engines.  The
    per-event grain is shared by the session aggregate
    (:func:`sessionize_frame`) and the path miner
    (:func:`session_path_topk`)."""
    ev = events.withColumn("us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    flagged = ev.withColumn(
        "new_s",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return flagged.withColumn(
        "session_seq",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint"),
    )


def sessionize_frame(
    events: DataFrame, gap_us: int = SESSION_GAP_US
) -> DataFrame:
    """Core gap-based sessionization over any (user_id, event_id, ts,
    value) frame — the session-grain aggregate over
    :func:`session_events_frame` (which holds the single user_id
    shuffle; the aggregate reuses that partitioning)."""
    sess = session_events_frame(
        events.select("user_id", "event_id", "value", "ts"), gap_us
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", "sum_value"),
    )


SESSIONIZE_SQL = (
    "WITH e AS (SELECT user_id, event_id, value, ts,"
    "  epoch_us(ts) AS us FROM events),"
    " f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL"
    f"   OR us - lag(us) OVER w > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s"
    "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),"
    " s AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id"
    "   ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)"
    "   AS session_seq FROM f)"
    " SELECT user_id, session_seq, MIN(ts) AS session_start,"
    " MAX(ts) AS session_end, COUNT(*) AS n_events,"
    f" {sql_dsum('value', 'sum_value')}"
    " FROM s GROUP BY user_id, session_seq"
)


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel: first *view*, then the first *click*
    strictly after it, then the first *purchase* strictly after that
    click; one summary row of per-stage user counts.

    Each stage is a per-user min-aggregate followed by an equi-join on
    ``user_id`` — the stage joins all reuse one hash partitioning, and
    every aggregate is partial/final, so the whole funnel is ~one
    logical shuffle of the event set at any scale."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("v_ts").alias("n_view"),
            F.count("c_ts").alias("n_click_after_view"),
            F.count("p_ts").alias("n_purchase_after_click"),
        )
    )


FUNNEL_CONVERSION_SQL = (
    "WITH v AS (SELECT user_id, MIN(ts) AS v_ts FROM events"
    "  WHERE event_type = 'view' GROUP BY user_id),"
    " c AS (SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e"
    "  JOIN v ON v.user_id = e.user_id"
    "  WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),"
    " p AS (SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e"
    "  JOIN c ON c.user_id = e.user_id"
    "  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts"
    "  GROUP BY e.user_id)"
    " SELECT COUNT(v.v_ts) AS n_view,"
    " COUNT(c.c_ts) AS n_click_after_view,"
    " COUNT(p.p_ts) AS n_purchase_after_click"
    " FROM v LEFT JOIN c ON c.user_id = v.user_id"
    " LEFT JOIN p ON p.user_id = v.user_id"
)


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention triangle: users cohorted by the DAY of their first
    event; each (cohort_day, day_offset) cell counts distinct cohort
    members active that many days later.

    first-event lookup and the activity join share the ``user_id``
    partitioning; day arithmetic is exact integer µs → days, so both
    engines bucket identically."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    return (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            (
                (F.unix_micros("d") - F.unix_micros("cohort_day"))
                / 86_400_000_000
            )
            .cast("bigint")
            .alias("day_offset"),
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


RETENTION_COHORTS_SQL = (
    "WITH e AS (SELECT user_id, date_trunc('day', ts) AS d FROM events),"
    " f AS (SELECT user_id, MIN(d) AS cohort_day FROM e GROUP BY user_id)"
    " SELECT f.cohort_day,"
    " CAST((epoch_us(e.d) - epoch_us(f.cohort_day)) // 86400000000"
    "  AS BIGINT) AS day_offset,"
    " COUNT(DISTINCT e.user_id) AS n_users"
    " FROM e JOIN f ON f.user_id = e.user_id"
    " GROUP BY 1, 2"
)


def gap_fill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily event counts with missing days ZERO-FILLED over
    each user's own [first_day, last_day] span.

    The calendar spine is generated per user with ``sequence`` +
    ``explode`` (linear in span-days × users) and left-joins the real
    daily aggregate — all three stages keyed on ``user_id``, one
    partitioning end-to-end.  This densification is the precondition
    for any rolling/window metric over time."""
    daily = (
        table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("d"))
        .groupBy("user_id", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return gap_fill_frame(daily)


def gap_fill_frame(daily: DataFrame) -> DataFrame:
    """Core spine-fill over any (user_id, d, cnt) daily aggregate."""
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "user_id",
            F.explode(
                F.expr("sequence(d0, d1, interval 1 day)")
            ).alias("d"),
        )
    )
    return spine.join(daily, ["user_id", "d"], "left").select(
        "user_id",
        F.col("d").alias("day"),
        F.coalesce("cnt", F.lit(0)).cast("bigint").alias("cnt"),
    )


GAP_FILL_DAILY_SQL = (
    "WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,"
    "  COUNT(*) AS cnt FROM events GROUP BY 1, 2),"
    " span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily"
    "  GROUP BY user_id),"
    " spine AS (SELECT user_id, unnest(generate_series(d0, d1,"
    "  INTERVAL 1 DAY)) AS d FROM span)"
    " SELECT s.user_id, s.d AS day,"
    " CAST(COALESCE(daily.cnt, 0) AS BIGINT) AS cnt"
    " FROM spine s LEFT JOIN daily"
    "  ON daily.user_id = s.user_id AND daily.d = s.d"
)


ROLL_DAYS = 7


def rolling_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling event counts per user over the DENSE gap-filled
    spine — the composition that motivates gap_fill_daily: a ROWS
    frame over a dense daily series IS a time-range frame, but stays a
    cheap fixed-width window (no per-row range scan).

    The rolling average divides two window INTEGERS (sum, count), so
    the double result is deterministic on both engines.  Inherits
    gap_fill's single user_id partitioning; the window adds no
    exchange."""
    g = gap_fill_daily(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-(ROLL_DAYS - 1), 0)
    )
    return g.select(
        "user_id",
        "day",
        "cnt",
        F.sum("cnt").over(w).cast("bigint").alias("roll7_cnt"),
        F.round(
            F.sum("cnt").over(w) / F.count(F.lit(1)).over(w), 6
        ).alias("roll7_avg"),
    )


ROLLING_DAILY_ACTIVITY_SQL = (
    f"WITH filled AS ({GAP_FILL_DAILY_SQL})"
    " SELECT user_id, day, cnt,"
    " CAST(SUM(cnt) OVER w AS BIGINT) AS roll7_cnt,"
    " ROUND(CAST(SUM(cnt) OVER w AS DOUBLE) / COUNT(*) OVER w, 6)"
    "  AS roll7_avg"
    " FROM filled"
    " WINDOW w AS (PARTITION BY user_id ORDER BY day"
    f"  ROWS BETWEEN {ROLL_DAYS - 1} PRECEDING AND CURRENT ROW)"
)


def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over each user's event
    sequence: how often event_type A is immediately followed by B.
    lag over the per-user (ts, event_id) order — the same single
    user_id shuffle as sessionize — then one partial/final count on
    the (from, to) pair; the matrix is #types² rows at any scale.
    Transition probability = pair count / row-marginal, a quotient of
    exact integers."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wm = Window.partitionBy("from_type")
    return pairs.select(
        "from_type",
        "to_type",
        "cnt",
        F.round(F.col("cnt") / F.sum("cnt").over(wm), 6).alias("p"),
    )


EVENT_TRANSITION_MATRIX_SQL = (
    "WITH e AS (SELECT user_id, event_id, event_type,"
    "  epoch_us(ts) AS us FROM events),"
    " s AS (SELECT event_type, lead(event_type) OVER"
    "  (PARTITION BY user_id ORDER BY us, event_id) AS next_type FROM e),"
    " pairs AS (SELECT event_type AS from_type, next_type AS to_type,"
    "  COUNT(*) AS cnt FROM s WHERE next_type IS NOT NULL GROUP BY 1, 2)"
    " SELECT from_type, to_type, cnt,"
    " ROUND(CAST(cnt AS DOUBLE) / SUM(cnt) OVER"
    "  (PARTITION BY from_type), 6) AS p"
    " FROM pairs"
)


def seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity profile: event counts and
    exact-decimal value sums per (dow, hour) cell — the seasonal
    fingerprint behind load forecasting and anomaly baselines.  Pure
    partial/final aggregate on calendar parts (168 cells at any
    scale); extraction arithmetic is identical on both engines."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.select(
            F.dayofweek("ts").cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hour"),
            "value",
        )
        .groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_value"))
    )


SEASONALITY_PROFILE_SQL = (
    # DuckDB dayofweek is 0=Sunday; Spark's is 1=Sunday — shift to match
    "SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,"
    " CAST(hour(ts) AS BIGINT) AS hour,"
    " COUNT(*) AS cnt,"
    " CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value"
    " FROM events GROUP BY 1, 2"
)


# ---------------------------------------------------------------------------
# Truncated-EWMA spike detection
# ---------------------------------------------------------------------------

EWMA_W = 8  # history window (lags); weights 0.5^1 .. 0.5^W
EWMA_SPIKE_MULT = 2.0  # flag value > MULT * ewma of its history


def ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    with spike flags — the streaming-monitoring anomaly primitive
    (is this event far above this user's recent level?), in batch
    form.

    The EWMA is TRUNCATED at EWMA_W lags: s_t = Σ_{k=1..W} 0.5^k ·
    x_{t-k}.  Truncation is what makes the operator both scale-safe
    (a bounded rows-frame window, state never grows with history
    length) and cross-engine deterministic: each term x·0.5^d is the
    identical double product on both engines (0.5^d is exact in
    binary), quantized to DECIMAL(24,12) so the per-row SUM is
    order-independent.  Rows with no history (rn = 1) are omitted —
    there is nothing to compare against.

    Plan: ONE shuffle by user_id, one sort per partition, then a
    bounded collect_list frame folded JVM-side (higher-order
    aggregate, no Python, no self-join).  The oracle computes the
    same terms via a banded self-join — different plan, identical
    quantized terms, identical sums.  At 100 TB this is the
    hot-path shape for per-entity monitoring: window state is W
    values per user regardless of corpus size."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hist_w = w.rowsBetween(-EWMA_W, -1)
    seq = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(w).alias("rn"),
        F.collect_list("value").over(hist_w).alias("hist"),
    ).filter(F.size("hist") >= 1)
    # hist is frame-ordered (oldest first); element i (0-based) sits
    # size-i lags before the current row
    term_sum = F.expr(
        "aggregate(transform(hist, (x, i) ->"
        " cast(round(x * power(0.5D, size(hist) - i), 12)"
        "  as decimal(24,12))),"
        " cast(0 as decimal(24,12)),"
        " (acc, t) -> cast(acc + t as decimal(24,12)))"
    )
    # round in DECIMAL space (exact half-up on both engines), THEN cast:
    # rounding after the double cast loses the half-case (65.8096875
    # has no exact double and rounds down on one engine)
    out = seq.withColumn("ewma_prev", F.round(term_sum, 6).cast("double"))
    return out.select(
        "user_id",
        "event_id",
        F.col("rn").cast("bigint").alias("rn"),
        "value",
        "ewma_prev",
        (F.col("value") > EWMA_SPIKE_MULT * F.col("ewma_prev")).alias(
            "is_spike"
        ),
    )


EWMA_ANOMALY_SQL = (
    "WITH seq AS (SELECT user_id, event_id, value,"
    "  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)"
    "   AS rn FROM events),"
    " terms AS (SELECT c.user_id, c.event_id, c.rn, c.value,"
    "  CAST(ROUND(p.value * POWER(0.5, c.rn - p.rn), 12)"
    "   AS DECIMAL(24,12)) AS term"
    "  FROM seq c JOIN seq p ON p.user_id = c.user_id"
    f"  AND p.rn BETWEEN c.rn - {EWMA_W} AND c.rn - 1),"
    " agg AS (SELECT user_id, event_id, rn, value,"
    "  CAST(ROUND(SUM(term), 6) AS DOUBLE) AS ewma_prev"
    "  FROM terms GROUP BY 1, 2, 3, 4)"
    " SELECT user_id, event_id, CAST(rn AS BIGINT) AS rn, value,"
    f" ewma_prev, value > {EWMA_SPIKE_MULT} * ewma_prev AS is_spike"
    " FROM agg"
)


# ---------------------------------------------------------------------------
# Consecutive-pattern matching (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

PATTERN = ("view", "click", "purchase")


def pattern_match_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user count of STRICTLY CONSECUTIVE view→click→purchase
    event runs — the MATCH_RECOGNIZE / CEP primitive.  Differs from
    funnel_conversion, which asks "did each stage EVER happen in
    order"; here the three events must be adjacent in the user's
    stream, the pattern a clickstream analyst means by "impulse
    conversion".

    Plan: ONE exchange on user_id, one per-partition sort, two LEAD
    frames, conditional count — the sessionize shape; per-user cost ∝
    that user's events.  Longer patterns add LEAD columns, not
    passes; at 100 TB this is the window-reuse argument (all frames
    share the single (user_id, ts) sort).  Emits users with ≥1 match:
    (user_id, n_matches)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt1 = F.lead("event_type", 1).over(w)
    nxt2 = F.lead("event_type", 2).over(w)
    hit = (
        (F.col("event_type") == PATTERN[0])
        & (nxt1 == PATTERN[1])
        & (nxt2 == PATTERN[2])
    )
    return (
        ev.select("user_id", hit.cast("bigint").alias("hit"))
        .groupBy("user_id")
        .agg(F.sum("hit").alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


PATTERN_MATCH_EVENTS_SQL = (
    "WITH seq AS (SELECT user_id, event_type,"
    "  LEAD(event_type, 1) OVER w AS nxt1,"
    "  LEAD(event_type, 2) OVER w AS nxt2"
    "  FROM events"
    "  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))"
    " SELECT user_id, CAST(SUM(CASE WHEN event_type = 'view'"
    "  AND nxt1 = 'click' AND nxt2 = 'purchase'"
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_matches"
    " FROM seq GROUP BY user_id"
    " HAVING SUM(CASE WHEN event_type = 'view' AND nxt1 = 'click'"
    "  AND nxt2 = 'purchase' THEN 1 ELSE 0 END) > 0"
)


# ---------------------------------------------------------------------------
# Funnel conversion-latency distribution
# ---------------------------------------------------------------------------

FUNNEL_LATENCY_QS = (0.5, 0.9, 0.99)


def funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the view→purchase funnel: per
    converting user, the latency from first view to first purchase
    strictly after it, summarized as exact p50/p90/p99 plus the
    converter count — the "HOW LONG does conversion take" follow-up
    to funnel_conversion's "how many".

    Latencies are exact integer microseconds (engine-portable), so
    the interpolated percentiles divide exact integers — identical
    doubles on both engines (the percentiles discipline), rounded to
    6 at the seconds scale.  Plan: two per-user min-aggregates joined
    on user_id (the funnel shape), one tiny percentile aggregate over
    #converters rows.  At 100 TB the percentile input is converter-
    count-sized — already reduced — so the exact path holds far
    longer than value-percentiles over raw facts."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us")
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("v_us"))
    )
    # v_us is constant per user after the join, so the purchase
    # aggregate carries it through (min of a constant) — no second
    # join back onto v
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("us") > F.col("v_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("p_us"), F.min("v_us").alias("v_us"))
    )
    lat = p.select(
        ((F.col("p_us") - F.col("v_us")) / 1_000_000.0).alias("lat_s")
    )
    qlist = ", ".join(f"{q}D" for q in FUNNEL_LATENCY_QS)
    return lat.agg(
        F.count(F.lit(1)).alias("n_converters"),
        *[
            F.round(
                F.expr(f"percentile(lat_s, {q}D)"), 6
            ).alias(f"p{int(q * 100)}_s")
            for q in FUNNEL_LATENCY_QS
        ],
    )


FUNNEL_LATENCY_SQL = (
    "WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us"
    "  FROM events),"
    " v AS (SELECT user_id, MIN(us) AS v_us FROM e"
    "  WHERE event_type = 'view' GROUP BY user_id),"
    " p AS (SELECT e.user_id, MIN(e.us) AS p_us FROM e"
    "  JOIN v ON v.user_id = e.user_id"
    "  WHERE e.event_type = 'purchase' AND e.us > v.v_us"
    "  GROUP BY e.user_id),"
    " lat AS (SELECT (p.p_us - v.v_us) / 1000000.0 AS lat_s"
    "  FROM p JOIN v ON v.user_id = p.user_id)"
    " SELECT COUNT(*) AS n_converters,"
    + ", ".join(
        f"ROUND(quantile_cont(lat_s, {q}), 6) AS p{int(q * 100)}_s"
        for q in FUNNEL_LATENCY_QS
    )
    + " FROM lat"
)


# ---------------------------------------------------------------------------
# Session path mining (top user journeys)
# ---------------------------------------------------------------------------

SESSION_PATH_K = 20


def session_path_topk(
    spark: SparkSession, sf_dir: str, k: int = SESSION_PATH_K
) -> DataFrame:
    """The K most common session journeys: each gap-based session's
    ordered event-type sequence collapsed to a path string
    (``view>click>purchase``), counted across all sessions — the
    clickstream product question ("what do users actually do?") that
    turns raw events into journey frequencies.

    Plan: ONE shuffle on user_id (the shared sessionize window), a
    per-session ordered path fold (collect_list of (ts, event_id,
    type) structs, array_sort, JVM transform+join — deterministic
    order, no Python), then a path-keyed count with map-side combine
    and a global ``row_number`` filtered to ``rn <= k``.  Not
    ``orderBy().limit(k)``: its TakeOrderedAndProject sizes a bounded
    priority queue from ``k``, so a huge ``k`` ("all paths") exhausts
    the heap.  At 100 TB: path
    cardinality, not session count, bounds the final aggregate (the
    journey distribution is Zipfian — exactly the heavy hitters the
    partial agg combines best); pathological mega-sessions are
    already length-bounded by the session gap.

    Emits (path, n_sessions, rn), ties broken by path string.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    sess = session_events_frame(ev)
    paths = sess.groupBy("user_id", "session_seq").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            " struct(us, event_id, event_type))), s -> s.event_type),"
            " '>')"
        ).alias("path")
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )
    w = Window.orderBy(F.desc("n_sessions"), F.asc("path"))
    return (
        counts.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select("path", "n_sessions", "rn")
    )


SESSION_PATH_TOPK_SQL = (
    "WITH e AS (SELECT user_id, event_id, event_type, ts,"
    "  epoch_us(ts) AS us FROM events),"
    " f AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL"
    f"   OR us - lag(us) OVER w > {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s"
    "  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),"
    " s AS (SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id"
    "   ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)"
    "   AS session_seq FROM f),"
    " paths AS (SELECT user_id, session_seq,"
    "  string_agg(event_type, '>' ORDER BY us, event_id) AS path"
    "  FROM s GROUP BY user_id, session_seq),"
    " counts AS (SELECT path, COUNT(*) AS n_sessions FROM paths"
    "  GROUP BY path)"
    " SELECT path, n_sessions, rn FROM ("
    "  SELECT path, n_sessions, ROW_NUMBER() OVER"
    "   (ORDER BY n_sessions DESC, path ASC) AS rn FROM counts)"
    f" WHERE rn <= {SESSION_PATH_K}"
)


def gap_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily VALUE series with missing days LINEARLY
    INTERPOLATED between the surrounding observed days (and clamped to
    the nearest observation at the span edges) — the time-series
    densification a sensor/finance pipeline needs where
    :func:`gap_fill_daily`'s zero-fill would be wrong (a missing
    reading is not a zero reading).

    Plan: the daily DECIMAL-exact value aggregate, the per-user
    calendar spine (sequence + explode), a left join, then ONE
    user-keyed window pass computing last/first observed value and day
    with ignoreNulls frames — every stage keyed on user_id, one
    partitioning end to end, and the interpolation itself is
    row-local arithmetic.

    Determinism: daily sums accumulate in DECIMAL(18,2) (order-
    independent), day distances are exact integers, and the single
    interpolation expression pv + (nv - pv) * (dd/DD) is written
    identically on both engines before the ROUND to 6.  Emits
    (user_id, day, is_observed, v_interp)."""
    daily = (
        table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("d"), "value")
        .groupBy("user_id", "d")
        .agg(dsum("value", "v"))
    )
    return gap_interpolate_frame(daily)


def gap_interpolate_frame(daily: DataFrame) -> DataFrame:
    """Core spine + linear interpolation over any (user_id, d, v)
    daily frame — exposed for property testing."""
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "user_id",
            F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias(
                "d"
            ),
        )
    )
    j = spine.join(daily, ["user_id", "d"], "left")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_d = F.when(F.col("v").isNotNull(), F.col("d"))
    w = (
        j.withColumn("pv", F.last("v", ignorenulls=True).over(w_prev))
        .withColumn("pd", F.last(obs_d, ignorenulls=True).over(w_prev))
        .withColumn("nv", F.first("v", ignorenulls=True).over(w_next))
        .withColumn("nd", F.first(obs_d, ignorenulls=True).over(w_next))
    )
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                F.datediff("d", "pd").cast("double")
                / F.datediff("nd", "pd").cast("double")
            )
        )
    )
    return w.select(
        "user_id",
        F.col("d").alias("day"),
        F.col("v").isNotNull().alias("is_observed"),
        F.round(interp, 6).alias("v_interp"),
    )


GAP_INTERPOLATE_DAILY_SQL = (
    "WITH daily AS (SELECT user_id, date_trunc('day', ts) AS d,"
    "  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v"
    "  FROM events GROUP BY 1, 2),"
    " span AS (SELECT user_id, MIN(d) AS d0, MAX(d) AS d1 FROM daily"
    "  GROUP BY user_id),"
    " spine AS (SELECT user_id, unnest(generate_series(d0, d1,"
    "  INTERVAL 1 DAY)) AS d FROM span),"
    " j AS (SELECT s.user_id, s.d, daily.v FROM spine s"
    "  LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d),"
    " w AS (SELECT user_id, d, v,"
    "  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d"
    "   ROWS UNBOUNDED PRECEDING) AS pv,"
    "  LAST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER"
    "   (PARTITION BY user_id ORDER BY d ROWS UNBOUNDED PRECEDING) AS pd,"
    "  FIRST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d"
    "   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,"
    "  FIRST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER"
    "   (PARTITION BY user_id ORDER BY d"
    "   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd"
    "  FROM j)"
    " SELECT user_id, d AS day, v IS NOT NULL AS is_observed,"
    " ROUND(CASE WHEN v IS NOT NULL THEN v"
    "  WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv"
    "  ELSE pv + (nv - pv) * (CAST(date_diff('day', pd, d) AS DOUBLE)"
    "   / CAST(date_diff('day', pd, nd) AS DOUBLE)) END, 6) AS v_interp"
    " FROM w"
)
