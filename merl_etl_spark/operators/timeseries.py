"""Time-series operators: gap-filled resampling, time-based moving
windows, time-weighted averages, and cohort retention.

The reference's pipelines are all time-series shaped — block-time
snapshots on a 6-hour cadence (merlin_etl.py:190-194), hourly activity
rollups (scripts/ingest_activity_and_report.sh:36) — but it leans on
Postgres for the series math.  This module supplies the four series
operators a warehouse user of the reference would reach for next, each
as a declarative Spark plan with a DuckDB oracle:

- ``ts-gap-fill``     — hourly resample with an explicit spine and
                        forward fill (the "make the series dense" step
                        every downstream chart/model needs);
- ``ts-moving-stats`` — event-level trailing 60-minute count/sum via a
                        RANGE frame over epoch seconds (the generalized
                        form of the reference's 60-minute lookback);
- ``ts-twap``         — time-weighted average value per series (interval
                        weighting via lead(), the standard fix for
                        irregular sampling bias);
- ``analytics-retention-cohort`` — weekly cohort retention triangle
                        over the event stream.

Scale notes (100 TB): every aggregate is keyed (map-side partials);
the per-series windows (forward fill, RANGE frame, lead) partition by
``event_type``/``user_id`` — series count × series length is the
parallelism/memory unit, and a single series' hourly spine is tiny
(8,760 rows/year) while per-user event runs are bounded by user
activity.  The spine generation is `sequence()` per series — no driver
loop, no crossJoin against an unbounded side.  Nothing here sorts the
global fact table.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from merl_etl_spark.operators.aggregates import dec_sum
from merl_etl_spark.operators.joins import TS_FMT_DUCK, TS_FMT_SPARK
from merl_etl_spark.registry import register
from merl_etl_spark.sources.tables import load_table


# ---------------------------------------------------------------------------
# ts-gap-fill — hourly resample + spine + forward fill
# ---------------------------------------------------------------------------

@register(
    "ts-gap-fill",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             count(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(value) AS DOUBLE) AS avg_value
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1),
    spine AS (
      SELECT s.event_type,
             unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS h
      FROM span s
    )
    SELECT sp.event_type,
           strftime(sp.h, '{TS_FMT_DUCK}') AS hour,
           COALESCE(hr.n, 0) AS n_events,
           last_value(hr.avg_value IGNORE NULLS)
             OVER (PARTITION BY sp.event_type ORDER BY sp.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg,
           (hr.n IS NULL) AS is_gap
    FROM spine sp LEFT JOIN hourly hr
      ON hr.event_type = sp.event_type AND hr.h = sp.h
    """,
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Densify the per-type hourly event series: aggregate to hours,
    generate each series' full hourly spine with ``sequence()``, left
    join, and forward-fill the last observed hourly average into gaps.

    The spine is built per series from that series' own [min, max] span
    (keyed agg → one row per series → sequence+explode), so spine size
    is Σ series-lengths, never max-span × n-series.  The forward fill is
    a per-series window (`last(ignorenulls=True)`) — partitioned, never
    global.  The hourly average is an EXACT decimal sum divided once as
    doubles — the original ``round(avg(value), 6)`` was doubly
    nondeterministic: double sums depend on partition order, and Spark's
    round half-ups the shortest decimal REPR while DuckDB rounds the
    binary value (an sf0.1 full sweep caught a tie flipping; PERF.md
    "sf0.1 oracle sweep")."""
    events = load_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # divide by count(value): avg semantics ignore NULLs, count(*)
            # would silently shrink the mean on nullable data (review)
            (
                dec_sum(F.col("value")).cast("double")
                / F.count("value").cast("double")
            ).alias("avg_value"),
        )
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", TS_FMT_SPARK).alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("avg_value", ignorenulls=True).over(w).alias("filled_avg"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


# ---------------------------------------------------------------------------
# ts-moving-stats — trailing 60-minute RANGE frame per series
# ---------------------------------------------------------------------------

# Sharded execution mode (same dial family as spark.merl.ewma.*): shard
# each series into fixed time buckets and carry frame-reachable rows into
# the next shard, turning series-count parallelism into series × shards.
MOVSTATS_SHARDED_CONF = "spark.merl.movstats.sharded"
MOVSTATS_BUCKET_CONF = "spark.merl.movstats.bucket"  # shard width, seconds


@register(
    "ts-moving-stats",
    oracle=f"""
    SELECT event_id, event_type,
           strftime(ts, '{TS_FMT_DUCK}') AS ts_str,
           count(*) OVER w AS mov_n,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS mov_sum
    FROM events
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT)
                 RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
)
def ts_moving_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing 60-minute count and sum within each series —
    a time-based (RANGE) frame over epoch seconds, not a row-count
    frame, so irregular event spacing is handled correctly.

    This is the reference's sliding 60-minute lookback
    (ingest_activity_and_report.sh:36) generalized from "one aggregate
    per run" to "one trailing aggregate per event".  The window is
    partitioned by series; Spark evaluates RANGE frames with a
    two-pointer pass over each sorted partition — O(series length), no
    frame re-scan.  Frame sums are EXACT decimals cast to double at the
    boundary — the earlier round(double-sum, 6) depended on engine
    summation order right at rounding ties (the gap-fill sf0.1 finding,
    fixed here proactively).

    Sharded mode (VERDICT r8 #5 — the ts-ewma chunked-overlap pattern
    generalized to a bounded RANGE frame): the default plan's
    parallelism is the series count (5 event types = 5 cores at ANY
    cluster size).  With ``spark.merl.movstats.sharded=true`` each
    series is bucketed into MOVSTATS_BUCKET-second time shards and a
    row whose trailing frame can reach into the NEXT shard (the last
    FRAME seconds of each shard) is duplicated there as a flagged carry
    copy — every row's 60-minute lookback then lives entirely inside
    one (series, shard) partition, so parallelism becomes
    series × shards.  For a RANGE frame the carry is TIME-bounded, so
    no global row numbering is needed (that machinery is only required
    for ROWS frames like the EWMA's 12 taps).  Carry copies feed frames
    but are dropped from the output; results are bit-identical to the
    default mode (pinned by tests incl. null-ts rows, which shard to a
    single NULL bucket per series with no carries — the same
    all-nulls-in-one-frame-group semantics Spark's RANGE window gives
    them in the default plan)."""
    events = load_table(spark, sf_dir, "events")
    FRAME = 3600
    sec = F.unix_timestamp("ts")
    vd = F.col("value").cast("decimal(18,6)")
    if spark.conf.get(MOVSTATS_SHARDED_CONF, "false").lower() != "true":
        w = (
            Window.partitionBy("event_type")
            .orderBy(sec)
            .rangeBetween(-FRAME, 0)
        )
        return events.select(
            "event_id",
            "event_type",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
            F.count(F.lit(1)).over(w).alias("mov_n"),
            F.sum(vd).over(w).cast("double").alias("mov_sum"),
        )
    # ---- sharded mode ----
    width = int(spark.conf.get(MOVSTATS_BUCKET_CONF, str(4 * FRAME)))
    if width < FRAME:
        raise ValueError(
            f"{MOVSTATS_BUCKET_CONF} must be >= the {FRAME}s frame "
            "(a narrower shard cannot contain a full lookback carry)"
        )
    x = events.select(
        "event_id", "event_type", "ts", sec.alias("sec"), vd.alias("vd")
    )
    shard = F.floor(F.col("sec") / width)
    # single-pass conditional-array explode (NOT a union — the EWMA
    # lesson: a union duplicates the whole upstream subtree): every row
    # lands in its own shard; rows in the trailing FRAME seconds of a
    # shard also emit a carry copy into the next shard
    own = F.struct(shard.alias("shard"), F.lit(False).alias("carry"))
    both = F.array(
        own, F.struct((shard + 1).alias("shard"), F.lit(True).alias("carry"))
    )
    assigned = x.select(
        "*",
        F.explode(
            F.when(F.col("sec").isNull(), F.array(own))  # null ts: one NULL shard, no carry
            # pmod, not %: a pre-epoch (negative) sec would make % negative
            # and silently skip the carry at the shard boundary
            .when(F.pmod(F.col("sec"), F.lit(width)) >= width - FRAME, both)
            .otherwise(F.array(own))
        ).alias("a"),
    ).select(
        "event_id", "event_type", "ts", "sec", "vd",
        F.col("a.shard").alias("shard"), F.col("a.carry").alias("carry"),
    )
    wc = (
        Window.partitionBy("event_type", "shard")
        .orderBy("sec")
        .rangeBetween(-FRAME, 0)
    )
    return (
        assigned.select(
            "event_id",
            "event_type",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
            F.count(F.lit(1)).over(wc).alias("mov_n"),
            F.sum("vd").over(wc).cast("double").alias("mov_sum"),
            "carry",
        )
        .where(~F.col("carry"))
        .drop("carry")
    )


# ---------------------------------------------------------------------------
# ts-twap — time-weighted average per series
# ---------------------------------------------------------------------------

@register(
    "ts-twap",
    oracle="""
    WITH seg AS (
      SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v_dec,
             epoch_us(lead(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id))
               - epoch_us(ts) AS w_us
      FROM events
    )
    SELECT event_type,
           round(CAST(sum(v_dec * w_us) AS DOUBLE) / CAST(sum(w_us) AS DOUBLE), 6)
             AS twap,
           round(CAST(sum(v_dec) AS DOUBLE) / count(*), 6) AS naive_avg,
           count(*) AS n_segments
    FROM seg WHERE w_us IS NOT NULL AND w_us > 0
    GROUP BY event_type
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per series: each observation is
    weighted by how long it was 'current' (until the next event in the
    series), the standard correction for irregularly sampled series —
    a naive avg over-weights bursts.  Also emits the naive average so
    the bias is visible.

    lead() is a per-series window; the final aggregate is keyed by
    series with map-side partials.  Zero-length segments (duplicate
    timestamps) are excluded on both sides; ties are broken by
    event_id so lead() is deterministic.  Determinism: weights are
    exact microseconds (unix_micros / epoch_us) and the weighted sums
    run in DecimalType — exact and summation-order-insensitive — with
    one cast to double at the output boundary (sums stay < 2^53 well
    past sf0.1, so the cast is value-preserving)."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    seg = events.select(
        "event_type",
        F.col("value").cast("decimal(12,2)").alias("v_dec"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("w_us"),
    )
    return (
        seg.filter(F.col("w_us").isNotNull() & (F.col("w_us") > 0))
        .groupBy("event_type")
        .agg(
            F.round(
                F.sum(F.col("v_dec") * F.col("w_us")).cast("double")
                / F.sum("w_us").cast("double"),
                6,
            ).alias("twap"),
            F.round(
                F.sum("v_dec").cast("double") / F.count(F.lit(1)), 6
            ).alias("naive_avg"),
            F.count(F.lit(1)).alias("n_segments"),
        )
    )


# ---------------------------------------------------------------------------
# analytics-retention-cohort — weekly cohort retention triangle
# ---------------------------------------------------------------------------

# Week indexing: absolute weeks since a fixed epoch Monday (2024-01-01),
# computed identically in both engines from epoch seconds — sidesteps any
# engine difference in date_trunc('week') locale/week-start conventions.
_WEEK_EPOCH = "2024-01-01 00:00:00"


@register(
    "analytics-retention-cohort",
    oracle=f"""
    WITH wk AS (
      SELECT DISTINCT user_id,
             CAST(floor((epoch(ts) - epoch(TIMESTAMP '{_WEEK_EPOCH}')) / 604800.0)
                  AS BIGINT) AS week_idx
      FROM events
    ),
    cohort AS (SELECT user_id, min(week_idx) AS cohort_week FROM wk GROUP BY user_id)
    SELECT c.cohort_week,
           wk.week_idx - c.cohort_week AS week_offset,
           count(*) AS n_users
    FROM wk JOIN cohort c ON c.user_id = wk.user_id
    GROUP BY 1, 2
    """,
)
def analytics_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users are cohorted by their first active
    week; each cell of the output triangle counts how many of a cohort's
    users were active `week_offset` weeks later.

    Shape: distinct (user, week) pairs — one shuffle keyed by both, then
    a keyed min per user (the cohort), an equi-join back (cohort table is
    #users rows — broadcastable when small, hash-join otherwise), and a
    keyed count.  Nothing is per-event after the first distinct, so the
    plan's working set is active-users × active-weeks, not raw events."""
    events = load_table(spark, sf_dir, "events")
    week_idx = F.floor(
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lit(_WEEK_EPOCH))) / 604800.0
    ).cast("long")
    wk = events.select("user_id", week_idx.alias("week_idx")).distinct()
    cohort = wk.groupBy("user_id").agg(F.min("week_idx").alias("cohort_week"))
    return (
        wk.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week_idx") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# ts-ohlc-bars — open/high/low/close resampling per series
# ---------------------------------------------------------------------------

# Composite deterministic first/last key: microseconds since the fixture
# epoch (fits in ~2^42 for a month of data) × 10^6 + event_id.  Both
# engines compute the identical BIGINT, which lets min_by/arg_min pick
# the same "first" and "last" row even under duplicate timestamps.
# Headroom: rel_us × 10^6 stays < 2^63 while the series spans < ~290 years
# and event_id < 10^6; a production variant over longer spans would use a
# DECIMAL(38,0) key or split ties into a second arg_min level.
_BAR_EPOCH = "2024-01-01 00:00:00"


@register(
    "ts-ohlc-bars",
    oracle=f"""
    WITH keyed AS (
      SELECT event_type, date_trunc('hour', ts) AS bar, value,
             (epoch_us(ts) - epoch_us(TIMESTAMP '{_BAR_EPOCH}')) * 1000000
               + event_id AS k
      FROM events
    )
    SELECT event_type, strftime(bar, '{TS_FMT_DUCK}') AS bar_start,
           arg_min(value, k) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, k) AS close,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS volume,
           count(*) AS n_ticks
    FROM keyed
    GROUP BY event_type, bar
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample each event series into hourly OHLC bars — the canonical
    market-data downsampling (open/high/low/close + volume per bucket),
    applied to the event stream's ``value`` column.

    One keyed aggregate: min_by/max_by over a composite (time, id) key
    pick the bar's first and last tick deterministically (ties broken by
    event_id), high/low are plain min/max, and volume sums in
    DecimalType so the bar totals are partition-order-exact.  Shape at
    100 TB: a single groupBy (event_type, hour) with map-side partials —
    bars, not ticks, cross the shuffle; no windows, no self-joins."""
    events = load_table(spark, sf_dir, "events")
    k = (
        (
            F.unix_micros("ts")
            - F.unix_micros(F.lit(_BAR_EPOCH).cast("timestamp"))
        )
        * F.lit(1000000).cast("long")
        + F.col("event_id")
    ).alias("k")
    keyed = events.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar"),
        "value",
        k,
    )
    from merl_etl_spark.operators.aggregates import dec_sum

    return (
        keyed.groupBy("event_type", "bar")
        .agg(
            F.expr("min_by(value, k)").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, k)").alias("close"),
            dec_sum(F.col("value")).cast("double").alias("volume"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .select(
            "event_type",
            F.date_format("bar", TS_FMT_SPARK).alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "n_ticks",
        )
    )


# ---------------------------------------------------------------------------
# ts-linear-trend — closed-form least squares as exact aggregates
# ---------------------------------------------------------------------------

TREND_ORIGIN = "2024-01-01 00:00:00"


@register(
    "ts-linear-trend",
    oracle=f"""
    WITH x AS (
      SELECT event_type,
             CAST(CAST(((epoch_us(ts) - epoch_us(TIMESTAMP '{TREND_ORIGIN}') + 1800)
                        - ((((epoch_us(ts) - epoch_us(TIMESTAMP '{TREND_ORIGIN}') + 1800)
                             % 3600) + 3600) % 3600)) // 3600 AS DECIMAL(18,6))
                  * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6)) AS xh,
             CAST(value AS DECIMAL(18,6)) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             count(*) AS n,
             SUM(xh) AS sx,
             SUM(y) AS sy,
             SUM(CAST(xh * y AS DECIMAL(38,12))) AS sxy,
             SUM(CAST(xh * xh AS DECIMAL(38,12))) AS sxx
      FROM x GROUP BY event_type
    ),
    r AS (
      SELECT event_type, n, sx, sy,
             ROUND(sxy, 2) AS sxy2, ROUND(sxx, 2) AS sxx2
      FROM s
    )
    SELECT event_type, n,
           (CAST(n AS DOUBLE) * CAST(sxy2 AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / NULLIF(CAST(n AS DOUBLE) * CAST(sxx2 AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS slope_per_hour,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
             - ((CAST(n AS DOUBLE) * CAST(sxy2 AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / NULLIF(CAST(n AS DOUBLE) * CAST(sxx2 AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept
    FROM r
    """,
)
def ts_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series linear trend (slope per hour + intercept) via the
    closed-form least-squares formulas — regression expressed as FIVE
    exact aggregates (n, Σx, Σy, Σxy, Σx²) instead of an iterative
    fit, which is what makes it a one-shuffle distributed operator: the
    map side emits decimal partials, the reduce side combines, and the
    slope algebra runs on the five scalars per series.

    Determinism: x (hours since a fixed origin) is quantized to
    DECIMAL(18,6) — microsecond timestamps over 3.6e9 don't divide
    exactly, so the quantization pins the input grid; from there every
    sum is exact decimal and the final formulas divide doubles cast
    from exact sums (IEEE-identical cross-engine).  The same shape
    extends to any moment-expressible statistic (variance, covariance,
    correlation, polynomial fits via Vandermonde sums)."""
    events = load_table(spark, sf_dir, "events")
    # xh (hours at 6 dp) is quantized with INTEGER arithmetic —
    # floor((us + 1800) / 3600) yields half-up (toward +inf) microunits
    # of hours for deltas of EITHER sign, identical on both engines.  The earlier double-division + decimal cast
    # flipped on rounding ties: Spark's double→decimal cast half-ups the
    # SHORTEST DECIMAL REPR while DuckDB rounds the true binary value,
    # and an sf0.1 sweep found 14 event timestamps landing exactly on
    # the "…45" repr boundary (PERF.md "sf0.1 oracle sweep").  The
    # microunit integer is rebuilt into DECIMAL(18,6) by an exact
    # decimal multiply (never a decimal division, which DuckDB lowers
    # to double).
    # floor (via pmod), not DIV: truncation-toward-zero would bias
    # pre-origin (negative-delta) timestamps toward zero instead of
    # rounding half-up on the same grid as positive ones (review)
    xh = F.expr(
        f"CAST(CAST((unix_micros(CAST(ts AS TIMESTAMP)) "
        f"- unix_micros(CAST('{TREND_ORIGIN}' AS TIMESTAMP)) + 1800 "
        f"- pmod(unix_micros(CAST(ts AS TIMESTAMP)) "
        f"- unix_micros(CAST('{TREND_ORIGIN}' AS TIMESTAMP)) + 1800, 3600)) DIV 3600 "
        f"AS DECIMAL(18,6)) * CAST(0.000001 AS DECIMAL(7,6)) AS DECIMAL(18,6))"
    )
    x = events.select(
        "event_type", xh.alias("xh"), F.col("value").cast("decimal(18,6)").alias("y")
    )
    s = x.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xh").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("xh") * F.col("y")).cast("decimal(38,12)")).alias("sxy"),
        F.sum((F.col("xh") * F.col("xh")).cast("decimal(38,12)")).alias("sxx"),
    )
    # reduce the product sums to 2 dp BEFORE the double cast: their
    # scale-12 unscaled values exceed 2^53, where decimal→double rounding
    # is engine-specific (last-ulp drift observed vs DuckDB); after the
    # explicit ROUND (half-away-from-zero in both engines for these
    # positive sums) the unscaled values fit exactly in a double.  sx/sy
    # stay scale-6: their magnitudes keep the unscaled value < 2^53.
    s = s.withColumn("sxy2", F.round("sxy", 2)).withColumn("sxx2", F.round("sxx", 2))
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy2").cast("double"), F.col("sxx2").cast("double")
    # degenerate series (all x identical → zero variance) yield NULL slope
    # on BOTH engines (NULLIF in the oracle): an explicit guard, because
    # zero-division otherwise diverges (Spark NULL vs DuckDB inf/NaN) and
    # even Spark's own behavior flips with spark.sql.ansi.enabled
    denom_raw = nd * sxxd - sxd * sxd
    denom = F.when(denom_raw != 0, denom_raw)
    slope = (nd * sxyd - sxd * syd) / denom
    return s.select(
        "event_type",
        "n",
        slope.alias("slope_per_hour"),
        (syd / nd - slope * (sxd / nd)).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# ts-ewma — exponentially weighted moving average, decimal-exact
# ---------------------------------------------------------------------------

# EWMA with alpha = 1/2 over the trailing EWMA_K observations.  The
# recursive form s_t = a*x_t + (1-a)*s_{t-1} is not window-expressible,
# but the truncated expansion s_t = sum_k (1/2)^k * x_{t-k} / sum_k
# (1/2)^k is a 12-term lag dot product — and because every weight is a
# power of two, each term is EXACT in decimal (scale 6 + 11 = 17), so
# the weighted sum is order-independent and bit-deterministic.  The
# single rounding (scale 17 → 6) happens on identical exact decimals in
# both engines (half-away-from-zero in both — the ts-linear-trend
# pattern), after which the double division is IEEE-identical.
EWMA_K = 12
_EWMA_W = [Decimal(1) / (1 << k) for k in range(EWMA_K)]


def _ewma_oracle() -> str:
    terms = " + ".join(
        f"CASE WHEN lag(xd, {k}) OVER w IS NULL THEN CAST(0 AS DECIMAL(18,6))"
        f" ELSE lag(xd, {k}) OVER w * {w} END"
        for k, w in enumerate(_EWMA_W)
    )
    dens = " + ".join(
        f"CASE WHEN lag(xd, {k}) OVER w IS NULL THEN 0 ELSE {w} END"
        for k, w in enumerate(_EWMA_W)
    )
    return f"""
    WITH x AS (
      SELECT event_id, event_type, ts,
             CAST(value AS DECIMAL(18,6)) AS xd
      FROM events
    ),
    s AS (
      SELECT event_id, event_type, ts,
             round({terms}, 6) AS num6,
             CAST({dens} AS DOUBLE) AS den
      FROM x
      WINDOW w AS (PARTITION BY event_type ORDER BY ts NULLS FIRST, event_id)
    )
    SELECT event_id, event_type,
           strftime(ts, '{TS_FMT_DUCK}') AS ts_s,
           CAST(num6 AS DOUBLE) / NULLIF(den, 0) AS ewma
    FROM s
    """


def _ewma_taps(w):
    """(num, den) tap-sum columns over window ``w`` — shared by both
    execution modes so the arithmetic cannot diverge."""
    zero = F.lit(Decimal("0.000000")).cast("decimal(18,6)")
    num = None
    den = None
    for k, wk in enumerate(_EWMA_W):
        xk = F.lag("xd", k).over(w)
        term = F.when(xk.isNull(), zero).otherwise(xk * F.lit(wk))
        dterm = F.when(xk.isNull(), F.lit(0.0)).otherwise(F.lit(float(wk)))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return num, den


def _ewma_finish(s: DataFrame) -> DataFrame:
    return s.select(
        "event_id",
        "event_type",
        F.date_format("ts", TS_FMT_SPARK).alias("ts_s"),
        (F.col("num6").cast("double") / F.when(F.col("den") != 0, F.col("den"))).alias("ewma"),
    )


# Sharded execution mode (spark.merl.ewma.sharded=true): a per-series
# window parallelizes only as far as the SERIES COUNT — 5 event types
# put a 10M-row sort on 5 cores (ARCHITECTURE.md "Per-series windows
# parallelize by series count"; measured 25 s at 100×).  Because the
# 12-tap frame is BOUNDED, the series can be cut into fixed-size chunks
# computed independently: each row only needs its 11 predecessors, so
# replicating the last 11 rows of every chunk into the next chunk
# ("carry" rows, filtered from the output) makes the chunked windows
# exactly equal to the global one.  Global row numbers come from the
# curate-shuffle-index pattern — per-(series, day) in-bucket ranks plus
# broadcast cumulative offsets over the tiny (series × days) count
# table — never a global sort.  Parallelism becomes series × chunks.
EWMA_SHARDED_CONF = "spark.merl.ewma.sharded"
# rank-pass bucket granularity (day|hour|minute): the in-bucket rank
# window partitions by (series, bucket), so a corpus concentrated in few
# days needs a finer unit to keep the rank pass wide — the bucket must
# be TIME-ordered (all of bucket b precedes bucket b+1), which is why a
# hash bucket cannot work here.  A single bucket must also stay under
# 2^31 rows (row_number is int-valued).
EWMA_BUCKET_CONF = "spark.merl.ewma.bucket"
_EWMA_BUCKET_UNITS = ("day", "hour", "minute")
EWMA_CHUNK = 512  # rows per chunk; raise on a real cluster (must be >= EWMA_K)


def _chunked_rows(x: DataFrame, unit: str, chunk_size: int, k_carry: int,
                  side: str, unit_conf: str = "") -> DataFrame:
    """The chunked-overlap machinery shared by every sharded bounded
    ROWS-frame mode (ts-ewma lags, ts-autocorr leads): assign each row a
    GLOBAL per-series row number ``rn`` (per-(series, time-bucket)
    in-bucket ranks + broadcast cumulative offsets — never a global
    sort), cut the series into ``chunk_size``-row chunks, and duplicate
    the ``k_carry`` boundary rows into the adjacent chunk as flagged
    ``carry`` copies: the LAST k rows into the NEXT chunk for a trailing
    (``side='lag'``) frame, the FIRST k rows into the PREVIOUS chunk for
    a lookahead (``side='lead'``) frame.  A window over
    (event_type, chunk) ORDER BY rn then sees exactly the rows a global
    (ts, event_id) window would for any frame bounded by k rows on that
    side; consumers compute their taps and filter ``carry``.

    ``x`` must carry event_type / ts / event_id; every other column is
    passed through.  The carry duplication is a conditional-array
    explode, NOT a union — a union would execute the scan/rank/join
    subtree twice (the round-8 EWMA lesson)."""
    if side not in ("lag", "lead"):
        raise ValueError(f"side must be lag|lead, got {side!r}")
    # validate HERE, not in callers: an unrecognized unit makes
    # date_trunc return NULL for every row → one (series, NULL) rank
    # partition per series, silently recreating the single-partition
    # cliff this helper exists to avoid (review r9w4 finding)
    if unit not in _EWMA_BUCKET_UNITS:
        raise ValueError(
            f"{unit_conf or 'bucket unit'} must be one of "
            f"{_EWMA_BUCKET_UNITS}, got {unit!r}"
        )
    payload = [c for c in x.columns]
    bucket = F.date_trunc(unit, "ts")
    xb = x.withColumn("bkt", bucket)
    counts = xb.groupBy("event_type", "bkt").agg(F.count(F.lit(1)).alias("n"))
    # orderBy("bkt") sorts a NULL bucket (null ts) first — the same
    # NULLS FIRST position those rows take in the default mode's
    # (ts, event_id) window order
    w_off = (
        Window.partitionBy("event_type").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = counts.select(
        F.col("event_type").alias("o_type"),
        F.col("bkt").alias("o_bkt"),
        (F.sum("n").over(w_off) - F.col("n")).alias("off"),
    )
    w_in = Window.partitionBy("event_type", "bkt").orderBy("ts", "event_id")
    ranked = (
        xb.withColumn("rn_in", F.row_number().over(w_in))
        # null-SAFE bucket match: a plain equi-join drops null-ts rows
        # (NULL keys never match), silently diverging from default mode
        .join(
            F.broadcast(offsets),
            (F.col("event_type") == F.col("o_type"))
            & F.col("bkt").eqNullSafe(F.col("o_bkt")),
        )
        .select(*payload, (F.col("off") + F.col("rn_in")).alias("rn"))
    )
    chunk = (F.floor((F.col("rn") - 1) / chunk_size)).alias("chunk")
    pos_in_chunk = (F.col("rn") - 1) % chunk_size
    one = F.array(F.struct(chunk, F.lit(False).alias("carry")))
    if side == "lag":
        dup_cond = pos_in_chunk >= chunk_size - k_carry
        neighbor = F.floor((F.col("rn") - 1) / chunk_size) + 1
    else:
        # rn > chunk_size excludes chunk 0's head rows — their backward
        # carry would land in a nonexistent chunk -1 and be filtered
        dup_cond = (pos_in_chunk <= k_carry - 1) & (F.col("rn") > chunk_size)
        neighbor = F.floor((F.col("rn") - 1) / chunk_size) - 1
    two = F.array(
        F.struct(chunk, F.lit(False).alias("carry")),
        F.struct(neighbor.alias("chunk"), F.lit(True).alias("carry")),
    )
    return ranked.select(
        *payload, "rn",
        F.explode(F.when(dup_cond, two).otherwise(one)).alias("a"),
    ).select(
        *payload, "rn",
        F.col("a.chunk").alias("chunk"), F.col("a.carry").alias("carry"),
    )


@register("ts-ewma", oracle=_ewma_oracle())
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing EWMA (alpha=1/2, 12-tap truncation, per-series) over the
    event stream — the smoothing step behind alerting baselines and
    trend monitors (reference analogue: the rolling report windows in
    scripts/ingest_activity_and_report.sh).

    Scale (100 TB): default mode is one keyed window per series
    (event_type) — the same partition unit as ts-moving-stats; the 12
    lag() taps share a single sort within the window exchange, so the
    whole query is one shuffle.  When the corpus has FEW series (the
    series-count parallelism cliff), set ``spark.merl.ewma.sharded=true``
    for the chunked-overlap plan described above — bit-identical output
    (pinned by tests/test_round8_ops.py::test_ewma_sharded_mode_equals_default).
    """
    events = load_table(spark, sf_dir, "events")
    xd = F.col("value").cast("decimal(18,6)")
    x = events.select("event_id", "event_type", "ts", xd.alias("xd"))
    if spark.conf.get(EWMA_SHARDED_CONF, "false").lower() != "true":
        w = Window.partitionBy("event_type").orderBy("ts", "event_id")
        num, den = _ewma_taps(w)
        return _ewma_finish(
            x.select("event_id", "event_type", "ts",
                     F.round(num, 6).alias("num6"), den.alias("den"))
        )
    # ---- sharded mode (the shared _chunked_rows machinery) ----
    K = EWMA_K
    unit = spark.conf.get(EWMA_BUCKET_CONF, "day")
    assigned = _chunked_rows(x, unit, EWMA_CHUNK, K - 1, "lag",
                             unit_conf=EWMA_BUCKET_CONF)
    wc = Window.partitionBy("event_type", "chunk").orderBy("rn")
    num, den = _ewma_taps(wc)
    s = assigned.select(
        "event_id", "event_type", "ts", "carry",
        F.round(num, 6).alias("num6"), den.alias("den"),
    ).where(~F.col("carry"))
    return _ewma_finish(s)


# ---------------------------------------------------------------------------
# ts-seasonal-profile — hour-of-day seasonality per series
# ---------------------------------------------------------------------------

@register(
    "ts-seasonal-profile",
    oracle="""
    WITH hod AS (
      SELECT event_type, hour(ts) AS hod,
             count(value) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS s
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    ),
    prof AS (
      SELECT event_type, hod, n,
             CAST(s AS DOUBLE) / n AS hod_mean,
             CAST(SUM(s) OVER (PARTITION BY event_type) AS DOUBLE)
               / SUM(n) OVER (PARTITION BY event_type) AS series_mean
      FROM hod
    )
    SELECT event_type, hod, n,
           hod_mean,
           hod_mean - series_mean AS seasonal_dev,
           (row_number() OVER (PARTITION BY event_type
                               ORDER BY hod_mean DESC, hod ASC) = 1)
             AS is_peak_hour
    FROM prof
    """,
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per series: mean value by hour slot,
    deviation from the series mean, and the peak hour — the seasonality
    half of a decompose step (the trend half is ts-linear-trend), and
    the baseline table an anomaly detector divides out before
    thresholding (agg-anomaly-zscore gets sharper after removing the
    daily cycle).

    Scale (100 TB): one (series, hour-slot) keyed agg with map-side
    partials does ALL the data-volume work; every window after it runs
    on the collapsed ≤24-rows-per-series profile table.  Determinism:
    hour means divide an exact decimal sum by an exact count in ONE
    double division per output row (identical IEEE result both
    engines); the deviation subtracts two such doubles — no
    transcendental, no rounding contract needed.  The peak tie-breaks
    on the hour slot."""
    events = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    hod = events.groupBy(
        # bigint: Spark's hour() is int32 but DuckDB's is int64 — pin the
        # width so a typed schema comparison matches (review r9 finding)
        "event_type", F.hour("ts").cast("bigint").alias("hod")
    ).agg(
        F.count("value").alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("s"),
    )
    w_series = Window.partitionBy("event_type")
    prof = hod.select(
        "event_type", "hod", "n",
        (F.col("s").cast("double") / F.col("n")).alias("hod_mean"),
        (
            F.sum("s").over(w_series).cast("double")
            / F.sum("n").over(w_series)
        ).alias("series_mean"),
    )
    w_rank = Window.partitionBy("event_type").orderBy(
        F.col("hod_mean").desc(), F.col("hod").asc()
    )
    return prof.select(
        "event_type", "hod", "n", "hod_mean",
        (F.col("hod_mean") - F.col("series_mean")).alias("seasonal_dev"),
        (F.row_number().over(w_rank) == 1).alias("is_peak_hour"),
    )


# ---------------------------------------------------------------------------
# ts-autocorr — lag-k autocorrelation per series
# ---------------------------------------------------------------------------

AUTOCORR_LAGS = (1, 2, 3)
# Sharded execution mode: the lead() taps are a bounded LOOKAHEAD frame,
# so the ts-ewma chunked-overlap machinery applies with the carry on the
# other side — the first max(AUTOCORR_LAGS) rows of each chunk duplicate
# into the PREVIOUS chunk (see _chunked_rows).  Output is bit-identical:
# the pair set per (series, lag) is exactly the global window's, and the
# sufficient statistics are exact decimals (order-insensitive sums).
AUTOCORR_SHARDED_CONF = "spark.merl.autocorr.sharded"
AUTOCORR_BUCKET_CONF = "spark.merl.autocorr.bucket"  # day|hour|minute


@register(
    "ts-autocorr",
    oracle=f"""
    WITH x AS (
      SELECT event_type, CAST(value AS DECIMAL(18,6)) AS v, ts, event_id
      FROM events WHERE value IS NOT NULL
    ),
    lagged AS (
      SELECT event_type, v,
             {", ".join(
                 f"lead(v, {k}) OVER (PARTITION BY event_type "
                 f"ORDER BY ts NULLS FIRST, event_id) AS v{k}"
                 for k in AUTOCORR_LAGS)}
      FROM x
    )
    {" UNION ALL ".join(f'''
    SELECT event_type, {k} AS lag,
           count(*) AS n_pairs,
           CASE WHEN count(*) < 2 THEN NULL ELSE
             (count(*) * CAST(CAST(SUM(v * v{k}) AS VARCHAR) AS DOUBLE)
                - CAST(CAST(SUM(CASE WHEN v{k} IS NOT NULL THEN v END) AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(SUM(v{k}) AS VARCHAR) AS DOUBLE))
             / sqrt(
                 (count(*) * CAST(CAST(SUM(CASE WHEN v{k} IS NOT NULL THEN v * v END) AS VARCHAR) AS DOUBLE)
                  - CAST(CAST(SUM(CASE WHEN v{k} IS NOT NULL THEN v END) AS VARCHAR) AS DOUBLE)
                    * CAST(CAST(SUM(CASE WHEN v{k} IS NOT NULL THEN v END) AS VARCHAR) AS DOUBLE))
                 * (count(*) * CAST(CAST(SUM(v{k} * v{k}) AS VARCHAR) AS DOUBLE)
                    - CAST(CAST(SUM(v{k}) AS VARCHAR) AS DOUBLE)
                      * CAST(CAST(SUM(v{k}) AS VARCHAR) AS DOUBLE)))
           END AS autocorr
    FROM lagged WHERE v{k} IS NOT NULL
    GROUP BY event_type''' for k in AUTOCORR_LAGS)}
    """,
)
def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation (k = 1, 2, 3) of the value series per
    event type — the diagnostic that says whether ts-ewma smoothing or
    the ts-seasonal-profile cycle actually has signal to exploit.
    Pearson correlation between the series and its k-step lead over
    pairs ordered by (ts, event_id).

    Determinism: all five sufficient statistics (Σx, Σy, Σxy, Σx², Σy²)
    accumulate as EXACT decimals over the pair set, each cast to double
    once; the closing Pearson formula is one fixed double expression
    tree — identical IEEE results in both engines with no rounding
    contract.  The ONE subtlety is the decimal→double cast itself:
    Spark's (BigDecimal.doubleValue) is correctly rounded, but DuckDB's
    decimal(38,12)→double is not (measured 1-ulp off at sf0.01:
    4597743.398300000000 → ...3000005), so the oracle routes each sum
    through VARCHAR — decimal→string is exact, string→double is
    correctly rounded in every engine — making the cast pair bit-equal
    and version-robust.

    Scale (100 TB): the statistics are map-side-combinable keyed
    aggregates, 3 output rows per series; the lead() is the per-series
    window cliff (5 series = 5 sort partitions at any cluster size —
    measured 25.8 s at 10M rows) unless
    ``spark.merl.autocorr.sharded=true``, which runs the leads over
    (series, chunk) partitions via the shared _chunked_rows machinery
    (lookahead side: the first max-lag rows of each chunk carry into
    the previous one) — bit-identical pair sets, series × chunks
    parallelism.  The lead frame is lineage-cut in both modes because
    the three per-lag aggregates would otherwise re-run it three
    times."""
    from merl_etl_spark.lineage import cut_lineage

    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    x = events.select(
        "event_type",
        F.col("value").cast("decimal(18,6)").alias("v"),
        "ts",
        "event_id",
    )
    if spark.conf.get(AUTOCORR_SHARDED_CONF, "false").lower() != "true":
        w = Window.partitionBy("event_type").orderBy(
            F.asc_nulls_first("ts"), F.asc("event_id")
        )
        lagged = x.select(
            "event_type", "v",
            *[F.lead("v", k).over(w).alias(f"v{k}") for k in AUTOCORR_LAGS],
        )
    else:
        unit = spark.conf.get(AUTOCORR_BUCKET_CONF, "day")
        assigned = _chunked_rows(
            x, unit, EWMA_CHUNK, max(AUTOCORR_LAGS), "lead",
            unit_conf=AUTOCORR_BUCKET_CONF,
        )
        wc = Window.partitionBy("event_type", "chunk").orderBy("rn")
        lagged = assigned.select(
            "event_type", "v", "carry",
            *[F.lead("v", k).over(wc).alias(f"v{k}") for k in AUTOCORR_LAGS],
        ).where(~F.col("carry")).drop("carry")
    lagged = cut_lineage(lagged, eager=False)
    parts = []
    for k in AUTOCORR_LAGS:
        vk = F.col(f"v{k}")
        pairs = lagged.filter(vk.isNotNull())
        n = F.count(F.lit(1))
        sx = F.sum("v").cast("double")
        sy = F.sum(vk).cast("double")
        sxy = F.sum(F.col("v") * vk).cast("double")
        sxx = F.sum(F.col("v") * F.col("v")).cast("double")
        syy = F.sum(vk * vk).cast("double")
        parts.append(
            pairs.groupBy("event_type").agg(
                F.lit(k).cast("int").alias("lag"),
                n.alias("n_pairs"),
                F.when(
                    n < 2, F.lit(None).cast("double")
                ).otherwise(
                    (n * sxy - sx * sy)
                    / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                ).alias("autocorr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# ts-downsample-lttb — largest-triangle downsampling (parallel variant)
# ---------------------------------------------------------------------------

LTTB_BUCKET = 200  # points per bucket → ~n/200 output points per series


@register(
    "ts-downsample-lttb",
    oracle=f"""
    WITH x AS (
      SELECT event_type, event_id,
             CAST(floor(epoch_us(ts) / 1000000.0) AS BIGINT) AS xs,
             CAST(value AS DECIMAL(18,6)) AS v,
             ts
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    ranked AS (
      SELECT *, (row_number() OVER (PARTITION BY event_type
                                    ORDER BY ts, event_id) - 1)
                 // {LTTB_BUCKET} AS bkt
      FROM x
    ),
    avgs AS (
      SELECT event_type, bkt,
             CAST(SUM(xs) AS DOUBLE) / count(*) AS ax,
             CAST(SUM(v) AS DOUBLE) / count(*) AS av
      FROM ranked GROUP BY 1, 2
    ),
    area AS (
      SELECT event_type, bkt, event_id, ts,
             CAST(v AS DOUBLE) AS value,
             CASE WHEN px IS NULL OR nx IS NULL THEN NULL
                  ELSE abs((px - nx) * (CAST(v AS DOUBLE) - pv)
                           - (px - CAST(xs AS DOUBLE)) * (nv - pv)) END AS a2
      FROM (
        SELECT r.event_type, r.bkt, r.event_id, r.xs, r.v, r.ts,
               pa.ax AS px, pa.av AS pv, na.ax AS nx, na.av AS nv
        FROM ranked r
        LEFT JOIN avgs pa ON pa.event_type = r.event_type AND pa.bkt = r.bkt - 1
        LEFT JOIN avgs na ON na.event_type = r.event_type AND na.bkt = r.bkt + 1
      )
    )
    SELECT event_type, bkt,
           strftime(ts, '{{TS_FMT}}') AS ts_str, value,
           (a2 IS NULL) AS is_edge_bucket
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY event_type, bkt
               ORDER BY a2 DESC NULLS LAST, event_id) AS rn
      FROM area
    )
    WHERE rn = 1
    """.replace("{TS_FMT}", TS_FMT_DUCK),
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle downsampling for visualization (Steinarsson's
    LTTB), parallel variant: within each LTTB_BUCKET-point bucket keep
    the point whose triangle against the NEIGHBOR BUCKET AVERAGES has
    the largest area.  Canonical LTTB anchors on the previously
    *selected* point — a sequential dependency down the series — so
    distributed implementations standardly substitute the previous
    bucket's centroid, which removes the recurrence at negligible
    visual cost; edge buckets (no neighbor on one side) keep their
    first point by the NULLS LAST tie-break, mirroring LTTB pinning
    the series endpoints.

    Determinism: bucket averages divide exact decimal/integer sums once
    (identical IEEE doubles both engines); the area is one fixed double
    expression; argmax tie-breaks on event_id.  Scale (100 TB): one
    per-series ranking window (sharded-mode candidate like every
    bounded ts op), a 2-row-reach bucket-average join (bucket table is
    n/200 rows), and a WindowGroupLimit argmax — no all-pairs anything;
    output is a fixed 1/200 of input."""
    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    x = events.select(
        "event_type", "event_id", "ts",
        F.unix_timestamp("ts").alias("xs"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("ts", "event_id")
    ranked = x.withColumn(
        "bkt", F.floor((F.row_number().over(w_rank) - 1) / LTTB_BUCKET)
    )
    avgs = ranked.groupBy("event_type", "bkt").agg(
        (F.sum("xs").cast("double") / F.count(F.lit(1))).alias("ax"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("av"),
    )
    pa = avgs.select(
        "event_type", (F.col("bkt") + 1).alias("bkt"),
        F.col("ax").alias("px"), F.col("av").alias("pv"),
    )
    na = avgs.select(
        "event_type", (F.col("bkt") - 1).alias("bkt"),
        F.col("ax").alias("nx"), F.col("av").alias("nv"),
    )
    ctx = (
        ranked.join(pa, ["event_type", "bkt"], "left")
        .join(na, ["event_type", "bkt"], "left")
    )
    vd = F.col("v").cast("double")
    a2 = F.when(
        F.col("px").isNull() | F.col("nx").isNull(), F.lit(None).cast("double")
    ).otherwise(
        F.abs(
            (F.col("px") - F.col("nx")) * (vd - F.col("pv"))
            - (F.col("px") - F.col("xs").cast("double")) * (F.col("nv") - F.col("pv"))
        )
    )
    scored = ctx.select(
        "event_type", "bkt", "event_id", "ts", vd.alias("value"), a2.alias("a2")
    )
    w_pick = Window.partitionBy("event_type", "bkt").orderBy(
        F.desc_nulls_last("a2"), F.asc("event_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type", "bkt",
            F.date_format("ts", TS_FMT_SPARK).alias("ts_str"),
            "value",
            F.col("a2").isNull().alias("is_edge_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# ts-backtest-seasonal — rolling-origin evaluation of a seasonal-naive
# forecast
# ---------------------------------------------------------------------------

# seasonal period of the naive forecaster: predict hour t with the
# actual from t - 24h (daily seasonality — the standard cheap baseline
# every real forecaster must beat before it ships)
BACKTEST_LAG_HOURS = 24


@register(
    "ts-backtest-seasonal",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(38,6)) AS v
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
      GROUP BY 1, 2
    ),
    evals AS (
      SELECT a.event_type,
             abs(a.v - f.v) AS abs_err,
             a.v - f.v AS err
      FROM hourly a
      JOIN hourly f ON f.event_type = a.event_type
                   AND f.h = a.h - INTERVAL {BACKTEST_LAG_HOURS} HOUR
    ),
    et AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_evals,
             CAST(SUM(abs_err) AS DECIMAL(38,6)) AS sum_abs,
             CAST(SUM(err) AS DECIMAL(38,6)) AS sum_err
      FROM evals GROUP BY 1
    ),
    hh AS (
      SELECT event_type, CAST(count(DISTINCT h) AS BIGINT) AS n_hours
      FROM hourly GROUP BY 1
    )
    SELECT hh.event_type, hh.n_hours, et.n_evals,
           -- VARCHAR-routed decimal→double boundary (the no-decimal-
           -- output rule; exact at any unscaled magnitude)
           CAST(CAST(et.sum_abs AS VARCHAR) AS DOUBLE)
             / CAST(et.n_evals AS DOUBLE) AS mae,
           CAST(CAST(et.sum_err AS VARCHAR) AS DOUBLE)
             / CAST(et.n_evals AS DOUBLE) AS bias
    FROM hh JOIN et USING (event_type)
    """,
)
def ts_backtest_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster
    (predict each hour's per-type volume with the actual from 24 hours
    earlier), emitting per-series MAE and signed bias — the evaluation
    harness every production forecaster is benchmarked against, and the
    shape (join actuals to lagged actuals, aggregate exact errors) that
    generalizes to backtesting ANY per-bucket prediction column.

    Determinism: hourly volumes are exact decimal sums of the scanned
    values (dec_sum; null ts/value rows filtered on both sides); the
    forecast is an EQUI-JOIN on (type, h − 24h) — gap-safe, unlike a
    row-lag, because a missing hour simply produces no eval row rather
    than silently forecasting from 23h ago; errors and their per-type
    totals stay exact decimals until one double division per series at
    the output boundary (no-decimal-output rule; Spark's direct
    decimal→double cast is correctly rounded, and the ORACLE side routes
    the same cast through VARCHAR — the ts-autocorr convention for
    DuckDB's 1-ulp-off cast).  Scale (100 TB): the fact table collapses to hour ×
    type cardinality in ONE map-side-combinable aggregate; the
    self-join and the error rollup run on that summary (~10^4 rows per
    series-year), never on facts."""
    from merl_etl_spark.lineage import cut_lineage

    events = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    hourly = cut_lineage(
        events.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(dec_sum(F.col("value")).alias("v")),
        eager=False,
    )  # three consumers: eval join (both sides) + the per-type hour count
    a = hourly.select(
        "event_type", "h", F.col("v").alias("actual")
    )
    f_ = hourly.select(
        F.col("event_type").alias("f_type"),
        F.expr(f"h + INTERVAL {BACKTEST_LAG_HOURS} HOURS").alias("f_h"),
        F.col("v").alias("forecast"),
    )
    evals = a.join(
        f_, (a["event_type"] == f_["f_type"]) & (a["h"] == f_["f_h"])
    ).select(
        "event_type",
        (F.col("actual") - F.col("forecast")).alias("err"),
        F.abs(F.col("actual") - F.col("forecast")).alias("abs_err"),
    )
    per_type = evals.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_evals"),
        F.sum("abs_err").cast("decimal(38,6)").alias("sum_abs"),
        F.sum("err").cast("decimal(38,6)").alias("sum_err"),
    )
    hours = hourly.groupBy("event_type").agg(
        F.count_distinct("h").alias("n_hours")
    )
    return hours.join(per_type, "event_type").select(
        "event_type",
        "n_hours",
        "n_evals",
        (F.col("sum_abs").cast("double") / F.col("n_evals")).alias("mae"),
        (F.col("sum_err").cast("double") / F.col("n_evals")).alias("bias"),
    )


# ---------------------------------------------------------------------------
# ts-cusum-changepoint — integer-exact CUSUM level-shift detection
# ---------------------------------------------------------------------------


@register(
    "ts-cusum-changepoint",
    oracle="""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    t AS (SELECT CAST(count(*) AS BIGINT) AS nd,
                 CAST(SUM(n_events) AS BIGINT) AS tot FROM d),
    c AS (
      SELECT day, n_events,
             nd * n_events - tot AS sdev,
             CAST(SUM(nd * n_events - tot) OVER (ORDER BY day)
                  AS BIGINT) AS cusum
      FROM d, t
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_events,
           CAST(sdev AS BIGINT) AS sdev, cusum,
           abs(cusum) AS abs_cusum,
           (abs(cusum) = max(abs(cusum)) OVER ()) AS is_changepoint
    FROM c
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection on the daily event volume: the
    cumulative sum of deviations from the series mean peaks (in absolute
    value) at the most likely changepoint — the classic Page/Pettitt
    statistic that flags WHEN a pipeline's throughput regime shifted,
    complementing dq-volume-anomaly's single-day outliers.

    Determinism — no division anywhere: the mean-deviation
    n_d − N/D is scaled by D into the exact integer D·n_d − N, so the
    CUSUM is an integer running sum and the peak test is integer
    equality (the dq-volume-anomaly middle-sum trick applied to a
    running statistic).  Ties at the max flag every tied day — a
    deterministic set, no arbitrary pick.

    Scale (100 TB): the fact table collapses to one row per day in a
    single map-side-combinable aggregate; the running sum, global max,
    and flags all run on that |days|-row summary (bounded — a decade of
    days is ~3,650 rows; allowlisted in test_plan_properties)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    t = d.agg(
        F.count(F.lit(1)).alias("nd"), F.sum("n_events").alias("tot")
    )
    sdev = F.col("nd") * F.col("n_events") - F.col("tot")
    w_run = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    c = d.crossJoin(F.broadcast(t)).select(
        "day",
        "n_events",
        sdev.alias("sdev"),
        F.sum(sdev).over(w_run).alias("cusum"),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return c.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        "sdev",
        "cusum",
        F.abs(F.col("cusum")).alias("abs_cusum"),
        (F.abs(F.col("cusum")) == F.max(F.abs(F.col("cusum"))).over(w_all)).alias(
            "is_changepoint"
        ),
    )


# ---------------------------------------------------------------------------
# ts-interarrival-hist — log2-banded inter-arrival distribution per feed
# ---------------------------------------------------------------------------


@register(
    "ts-interarrival-hist",
    oracle="""
    WITH s AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
      WHERE ts IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ),
    gp AS (
      SELECT event_type,
             (epoch_us(ts) // 1000000)
               - (epoch_us(prev_ts) // 1000000) AS gap_s
      FROM s WHERE prev_ts IS NOT NULL
    ),
    grain AS (
      SELECT event_type, CAST(length(bin(gap_s)) AS INT) AS band,
             count(*) AS n_gaps,
             min(gap_s) AS min_gap_s, max(gap_s) AS max_gap_s
      FROM gp GROUP BY 1, 2
    )
    SELECT event_type, band,
           CASE WHEN band = 1 THEN 0
                ELSE (CAST(1 AS BIGINT) << (band - 1)) END AS band_floor_s,
           (CAST(1 AS BIGINT) << band) - 1 AS band_ceil_s,
           n_gaps, min_gap_s, max_gap_s,
           -- sum(BIGINT) is HUGEINT in DuckDB; rebind the exact integer
           -- quotient to BIGINT at the boundary
           CAST(n_gaps * 1000000
             // (SUM(n_gaps) OVER (PARTITION BY event_type)) AS BIGINT)
             AS share_ppm
    FROM grain
    """,
)
def ts_interarrival_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per feed: the seconds between a
    user's consecutive events of the same type, binned into power-of-two
    bands (band k covers [2^(k-1), 2^k) seconds; band 1 covers {0, 1}),
    with per-band counts, range, and an exact integer ppm share of the
    feed's gaps.  The burstiness/cadence fingerprint behind session-gap
    calibration (win-sessionize's 30-minute threshold should fall in a
    share trough, not a peak), rate-limit tuning, and bot detection
    (machine traffic concentrates in low bands).

    The log2 band is computed WITHOUT floating log: band =
    length(bin(gap_s)) — the bit-width of the integer gap — so a gap
    landing exactly on a power of two can never flip bands by a libm
    ulp (floor(log2(1024)) is exact only if the library is; a string
    length is exact always).  Gaps are differences of whole-second
    epoch FLOORS (the dq-freshness rule: engine date-diff builtins
    disagree sub-second, integer floors do not).

    Scale (100 TB): the lag window partitions by (user, feed) — bounded
    by per-user activity, the analytics-path-mining class; the histogram
    grain is feed × ~40 bands, so the share window runs over a bounded
    summary.  One fact shuffle (the window), one keyed agg."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    epoch_s = "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {})"
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .where(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            (
                F.expr(epoch_s.format("ts")) - F.expr(epoch_s.format("prev_ts"))
            ).alias("gap_s"),
        )
    )
    grain = gaps.groupBy(
        "event_type", F.length(F.expr("bin(gap_s)")).cast("int").alias("band")
    ).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_s").alias("min_gap_s"),
        F.max("gap_s").alias("max_gap_s"),
    )
    w_feed = Window.partitionBy("event_type")
    return grain.select(
        "event_type",
        "band",
        F.when(F.col("band") == 1, F.lit(0))
        .otherwise(F.expr("shiftleft(CAST(1 AS BIGINT), band - 1)"))
        .alias("band_floor_s"),
        F.expr("shiftleft(CAST(1 AS BIGINT), band) - 1").alias("band_ceil_s"),
        "n_gaps",
        "min_gap_s",
        "max_gap_s",
        F.sum("n_gaps").over(w_feed).alias("_total"),
    ).withColumn(
        "share_ppm", F.expr("n_gaps * 1000000 DIV _total")
    ).drop("_total")


# ---------------------------------------------------------------------------
# ts-rolling-median — trailing exact median as a local robust baseline
# ---------------------------------------------------------------------------

# trailing window (calendar days, RANGE frame — a gap in the series
# shrinks the window rather than silently reaching further back)
RMED_DAYS = 7


@register(
    "ts-rolling-median",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ),
    wl AS (
      SELECT day, n,
             list_sort(list(n) OVER (
               ORDER BY day
               RANGE BETWEEN INTERVAL {RMED_DAYS - 1} DAY PRECEDING
                         AND CURRENT ROW)) AS win
      FROM d
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n,
           CAST(len(win) AS BIGINT) AS n_obs,
           CAST(win[(len(win) + 1) // 2] + win[(len(win) + 2) // 2]
                AS BIGINT) AS med2,
           CAST((win[(len(win) + 1) // 2] + win[(len(win) + 2) // 2])
                AS DOUBLE) / 2 AS trailing_median,
           CAST(n * 2000 // (win[(len(win) + 1) // 2]
                             + win[(len(win) + 2) // 2]) AS BIGINT)
             AS vol_ratio_milli
    FROM wl
    """,
)
def ts_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing RMED_DAYS (7)-day EXACT median of daily event volume plus each
    day's volume-to-baseline ratio in exact milli units — the LOCAL
    robust baseline that complements dq-volume-anomaly's global
    median/MAD gate (a slow ramp never trips a global gate; against a
    trailing median it shows immediately).  Medians of a rolling window
    are the one statistic mergeable summaries can't give you — the
    window is collected EXPLICITLY (bounded: ≤RMED_DAYS integers per
    row over the day-cardinality summary), sorted, and the doubled
    middle-sum trick (dq-volume-anomaly's) keeps even-count medians in
    exact integers: med2 = win[(n+1) DIV 2] + win[(n+2) DIV 2].

    A RANGE frame over the calendar day (not a ROWS frame): a gap in
    the series SHRINKS the window instead of silently reaching further
    back — the semantics monitoring actually wants.

    Determinism: window contents are value-sorted before indexing (the
    frame's own order never matters); all emitted numbers are exact
    integers or exact halves; ratio is an integer floor division
    (med2 ≥ 1 since every window contains the current day).

    Scale (100 TB): the fact table collapses to the day-cardinality
    summary first (ONE keyed map-side-combinable shuffle); the rolling
    window runs over ~365 rows/year — the allowlisted bounded-summary
    class."""
    d = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("dayn", F.datediff("day", F.lit("1970-01-01")))
    )
    w = (
        Window.orderBy("dayn")
        .rangeBetween(-(RMED_DAYS - 1), 0)
    )
    wl = d.withColumn("win", F.array_sort(F.collect_list("n").over(w)))
    med2 = F.expr(
        "element_at(win, CAST((size(win) + 1) DIV 2 AS INT))"
        " + element_at(win, CAST((size(win) + 2) DIV 2 AS INT))"
    )
    return wl.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n",
        F.size("win").cast("bigint").alias("n_obs"),
        med2.cast("bigint").alias("med2"),
        (med2.cast("double") / 2).alias("trailing_median"),
        F.expr(
            "n * 2000 DIV (element_at(win, CAST((size(win) + 1) DIV 2 AS INT))"
            " + element_at(win, CAST((size(win) + 2) DIV 2 AS INT)))"
        ).cast("bigint").alias("vol_ratio_milli"),
    )


# ---------------------------------------------------------------------------
# ts-decompose — additive trend / weekly-seasonal / residual decomposition
# ---------------------------------------------------------------------------

# centered moving-average half-width: ±3 days = a 7-day trend window, the
# classical choice for weekly-seasonal series (one full season per
# window, so the seasonal component averages out of the trend)
DECOMP_HALF = 3


# the gap-filled / windowed / integer-detrended CTE chain ending in
# ``interior(event_type, day, day_num, n, s7, c7, det_x7)`` — ONE
# definition shared by the ts-decompose and seasonality-strength oracles
_DECOMP_INTERIOR_CTES = f"""counts AS (
      SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, min(day) AS dmin, max(day) AS dmax
      FROM counts GROUP BY 1
    ),
    spine AS (
      SELECT b.event_type, CAST(gs.d AS DATE) AS day
      FROM bounds b, LATERAL unnest(generate_series(b.dmin, b.dmax,
                                                    INTERVAL 1 DAY)) AS gs(d)
    ),
    dense AS (
      SELECT s.event_type, s.day,
             CAST(date_diff('day', DATE '1970-01-01', s.day) AS BIGINT)
               AS day_num,
             COALESCE(c.n, 0) AS n
      FROM spine s LEFT JOIN counts c USING (event_type, day)
    ),
    win AS (
      SELECT event_type, day, day_num, n,
             SUM(n) OVER w AS s7, count(*) OVER w AS c7
      FROM dense
      WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                   RANGE BETWEEN {DECOMP_HALF} PRECEDING
                         AND {DECOMP_HALF} FOLLOWING)
    ),
    interior AS (
      SELECT *, 7 * n - s7 AS det_x7 FROM win WHERE c7 = {2 * DECOMP_HALF + 1}
    )"""


def decomposed_interior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gap-filled interior frame (event_type, day, day_num, n, s7,
    det_x7) — Spark twin of _DECOMP_INTERIOR_CTES, shared by
    ts-decompose and analytics-seasonality-strength."""
    events = load_table(spark, sf_dir, "events")
    counts = (
        events.where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bounds = counts.groupBy("event_type").agg(
        F.min("day").alias("dmin"), F.max("day").alias("dmax")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.expr("sequence(dmin, dmax, interval 1 day)")).alias("day"),
    )
    dense = (
        spine.join(counts, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("day_num"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-DECOMP_HALF, DECOMP_HALF)
    )
    return (
        dense.select(
            "event_type",
            "day",
            "day_num",
            "n",
            F.sum("n").over(w).alias("s7"),
            F.count(F.lit(1)).over(w).alias("c7"),
        )
        .where(F.col("c7") == 2 * DECOMP_HALF + 1)
        .withColumn("det_x7", F.lit(7) * F.col("n") - F.col("s7"))
    )


@register(
    "ts-decompose",
    oracle=f"""
    WITH {_DECOMP_INTERIOR_CTES},
    season AS (
      SELECT event_type, day_num % 7 AS dow7,
             CAST(count(*) AS BIGINT) AS m,
             CAST(SUM(det_x7) AS BIGINT) AS sdet
      FROM interior GROUP BY 1, 2
    )
    SELECT i.event_type, strftime(i.day, '%Y-%m-%d') AS day, i.n,
           round(CAST(i.s7 AS DOUBLE) / CAST(7 AS DOUBLE), 6) AS trend,
           round(CAST(s.sdet AS DOUBLE)
                 / (CAST(7 AS DOUBLE) * CAST(s.m AS DOUBLE)), 6) AS seasonal,
           round(CAST(i.n AS DOUBLE)
                 - CAST(i.s7 AS DOUBLE) / CAST(7 AS DOUBLE)
                 - CAST(s.sdet AS DOUBLE)
                   / (CAST(7 AS DOUBLE) * CAST(s.m AS DOUBLE)), 6)
             AS residual
    FROM interior i JOIN season s
      ON s.event_type = i.event_type AND s.dow7 = i.day_num % 7
    """,
)
def ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the per-type daily volume
    series: trend = centered 7-day moving average, seasonal = per
    day-of-week mean of the detrended series, residual = the rest — the
    series triage every forecasting/anomaly workflow starts with (what
    part of today's number is trajectory, what is weekday rhythm, what
    is actually news).  Complements ts-seasonal-profile (profile only)
    and ts-cusum-changepoint (level shifts) with the full three-way
    split.

    Determinism: the series is gap-filled first (missing days ARE zero
    volume), so every interior window holds exactly 7 rows and the
    detrended series 7·n − Σ₇ is pure integer; day-of-week is day_num %
    7 (engine-independent — dayofweek() builtins disagree on week
    start); each output component is one shared IEEE formula over exact
    integers, rounded once at the boundary.  Additivity (trend +
    seasonal + residual = n up to the per-column rounding) is pinned in
    pytest.

    Scale (100 TB): the fact table collapses to (type × day) grain in
    ONE map-side-combinable pass; spine, windows, and the dow rollup all
    run at that bounded summary grain, partitioned by event_type (the
    ts-gap-fill physics) — series count × series length is the unit of
    work, never event rows."""
    interior = decomposed_interior(spark, sf_dir)
    from merl_etl_spark.lineage import cut_lineage

    # two consumers (season rollup + output join) of the bounded
    # (type × day) summary — one materialization
    interior = cut_lineage(interior, eager=False)
    season = interior.groupBy(
        F.col("event_type").alias("s_event_type"),
        (F.col("day_num") % 7).alias("dow7"),
    ).agg(F.count(F.lit(1)).alias("m"), F.sum("det_x7").alias("sdet"))
    seven = F.lit(7).cast("double")
    trend = F.col("s7").cast("double") / seven
    seasonal = F.col("sdet").cast("double") / (seven * F.col("m").cast("double"))
    return (
        interior.join(
            season,
            (F.col("s_event_type") == F.col("event_type"))
            & (F.col("dow7") == F.col("day_num") % 7),
        )
        .select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            F.round(trend, 6).alias("trend"),
            F.round(seasonal, 6).alias("seasonal"),
            F.round(F.col("n").cast("double") - trend - seasonal, 6).alias(
                "residual"
            ),
        )
    )


# ---------------------------------------------------------------------------
# analytics-seasonality-strength — Hyndman F_s from the decomposition
# ---------------------------------------------------------------------------


@register(
    "analytics-seasonality-strength",
    oracle=f"""
    WITH {_DECOMP_INTERIOR_CTES},
    tot AS (
      -- det² widened per-row (HUGEINT / Spark DECIMAL): 7·(daily volume)
      -- squared passes int64 near 3·10⁹ events/day — inside the target
      -- regime, so the widening is load-bearing, not belt-and-braces
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(det_x7 AS HUGEINT)) AS HUGEINT) AS sxd,
             CAST(SUM(CAST(det_x7 AS HUGEINT) * det_x7) AS HUGEINT) AS sxxd
      FROM interior GROUP BY 1
    ),
    grp AS (
      SELECT event_type, day_num % 7 AS dow7,
             CAST(count(*) AS BIGINT) AS m,
             CAST(SUM(CAST(det_x7 AS HUGEINT)) AS HUGEINT) AS sdet,
             CAST(SUM(CAST(det_x7 AS HUGEINT) * det_x7) AS HUGEINT) AS ssq
      FROM interior GROUP BY 1, 2
    ),
    terms AS (
      -- per-dow residual sum of squares, scaled: Σ_i (det_i·m − sdet)²
      -- / m = m·ssq − sdet² all integer, then ONE division frozen at
      -- 6 dp so the cross-dow sum is exact and order-free.  Products
      -- widened past int64 (HUGEINT here, DECIMAL(38,0) in Spark — r11
      -- ADVICE: int64 products wrap silently in non-ANSI Spark while
      -- DuckDB raises; both engines are exact to 10^38 now)
      SELECT event_type,
             CAST(round(CAST(CAST(m AS HUGEINT) * ssq
                             - CAST(sdet AS HUGEINT) * sdet AS DOUBLE)
                        / CAST(m AS DOUBLE), 6) AS DECIMAL(28,6)) AS term
      FROM grp
    ),
    rsum AS (
      SELECT event_type, CAST(SUM(term) AS DOUBLE) AS ssr FROM terms GROUP BY 1
    ),
    v AS (
      SELECT t.event_type, t.n_days,
             (CAST(t.sxxd AS DOUBLE) / CAST(t.n_days AS DOUBLE)
              - (CAST(t.sxd AS DOUBLE) / CAST(t.n_days AS DOUBLE))
                * (CAST(t.sxd AS DOUBLE) / CAST(t.n_days AS DOUBLE)))
               / CAST(49 AS DOUBLE) AS var_det,
             r.ssr / (CAST(49 AS DOUBLE) * CAST(t.n_days AS DOUBLE))
               AS var_resid
      FROM tot t JOIN rsum r USING (event_type)
    )
    SELECT event_type, n_days,
           round(var_det, 6) AS var_detrended,
           round(var_resid, 6) AS var_residual,
           CASE WHEN var_det > CAST(0 AS DOUBLE)
                THEN round(greatest(CAST(1 AS DOUBLE) - var_resid / var_det,
                                    CAST(0 AS DOUBLE)), 6)
                ELSE NULL END AS seasonal_strength
    FROM v
    """,
)
def analytics_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength score per series (Hyndman & Athanasopoulos,
    fpp3 §4.5): F_s = max(0, 1 − Var(residual)/Var(detrended)) over the
    SAME gap-filled integer detrending ts-decompose ships
    (decomposed_interior / _DECOMP_INTERIOR_CTES — single-sourced).
    F_s ≈ 1 means the weekday rhythm explains the detrended variation
    (forecast with the seasonal profile); F_s ≈ 0 means the rhythm is
    noise (don't) — the one-number triage over ts-decompose's 120-row
    detail.

    Determinism: per-dow residual mass collapses algebraically to the
    integer m·Σdet² − (Σdet)² (no per-row residuals), divided once by m
    and frozen at 6 dp so the cross-dow sum is an exact decimal;
    variances are IEEE expressions of exact integers; the ratio is
    guarded and rounded once.  Moment sums AND products run widened —
    DECIMAL on the Spark side, HUGEINT in the oracle — because det² and
    m·ssq−sdet² pass int64 near 3·10⁹ events/day, and non-ANSI Spark
    would WRAP silently where DuckDB raises (r11 ADVICE); widened, both
    engines are exact to 10³⁸ and Spark nulls loudly past that.

    Scale (100 TB): everything runs on the bounded (type × day)
    interior summary — two keyed rollups (type, type × 7) and a 5-row
    assembly join."""
    interior = decomposed_interior(spark, sf_dir)
    from merl_etl_spark.lineage import cut_lineage

    interior = cut_lineage(interior, eager=False)  # two rollup consumers
    det19 = F.col("det_x7").cast("decimal(19,0)")
    tot = interior.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum(det19).alias("sxd"),
        F.sum(det19 * det19).alias("sxxd"),
    )
    grp = interior.groupBy(
        F.col("event_type").alias("g_event_type"),
        (F.col("day_num") % 7).alias("dow7"),
    ).agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(det19).alias("sdet"),
        F.sum(det19 * det19).alias("ssq"),
    )
    # moment products widened to DECIMAL(38,0) (HUGEINT on the oracle
    # side): int64 products of int64 sums wrap silently in non-ANSI
    # Spark; decimal products null on true overflow instead — loud, and
    # exact to 10^38 (r11 ADVICE)
    terms = grp.select(
        "g_event_type",
        F.expr(
            "CAST(round(CAST(CAST(m AS DECIMAL(19,0)) * ssq"
            " - sdet * sdet"
            " AS DOUBLE) / CAST(m AS DOUBLE), 6) AS DECIMAL(28,6))"
        ).alias("term"),
    )
    rsum = terms.groupBy(F.col("g_event_type").alias("event_type")).agg(
        F.sum("term").cast("double").alias("ssr")
    )
    v = tot.join(rsum, "event_type").selectExpr(
        "event_type",
        "n_days",
        "(CAST(sxxd AS DOUBLE) / CAST(n_days AS DOUBLE)"
        " - (CAST(sxd AS DOUBLE) / CAST(n_days AS DOUBLE))"
        "   * (CAST(sxd AS DOUBLE) / CAST(n_days AS DOUBLE)))"
        " / CAST(49 AS DOUBLE) AS var_det",
        "ssr / (CAST(49 AS DOUBLE) * CAST(n_days AS DOUBLE)) AS var_resid",
    )
    return v.selectExpr(
        "event_type",
        "n_days",
        "round(var_det, 6) AS var_detrended",
        "round(var_resid, 6) AS var_residual",
        "CASE WHEN var_det > CAST(0 AS DOUBLE)"
        " THEN round(greatest(CAST(1 AS DOUBLE) - var_resid / var_det,"
        "                     CAST(0 AS DOUBLE)), 6)"
        " ELSE NULL END AS seasonal_strength",
    )


# ---------------------------------------------------------------------------
# ts-anomaly-mad — robust (median/MAD) day-volume outlier census
# ---------------------------------------------------------------------------

# flag threshold: |x − median| > 3σ-equivalent = 3 × 1.4826 × MAD, kept
# as the exact integer comparison 20000·|D| > 44478·MAD4 (see below).


@register(
    "ts-anomaly-mad",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nd
      FROM d
    ),
    med AS (
      -- exact low+high median pair: med2 = 2 × median (integer)
      SELECT event_type,
             CAST(max(nd) AS BIGINT) AS n_days,
             CAST(max(CASE WHEN rn = (nd + 1) // 2 THEN n END)
                  + max(CASE WHEN rn = (nd + 2) // 2 THEN n END)
                  AS BIGINT) AS med2
      FROM r GROUP BY 1
    ),
    dev AS (
      SELECT d.event_type, d.day, d.n,
             abs(2 * d.n - m.med2) AS dev2   -- = 2·|n − median|, integer
      FROM d JOIN med m USING (event_type)
    ),
    rd AS (
      SELECT event_type, day, n, dev2,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY dev2, day) AS rn,
             count(*) OVER (PARTITION BY event_type) AS nd
      FROM dev
    ),
    mad AS (
      -- mad4 = 2 × median(dev2) = 4 × MAD (integer)
      SELECT event_type,
             CAST(max(CASE WHEN rn = (nd + 1) // 2 THEN dev2 END)
                  + max(CASE WHEN rn = (nd + 2) // 2 THEN dev2 END)
                  AS BIGINT) AS mad4
      FROM rd GROUP BY 1
    ),
    flagged AS (
      -- outlier ⟺ |n − med| > 3·1.4826·MAD ⟺ 20000·dev2 > 44478·mad4
      -- (both sides exact integers; 1.4826 enters as the literal 14826)
      SELECT v.event_type, v.day, v.n, v.dev2, m.mad4,
             CASE WHEN 20000 * v.dev2 > 44478 * m.mad4
                  THEN 1 ELSE 0 END AS is_outlier
      FROM dev v JOIN mad m USING (event_type)
    )
    SELECT f.event_type,
           md.n_days, md.med2, f.mad4,
           CAST(SUM(f.is_outlier) AS BIGINT) AS n_outliers,
           CAST(max(f.dev2) AS BIGINT) AS worst_dev2,
           min(CASE WHEN f.dev2 = wd.w THEN strftime(f.day, '%Y-%m-%d') END)
             AS worst_day
    FROM flagged f
    JOIN med md USING (event_type)
    JOIN (SELECT event_type, max(dev2) AS w FROM flagged GROUP BY 1) wd
      USING (event_type)
    GROUP BY 1, 2, 3, 4
    """,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust day-volume anomaly census per event type: exact median and
    exact MAD (median absolute deviation) of the daily counts, days
    flagged where |n − median| exceeds 3σ-equivalent (3 × 1.4826 × MAD)
    — the outlier detector that, unlike agg-anomaly-zscore's mean/σ,
    does not let the anomaly inflate its own threshold (one 100× spike
    moves a mean dramatically, a median not at all).  The standard
    volume-monitor escalation: z-score pages on drift, MAD pages on
    spikes.

    Determinism: everything is integer — the exact medians use the
    low+high rank-pair convention (med2 = 2·median, mad4 = 4·MAD, both
    integers; percentile_disc rank selection exactly as
    analytics-order-percentiles), and the threshold comparison
    20000·dev2 > 44478·mad4 keeps the 1.4826 constant in integer
    arithmetic.  worst_day ties resolve to the lexicographically first
    date; no float appears anywhere.

    Scale (100 TB): the fact table collapses to (type × day) grain in
    ONE map-side-combinable pass (the ts-gap-fill physics); both median
    rankings are windows over that bounded summary partitioned by
    event_type (~365 rows/series-year), never over events."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    from merl_etl_spark.lineage import cut_lineage
    from pyspark.sql.window import Window

    d = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    d = cut_lineage(d, eager=False)  # two consumers: median rank + dev join
    w_rank = Window.partitionBy("event_type").orderBy("n", "day")
    w_cnt = Window.partitionBy("event_type")
    r = d.select(
        "event_type",
        "n",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("nd"),
    )
    med = r.groupBy("event_type").agg(
        F.max("nd").cast("long").alias("n_days"),
        (
            F.max(F.expr("CASE WHEN rn = (nd + 1) DIV 2 THEN n END"))
            + F.max(F.expr("CASE WHEN rn = (nd + 2) DIV 2 THEN n END"))
        )
        .cast("long")
        .alias("med2"),
    )
    dev = d.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "n",
        F.abs(F.lit(2) * F.col("n") - F.col("med2")).alias("dev2"),
    )
    dev = cut_lineage(dev, eager=False)  # two consumers: MAD rank + flags
    w_rank2 = Window.partitionBy("event_type").orderBy("dev2", "day")
    rd = dev.select(
        "event_type",
        "dev2",
        F.row_number().over(w_rank2).alias("rn"),
        F.count(F.lit(1)).over(w_cnt).alias("nd"),
    )
    mad = rd.groupBy("event_type").agg(
        (
            F.max(F.expr("CASE WHEN rn = (nd + 1) DIV 2 THEN dev2 END"))
            + F.max(F.expr("CASE WHEN rn = (nd + 2) DIV 2 THEN dev2 END"))
        )
        .cast("long")
        .alias("mad4"),
    )
    flagged = dev.join(F.broadcast(mad), "event_type").select(
        "event_type",
        "day",
        "dev2",
        "mad4",
        F.expr(
            "CASE WHEN 20000 * dev2 > 44478 * mad4 THEN 1 ELSE 0 END"
        ).alias("is_outlier"),
    )
    wd = flagged.groupBy("event_type").agg(F.max("dev2").alias("w"))
    return (
        flagged.join(F.broadcast(med.select("event_type", "n_days", "med2")), "event_type")
        .join(F.broadcast(wd), "event_type")
        .groupBy("event_type", "n_days", "med2", "mad4")
        .agg(
            F.sum("is_outlier").cast("long").alias("n_outliers"),
            F.max("dev2").cast("long").alias("worst_dev2"),
            F.min(
                F.when(
                    F.col("dev2") == F.col("w"),
                    F.date_format("day", "yyyy-MM-dd"),
                )
            ).alias("worst_day"),
        )
    )
