package graft.queries
import graft.Ckpt.CkptOps

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.io.{Stage, Tables}
import graft.ops.Relational._
import graft.functions.Time.{tsMicros, tsSeconds}
import CoreQueries.sqlDsum

/** Registry entries for the §2.5 extension mandate: window functions,
  * global top-k, set ops — plus JSON and date/time scalar coverage over
  * `events` (SURVEY.md §2.7 note). Every ordering carries a unique tiebreak
  * key (event_id / o_orderkey) so top-k is deterministic in both engines.
  */
object ExtQueries {

  /** Shared as-of sides: clicks, and purchases deduped per (user, ts) with
    * the struct-max policy every j_asof* oracle mirrors. */
  private def asofSides(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val ev = Tables(s, dir).events
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val purchases = ev.where(col("event_type") === "purchase")
      .groupBy("user_id", "ts")
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("ts"),
        col("m.event_id").as("purchase_id"),
        col("m.value").as("purchase_value"))
    (clicks, purchases)
  }

  /** DuckDB fragment: the asof oracle sides (clicks; purchases deduped
    * per (user, ts) by struct-max) — ONE copy for all four j_asof*
    * oracles, mirroring how the Spark side shares [[asofSides]]. */
  private val duckAsofSides =
    """c AS (SELECT event_id AS click_id, user_id,
      |             CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'click'),
      |p0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
      |       FROM events WHERE event_type = 'purchase'),
      |p AS (SELECT user_id, ts,
      |        struct_extract(max(ROW(event_id, value)), 1) AS purchase_id,
      |        struct_extract(max(ROW(event_id, value)), 2) AS purchase_value
      |      FROM p0 GROUP BY user_id, ts)""".stripMargin

  val all: Seq[Reg] = Seq(

    // W: top-k per group via row_number (the reference has no windows;
    // §2.5 extension). rn cast to BIGINT to match DuckDB's row_number type.
    Reg("w1_topk_per_group", Some(
      """SELECT user_id, event_id, value, rn FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
        |  FROM events
        |) WHERE rn <= 3""".stripMargin))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("value").desc, col("event_id"))
        Tables(s, dir).events
          .select(col("user_id"), col("event_id"), col("value"),
            row_number().over(w).cast("long").as("rn"))
          .where(col("rn") <= 3)
      }),

    // W: lag + null-drop (P7) — value delta per user along event time.
    Reg("w2_lag_delta", Some(
      """SELECT user_id, event_id, dv FROM (
        |  SELECT user_id, event_id,
        |    value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dv
        |  FROM events
        |) WHERE dv IS NOT NULL""".stripMargin))(
      (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        Tables(s, dir).events
          .select(col("user_id"), col("event_id"),
            (col("value") - lag(col("value"), 1).over(w)).as("dv"))
          .na.drop("any", Seq("dv"))
      }),

    // W-ext: rolling time-series features — mean/min/max/count over the
    // previous 5 events per user (4 preceding + current), the ML
    // feature-engineering staple. The rolling sum runs in integer cents so
    // the sliding-frame accumulation order (segment trees in DuckDB,
    // running state in Spark) cannot differ in the low double bits; the
    // mean is one exact-double division at the end.
    Reg("w4_rolling", Some(
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100.0
        |    AS roll_sum,
        |  COUNT(*) OVER w AS n_win,
        |  MIN(value) OVER w AS roll_min,
        |  MAX(value) OVER w AS roll_max,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 100.0
        |    / (COUNT(*) OVER w) AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |             ORDER BY CAST(ts AS TIMESTAMP), event_id
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)"""
        .stripMargin))(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
        Tables(s, dir).events.select(
            col("user_id"), col("event_id"),
            (sum(floor(col("value") * 100 + 0.5)).over(w) / lit(100.0))
              .as("roll_sum"),
            count(lit(1)).over(w).as("n_win"),
            min(col("value")).over(w).as("roll_min"),
            max(col("value")).over(w).as("roll_max"))
          .withColumn("roll_mean", col("roll_sum") / col("n_win"))
      }),

    // W-ext: recursive EWMA per user ([[graft.ext.Timeseries.ewma]]) — the
    // exponential smoothing no SQL window FRAME expresses (state threads
    // through every prior row). Both engines fold the key's time-ordered
    // values through y ← α·x + (1−α)·y seeded with the first value, in the
    // same order, with dyadic α = 0.25 (α and 1−α exact doubles) — so the
    // pre-rounding doubles are bit-identical.
    Reg("w8_ewma", Some(
      """WITH s AS (
        |  SELECT user_id,
        |    list_transform(list_sort(list({'t': ts, 'e': event_id, 'v': value})),
        |      r -> r.v) AS vs,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(FLOOR(list_reduce(vs, (acc, x) -> acc * 0.75 + x * 0.25)
        |    * 100000 + 0.5) AS BIGINT) / 100000.0 AS ewma
        |FROM s""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.ewma(Tables(s, dir).events,
        "user_id", Seq("ts", "event_id"), "value", alpha = 0.25)),

    // Per-ROW EWMA ([[Timeseries.ewmaSeries]]): every event tagged with its
    // smoothing-to-date. Oracle replays the identical recursion as a
    // recursive CTE stepping rank-to-rank within each key — the same
    // arithmetic in the same order, so pre-rounding doubles match.
    Reg("ts_ewma_series", Some(
      """WITH RECURSIVE base AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn
        |  FROM events
        |), rec AS (
        |  SELECT user_id, t, event_id, value, rn, value AS y
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.user_id, b.t, b.event_id, b.value, b.rn,
        |    r.y * 0.75 + b.value * 0.25
        |  FROM rec r JOIN base b ON b.user_id = r.user_id AND b.rn = r.rn + 1
        |)
        |SELECT user_id, strftime(t, '%Y-%m-%d %H:%M:%S.%f') AS ts,
        |  event_id, value,
        |  CAST(FLOOR(y * 100000 + 0.5) AS BIGINT) / 100000.0 AS ewma
        |FROM rec""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.ewmaSeries(Tables(s, dir).events,
          "user_id", Seq("ts", "event_id"), "value", alpha = 0.25)
        .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))),

    // Holt double-exponential smoothing ([[Timeseries.holt]]): level+trend
    // per user. Oracle folds the same struct state through DuckDB's
    // list_reduce; dyadic α = 0.25, β = 0.5 keep every step exact-double.
    Reg("ts_holt", Some(
      """WITH RECURSIVE base AS (
        |  SELECT user_id, value AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events
        |), rec AS (
        |  SELECT user_id, rn, n, v AS l, CAST(0.0 AS DOUBLE) AS b
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b2.user_id, b2.rn, b2.n,
        |    b2.v * 0.25 + (r.l + r.b) * 0.75,
        |    (b2.v * 0.25 + (r.l + r.b) * 0.75 - r.l) * 0.5 + r.b * 0.5
        |  FROM rec r JOIN base b2
        |    ON b2.user_id = r.user_id AND b2.rn = r.rn + 1
        |)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  CAST(FLOOR(l * 100000 + 0.5) AS BIGINT) / 100000.0 AS level,
        |  CAST(FLOOR(b * 100000 + 0.5) AS BIGINT) / 100000.0 AS trend,
        |  CAST(FLOOR((l + b) * 100000 + 0.5) AS BIGINT) / 100000.0 AS forecast
        |FROM rec WHERE rn = n""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.holt(Tables(s, dir).events,
        "user_id", Seq("ts", "event_id"), "value", alpha = 0.25, beta = 0.5)),

    // Holt–Winters additive triple smoothing ([[Timeseries.holtWinters]]):
    // level + trend + 4-slot seasonal index, dyadic α=0.25 β=0.5 γ=0.5 so
    // every pre-rounding double is bit-identical; the oracle replays the
    // fold rank-to-rank with the seasonal LIST carried through the
    // recursive CTE (the slot update is two slices + a singleton).
    Reg("ts_holtwinters", Some(
      """WITH RECURSIVE base AS (
        |  SELECT user_id, value AS v,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM events
        |), rec AS (
        |  SELECT user_id, rn, n, v AS l, CAST(0.0 AS DOUBLE) AS b,
        |    [CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0] AS s
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b2.user_id, b2.rn, b2.n,
        |    (b2.v - r.s[((b2.rn - 1) % 4) + 1]) * 0.25 + (r.l + r.b) * 0.75,
        |    ((b2.v - r.s[((b2.rn - 1) % 4) + 1]) * 0.25 + (r.l + r.b) * 0.75
        |      - r.l) * 0.5 + r.b * 0.5,
        |    list_concat(list_concat(
        |      r.s[1:((b2.rn - 1) % 4)],
        |      [(b2.v - ((b2.v - r.s[((b2.rn - 1) % 4) + 1]) * 0.25
        |          + (r.l + r.b) * 0.75)) * 0.5
        |        + r.s[((b2.rn - 1) % 4) + 1] * 0.5]),
        |      r.s[(((b2.rn - 1) % 4) + 2):4])
        |  FROM rec r JOIN base b2
        |    ON b2.user_id = r.user_id AND b2.rn = r.rn + 1
        |)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  CAST(FLOOR(l * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS level,
        |  CAST(FLOOR(b * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS trend,
        |  CAST(FLOOR(s[(n % 4) + 1] * 100000.0 + 0.5) AS BIGINT) / 100000.0
        |    AS season,
        |  CAST(FLOOR((l + b + s[(n % 4) + 1]) * 100000.0 + 0.5) AS BIGINT)
        |    / 100000.0 AS forecast
        |FROM rec WHERE rn = n""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.holtWinters(Tables(s, dir).events,
        "user_id", Seq("ts", "event_id"), "value",
        alpha = 0.25, beta = 0.5, gamma = 0.5, period = 4)),

    // Two-sided CUSUM level-shift detection ([[Timeseries.cusum]]). μ/σ come
    // from exact integer-cents sums, so the standardized residuals entering
    // the fold are bit-identical across engines; the fold itself replays in
    // list_reduce with the same greatest/least arithmetic, drift k = 0.5.
    Reg("ts_cusum", Some(
      """WITH RECURSIVE st AS (
        |  SELECT user_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n,
        |    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY user_id) AS sc,
        |    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
        |        * CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY user_id) AS scc,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cc
        |  FROM events
        |), zz AS (
        |  SELECT user_id, rn, n,
        |    CASE WHEN sqrt(CAST(scc AS DOUBLE) / CAST(n AS DOUBLE)
        |        - (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |          * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0 = 0.0
        |      THEN CAST(0.0 AS DOUBLE)
        |      ELSE (CAST(cc AS DOUBLE) / 100.0
        |            - CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0)
        |        / (sqrt(CAST(scc AS DOUBLE) / CAST(n AS DOUBLE)
        |          - (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))
        |            * (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0)
        |      END AS z
        |  FROM st
        |), rec AS (
        |  SELECT user_id, rn, n,
        |    greatest(z - 0.5, CAST(0.0 AS DOUBLE)) AS p,
        |    least(z + 0.5, CAST(0.0 AS DOUBLE)) AS q,
        |    greatest(z - 0.5, CAST(0.0 AS DOUBLE)) AS mp,
        |    least(z + 0.5, CAST(0.0 AS DOUBLE)) AS mq
        |  FROM zz WHERE rn = 1
        |  UNION ALL
        |  SELECT z2.user_id, z2.rn, z2.n,
        |    greatest(r.p + z2.z - 0.5, CAST(0.0 AS DOUBLE)),
        |    least(r.q + z2.z + 0.5, CAST(0.0 AS DOUBLE)),
        |    greatest(r.mp, greatest(r.p + z2.z - 0.5, CAST(0.0 AS DOUBLE))),
        |    least(r.mq, least(r.q + z2.z + 0.5, CAST(0.0 AS DOUBLE)))
        |  FROM rec r JOIN zz z2
        |    ON z2.user_id = r.user_id AND z2.rn = r.rn + 1
        |)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  CAST(FLOOR(mp * 100000 + 0.5) AS BIGINT) / 100000.0 AS cusum_pos,
        |  CAST(FLOOR(mq * 100000 + 0.5) AS BIGINT) / 100000.0 AS cusum_neg
        |FROM rec WHERE rn = n""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.cusum(Tables(s, dir).events,
        "user_id", Seq("ts", "event_id"), "value", drift = 0.5)),

    // Per-key OLS trend ([[Timeseries.linearTrend]]): slope/intercept/r²
    // from five exact integer sums (x = seconds since the key's first
    // event, y = cents; Σx²/Σxy/Σy² as DECIMAL/HUGEINT), floats only in the
    // final closed-form ratio — identical expression order both engines.
    Reg("ts_linreg", Some(
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT)
        |      - MIN(CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT))
        |        OVER (PARTITION BY user_id) AS x,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |a AS (
        |  SELECT user_id, COUNT(*) AS n, SUM(x) AS sx, SUM(c) AS sy,
        |    SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
        |    SUM(CAST(x AS HUGEINT) * CAST(c AS HUGEINT)) AS sxy,
        |    SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS syy
        |  FROM b GROUP BY user_id),
        |d AS (
        |  SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(sxx AS DOUBLE) AS sxxd, CAST(sxy AS DOUBLE) AS sxyd,
        |    CAST(syy AS DOUBLE) AS syyd
        |  FROM a)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  CAST(FLOOR((CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
        |    ELSE (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * 864.0
        |    END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS slope_per_day,
        |  CAST(FLOOR((CASE WHEN nd * sxxd - sxd * sxd = 0 THEN NULL
        |    ELSE (syd * sxxd - sxd * sxyd) / (nd * sxxd - sxd * sxd) / 100.0
        |    END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS intercept,
        |  CAST(FLOOR((CASE WHEN nd * sxxd - sxd * sxd = 0
        |           OR nd * syyd - syd * syd = 0 THEN NULL
        |    ELSE (nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd)
        |      / ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd))
        |    END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS r2
        |FROM d""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.linearTrend(Tables(s, dir).events,
        "user_id", "ts", "value")),

    // Time-bucket OHLC resample ([[Timeseries.ohlc]]): daily candles per
    // user. open/close picked by lexicographic MIN/MAX over
    // (ts, event_id, value) structs — identical tiebreak on both engines;
    // vsum is the exact-cents sum.
    Reg("ts_ohlc", Some(
      """SELECT user_id,
        |  strftime(date_trunc('day', CAST(ts AS TIMESTAMP)),
        |    '%Y-%m-%d %H:%M:%S') AS bucket_ts,
        |  MIN({'t': CAST(ts AS TIMESTAMP), 'e': event_id, 'v': value}).v AS open,
        |  MAX(value) AS high, MIN(value) AS low,
        |  MAX({'t': CAST(ts AS TIMESTAMP), 'e': event_id, 'v': value}).v AS close,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS vsum
        |FROM events GROUP BY 1, 2""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.ohlc(Tables(s, dir).events,
          "user_id", "ts", "event_id", "value", "day")
        .withColumn("bucket_ts",
          date_format(col("bucket_ts"), "yyyy-MM-dd HH:mm:ss"))),

    // Trailing 1-hour RANGE rolling ([[Timeseries.rollingTime]]): wall-clock
    // window under irregular spacing (vs w4_rolling's row-count frame).
    // Exact-cents running sum; same-second events are RANGE peers on both
    // engines by definition.
    Reg("ts_rolling_time", Some(
      """SELECT user_id, event_id,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
        |    / 100.0 AS roll_sum,
        |  COUNT(*) OVER w AS n_win,
        |  CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w AS DOUBLE)
        |    / 100.0 / (COUNT(*) OVER w) AS roll_mean
        |FROM events
        |WINDOW w AS (PARTITION BY user_id
        |  ORDER BY CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.rollingTime(Tables(s, dir).events,
        "user_id", "ts", "event_id", "value", windowSeconds = 3600L)),

    // Lag-1 autocorrelation ([[Timeseries.acf1]]): persistence screen per
    // user. Six exact sums over the lag pairs (cents BIGINT, products
    // HUGEINT/DECIMAL); single-event keys have no pair and are absent on
    // both engines.
    Reg("ts_acf1", Some(
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cb,
        |    lag(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS ca
        |  FROM events),
        |p AS (SELECT user_id, ca, cb FROM b WHERE ca IS NOT NULL),
        |a AS (
        |  SELECT user_id, COUNT(*) AS n, SUM(ca) AS sa, SUM(cb) AS sb,
        |    SUM(CAST(ca AS HUGEINT) * CAST(ca AS HUGEINT)) AS saa,
        |    SUM(CAST(cb AS HUGEINT) * CAST(cb AS HUGEINT)) AS sbb,
        |    SUM(CAST(ca AS HUGEINT) * CAST(cb AS HUGEINT)) AS sab
        |  FROM p GROUP BY user_id),
        |d AS (
        |  SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
        |    CAST(saa AS DOUBLE) AS saad, CAST(sbb AS DOUBLE) AS sbbd,
        |    CAST(sab AS DOUBLE) AS sabd
        |  FROM a)
        |SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
        |  CAST(FLOOR((CASE WHEN nd * saad - sad * sad = 0
        |           OR nd * sbbd - sbd * sbd = 0 THEN NULL
        |    ELSE (nd * sabd - sad * sbd)
        |      / sqrt((nd * saad - sad * sad) * (nd * sbbd - sbd * sbd))
        |    END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS acf1
        |FROM d""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.acf1(Tables(s, dir).events,
        "user_id", "ts", "event_id", "value")),

    // Trailing-hour rolling MEDIAN ([[Timeseries.rollingMedian]]): exact
    // lower median of the RANGE frame's cents — element, not interpolation,
    // so both engines pick the identical value.
    Reg("ts_rolling_median", Some(
      """WITH b AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS sec,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events)
        |SELECT user_id, event_id, CAST(len(a) AS BIGINT) AS n_win,
        |  CAST(a[CAST((len(a) + 1) // 2 AS BIGINT)] AS DOUBLE) / 100.0
        |    AS roll_median
        |FROM (SELECT user_id, event_id,
        |    list_sort(list(c) OVER (PARTITION BY user_id ORDER BY sec
        |      RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)) AS a
        |  FROM b)""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.rollingMedian(Tables(s, dir).events,
        "user_id", "ts", "event_id", "value", windowSeconds = 3600L)),

    // Linear-interpolation resample ([[Timeseries.interpolate]]): hourly
    // grid values per key; integer-exact interpolation numerator, two
    // directional IGNORE-NULLS windows over events ∪ grid, no join.
    Reg("ts_interp", Some(
      """WITH b AS (
        |  SELECT user_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS sec,
        |    event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |ps AS (SELECT user_id, sec, (MAX({'i': event_id, 'c': c})).c AS c
        |       FROM b GROUP BY 1, 2),
        |sp AS (SELECT user_id,
        |    ((MIN(sec) + 3599) // 3600) * 3600 AS g0,
        |    (MAX(sec) // 3600) * 3600 AS g1
        |  FROM ps GROUP BY 1),
        |g AS (SELECT user_id, CAST(u AS BIGINT) AS sec,
        |    CAST(NULL AS BIGINT) AS c, 0 AS rl
        |  FROM sp, UNNEST(generate_series(g0, g1, 3600)) AS t(u)
        |  WHERE g0 <= g1),
        |al AS (SELECT user_id, sec, c, 1 AS rl FROM ps
        |       UNION ALL SELECT user_id, sec, c, rl FROM g),
        |n AS (SELECT user_id, sec, rl,
        |    last_value(c IGNORE NULLS) OVER wp AS cp,
        |    last_value(CASE WHEN rl = 1 THEN sec END IGNORE NULLS)
        |      OVER wp AS tp,
        |    first_value(c IGNORE NULLS) OVER wn AS cn,
        |    first_value(CASE WHEN rl = 1 THEN sec END IGNORE NULLS)
        |      OVER wn AS tn
        |  FROM al WINDOW
        |    wp AS (PARTITION BY user_id ORDER BY sec, rl DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wn AS (PARTITION BY user_id ORDER BY sec, rl
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, sec AS grid_sec,
        |  CAST(FLOOR((CASE WHEN tn = tp THEN CAST(cp AS DOUBLE) / 100.0
        |    ELSE CAST(CAST(cp AS HUGEINT) * (tn - sec)
        |        + CAST(cn AS HUGEINT) * (sec - tp) AS DOUBLE)
        |      / CAST(tn - tp AS DOUBLE) / 100.0 END) * 100000 + 0.5)
        |    AS BIGINT) / 100000.0 AS interp
        |FROM n WHERE rl = 0 AND cp IS NOT NULL AND cn IS NOT NULL"""
        .stripMargin))(
      (s, dir) => graft.ext.Timeseries.interpolate(Tables(s, dir).events,
        "user_id", "ts", "event_id", "value", stepSeconds = 3600L)),

    // Top 3-step user journeys ([[Funnel.pathTrigrams]]): order-3 paths
    // with a fully-tiebroken top-20 boundary.
    Reg("seq_trigrams", Some(
      """WITH s AS (SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (SELECT t1, t2, t3, COUNT(*) AS n FROM s
        |      WHERE t2 IS NOT NULL AND t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT t1, t2, t3, CAST(n AS BIGINT) AS n
        |FROM c ORDER BY n DESC, t1, t2, t3 LIMIT 20""".stripMargin))(
      (s, dir) => graft.ext.Funnel.pathTrigrams(Tables(s, dir).events,
        "user_id", "ts", Seq("event_id"), "event_type", k = 20)),

    // Time-weighted average ([[Timeseries.twap]]): step-interpolated mean
    // over hold durations — exact BIGINT seconds × cents, one division.
    // Single-event keys absent; all-same-second keys null.
    Reg("ts_twap", Some(
      """WITH b AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS sec,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |d AS (SELECT user_id, c,
        |    lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id)
        |      - sec AS dur
        |  FROM b),
        |a AS (SELECT user_id, COUNT(*) AS nh,
        |    SUM(CAST(dur AS HUGEINT) * CAST(c AS HUGEINT)) AS sdc,
        |    SUM(dur) AS sd
        |  FROM d WHERE dur IS NOT NULL GROUP BY 1)
        |SELECT user_id, CAST(nh AS BIGINT) AS n_holds,
        |  CAST(FLOOR((CASE WHEN sd > 0
        |    THEN CAST(sdc AS DOUBLE) / CAST(sd AS DOUBLE) / 100.0 END)
        |    * 100000 + 0.5) AS BIGINT) / 100000.0 AS twap
        |FROM a""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.twap(Tables(s, dir).events,
        "user_id", "ts", "event_id", "value")),

    // Exact-k weighted sampling without replacement
    // ([[Sampling.weightedTopK]], Efraimidis–Spirakis): 25 docs per
    // source, weight = text length. The hash pins u-derivation, the
    // ln(u)/w key, the DESC ranking and the tiebreak — the whole sample.
    Reg("sample_weighted_topk", Some(
      """SELECT source, doc_id, rn FROM (
        |  SELECT source, doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY ln((CAST(CAST('0x' || substr(md5(text), 1, 13)
        |          AS BIGINT) AS DOUBLE) + 1.0) / 4503599627370496.0)
        |      / CAST(LENGTH(text) AS DOUBLE) DESC, doc_id) AS rn
        |  FROM documents WHERE LENGTH(text) > 0)
        |WHERE rn <= 25""".stripMargin))(
      (s, dir) => graft.ext.Sampling.weightedTopK(Tables(s, dir).documents,
        "doc_id", col("text"), length(col("text")).cast("double"),
        "source", k = 25)),

    // Rank normalization ([[Features.rankNormalize]]): value → rank
    // fraction r/(n+1) within the group, row_number ranks with the id
    // tiebreak — uniform marginals, zero ties ambiguity.
    Reg("feat_rank_normalize", Some(
      """WITH r AS (SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_id, event_type,
        |  CAST(FLOOR(CAST(r AS DOUBLE) / CAST(n + 1 AS DOUBLE)
        |    * 100000 + 0.5) AS BIGINT) / 100000.0 AS u
        |FROM r""".stripMargin))(
      (s, dir) => graft.ext.Features.rankNormalize(Tables(s, dir).events,
        "event_id", "event_type", "value")),

    // Cross-type correlation ([[Timeseries.crossCorr]]): click vs purchase
    // hourly cents sums per user, six exact accumulators, null on zero
    // variance — the acf1 determinism contract on a two-series pairing.
    Reg("ts_xcorr", Some(
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bk,
        |    SUM(CASE WHEN event_type = 'click'
        |        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS a,
        |    SUM(CASE WHEN event_type = 'purchase'
        |        THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS bv
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT user_id, COUNT(*) AS n, SUM(a) AS sa, SUM(bv) AS sb,
        |    SUM(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS saa,
        |    SUM(CAST(bv AS HUGEINT) * CAST(bv AS HUGEINT)) AS sbb,
        |    SUM(CAST(a AS HUGEINT) * CAST(bv AS HUGEINT)) AS sab
        |  FROM b GROUP BY 1),
        |d AS (SELECT user_id, n, CAST(n AS DOUBLE) AS nd,
        |    CAST(sa AS DOUBLE) AS sad, CAST(sb AS DOUBLE) AS sbd,
        |    CAST(saa AS DOUBLE) AS saad, CAST(sbb AS DOUBLE) AS sbbd,
        |    CAST(sab AS DOUBLE) AS sabd
        |  FROM g)
        |SELECT user_id, CAST(n AS BIGINT) AS n_buckets,
        |  CAST(FLOOR((CASE WHEN nd * saad - sad * sad = 0
        |           OR nd * sbbd - sbd * sbd = 0 THEN NULL
        |    ELSE (nd * sabd - sad * sbd)
        |      / sqrt((nd * saad - sad * sad) * (nd * sbbd - sbd * sbd))
        |    END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS xcorr
        |FROM d""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.crossCorr(Tables(s, dir).events,
        "user_id", "ts", "event_type", "value", "click", "purchase")),

    // Time-bounded funnel ([[Funnel.funnelWindowed]]): signup → click →
    // purchase where every later step lands within 1 day of the user's
    // signup anchor — exact-micros window compare.
    Reg("funnel_windowed", Some(
      """WITH s1 AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t,
        |    MIN(epoch_us(CAST(ts AS TIMESTAMP))) AS t0u
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t,
        |    MIN(s1.t0u) AS t0u
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |    AND CAST(e.ts AS TIMESTAMP) >= s1.t
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) - s1.t0u <= 86400000000
        |  WHERE e.event_type = 'click' GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t,
        |    MIN(s2.t0u) AS t0u
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |    AND CAST(e.ts AS TIMESTAMP) >= s2.t
        |    AND epoch_us(CAST(e.ts AS TIMESTAMP)) - s2.t0u <= 86400000000
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |  COUNT(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3""".stripMargin))(
      (s, dir) => graft.ext.Funnel.funnelWindowed(Tables(s, dir).events,
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"),
        windowSeconds = 86400L)),

    // Hashing-trick features ([[Features.hashedCounts]]): tokens → 64
    // md5-hashed buckets, sparse (doc, bucket, n) rows — vocabulary-free
    // and engine-neutral by construction (the hash-match proves it).
    Reg("feat_hashed_counts", Some(
      """SELECT doc_id,
        |  CAST('0x' || substr(md5(tok), 1, 13) AS BIGINT) % 64 AS bucket,
        |  COUNT(*) AS n
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |      FROM documents)
        |GROUP BY 1, 2""".stripMargin))(
      (s, dir) => graft.ext.Features.hashedCounts(Tables(s, dir).documents,
        "doc_id", "text", dims = 64)),

    // l-diversity audit ([[Quality.lDiversity]]): (customer, year) groups
    // whose orders all share ONE priority — attribute disclosure the
    // k-anonymity count alone can't see.
    Reg("dq_l_diversity", Some(
      """SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS y,
        |  COUNT(*) AS n, COUNT(DISTINCT o_orderpriority) AS n_distinct
        |FROM orders GROUP BY 1, 2
        |HAVING COUNT(DISTINCT o_orderpriority) < 2""".stripMargin))(
      (s, dir) => graft.ops.Quality.lDiversity(
        Tables(s, dir).orders.select(col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          col("o_orderpriority")),
        Seq("o_custkey", "y"), "o_orderpriority", l = 2L)),

    // k-anonymity audit ([[Quality.kAnonymity]]): (customer, order-year)
    // combinations carried by fewer than 5 orders — the
    // re-identification surface of a quasi-identifier release.
    Reg("dq_k_anonymity", Some(
      """SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS y,
        |  COUNT(*) AS n
        |FROM orders GROUP BY 1, 2 HAVING COUNT(*) < 5""".stripMargin))(
      (s, dir) => graft.ops.Quality.kAnonymity(
        Tables(s, dir).orders.select(col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("y")),
        Seq("o_custkey", "y"), k = 5L)),

    // Daily-volume anomaly audit ([[Quality.volumeAnomalies]]): |day count
    // − median| > 3·MAD, median and MAD as lower-median ELEMENT picks —
    // exact integer logic end to end, no rounding site at all.
    Reg("dq_volume_anomaly", Some(
      """WITH d AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |             COUNT(*) AS n FROM events GROUP BY 1),
        |c AS (SELECT COUNT(*) AS cnt FROM d),
        |m AS (SELECT n AS med FROM (
        |        SELECT n, row_number() OVER (ORDER BY n, day) AS rn FROM d)
        |      , c WHERE rn = (cnt + 1) // 2),
        |dev AS (SELECT day, n, ABS(n - med) AS dv, med FROM d, m),
        |md AS (SELECT dv AS mad FROM (
        |         SELECT dv, day, row_number() OVER (ORDER BY dv, day) AS rn
        |         FROM dev), c WHERE rn = (cnt + 1) // 2)
        |SELECT strftime(day, '%Y-%m-%d') AS day, CAST(n AS BIGINT) AS n_rows,
        |  med, mad, (ABS(n - med) > 3 * mad) AS is_anomaly
        |FROM dev, md""".stripMargin))(
      (s, dir) => graft.ops.Quality.volumeAnomalies(Tables(s, dir).events,
        "ts", k = 3)),

    // Functional-dependency audit ([[Quality.fdViolations]]): determinants
    // where the claimed FD customer → priority breaks, with min/max
    // conflicting values as evidence. One aggregation, violator-bounded
    // output.
    Reg("dq_fd_violations", Some(
      """SELECT o_custkey, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT o_orderpriority) AS n_distinct,
        |  MIN(o_orderpriority) AS y_min, MAX(o_orderpriority) AS y_max
        |FROM orders GROUP BY 1
        |HAVING COUNT(DISTINCT o_orderpriority) > 1""".stripMargin))(
      (s, dir) => graft.ops.Quality.fdViolations(Tables(s, dir).orders,
        Seq("o_custkey"), "o_orderpriority")),

    // Per-column completeness ([[Quality.completeness]]): null/empty/blank
    // counters for every documents column in ONE aggregation pass,
    // unpivoted to a row per column; exact counts, one int/int division.
    Reg("dq_completeness", Some(
      """WITH a AS (SELECT COUNT(*) AS n,
        |    SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS null_id,
        |    SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS null_t,
        |    SUM(CASE WHEN text = '' THEN 1 ELSE 0 END) AS empty_t,
        |    SUM(CASE WHEN text <> '' AND trim(text) = ''
        |        THEN 1 ELSE 0 END) AS blank_t,
        |    SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS null_l,
        |    SUM(CASE WHEN lang = '' THEN 1 ELSE 0 END) AS empty_l,
        |    SUM(CASE WHEN lang <> '' AND trim(lang) = ''
        |        THEN 1 ELSE 0 END) AS blank_l
        |  FROM documents)
        |SELECT 'doc_id' AS column, n AS n_rows,
        |  CAST(null_id AS BIGINT) AS n_null, CAST(0 AS BIGINT) AS n_empty,
        |  CAST(0 AS BIGINT) AS n_blank,
        |  1.0 - CAST(null_id AS DOUBLE) / CAST(n AS DOUBLE) AS completeness
        |FROM a
        |UNION ALL
        |SELECT 'text', n, CAST(null_t AS BIGINT), CAST(empty_t AS BIGINT),
        |  CAST(blank_t AS BIGINT),
        |  1.0 - CAST(null_t + empty_t + blank_t AS DOUBLE)
        |    / CAST(n AS DOUBLE)
        |FROM a
        |UNION ALL
        |SELECT 'lang', n, CAST(null_l AS BIGINT), CAST(empty_l AS BIGINT),
        |  CAST(blank_l AS BIGINT),
        |  1.0 - CAST(null_l + empty_l + blank_l AS DOUBLE)
        |    / CAST(n AS DOUBLE)
        |FROM a""".stripMargin))(
      (s, dir) => graft.ops.Quality.completeness(
        Tables(s, dir).documents, Seq("doc_id", "text", "lang"))),

    // Chi-square independence ([[graft.ops.Stats.chiSquare]]): is event
    // type associated with day-of-week? Exact integer contingency counts
    // and marginals; each cell term is pure IEEE arithmetic (no
    // transcendental), summed over the 35-cell TABLE (not the data) and
    // r6-rounded (the profile_corr accumulation-order precedent).
    Reg("stat_chi2", Some(
      """WITH o AS (SELECT event_type AS a,
        |    CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS b,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |ra AS (SELECT a, CAST(SUM(n) AS BIGINT) AS ra FROM o GROUP BY 1),
        |rb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS rb FROM o GROUP BY 1),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS tt,
        |        COUNT(DISTINCT a) AS ka, COUNT(DISTINCT b) AS kb FROM o),
        |g AS (SELECT ra.a, rb.b, ra.ra, rb.rb,
        |        COALESCE(o.n, 0) AS n
        |      FROM ra CROSS JOIN rb LEFT JOIN o USING (a, b))
        |SELECT CAST(FLOOR(SUM(
        |    (CAST(n AS DOUBLE)
        |      - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(tt AS DOUBLE))
        |    * (CAST(n AS DOUBLE)
        |      - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(tt AS DOUBLE))
        |    / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(tt AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS chi2,
        |  CAST((MIN(ka) - 1) * (MIN(kb) - 1) AS BIGINT) AS dof,
        |  MIN(tt) AS n,
        |  CAST(FLOOR(sqrt(SUM(
        |    (CAST(n AS DOUBLE)
        |      - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(tt AS DOUBLE))
        |    * (CAST(n AS DOUBLE)
        |      - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(tt AS DOUBLE))
        |    / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE) / CAST(tt AS DOUBLE)))
        |    / (CAST(MIN(tt) AS DOUBLE)
        |      * CAST(LEAST(MIN(ka) - 1, MIN(kb) - 1) AS DOUBLE)))
        |    * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS cramers_v
        |FROM g CROSS JOIN t""".stripMargin))(
      (s, dir) => graft.ops.Stats.chiSquare(Tables(s, dir).events,
        col("event_type"), dayofweek(col("ts")).cast("long"))),

    // Mann–Whitney U / rank AUC ([[graft.ops.Stats.mannWhitney]]): the
    // rank-based effect size between click and error values — doubled
    // midrank arithmetic keeps tie halves exact integers end to end;
    // ONE division yields auc = P(click > error) + ½·P(tie).
    Reg("stat_mwu", Some(
      """WITH f AS (SELECT value AS v,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
        |  FROM events WHERE event_type IN ('click', 'error') GROUP BY 1),
        |c AS (SELECT c1, c1 + c2 AS cnt,
        |        COALESCE(SUM(c1 + c2) OVER (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS prev
        |      FROM f),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |        CAST(SUM(c2) AS BIGINT) AS n2 FROM f),
        |s AS (SELECT SUM(CAST(c1 AS HUGEINT) * (2 * prev + cnt + 1))
        |        AS r1x2 FROM c)
        |SELECT n1, n2,
        |  CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT) AS u1_x2,
        |  CAST(FLOOR(CAST(r1x2 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
        |    / (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS auc
        |FROM s, t""".stripMargin))(
      (s, dir) => graft.ops.Stats.mannWhitney(Tables(s, dir).events,
        "value", "event_type", "click", "error")),

    // Two-sample Kolmogorov–Smirnov ([[graft.ops.Stats.ksTest]]): largest
    // CDF gap between click and error values. The numerator is EXACT
    // (cumulative-count cross-products in 38-digit decimals, emitted as
    // d_num); cumulative counts ride the two-level prefix sum — no
    // single-partition global window at any scale.
    Reg("stat_ks", Some(
      """WITH f AS (SELECT value AS v,
        |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS c2
        |  FROM events WHERE event_type IN ('click', 'error') GROUP BY 1),
        |c AS (SELECT
        |    SUM(c1) OVER (ORDER BY v) AS cc1,
        |    SUM(c2) OVER (ORDER BY v) AS cc2
        |  FROM f),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |        CAST(SUM(c2) AS BIGINT) AS n2 FROM f),
        |m AS (SELECT n1, n2,
        |        MAX(ABS(CAST(cc1 AS HUGEINT) * n2
        |          - CAST(cc2 AS HUGEINT) * n1)) AS dn
        |      FROM c, t GROUP BY n1, n2)
        |SELECT n1, n2, CAST(dn AS BIGINT) AS d_num,
        |  CAST(FLOOR(CAST(dn AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS d
        |FROM m""".stripMargin))(
      (s, dir) => graft.ops.Stats.ksTest(Tables(s, dir).events,
        "value", "event_type", "click", "error")),

    // Weight-of-evidence encoding ([[Features.woeEncode]]): per event
    // type, smoothed ln of the positive-rate ratio against the
    // value ≥ 50 label, plus the information-value contribution — exact
    // integer cells, one factored ln, r5 rounding on both engines.
    Reg("feat_woe", Some(
      """WITH c AS (SELECT event_type,
        |    SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS n_pos,
        |    SUM(CASE WHEN value >= 50 THEN 0 ELSE 1 END) AS n_neg
        |  FROM events GROUP BY 1),
        |t AS (SELECT SUM(n_pos) AS p, SUM(n_neg) AS n FROM c)
        |SELECT event_type, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(FLOOR(ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / n))
        |    * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS woe,
        |  CAST(FLOOR((((n_pos + 0.5) / p) - ((n_neg + 0.5) / n))
        |    * ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / n))
        |    * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS iv
        |FROM c CROSS JOIN t""".stripMargin))(
      (s, dir) => graft.ext.Features.woeEncode(Tables(s, dir).events,
        "event_type", col("value") >= 50)),

    // t-closeness audit ([[Quality.tCloseness]]): (customer, year) groups
    // whose priority distribution sits further than EMD 0.4 from the
    // whole-table distribution — probabilistic disclosure that both the
    // k-anonymity count and the l-diversity distinct count miss. Exact
    // integer EMD numerators (counts × counts), summed as BIGINTs, ONE
    // float division at the end — hash-stable by construction.
    Reg("dq_t_closeness", Some(
      """WITH b AS (SELECT o_custkey, CAST(year(o_orderdate) AS BIGINT) AS y,
        |             o_orderpriority AS v FROM orders),
        |q AS (SELECT v, COUNT(*) AS nv FROM b GROUP BY v),
        |qc AS (SELECT v, CAST(SUM(nv) OVER (ORDER BY v) AS BIGINT) AS cumq
        |       FROM q),
        |tm AS (SELECT CAST(SUM(nv) AS BIGINT) AS nt, COUNT(*) AS m FROM q),
        |gv AS (SELECT o_custkey, y, v, COUNT(*) AS ngv FROM b GROUP BY 1,2,3),
        |g AS (SELECT o_custkey, y, CAST(SUM(ngv) AS BIGINT) AS ng
        |      FROM gv GROUP BY 1, 2),
        |grid AS (SELECT g.o_custkey, g.y, g.ng, qc.v, qc.cumq,
        |           COALESCE(gv.ngv, 0) AS ngv
        |         FROM g CROSS JOIN qc
        |         LEFT JOIN gv ON gv.o_custkey = g.o_custkey
        |           AND gv.y = g.y AND gv.v = qc.v),
        |c AS (SELECT o_custkey, y, ng, cumq,
        |        CAST(SUM(ngv) OVER (PARTITION BY o_custkey, y ORDER BY v)
        |          AS BIGINT) AS cumg
        |      FROM grid),
        |e AS (SELECT o_custkey, y, ng AS n, tm.nt, tm.m,
        |        CAST(SUM(ABS(cumg * tm.nt - cumq * ng)) AS BIGINT) AS numsum
        |      FROM c, tm GROUP BY 1, 2, 3, 4, 5)
        |SELECT o_custkey, y, n,
        |  FLOOR(CAST(numsum AS DOUBLE) / (CAST(n AS DOUBLE) * nt * (m - 1))
        |    * 1000000 + 0.5) / 1000000.0 AS emd
        |FROM e
        |WHERE CAST(numsum AS DOUBLE) / (CAST(n AS DOUBLE) * nt * (m - 1))
        |  > 0.4""".stripMargin))(
      (s, dir) => graft.ops.Quality.tCloseness(
        Tables(s, dir).orders.select(col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("y"),
          col("o_orderpriority")),
        Seq("o_custkey", "y"), "o_orderpriority", t = 0.4)),

    // Benford first-digit audit ([[Quality.benford]]) over order totals:
    // per-digit observed vs expected (constants embedded as shortest-
    // round-trip literals so both engines multiply identical doubles).
    Reg("dq_benford", Some {
      val cases = graft.ops.Quality.benfordLiterals
        .map { case (d, p) => s"WHEN $d THEN $p" }.mkString(" ")
      s"""WITH c AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
         |             AS cc FROM orders),
         |d AS (SELECT CAST(substr(CAST(cc AS VARCHAR), 1, 1) AS BIGINT)
         |        AS digit FROM c WHERE cc > 0),
         |g AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
         |t AS (SELECT SUM(n) AS nt FROM g)
         |SELECT digit, n,
         |  FLOOR(CAST(nt AS DOUBLE) * (CASE digit $cases END) * 10000 + 0.5)
         |    / 10000.0 AS expected,
         |  FLOOR(CAST(n AS DOUBLE) /
         |    (CAST(nt AS DOUBLE) * (CASE digit $cases END)) * 10000 + 0.5)
         |    / 10000.0 AS ratio
         |FROM g, t""".stripMargin
    })(
      (s, dir) => graft.ops.Quality.benford(Tables(s, dir).orders,
        "o_totalprice")),

    // Dyadic half-life decay score ([[Features.decayScore]]): per-user
    // recency-weighted engagement over events, halfLife 7 d / horizon 84 d
    // → H = 12 halving periods. Weights are exact 2^k longs, the sum is
    // one BIGINT, one division at the end — no float exp() anywhere.
    Reg("feat_decay_score", Some(
      """WITH mx AS (SELECT MAX(CAST(ts AS DATE)) AS maxd FROM events),
        |w AS (SELECT user_id,
        |        (1::BIGINT << (12 - LEAST(GREATEST(
        |            date_diff('day', CAST(ts AS DATE), maxd), 0), 84) // 7))
        |          * CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS w
        |      FROM events, mx)
        |SELECT user_id,
        |  FLOOR(CAST(SUM(w) AS DOUBLE) / 409600.0 * 100000 + 0.5)
        |    / 100000.0 AS decay_score
        |FROM w GROUP BY user_id""".stripMargin))(
      (s, dir) => graft.ext.Features.decayScore(Tables(s, dir).events,
        "user_id", "ts", "value", halfLifeDays = 7, horizonDays = 84)),

    // Pareto front ([[Skyline.front2]]): parts undominated on (cheapest
    // price, largest size) — exact-cents criteria so every dominance
    // comparison is integer-exact; oracle is the NOT-EXISTS definition.
    Reg("pareto_front", Some(
      """WITH p0 AS (SELECT p_partkey,
        |  CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c,
        |  CAST(p_size AS BIGINT) AS size FROM part)
        |SELECT p_partkey, price_c, size FROM p0 a
        |WHERE NOT EXISTS (SELECT 1 FROM p0 b
        |  WHERE b.price_c <= a.price_c AND b.size >= a.size
        |    AND (b.price_c < a.price_c OR b.size > a.size))"""
        .stripMargin))(
      (s, dir) => {
        val p0 = Tables(s, dir).part.select(col("p_partkey"),
          floor(col("p_retailprice") * 100 + 0.5).cast("long").as("price_c"),
          col("p_size").cast("long").as("size"))
        graft.ops.Skyline.front2(p0, "price_c", "size")
      }),

    // Item-to-item co-occurrence recommendations ([[Recommend.itemCooccur]])
    // over order baskets: top-5 cosine neighbors per part. sim is three
    // exact integers through one multiply/sqrt/divide — ordering and hash
    // are engine-stable; ties break on the neighbor id.
    Reg("rec_cooccur", Some(
      """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |            FROM lineitem),
        |ni AS (SELECT i, COUNT(*) AS ni FROM bi GROUP BY i),
        |p AS (SELECT x.i AS a, y.i AS c, COUNT(*) AS nij
        |      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i GROUP BY 1, 2),
        |bth AS (SELECT a, c, nij FROM p UNION ALL SELECT c, a, nij FROM p),
        |s AS (SELECT a, c, CAST(nij AS DOUBLE) /
        |        sqrt(CAST(na.ni * nc.ni AS DOUBLE)) AS sim
        |      FROM bth JOIN ni na ON na.i = bth.a JOIN ni nc ON nc.i = bth.c),
        |r AS (SELECT a, c, sim, row_number() OVER (PARTITION BY a
        |        ORDER BY sim DESC, c) AS rk FROM s)
        |SELECT a AS item, c AS rec,
        |  FLOOR(sim * 1000000 + 0.5) / 1000000.0 AS sim,
        |  CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5""".stripMargin))(
      (s, dir) =>
        // compute-at-query (round 15): the round-14 staged read was a
        // staging-boundary breach — the pair-count artifact IS this
        // query's support aggregation, so its "speedup" was cost moved
        // off the clock, not removed (r14 verdict item #2). The basket
        // distinct + self-join run inside the timed window again; the
        // graph-family ingest cost is now benched visibly in
        // pipeline_ingest_layouts instead.
        graft.ext.Recommend.itemCooccur(
          Tables(s, dir).lineitem
            .select(col("l_orderkey").as("b"), col("l_partkey").as("i")),
          "b", "i", topK = 5)),

    // Association rules ([[Recommend.associationRules]], Agrawal & Srikant
    // VLDB'94): directed support/confidence/lift over a DIFFERENT basket
    // projection than rec_cooccur — customer × brand through the
    // orders⋈lineitem⋈part star, the "buyers of brand A also buy brand B"
    // shape. Counts exact; three ratio columns rounded at one site each.
    Reg("rec_rules", Some(
      """WITH bi AS (SELECT DISTINCT o_custkey AS b, p_brand AS i
        |            FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |            JOIN part ON p_partkey = l_partkey),
        |n AS (SELECT COUNT(DISTINCT b) AS N FROM bi),
        |ni AS (SELECT i, COUNT(*) AS ni FROM bi GROUP BY i),
        |p AS (SELECT x.i AS a, y.i AS c, COUNT(*) AS nij
        |      FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 400),
        |d AS (SELECT a, c, nij FROM p UNION ALL SELECT c, a, nij FROM p)
        |SELECT a AS antecedent, c AS consequent, nij AS n_joint,
        |  FLOOR(CAST(nij AS DOUBLE) / N * 1000000 + 0.5) / 1000000.0
        |    AS support,
        |  FLOOR(CAST(nij AS DOUBLE) / na.ni * 1000000 + 0.5) / 1000000.0
        |    AS confidence,
        |  FLOOR(CAST(N AS DOUBLE) * nij / (na.ni * nc.ni) * 1000000 + 0.5)
        |    / 1000000.0 AS lift
        |FROM d JOIN ni na ON na.i = d.a JOIN ni nc ON nc.i = d.c
        |CROSS JOIN n""".stripMargin))(
      (s, dir) => {
        // compute-at-query (round 15): the round-14 staged read was a
        // staging-boundary breach — the pair-count artifact was this
        // query's own support aggregation (r14 verdict item #2: the
        // timed query had shrunk to a filter plus three ratio columns).
        // The star join + basket self-join run inside the timed window
        // again.
        val t = Tables(s, dir)
        graft.ext.Recommend.associationRules(
          t.orders
            .join(t.lineitem, col("l_orderkey") === col("o_orderkey"))
            .join(t.part, col("p_partkey") === col("l_partkey"))
            .select(col("o_custkey").as("b"), col("p_brand").as("i")),
          "b", "i", minCount = 400)
      }),

    // Hour-of-day seasonal index ([[Timeseries.seasonal]]): bucket mean /
    // key mean, integer-first ratio (Σc_b·n_key)/(n_b·Σc_key) — two
    // multiplies and one divide are the only float ops.
    Reg("ts_seasonal", Some(
      """WITH a AS (
        |  SELECT user_id, CAST(hour(ts) AS BIGINT) AS hour,
        |    SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS s,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, SUM(s) AS st, SUM(n) AS nt FROM a GROUP BY 1)
        |SELECT a.user_id, hour, CAST(n AS BIGINT) AS n_events,
        |  CAST(FLOOR((CASE WHEN st = 0 THEN NULL ELSE
        |    (CAST(s AS DOUBLE) * CAST(nt AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(st AS DOUBLE)) END)
        |    * 100000 + 0.5) AS BIGINT) / 100000.0 AS seasonal_idx
        |FROM a JOIN t USING (user_id)""".stripMargin))(
      (s, dir) => graft.ext.Timeseries.seasonal(Tables(s, dir).events,
        "user_id", "ts", "value")),

    // Trailing-hour rolling z-score anomalies ([[Timeseries.anomalies]]):
    // z = (n·c − Σc)/√(n·Σc² − (Σc)²) over the self-inclusive 1h RANGE
    // frame — numerator and radicand exact integers, the |z| > 3 filter
    // compares identical doubles on both engines. minN 5 so sparse
    // windows never flag.
    Reg("ts_anomaly", Some(
      """WITH b AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS sec,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |w AS (SELECT user_id, event_id, c,
        |    COUNT(*) OVER win AS n, SUM(c) OVER win AS s,
        |    SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) OVER win AS scc
        |  FROM b WINDOW win AS (PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT user_id, event_id, n,
        |    CASE WHEN CAST(n AS HUGEINT) * scc
        |              - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) > 0
        |      THEN CAST(n * c - s AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * scc
        |            - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE))
        |      END AS zr
        |  FROM w)
        |SELECT user_id, event_id, CAST(n AS BIGINT) AS n_win,
        |  CAST(FLOOR(zr * 100000 + 0.5) AS BIGINT) / 100000.0 AS z
        |FROM z WHERE n >= 5 AND zr IS NOT NULL AND abs(zr) > 3.0"""
        .stripMargin))(
      (s, dir) => graft.ext.Timeseries.anomalies(Tables(s, dir).events,
        "user_id", "ts", "event_id", "value", windowSeconds = 3600L,
        threshold = 3.0, minN = 5L)),

    // Behavioral entropy ([[Funnel.typeEntropy]]): Shannon entropy of the
    // per-user event-type mix, factored H = ln n − (Σ c·ln c)/n with the
    // Σ as a type-ordered LEFT FOLD on both engines (list_reduce's
    // seed-first fold equals the 0.0-seeded fold bit-for-bit: 0+x = x).
    Reg("seq_entropy", Some(
      """WITH c AS (SELECT user_id, event_type, COUNT(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |l AS (SELECT user_id, SUM(cnt) AS n,
        |    list(CAST(cnt AS DOUBLE) * ln(CAST(cnt AS DOUBLE))
        |         ORDER BY event_type) AS terms
        |  FROM c GROUP BY 1)
        |SELECT user_id, CAST(n AS BIGINT) AS n_events,
        |  CAST(FLOOR((ln(CAST(n AS DOUBLE)) -
        |    list_reduce(terms, (a, x) -> a + x) / CAST(n AS DOUBLE))
        |    * 100000 + 0.5) AS BIGINT) / 100000.0 AS entropy
        |FROM l""".stripMargin))(
      (s, dir) => graft.ext.Funnel.typeEntropy(Tables(s, dir).events,
        "user_id", "event_type")),

    // Per-group z-score standardization ([[Features.standardize]]):
    // z = (n·c − S)/√(n·Σc² − S²), exact-integer numerator and radicand
    // (HUGEINT ↔ DECIMAL(38,0)); zero-variance groups null.
    Reg("feat_standardize", Some(
      """WITH b AS (
        |  SELECT l_orderkey, l_linenumber, l_returnflag,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM lineitem),
        |a AS (SELECT l_returnflag, COUNT(*) AS n, SUM(c) AS s,
        |    SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS scc
        |  FROM b GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, b.l_returnflag,
        |  CAST(FLOOR((CASE WHEN CAST(n AS HUGEINT) * scc
        |        - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) > 0
        |    THEN CAST(CAST(n AS HUGEINT) * CAST(c AS HUGEINT)
        |        - CAST(s AS HUGEINT) AS DOUBLE)
        |      / sqrt(CAST(CAST(n AS HUGEINT) * scc
        |          - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE))
        |    END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS z
        |FROM b JOIN a USING (l_returnflag)""".stripMargin))(
      (s, dir) => graft.ext.Features.standardize(Tables(s, dir).lineitem,
        Seq("l_orderkey", "l_linenumber"), "l_returnflag",
        "l_extendedprice")),

    // Surrogate-key assignment ([[graft.ops.Rank.surrogateIds]]): dense
    // deterministic ids 1..N over a string dimension in key sort order —
    // the warehouse "encode dimension" / vocabulary-id step. The engine
    // side is the two-level-prefix-sum global rank (no single-partition
    // corpus window; the ORDER BY window touches one row per 2-char key
    // prefix); the oracle is the definition itself. Sort parity: p_name is
    // ASCII, both engines compare binary.
    Reg("dim_surrogate", Some(
      """SELECT p_name, row_number() OVER (ORDER BY p_name) AS id
        |FROM (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)"""
        .stripMargin))(
      (s, dir) => graft.ops.Rank.surrogateIds(Tables(s, dir).part, "p_name")),

    // ST: streaming EWMA — [[graft.ext.Streaming.ewmaSummaries]], the O(1)-
    // state incremental form of w8_ewma (the batch fold needs the key's
    // whole history in one task; the stream carries only (n, ewma)). Shares
    // w8_ewma's oracle: the hash proves the microbatch fold equals the
    // batch recursion row for row.
    Reg("stream_ewma", Some(
      """WITH s AS (
        |  SELECT user_id,
        |    list_transform(list_sort(list({'t': ts, 'e': event_id, 'v': value})),
        |      r -> r.v) AS vs,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
        |  CAST(FLOOR(list_reduce(vs, (acc, x) -> acc * 0.75 + x * 0.25)
        |    * 100000 + 0.5) AS BIGINT) / 100000.0 AS ewma
        |FROM s""".stripMargin))(
      (s, dir) => graft.ext.Streaming.ewmaSummaries(
        s, Tables(s, dir).events, alpha = 0.25)),

    // ST: streaming anomaly detection — [[Streaming.anomalySummaries]],
    // the bounded-state incremental twin of ts_anomaly (state = only the
    // key's last hour of events; the batch RANGE window re-scans the
    // partition). Shares ts_anomaly's oracle verbatim: the hash proves
    // the evicting buffer reproduces the wall-clock frame — peers,
    // minN, radicand bits and all.
    Reg("stream_anomaly", Some(
      """WITH b AS (
        |  SELECT user_id, event_id,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS sec,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events),
        |w AS (SELECT user_id, event_id, c,
        |    COUNT(*) OVER win AS n, SUM(c) OVER win AS s,
        |    SUM(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) OVER win AS scc
        |  FROM b WINDOW win AS (PARTITION BY user_id ORDER BY sec
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)),
        |z AS (SELECT user_id, event_id, n,
        |    CASE WHEN CAST(n AS HUGEINT) * scc
        |              - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) > 0
        |      THEN CAST(n * c - s AS DOUBLE)
        |        / sqrt(CAST(CAST(n AS HUGEINT) * scc
        |            - CAST(s AS HUGEINT) * CAST(s AS HUGEINT) AS DOUBLE))
        |      END AS zr
        |  FROM w)
        |SELECT user_id, event_id, CAST(n AS BIGINT) AS n_win,
        |  CAST(FLOOR(zr * 100000 + 0.5) AS BIGINT) / 100000.0 AS z
        |FROM z WHERE n >= 5 AND zr IS NOT NULL AND abs(zr) > 3.0"""
        .stripMargin))(
      (s, dir) => graft.ext.Streaming.anomalySummaries(
        s, Tables(s, dir).events, windowSeconds = 3600L,
        threshold = 3.0, minN = 5L)),

    // Funnel: ordered-step reach counts (signup → click → purchase, each
    // step at or after the user's earliest previous-step completion).
    Reg("funnel", Some(
      """WITH s1 AS (
        |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |    AND CAST(e.ts AS TIMESTAMP) >= s1.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |    AND CAST(e.ts AS TIMESTAMP) >= s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
        |)
        |SELECT CAST(1 AS BIGINT) AS step, 'signup' AS event_type,
        |  COUNT(*) AS n_users FROM s1
        |UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3""".stripMargin))(
      (s, dir) => graft.ext.Funnel.funnel(Tables(s, dir).events,
        "user_id", "ts", "event_type", Seq("signup", "click", "purchase"))),

    // W: global top-k — orderBy + limit with a unique tiebreak.
    Reg("w3_global_topk", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin))(
      (s, dir) => Tables(s, dir).orders
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)),

    // J-asof: as-of join — each click matched to the LATEST purchase at or
    // before it per user. Oracle is DuckDB's native ASOF JOIN; both sides
    // compare at microsecond precision (CAST from ns) and dedup purchases
    // per (user, ts) with the same struct-max policy. Timestamps stay out
    // of the output per the parity rules.
    Reg("j_asof", Some(
      s"""WITH $duckAsofSides
        |SELECT c.click_id, c.user_id, p.purchase_id, p.purchase_value
        |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts"""
        .stripMargin))(
      (s, dir) => {
        val (clicks, purchases) = asofSides(s, dir)
        asofJoin(clicks, purchases, "user_id", "ts",
            Seq("purchase_id", "purchase_value"))
          .select("click_id", "user_id", "purchase_id", "purchase_value")
      }),

    // J-asof with backward tolerance: same as j_asof but a match older than
    // 30 minutes counts as no match (pandas merge_asof `tolerance`). The
    // oracle is DuckDB's native ASOF JOIN with the gap filtered after —
    // identical semantics for how='inner'.
    Reg("j_asof_gap", Some(
      s"""WITH $duckAsofSides
        |SELECT c.click_id, c.user_id, p.purchase_id, p.purchase_value
        |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
        |WHERE c.ts - p.ts <= INTERVAL 30 MINUTE""".stripMargin))(
      (s, dir) => {
        val (clicks, purchases) = asofSides(s, dir)
        asofJoin(clicks, purchases, "user_id", "ts",
            Seq("purchase_id", "purchase_value"),
            maxGap = Some(expr("INTERVAL 30 MINUTES")))
          .select("click_id", "user_id", "purchase_id", "purchase_value")
      }),

    // J-asof forward: earliest purchase at or after each click (pandas
    // merge_asof direction='forward'); oracle = DuckDB ASOF with the
    // inequality flipped.
    Reg("j_asof_fwd", Some(
      s"""WITH $duckAsofSides
        |SELECT c.click_id, c.user_id, p.purchase_id, p.purchase_value
        |FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts"""
        .stripMargin))(
      (s, dir) => {
        val (clicks, purchases) = asofSides(s, dir)
        asofJoin(clicks, purchases, "user_id", "ts",
            Seq("purchase_id", "purchase_value"), direction = "forward")
          .select("click_id", "user_id", "purchase_id", "purchase_value")
      }),

    // J-asof nearest: closer of the backward/forward matches, ties
    // backward (pandas merge_asof direction='nearest'). The oracle builds
    // both DuckDB ASOF sides and replays the same tie-break CASE.
    Reg("j_asof_nearest", Some(
      s"""WITH $duckAsofSides,
        |b AS (SELECT c.click_id, c.user_id, c.ts, p.ts AS mts,
        |        p.purchase_id AS pid, p.purchase_value AS pv
        |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts),
        |f AS (SELECT c.click_id, p.ts AS mts,
        |        p.purchase_id AS pid, p.purchase_value AS pv
        |      FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts)
        |SELECT b.click_id, b.user_id,
        |  CASE WHEN b.mts IS NOT NULL
        |         AND (f.mts IS NULL OR b.ts - b.mts <= f.mts - b.ts)
        |       THEN b.pid ELSE f.pid END AS purchase_id,
        |  CASE WHEN b.mts IS NOT NULL
        |         AND (f.mts IS NULL OR b.ts - b.mts <= f.mts - b.ts)
        |       THEN b.pv ELSE f.pv END AS purchase_value
        |FROM b JOIN f USING (click_id)
        |WHERE b.mts IS NOT NULL OR f.mts IS NOT NULL""".stripMargin))(
      (s, dir) => {
        val (clicks, purchases) = asofSides(s, dir)
        asofJoin(clicks, purchases, "user_id", "ts",
            Seq("purchase_id", "purchase_value"), direction = "nearest")
          .select("click_id", "user_id", "purchase_id", "purchase_value")
      }),

    // J-range: interval-containment join — events bucketed into value
    // bands. The oracle is the plain BETWEEN-style theta join; the Spark
    // side is the binned equi-join rewrite, so the hash compare certifies
    // the rewrite is containment-exact.
    Reg("j_range", Some(
      """SELECT event_id, band FROM events
        |JOIN (VALUES (0.0, 125.0, 'q1'), (125.0, 250.0, 'q2'),
        |             (250.0, 375.0, 'q3'), (375.0, 1000.0, 'q4'))
        |  b(lo, hi, band)
        |ON value >= lo AND value < hi""".stripMargin))(
      (s, dir) => {
        import s.implicits._
        val bands = Seq((0.0, 125.0, "q1"), (125.0, 250.0, "q2"),
          (250.0, 375.0, "q3"), (375.0, 1000.0, "q4")).toDF("lo", "hi", "band")
        rangeJoin(Tables(s, dir).events, bands,
            valCol = "value", loCol = "lo", hiCol = "hi", binSize = 125.0)
          .select("event_id", "band")
      }),

    // Set ops: UNION (distinct) then EXCEPT.
    Reg("set1_union_except", Some(
      """(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        | UNION
        | SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'"""
        .stripMargin))(
      (s, dir) => {
        val c = Tables(s, dir).customer
        val a = c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        val b = c.where(col("c_acctbal") > 5000).select("c_custkey")
        val x = c.where(col("c_mktsegment") === "MACHINERY").select("c_custkey")
        a.union(b).distinct().except(x)
      }),

    // Set ops: INTERSECT.
    Reg("set2_intersect", Some(
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 1000""".stripMargin))(
      (s, dir) => {
        val c = Tables(s, dir).customer
        c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
          .intersect(c.where(col("c_acctbal") > 1000).select("c_custkey"))
      }),

    // A-ext: CUBE over two keys (grouping-sets family; Spark + DuckDB both
    // emit NULL for rolled-up key levels).
    Reg("a7_cube", Some(
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""
        .stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .cube("l_returnflag", "l_linestatus")
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))),

    // A-ext: ROLLUP (hierarchical subtotals).
    Reg("a8_rollup", Some(
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
         |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""
        .stripMargin))(
      (s, dir) => Tables(s, dir).orders
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n_orders"))),

    // A-ext: exact distinct count per group (the HLL approx variant is
    // registered rows-only below — approx sketches differ across engines).
    Reg("a9_count_distinct", Some(
      """SELECT o_orderpriority, COUNT(DISTINCT o_custkey) AS n_customers
        |FROM orders GROUP BY o_orderpriority""".stripMargin))(
      (s, dir) => Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_customers"))),

    // A-ext: exact interpolating median per group (both engines average the
    // two middle values for even counts).
    Reg("a10_median", Some(
      """SELECT l_returnflag, median(l_quantity) AS med
        |FROM lineitem GROUP BY l_returnflag""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("med"))),

    // A-ext: min/max/avg trio (absent from the reference; §2.4 note). The
    // mean divides an exact decimal sum by the count so parallel
    // accumulation order cannot move the low double bits.
    Reg("a14_minmax_avg", Some(
      s"""SELECT l_returnflag,
         |  min(l_quantity) AS min_q, max(l_quantity) AS max_q,
         |  ${sqlDsum("l_quantity")} / COUNT(*) AS avg_q
         |FROM lineitem GROUP BY l_returnflag""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(min(col("l_quantity")).as("min_q"),
          max(col("l_quantity")).as("max_q"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_q"))),

    // A-ext: exact interpolating quantiles per group (both engines linearly
    // interpolate between order statistics — same definition, exact match).
    Reg("a11_quantiles", Some(
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.25) AS q25,
        |  quantile_cont(l_quantity, 0.5) AS q50,
        |  quantile_cont(l_quantity, 0.75) AS q75
        |FROM lineitem GROUP BY l_returnflag""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("q25"),
          expr("percentile(l_quantity, 0.5)").as("q50"),
          expr("percentile(l_quantity, 0.75)").as("q75"))),

    // A-ext: WEIGHTED quantiles ([[Clean.weightedQuantiles]]) — the
    // survey-estimation / importance-weighted form pandas users hand-roll
    // with sort+cumsum. Histogram shape: the cumulative window walks
    // DISTINCT prices only, all comparisons on exact BIGINT weight totals,
    // so both engines pick the identical cut element (never interpolated).
    Reg("a17_weighted_quantile", Some(
      """WITH h AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS x,
        |    SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS w
        |  FROM lineitem GROUP BY 1, 2
        |), c AS (
        |  SELECT g, x,
        |    SUM(w) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(w) OVER (PARTITION BY g) AS n
        |  FROM h)
        |SELECT g AS l_returnflag,
        |  MIN(CASE WHEN cum >= greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |           THEN x END) AS wq50,
        |  MIN(CASE WHEN cum >= greatest(1, CAST(ceil(0.9 * n) AS BIGINT))
        |           THEN x END) AS wq90
        |FROM c GROUP BY 1""".stripMargin))(
      (s, dir) => graft.ops.Clean.weightedQuantiles(Tables(s, dir).lineitem,
          "l_extendedprice", "l_quantity", "l_returnflag",
          Seq("wq50" -> 0.5, "wq90" -> 0.9))
        .withColumnRenamed("__g", "l_returnflag")),

    // A-ext: sketch-based quantiles — driver-checkable since r11. The
    // GK-style sketch value is engine-specific, but its CONTRACT is not:
    // with accuracy a, the returned value's rank error is ≤ n/a. So the
    // result replays the group's exact row count (hash-oracled) plus a
    // within_bound flag asserting the approximate q25's rank sits inside
    // [0.25n − n/a, 0.25n + n/a] — computed from exact < / ≤ counts
    // against the returned value. Bound violation ⇒ flag flips ⇒ hash
    // fails loudly. Exact-rank counting is the verification arm; the
    // exact-quantile headline is a11_quantiles above.
    Reg("a11_approx_quantiles", Some(
      """SELECT l_returnflag, COUNT(*) AS n, TRUE AS within_bound
        |FROM lineitem GROUP BY 1""".stripMargin), kind = "arm")(
      (s, dir) => {
        val li = Tables(s, dir).lineitem
        // ckpt: the 3-row sketch aggregate feeds the rank-count join AND
        // the final select — truncate so the GK pass runs once, not per
        // consumer
        val ap = li.groupBy("l_returnflag")
          .agg(expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)")
            .getItem(0).as("__v"), count(lit(1)).as("n"))
          .ckpt()
        val rk = li
          .join(ap.select(col("l_returnflag"), col("__v")), Seq("l_returnflag"))
          .groupBy("l_returnflag")
          .agg(sum(when(col("l_quantity") < col("__v"), 1L).otherwise(0L))
            .as("__lt"),
            sum(when(col("l_quantity") <= col("__v"), 1L).otherwise(0L))
              .as("__le"))
        ap.join(rk, Seq("l_returnflag"))
          .select(col("l_returnflag"), col("n"),
            (col("__lt") <= ceil(lit(0.25) * col("n") + col("n") / lit(10000.0)) &&
              col("__le") >= floor(lit(0.25) * col("n") - col("n") / lit(10000.0)))
              .as("within_bound"))
      }),

    // R5: unpivot (wide->long), the inverse of R1 — pivot events wide, melt
    // back; nulls (absent cells) dropped on both sides.
    Reg("r5_unpivot", Some {
      val eventTypes = CoreQueries.eventTypes
      val wideSql = eventTypes
        .map(t => s"  max(CASE WHEN event_type = '$t' THEN value END) AS $t")
        .mkString(",\n")
      val arms = eventTypes
        .map(t => s"SELECT user_id, '$t' AS event_type, $t AS value FROM wide WHERE $t IS NOT NULL")
        .mkString("\nUNION ALL\n")
      s"""WITH wide AS (SELECT user_id,\n$wideSql\n  FROM events GROUP BY user_id)
         |$arms""".stripMargin
    })(
      (s, dir) => {
        val eventTypes = CoreQueries.eventTypes
        val wide = graft.ops.Reshape.pivotWide(Tables(s, dir).events,
          Seq("user_id"), "event_type", eventTypes, "value")
        graft.ops.Reshape.meltView(wide, Seq("user_id"), eventTypes,
            "event_type", "value")
          .na.drop("any", Seq("value"))
      }),

    // A-ext: variance-family stats, rounded (parallel Welford merge vs the
    // oracle's sequential pass differ only in ~1e-12 relative error).
    Reg("a12_stats", Some(
      """SELECT l_returnflag,
        |  ROUND(stddev_samp(l_quantity), 6) AS sd,
        |  ROUND(corr(l_quantity, l_extendedprice), 6) AS c
        |FROM lineitem GROUP BY l_returnflag""".stripMargin))(
      (s, dir) => Tables(s, dir).lineitem
        .groupBy("l_returnflag")
        .agg(round(stddev_samp(col("l_quantity")), 6).as("sd"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("c"))),

    // F-ext: time-series gap fill — the resample step reporting pipelines
    // need: the full (day × event_type) grid over the corpus span, absent
    // combinations as explicit zeros. The grid derives from a 1-row span
    // aggregate exploded through sequence() (broadcast; never a driver
    // collect), so the shape holds for a 10-year × 10^4-key grid.
    Reg("f_gapfill", Some(
      """WITH daily AS (
        |  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |    event_type, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2
        |), span AS (
        |  SELECT date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS d0,
        |         date_trunc('day', max(CAST(ts AS TIMESTAMP))) AS d1
        |  FROM events
        |), days AS (
        |  SELECT strftime(u, '%Y-%m-%d') AS day
        |  FROM span, UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS t(u)
        |), types AS (SELECT DISTINCT event_type FROM events)
        |SELECT day, event_type, COALESCE(n, 0) AS n
        |FROM days CROSS JOIN types
        |LEFT JOIN daily USING (day, event_type)""".stripMargin))(
      (s, dir) => {
        val e = Tables(s, dir).events
        val daily = e.groupBy(
            date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val span = e.agg(date_trunc("day", min(col("ts"))).as("d0"),
          date_trunc("day", max(col("ts"))).as("d1"))
        val days = span.select(explode(
            sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY"))).as("d"))
          .select(date_format(col("d"), "yyyy-MM-dd").as("day"))
        val types = e.select("event_type").distinct()
        days.crossJoin(types)
          .join(daily, Seq("day", "event_type"), "left")
          .select(col("day"), col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"))
      }),

    // A-ext: explicit GROUPING SETS (the general form cube/rollup derive
    // from) — one aggregation pass emitting both groupings; the identical
    // ANSI text runs on both engines via the temp-view SQL path.
    Reg("a15_grouping_sets", Some(
      s"""SELECT l_returnflag, l_linestatus, ${sqlDsum("l_quantity")} AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""
        .stripMargin))(
      (s, dir) => {
        graft.io.Sources.registerViews(s, dir)
        s.sql(
          s"""SELECT l_returnflag, l_linestatus, ${sqlDsum("l_quantity")} AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"""
            .stripMargin)
      }),

    // W-ext: ntile deciles over a GLOBAL ordering — inherently one
    // partition for the final numbering (ntile needs the total order), so
    // this exists for API completeness on bounded outputs; the scalable
    // path for quantile bucketing at corpus size is a11_quantiles'
    // approx_percentile cuts + a histogram-style bin join.
    Reg("w5_ntile", Some(
      """SELECT o_orderkey,
        |  CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT)
        |    AS decile
        |FROM orders""".stripMargin))(
      (s, dir) => Tables(s, dir).orders.select(col("o_orderkey"),
        ntile(10).over(Window.orderBy(col("o_totalprice"), col("o_orderkey")))
          .cast("long").as("decile"))),

    // A-ext: deterministic argmax via struct max (field-by-field compare in
    // both engines; the id tiebreak makes ties impossible).
    Reg("a13_argmax", Some(
      """SELECT o_orderpriority,
        |  struct_extract(max(ROW(o_totalprice, o_orderkey)), 2) AS top_orderkey
        |FROM orders GROUP BY o_orderpriority""".stripMargin))(
      (s, dir) => Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(max(struct(col("o_totalprice"), col("o_orderkey")))
          .getField("o_orderkey").as("top_orderkey"))),

    // A-ext: HLL approx distinct — driver-checkable since r11. The HLL
    // estimate itself is engine-specific bits no second engine replays,
    // so the RESULT carries the exact distinct count (hash-replayed by
    // the oracle) plus a within_bound flag pinning |hll − exact|/exact
    // ≤ 3·rsd — a bound violation flips the flag and fails the hash
    // loudly instead of slipping through a rows-only check. The exact
    // countDistinct is verification scaffolding (kind = "arm"); the
    // production 100 TB path is the bare approx_count_distinct, whose
    // estimator accuracy CheckProps gates independently.
    Reg("a9_approx_distinct", Some(
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS exact_customers,
        |  TRUE AS within_bound
        |FROM orders GROUP BY 1""".stripMargin), kind = "arm")(
      (s, dir) => Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(approx_count_distinct(col("o_custkey"), 0.05).as("__hll"),
          countDistinct(col("o_custkey")).as("exact_customers"))
        .select(col("o_orderpriority"), col("exact_customers"),
          (abs(col("__hll") - col("exact_customers")).cast("double")
            / col("exact_customers") <= lit(0.15)).as("within_bound"))),

    // Incremental cardinality — the 100 TB distinct-count posture made
    // PERSISTENT: per-batch HLL sketches (Apache DataSketches via Spark's
    // hll_sketch_agg) are built once at ingest time, land in parquet as
    // a binary column, and any later job answers "distinct users so far"
    // with one hll_union_agg over the TINY sketch table — never
    // re-scanning events (the dedup_incr_near_persisted pattern applied
    // to cardinality; sketches merge associatively, so per-batch build +
    // union ≡ one global build). a9's bound-style oracle: the result
    // replays the exact distinct count (hash-oracled) plus a
    // within_bound flag pinning the MERGED estimate read back from disk
    // to ≤ 3·rsd (lgK = 12 → rsd ≈ 1.6%, bound 5%).
    Reg("sketch_hll_incr", Some(
      """SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_batches,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events""".stripMargin), kind = "arm")(
      (s, dir) => {
        val sk = s.read.parquet(s"${stagedHllSketches(s, dir)}/hll_batches.parquet")
        val est = sk.agg(count(lit(1)).as("n_batches"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
        val exact = Tables(s, dir).events
          .agg(countDistinct(col("user_id")).as("exact_users"))
        est.crossJoin(broadcast(exact)).select(
          col("n_batches"), col("exact_users"),
          (abs(col("__est") - col("exact_users")).cast("double")
            / col("exact_users") <= lit(0.05)).as("within_bound"))
      }),

    // HLL SET OPERATION — intersection cardinality by inclusion-exclusion
    // over mergeable sketches (|A∩B| ≈ est(A) + est(B) − est(A∪B), the
    // standard audience-overlap estimator): "how many users both viewed
    // AND purchased" answered from two per-segment sketches and one
    // union, never a set join. At 100 TB the two sketches are KB-sized
    // ingest-time artifacts (sketch_hll_incr's posture), so overlap
    // queries across any segment pair are O(sketch) — the exact
    // DISTINCT-join here exists only to oracle the guarantee. Bound:
    // three lgK=12 estimates (rsd ≈ 1.6%) each off by ≤ 3·rsd of their
    // own cardinality ⇒ |err∩| ≤ 3·rsd·(|A|+|B|+|A∪B|) ≤ 10% of
    // (|A|+|B|); a violation flips within_bound and fails the hash.
    Reg("sketch_hll_intersect", Some(
      """WITH f AS (SELECT user_id,
        |    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS isv,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS isp
        |  FROM events GROUP BY 1)
        |SELECT CAST(SUM(isv) AS BIGINT) AS exact_view,
        |  CAST(SUM(isp) AS BIGINT) AS exact_purchase,
        |  CAST(SUM(isv * isp) AS BIGINT) AS exact_both,
        |  TRUE AS within_bound
        |FROM f""".stripMargin), kind = "arm")(
      (s, dir) => {
        val e = Tables(s, dir).events
        val est = e.agg(
            expr("hll_sketch_agg(CASE WHEN event_type = 'view' " +
              "THEN user_id END, 12)").as("skv"),
            expr("hll_sketch_agg(CASE WHEN event_type = 'purchase' " +
              "THEN user_id END, 12)").as("skp"))
          .select(expr("hll_sketch_estimate(skv)").as("ea"),
            expr("hll_sketch_estimate(skp)").as("eb"),
            expr("hll_sketch_estimate(hll_union(skv, skp))").as("eu"))
        val exact = e.groupBy("user_id").agg(
            max(when(col("event_type") === "view", 1L).otherwise(0L)).as("isv"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("isp"))
          .agg(sum("isv").as("exact_view"), sum("isp").as("exact_purchase"),
            sum(col("isv") * col("isp")).as("exact_both"))
        exact.crossJoin(broadcast(est)).select(
          col("exact_view"), col("exact_purchase"), col("exact_both"),
          (abs(col("ea") + col("eb") - col("eu") - col("exact_both"))
            <= lit(0.10) * (col("exact_view") + col("exact_purchase")))
            .as("within_bound"))
      }),

    // F-json: JSON field extraction from the events props column.
    Reg("f_json_extract", Some(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin))(
      (s, dir) => Tables(s, dir).events.select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))),

    // F-json via Spark 4 VARIANT: parse once into the binary-encoded
    // semi-structured type, then typed-path extraction — the modern
    // replacement for per-field get_json_object re-parsing (VARIANT
    // parses the document ONCE however many fields are read; at 100 TB
    // of event props that is the difference between one JSON parse per
    // row and one per field). Same oracle as the string-path twin —
    // the two extraction paths must agree byte-for-byte.
    Reg("f_variant_get", Some(
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events""".stripMargin))(
      (s, dir) => Tables(s, dir).events.select(
        col("event_id"),
        try_variant_get(parse_json(col("props")), "$.k", "long").as("k"))),

    // F-date: day-truncated temporal rollup; the day leaves the result as a
    // formatted string so timestamp representations never hit the compare.
    Reg("f_date_trunc", Some(
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |  COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1""".stripMargin))(
      (s, dir) => Tables(s, dir).events
        .groupBy(date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))),

    // F-date: calendar part extraction (int parts cast to BIGINT to match
    // DuckDB's year/month/day return type).
    // F-ext: ordered distinct string aggregation — the report-friendly
    // "list the values" rollup. collect_set order is partition-dependent,
    // so the sort before the join is the determinism contract.
    Reg("f_string_agg", Some(
      """SELECT o_orderpriority,
        |  string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
        |    AS statuses,
        |  COUNT(DISTINCT o_orderstatus) AS n_statuses
        |FROM orders GROUP BY 1""".stripMargin))(
      (s, dir) => Tables(s, dir).orders
        .groupBy("o_orderpriority")
        .agg(
          array_join(array_sort(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"),
          countDistinct(col("o_orderstatus")).as("n_statuses"))),

    Reg("f_date_parts", Some(
      """SELECT event_id, year(ts) AS y, month(ts) AS m, day(ts) AS d
        |FROM events""".stripMargin))(
      (s, dir) => Tables(s, dir).events.select(
        col("event_id"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("d"))),

    // S3/A6: catalog nested-map materialization (the reference's
    // metadata-dict build, etl_io.py:104-108) — collected driver-side,
    // flattened back to rows for the oracle.
    Reg("catalog_nestedmap", Some(
      """SELECT r_name AS key, CAST(n_nationkey AS VARCHAR) AS code,
        |  n_name AS label
        |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        val meta = t.nation
          .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
          .select(col("r_name"),
            col("n_nationkey").cast("string").as("code"), col("n_name"))
        val nested = graft.io.Catalog.nestedMap(meta, "r_name", "code", "n_name")
        import s.implicits._
        nested.toSeq.flatMap { case (k, m) =>
          m.toSeq.map { case (c, l) => (k, c, l) }
        }.toDF("key", "code", "label")
      }),

    // F1 at scale: recode via broadcast join against a code-book DataFrame
    // (the big-map variant of the literal-map recode).
    Reg("f1_recode_join", Some(
      """SELECT o_orderkey,
        |  CASE o_orderpriority
        |    WHEN '1-URGENT' THEN 'urgent' WHEN '2-HIGH' THEN 'high'
        |    ELSE o_orderpriority
        |  END AS priority_label
        |FROM orders""".stripMargin))(
      (s, dir) => {
        import s.implicits._
        val book = Seq(("1-URGENT", "urgent"), ("2-HIGH", "high"))
          .toDF("code", "label")
        graft.ops.Recode
          .recodeJoin(Tables(s, dir).orders, "o_orderpriority", book, "code", "label")
          .select(col("o_orderkey"), col("o_orderpriority").as("priority_label"))
      }),

    // S8 sink round-trip: write the A1 aggregate as parquet, read it back —
    // the re-read result must hash-match the A1 oracle.
    Reg("sink_roundtrip", Some(
      s"""SELECT l_returnflag,
         |  ${sqlDsum("l_quantity")} AS sum_qty, COUNT(*) AS n_rows
         |FROM lineitem GROUP BY l_returnflag""".stripMargin))(
      (s, dir) => {
        val out = Tables(s, dir).lineitem
          .groupBy("l_returnflag")
          .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n_rows"))
        // stable per-corpus path + Overwrite mode: repeated runs exercise
        // the write every time without accreting temp dirs
        val path = s"${Stage.scratch("sinkroundtrip", dir)}/a1.parquet"
        graft.io.Sinks.parquet(out, path)
        s.read.parquet(path)
      }),

    // S9: to_excel round trip ([[Sinks.xlsx]] → [[Sources.xlsx]]) — the
    // reference's unimplemented TODO (etl_io.py:947), closed as a real
    // single-sheet xlsx writer (zip-of-XML via the JDK, typed cells,
    // 1M-row report cap) plus its reader. The aggregate exports, the
    // workbook re-reads, and the hash match proves every cell (string,
    // BIGINT count, exact cents sum) survived the spreadsheet byte-for-
    // byte.
    Reg("xlsx_roundtrip", Some(
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS cents
        |FROM orders GROUP BY 1""".stripMargin))(
      (s, dir) => {
        val out = Tables(s, dir).orders
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))
              .as("cents"))
        val path = s"${Stage.scratch("xlsxroundtrip", dir)}/report.xlsx"
        graft.io.Sinks.xlsx(out, path, sheet = "orders")
        graft.io.Sources.xlsx(s, path, out.schema)
      }),

    // Dynamic partition overwrite ([[Sinks.overwritePartitions]]): full
    // load partitioned by event_type, then an incremental job rewrites
    // ONLY the click partition (values doubled). The read-back aggregate
    // pins BOTH properties at once: sibling partitions untouched (their
    // sums unchanged) and the target partition REPLACED, not appended
    // (click's row count stays n, not 2n — static mode would have erased
    // the siblings, append mode would double the count).
    Reg("sink_partition_overwrite", Some(
      s"""SELECT event_type, COUNT(*) AS n,
         |  ${sqlDsum(
              "CASE WHEN event_type = 'click' THEN value * 2 ELSE value END")}
         |    AS sum_v
         |FROM events GROUP BY event_type""".stripMargin))(
      (s, dir) => {
        val ev = Tables(s, dir).events.select("event_type", "value")
        val path = s"${Stage.scratch("sinkdynpart", dir)}/events.parquet"
        graft.io.Sinks.parquet(ev, path, partitionCols = Seq("event_type"))
        val incr = ev.where(col("event_type") === "click")
          .withColumn("value", col("value") * 2)
        graft.io.Sinks.overwritePartitions(incr, path, Seq("event_type"))
        s.read.parquet(path)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
      }),

    // ST: Structured Streaming variant of the windowed A1/A2 aggregation —
    // readStream + watermark + tumbling 1-day window run to completion over
    // the bounded file source; must match the batch oracle exactly.
    // ST: streaming dedup → batch rollup of the deduped stream. COUNT(*)
    // over the deduped frame (one row per first-per-(user,type) pair), so
    // an extra duplicate or a dropped non-duplicate changes the hash —
    // COUNT(DISTINCT) over it would be blind to both (same dedup-
    // sensitivity fix as stream_dedup_within, round-7 ADVICE).
    Reg("stream_dedup", Some(
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin))(
      (s, dir) => {
        val name = s"stream_dedup_${streamRunCounter.incrementAndGet()}"
        val ss = graft.ext.Streaming.streamingSession(s)
        val deduped = graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.dedupedPairs(graft.ext.Streaming.readEvents(ss, dir)),
          name, outputMode = "append")
        deduped.groupBy("event_type").agg(count(lit(1)).as("n_users"))
      }),

    // ST: stream-static enrichment join — the streaming plan broadcasts the
    // static dim into every microbatch (no state, no watermark needed);
    // equals the batch join row-for-row.
    Reg("stream_enrich", Some(
      """SELECT event_id, event_type,
        |  CASE event_type WHEN 'click' THEN 'Click' WHEN 'error' THEN 'Error'
        |    WHEN 'purchase' THEN 'Purchase' WHEN 'signup' THEN 'Signup'
        |    WHEN 'view' THEN 'View' ELSE event_type END AS type_label
        |FROM events""".stripMargin))(
      (s, dir) => {
        import s.implicits._
        val dim = Seq("click" -> "Click", "error" -> "Error",
          "purchase" -> "Purchase", "signup" -> "Signup", "view" -> "View")
          .toDF("event_type", "type_label")
        val name = s"stream_enrich_${streamRunCounter.incrementAndGet()}"
        val joined = graft.ext.Streaming.readEvents(s, dir)
          .join(broadcast(dim), Seq("event_type"), "left")
          .select(col("event_id"), col("event_type"),
            coalesce(col("type_label"), col("event_type")).as("type_label"))
        graft.ext.Streaming.runToTable(s, joined, name, outputMode = "append")
      }),

    // ST: streaming CDC sink — the change-log stream merges into a
    // standing table via foreachBatch + the seq-respecting versioned MERGE
    // ([[graft.ops.Cdc.applyChangesVersioned]]); associativity over batch
    // splits makes the final table independent of source batching, so the
    // batch latest-wins replay below is an exact oracle. Users absent from
    // the change log (user_id % 7 = 0) survive as base rows; a last-event
    // low-value purchase deletes its user.
    Reg("stream_cdc", Some(
      """WITH ch AS (
        |  SELECT user_id, event_id AS seq,
        |    CASE WHEN event_type = 'purchase' AND value < 10 THEN 'D'
        |         ELSE 'U' END AS op,
        |    value
        |  FROM events WHERE user_id % 7 <> 0
        |), latest AS (
        |  SELECT user_id, seq, op, value FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |                                 ORDER BY seq DESC) AS rn
        |    FROM ch) WHERE rn = 1
        |), base AS (SELECT DISTINCT user_id FROM events)
        |SELECT b.user_id, CAST(-1 AS BIGINT) AS seq, -1.0 AS value
        |FROM base b
        |WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.user_id = b.user_id)
        |UNION ALL
        |SELECT user_id, seq, value FROM latest WHERE op = 'U'"""
        .stripMargin))(
      (s, dir) => {
        val batchEvents = Tables(s, dir).events
        val base = batchEvents.select("user_id").distinct()
          .select(col("user_id"), lit("U").as("op"), lit(-1L).as("seq"),
            lit(-1.0).as("value"))
        val changes = graft.ext.Streaming.readEvents(s, dir)
          .where(col("user_id") % 7 =!= 0)
          .select(col("user_id"),
            when(col("event_type") === "purchase" && col("value") < 10, "D")
              .otherwise("U").as("op"),
            col("event_id").cast("long").as("seq"),
            col("value"))
        graft.ext.Streaming.mergeStream(changes, base, "user_id")
          .where(col("op") === "U")
          .select("user_id", "seq", "value")
      }),

    // ST: STREAM-STREAM interval join — purchases attributed to clicks
    // within the preceding hour, per user; self-split of the event stream
    // with the time-range bound + watermarks stream-stream joins require.
    // Over the bounded source it equals the batch interval join — the
    // oracle below.
    Reg("stream_joined", Some(
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
        |  CAST(epoch_us(CAST(p.ts AS TIMESTAMP))
        |       - epoch_us(CAST(c.ts AS TIMESTAMP)) AS BIGINT) AS lag_us
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
        |  AND CAST(p.ts AS TIMESTAMP)
        |      <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR""".stripMargin))(
      (s, dir) => {
        val name = s"stream_joined_${streamRunCounter.incrementAndGet()}"
        graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.attributionJoin(
            graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir), windowMinutes = 60),
          name, outputMode = "append")
      }),

    // ST: LEFT OUTER stream-stream interval join — the matched rows of
    // stream_joined PLUS a null-purchase row for every click the watermark
    // proved unattributable (emitted on state eviction, never eagerly).
    // With TWO watermarked columns the query's watermark is the MIN of
    // the per-column maxima (spark.sql.streaming.multipleWatermarkPolicy
    // = min — NOT the global max event time, and in particular not the
    // max over the event types this query never reads), each ms-floored.
    // A click's null row is released when that watermark strictly passes
    // its window end: cts + window < min(max click ts, max purchase ts).
    // Verified exact at sf0.001 / sf0.01 / sf0.1 (204 / 1,971 / 19,473
    // null rows). Clicks inside the boundary stay in state and must NOT
    // appear — the hash match proves both directions.
    Reg("stream_joined_outer", Some(
      """WITH c AS (
        |  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
        |  FROM events WHERE event_type = 'click'
        |), p AS (
        |  SELECT user_id AS pu, event_id AS purchase_id,
        |    CAST(ts AS TIMESTAMP) AS pts
        |  FROM events WHERE event_type = 'purchase'
        |), m AS (
        |  SELECT c.click_id, p.purchase_id, c.user_id,
        |    CAST(epoch_us(p.pts) - epoch_us(c.cts) AS BIGINT) AS lag_us
        |  FROM c JOIN p ON c.user_id = p.pu
        |    AND p.pts >= c.cts AND p.pts <= c.cts + INTERVAL 1 HOUR
        |)
        |SELECT click_id, purchase_id, user_id, lag_us FROM m
        |UNION ALL
        |SELECT c.click_id, CAST(NULL AS BIGINT), c.user_id,
        |  CAST(NULL AS BIGINT)
        |FROM c
        |WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
        |  AND epoch_us(c.cts) + 3600000000 < least(
        |    (SELECT epoch_ms(max(cts)) * 1000 FROM c),
        |    (SELECT epoch_ms(max(pts)) * 1000 FROM p))"""
        .stripMargin))(
      (s, dir) => {
        val name = s"stream_joined_outer_${streamRunCounter.incrementAndGet()}"
        graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.attributionJoinOuter(
            graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir), windowMinutes = 60),
          name, outputMode = "append")
      }),

    // ST: dropDuplicatesWithinWatermark — the state-evicting dedup for
    // duplicates with DIFFERENT event times (retried webhooks). The rollup
    // is COUNT(*) over the DEDUPED frame (one row per first-per-key pair),
    // which the oracle mirrors as COUNT(DISTINCT user_id) over the raw
    // events: a dedup that emitted an extra duplicate or dropped a
    // non-duplicate changes the row count and fails the hash —
    // COUNT(DISTINCT) over the deduped frame would have been blind to both
    // (round-7 ADVICE).
    Reg("stream_dedup_within", Some(
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin))(
      (s, dir) => {
        val name = s"stream_dedup_within_${streamRunCounter.incrementAndGet()}"
        val ss = graft.ext.Streaming.streamingSession(s)
        val deduped = graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.dedupedPairsWithinWatermark(
            graft.ext.Streaming.readEvents(ss, dir)),
          name, outputMode = "append")
        deduped.groupBy("event_type").agg(count(lit(1)).as("n_users"))
      }),

    // ST: custom-state sessionization (mapGroupsWithState) — gap-based
    // session counting per user, oracled against a lag-window SQL rewrite.
    Reg("sessionize", Some(
      """WITH x AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY user_id""".stripMargin))(
      (s, dir) => graft.ext.Streaming.sessionSummaries(
        s, Tables(s, dir).events, gapMinutes = 30)),

    // ST: exactly-once append sessionization on transformWithState with
    // EVENT-TIME TIMERS (registerTimer/handleExpiredTimer + ListState) —
    // the v2 rebuild of sessionize_append's flatMapGroupsWithState form.
    // Same watermark-confirmation rule, same oracle: the hash proves the
    // timer-driven emission matches the v1 timeout-driven one row for row.
    Reg("sessionize_append_tws", Some(
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
        |              > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |), y AS (
        |  SELECT user_id, tsu,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM x
        |), s AS (
        |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |    COUNT(*) AS n_events, max(tsu) AS end_ts
        |  FROM y GROUP BY user_id, session_idx
        |)
        |SELECT user_id, session_idx, n_events FROM s
        |WHERE epoch_us(end_ts) + 1800000000 <=
        |  epoch_ms((SELECT max(CAST(ts AS TIMESTAMP)) FROM events)) * 1000"""
        .stripMargin))(
      (s, dir) => {
        val name = s"sessionize_append_tws_${streamRunCounter.incrementAndGet()}"
        graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.sessionRowsAppendTws(s,
            graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir), gapMinutes = 30),
          name, outputMode = "append")
      }),

    // ST: the SAME sessionization on the Spark 4 transformWithState
    // (StatefulProcessor) API — arbitrary-state v2, the generation after
    // sessionize's mapGroupsWithState. Identical semantics, one shared
    // oracle shape; proves the library covers the API Spark is converging
    // stateful pipelines on (per-state column families, declarative TTL,
    // timers). Batch-planned here; StreamingSpec drives it as a stream.
    Reg("sessionize_tws", Some(
      """WITH x AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY user_id""".stripMargin))(
      (s, dir) => graft.ext.Streaming.sessionSummariesTws(
        s, Tables(s, dir).events, gapMinutes = 30)),

    // ST: batch→stream HANDOVER via the v2 initial-state API: events before
    // the corpus midpoint are summarized BATCH-side and seed per-user state
    // (StatefulProcessorWithInitialState); the stream carries on from
    // there. The oracle is the plain FULL-RANGE sessionization — the hash
    // proves sessions spanning the handover boundary merge exactly as if
    // one engine had seen every event (no replay, no seam).
    Reg("sessionize_tws_boot", Some(
      """WITH x AS (
        |  SELECT user_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM x GROUP BY user_id""".stripMargin))(
      (s, dir) => {
        import graft.ext.Streaming
        import graft.functions.Time.tsMicros
        val ss = Streaming.streamingSession(s)
        val events = Tables(ss, dir).events
        val boundary = events
          .agg(((min(tsMicros(col("ts"))) + max(tsMicros(col("ts")))) / 2)
            .cast("long").as("b")).head().getLong(0)
        val history = events.where(tsMicros(col("ts")) < boundary)
        val stream = Streaming.readEvents(ss, dir)
          .where(tsMicros(col("ts")) >= boundary)
        val name = s"sessionize_tws_boot_${streamRunCounter.incrementAndGet()}"
        val streamed = Streaming.runToTable(s,
          Streaming.sessionSummariesTwsBootstrapped(ss, stream, history, 30),
          name, outputMode = "update")
        // final state per user: stream rows are cumulative (they include
        // the seeded history), so max covers stream-touched users; users
        // whose events ALL predate the handover keep their batch summary
        streamed
          .groupBy("user_id")
          .agg(max("n_sessions").as("n_sessions"),
            max("n_events").as("n_events"))
          .unionByName(Streaming.sessionStateBatch(history, 30)
            .select(col("user_id"), col("n_sessions"), col("n_events")))
          .groupBy("user_id")
          .agg(max("n_sessions").as("n_sessions"),
            max("n_events").as("n_events"))
      }),

    // ST: per-session rows via flatMapGroupsWithState (the multi-row custom
    // state API) — oracled against a lag + running-sum window rewrite.
    Reg("sessionize_rows", Some(
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), y AS (
        |  SELECT user_id,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM x
        |)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(*) AS n_events
        |FROM y GROUP BY user_id, session_idx""".stripMargin))(
      (s, dir) => graft.ext.Streaming.sessionRows(
        s, Tables(s, dir).events, gapMinutes = 30)),

    // ST: TRUE append-mode sessionization — sessions emit exactly once,
    // only after the event-time watermark passes their gap boundary
    // (flatMapGroupsWithState + EventTimeTimeout). Over the bounded
    // AvailableNow run the final watermark is the ms-floored global max
    // event time, so the oracle is the batch sessionization filtered to
    // sessions ending more than 30 min before it — the hash match also
    // proves no session was emitted twice.
    Reg("sessionize_append", Some(
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS tsu, event_id,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
        |              > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |), y AS (
        |  SELECT user_id, tsu,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY tsu, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session_idx
        |  FROM x
        |), s AS (
        |  SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |    COUNT(*) AS n_events, max(tsu) AS end_ts
        |  FROM y GROUP BY user_id, session_idx
        |)
        |SELECT user_id, session_idx, n_events FROM s
        |WHERE epoch_us(end_ts) + 1800000000 <=
        |  epoch_ms((SELECT max(CAST(ts AS TIMESTAMP)) FROM events)) * 1000"""
        .stripMargin))(
      (s, dir) => {
        val name = s"sessionize_append_${streamRunCounter.incrementAndGet()}"
        graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.sessionRowsAppend(s,
            graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir), gapMinutes = 30),
          name, outputMode = "append")
      }),

    // NATIVE session_window sessionization, batch form
    // ([[Funnel.sessionizeNative]]): one groupBy whose key merges
    // overlapping [ts, ts+gap) intervals — no lag/running-sum window pair.
    // Boundary semantics are the native ones (gap >= duration splits;
    // session end = last event + gap) and the oracle replays exactly that,
    // so this is NOT redundant with sessionize_batch: it pins that the
    // built-in operator and the hand-rolled rewrite agree except at the
    // documented boundary.
    Reg("sessionize_window", Some(
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
        |              >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |), y AS (
        |  SELECT user_id, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sseq
        |  FROM x
        |)
        |SELECT user_id,
        |  strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(t) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
        |    AS session_end,
        |  COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sseq""".stripMargin))(
      (s, dir) => graft.ext.Funnel.sessionizeNative(
        Tables(s, dir).events, "user_id", "ts", gapMinutes = 30)),

    // NATIVE session_window in STREAMING append mode
    // ([[Streaming.sessionWindowAppend]]): the state store merges session
    // intervals and emits each session exactly once when the watermark
    // passes its end — the built-in counterpart to sessionize_append's
    // hand-rolled flatMapGroupsWithState. Oracle = the batch native
    // sessions filtered to those whose end (last event + gap) the final
    // watermark (ms-floored global max event time) passed; the hash match
    // also proves no session was emitted twice.
    Reg("stream_session_window", Some(
      """WITH x AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_id,
        |    CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
        |           OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
        |              >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id
        |               ORDER BY CAST(ts AS TIMESTAMP), event_id)
        |), y AS (
        |  SELECT user_id, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sseq
        |  FROM x
        |), s AS (
        |  SELECT user_id,
        |    strftime(min(t), '%Y-%m-%d %H:%M:%S') AS session_start,
        |    strftime(max(t) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
        |      AS session_end,
        |    COUNT(*) AS n_events,
        |    epoch_us(max(t)) + 1800000000 AS end_us
        |  FROM y GROUP BY user_id, sseq
        |)
        |SELECT user_id, session_start, session_end, n_events FROM s
        |WHERE end_us <=
        |  epoch_ms((SELECT max(CAST(ts AS TIMESTAMP)) FROM events)) * 1000"""
        .stripMargin))(
      (s, dir) => {
        val name = s"session_window_${streamRunCounter.incrementAndGet()}"
        graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.sessionWindowAppend(
            graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir), gapMinutes = 30),
          name, outputMode = "append")
      }),

    Reg("stream_window", Some(
      s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
         |  COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2""".stripMargin))(
      (s, dir) => {
        val name = s"stream_window_${streamRunCounter.incrementAndGet()}"
        graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.windowedAgg(graft.ext.Streaming.readEvents(
            graft.ext.Streaming.streamingSession(s), dir)),
          name)
      }),

    // ST: streaming WOE — the encoder's incremental twin: the conditional
    // counts accumulate as O(1)-per-category streaming state (complete
    // mode over the bounded source), and the final cell table is scored by
    // the SAME projection as feat_woe ([[Features.woeFromCells]]). Shares
    // feat_woe's oracle verbatim: the hash proves the microbatch counts
    // equal the batch aggregation cell for cell.
    Reg("stream_woe", Some(
      """WITH c AS (SELECT event_type,
        |    SUM(CASE WHEN value >= 50 THEN 1 ELSE 0 END) AS n_pos,
        |    SUM(CASE WHEN value >= 50 THEN 0 ELSE 1 END) AS n_neg
        |  FROM events GROUP BY 1),
        |t AS (SELECT SUM(n_pos) AS p, SUM(n_neg) AS n FROM c)
        |SELECT event_type, CAST(n_pos AS BIGINT) AS n_pos,
        |  CAST(n_neg AS BIGINT) AS n_neg,
        |  CAST(FLOOR(ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / n))
        |    * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS woe,
        |  CAST(FLOOR((((n_pos + 0.5) / p) - ((n_neg + 0.5) / n))
        |    * ln(((n_pos + 0.5) / p) / ((n_neg + 0.5) / n))
        |    * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS iv
        |FROM c CROSS JOIN t""".stripMargin))(
      (s, dir) => {
        val name = s"stream_woe_${streamRunCounter.incrementAndGet()}"
        val cells = graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir)
            .groupBy(col("event_type"))
            .agg(sum(when(col("value") >= 50, 1L).otherwise(0L)).as("n_pos"),
              sum(when(col("value") >= 50, 0L).otherwise(1L)).as("n_neg")),
          name)
        graft.ext.Features.woeFromCells(cells, "event_type")
      }),

    // Last-touch attribution: every purchase credits the LATEST preceding
    // touch event (click/view/signup) by the same user within a 7-day
    // lookback — the marketing-analytics sibling of funnel, built on the
    // SAME union+carry-forward [[graft.ops.Relational.asofJoin]] (one
    // key shuffle, never a per-user range cross join). Touches pre-dedup
    // per (user, ts) by max event_id (asofJoin's uniqueness contract);
    // purchases with no in-window touch attribute to 'none'. Value sums
    // as exact BIGINT cents.
    Reg("attribution_last_touch", Some(
      """WITH t0 AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    struct_extract(max(ROW(event_id, event_type)), 2) AS channel
        |  FROM events WHERE event_type IN ('click', 'view', 'signup')
        |  GROUP BY 1, 2),
        |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
        |      FROM events WHERE event_type = 'purchase')
        |SELECT CASE WHEN t0.ts IS NOT NULL
        |         AND p.ts - t0.ts <= INTERVAL 7 DAY
        |         THEN t0.channel ELSE 'none' END AS channel,
        |  COUNT(*) AS n_conversions,
        |  CAST(SUM(p.cents) AS BIGINT) AS value_cents
        |FROM p ASOF LEFT JOIN t0
        |  ON p.user_id = t0.user_id AND p.ts >= t0.ts
        |GROUP BY 1""".stripMargin))(
      (s, dir) => {
        val e = Tables(s, dir).events
        val purchases = e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
        val touches = e
          .where(col("event_type").isin("click", "view", "signup"))
          .groupBy("user_id", "ts")
          .agg(max(struct(col("event_id"), col("event_type"))).as("__m"))
          .select(col("user_id"), col("ts"),
            col("__m.event_type").as("channel"))
        graft.ops.Relational.asofJoin(purchases, touches, "user_id", "ts",
            Seq("channel"), how = "left",
            maxGap = Some(expr("INTERVAL 7 DAYS")))
          .groupBy(coalesce(col("channel"), lit("none")).as("channel"))
          .agg(count(lit(1)).as("n_conversions"),
            sum(col("cents")).as("value_cents"))
      }),

    // ST: streaming heavy hitters — per-user counts accumulate as
    // complete-mode streaming state over the bounded source, then the
    // top 20 by (count desc, user_id) leave the microbatch table. The
    // deterministic tiebreak makes the LIMIT boundary engine-stable; the
    // hash match proves the streamed counts equal the batch aggregation.
    Reg("stream_topk", Some(
      """SELECT user_id, n FROM (
        |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1)
        |ORDER BY n DESC, user_id LIMIT 20""".stripMargin))(
      (s, dir) => {
        val name = s"stream_topk_${streamRunCounter.incrementAndGet()}"
        graft.ext.Streaming.runToTable(s,
          graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir)
            .groupBy(col("user_id")).agg(count(lit(1)).as("n")),
          name)
          .orderBy(col("n").desc, col("user_id")).limit(20)
      }),

    // ST: streaming count-min — the sketch IS the streaming state: depth ×
    // width counters accumulate in complete mode (O(1) state whatever the
    // key cardinality does — the bounded-state answer to stream_topk's
    // per-key counts), and the microbatch sketch then scores the batch
    // truth table through the SAME estimate path as sketch_cms. Shares
    // sketch_cms's oracle verbatim: the hash proves the streamed counters
    // equal the batch sketch cell for cell.
    Reg("stream_cms", Some(
      """WITH b AS (SELECT user_id, unnest(generate_series(0, 3)) AS d
        |           FROM events),
        |h AS (SELECT d,
        |        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
        |          || ':' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 512
        |          AS bucket
        |      FROM b),
        |sk AS (SELECT d, bucket, COUNT(*) AS n FROM h GROUP BY 1, 2),
        |t AS (SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY 1),
        |q AS (SELECT user_id, true_n,
        |        unnest(generate_series(0, 3)) AS d FROM t),
        |qh AS (SELECT user_id, true_n, d,
        |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
        |           || ':' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 512
        |           AS bucket
        |       FROM q)
        |SELECT user_id, true_n, MIN(n) AS est_n,
        |  MIN(n) - true_n AS overcount
        |FROM qh JOIN sk USING (d, bucket)
        |GROUP BY user_id, true_n""".stripMargin))(
      (s, dir) => {
        val name = s"stream_cms_${streamRunCounter.incrementAndGet()}"
        val sketch = graft.ext.Streaming.runToTable(s,
          graft.ext.CountMin.build(
            graft.ext.Streaming.readEvents(
              graft.ext.Streaming.streamingSession(s), dir),
            "user_id", width = 512, depth = 4),
          name)
        val truth = Tables(s, dir).events
          .groupBy("user_id").agg(count(lit(1)).as("true_n"))
        truth.join(
            graft.ext.CountMin.estimate(sketch, truth, "user_id", 512, 4),
            Seq("user_id"))
          .select(col("user_id"), col("true_n"), col("est_n"),
            (col("est_n") - col("true_n")).as("overcount"))
      }),

    // ST: streaming HLL — approximate distinct users per event type with
    // the SKETCH as the streaming state (KB per group whatever the user
    // cardinality does; per-key exact distinct state would grow O(users)).
    // Complete-mode microbatches merge per-batch sketches associatively —
    // the streaming twin of sketch_hll_incr's batch merge. Bound-style
    // oracle: exact distincts hash-replayed plus a within_bound flag
    // (lgK = 12 → 3·rsd ≈ 5%) that fails the hash on violation.
    Reg("stream_hll", Some(
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1""".stripMargin), kind = "arm")(
      (s, dir) => {
        val name = s"stream_hll_${streamRunCounter.incrementAndGet()}"
        val est = graft.ext.Streaming.runToTable(s,
            graft.ext.Streaming.readEvents(
                graft.ext.Streaming.streamingSession(s), dir)
              .groupBy(col("event_type"))
              .agg(expr("hll_sketch_agg(user_id, 12)").as("sk")),
            name)
          .select(col("event_type"),
            expr("hll_sketch_estimate(sk)").as("__est"))
        Tables(s, dir).events.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
          .join(est, Seq("event_type"))
          .select(col("event_type"), col("exact_users"),
            (abs(col("__est") - col("exact_users")).cast("double")
              / col("exact_users") <= lit(0.05)).as("within_bound"))
      }),

    // Skew diagnostic: the heaviest join-key values and their ratio to the
    // mean per-key count — the measurement that decides between a plain
    // join, AQE skew splitting, and Relational.saltedJoin. The global mean
    // joins back as a broadcast 1-row frame; a window over the key set
    // would single-partition it.
    Reg("skew_report", Some(
      """WITH c AS (
        |  SELECT user_id AS key_value, COUNT(*) AS cnt FROM events GROUP BY 1
        |), s AS (
        |  SELECT COUNT(*) AS nkeys, CAST(SUM(cnt) AS BIGINT) AS nrows FROM c
        |)
        |SELECT key_value, cnt,
        |  CAST(cnt AS DOUBLE) * nkeys / nrows AS skew_ratio
        |FROM c, s ORDER BY cnt DESC, key_value LIMIT 10""".stripMargin))(
      (s, dir) => graft.ops.Profile.skewReport(
        Tables(s, dir).events, "user_id", topN = 10)),

    // Pairwise Pearson correlations over lineitem's measures in ONE
    // aggregation, unpivoted to (col_a, col_b, r) — the redundancy/leakage
    // screen before feature selection. Rounded to 6 (running-moment
    // accumulation order differs across engines in the last bits only).
    Reg("profile_corr", Some(
      Seq(("l_quantity", "l_extendedprice"), ("l_quantity", "l_discount"),
        ("l_quantity", "l_tax"), ("l_extendedprice", "l_discount"),
        ("l_extendedprice", "l_tax"), ("l_discount", "l_tax"))
        .map { case (a, b) =>
          s"""SELECT '$a' AS col_a, '$b' AS col_b,
             |  ROUND(corr($a, $b), 6) AS r FROM lineitem""".stripMargin
        }.mkString("\nUNION ALL\n")))(
      (s, dir) => graft.ops.Profile.corrMatrix(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))),

    // Debounce dedup: drop an event when the same (user, type) fired within
    // the last 5 minutes — one lag over the key-partitioned ordered stream,
    // the log-cleaning twin of the content dedups in ext/Dedup.
    Reg("dedup_debounce", Some(
      """WITH o AS (
        |  SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS t,
        |    LAG(CAST(ts AS TIMESTAMP)) OVER (
        |      PARTITION BY user_id, event_type
        |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev
        |  FROM events
        |)
        |SELECT event_id, user_id, event_type, epoch_us(t) AS tsu
        |FROM o
        |WHERE prev IS NULL OR epoch_us(t) - epoch_us(prev) > 300000000"""
        .stripMargin))(
      (s, dir) => graft.ops.Relational.debounce(
          Tables(s, dir).events, Seq("user_id", "event_type"), "ts",
          "event_id", gapSeconds = 300)
        .select(col("event_id"), col("user_id"), col("event_type"),
          tsMicros(col("ts")).as("tsu"))),

    // Data-quality expectation report: uniqueness, not-null, range,
    // accepted-values, and referential integrity as ONE uniform report —
    // the publish gate of any ETL load. Predicate checks per table fuse
    // into a single scan; RI is an anti-join count.
    Reg("dq_report", Some(
      """SELECT 'orders.o_orderkey.unique' AS check_name,
        |  COUNT(*) AS n_rows,
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_bad,
        |  COUNT(*) = COUNT(DISTINCT o_orderkey) AS pass FROM orders
        |UNION ALL
        |SELECT 'orders.o_custkey.not_null', COUNT(*),
        |  CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'orders.o_totalprice.positive', COUNT(*),
        |  CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0 FROM orders
        |UNION ALL
        |SELECT 'orders.o_orderstatus.accepted', COUNT(*),
        |  CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) = 0
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem.l_quantity.range', COUNT(*),
        |  CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT),
        |  SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem.l_orderkey.ref_orders',
        |  (SELECT COUNT(*) FROM lineitem),
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE l.l_orderkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey)),
        |  (SELECT COUNT(*) FROM lineitem l
        |   WHERE l.l_orderkey IS NOT NULL
        |     AND NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE o.o_orderkey = l.l_orderkey)) = 0"""
        .stripMargin))(
      (s, dir) => {
        val t = Tables(s, dir)
        graft.ops.Quality.report(Seq(
          // uniqueness rides the same single scan as the predicate checks
          graft.ops.Quality.checkPredicates(t.orders, Seq(
            "orders.o_custkey.not_null" -> col("o_custkey").isNull,
            "orders.o_totalprice.positive" -> (col("o_totalprice") <= 0),
            "orders.o_orderstatus.accepted" ->
              !col("o_orderstatus").isin("O", "F", "P")),
            uniques = Seq("orders.o_orderkey.unique" -> Seq("o_orderkey"))),
          graft.ops.Quality.checkPredicates(t.lineitem, Seq(
            "lineitem.l_quantity.range" ->
              (col("l_quantity") < 1 || col("l_quantity") > 50))),
          graft.ops.Quality.checkRef(t.lineitem, t.orders,
            "l_orderkey", "o_orderkey", "lineitem.l_orderkey.ref_orders")))
          .withColumnRenamed("check", "check_name")
      }),

    // Cohort retention over orders (customers cohorted by first-order
    // month, counted in every month they reorder): 51 cohorts × offsets on
    // this corpus. The oracle replays cohort assignment, the distinct
    // activity matrix, and exact month arithmetic.
    // Kaplan–Meier survival ([[Retention.kaplanMeier]]): churn curve over
    // user lifetimes with right-censoring at the corpus's final day —
    // cohort_retention's statistically-honest sibling. Counts exact; the
    // running product folds ascending-t on both engines (the oracle
    // replays it as a sequential list_reduce, never a reassociating
    // window aggregate); one r5 site.
    Reg("user_survival", Some(
      """WITH u AS (SELECT user_id,
        |    CAST(MIN(CAST(ts AS TIMESTAMP)) AS DATE) AS f,
        |    CAST(MAX(CAST(ts AS TIMESTAMP)) AS DATE) AS l
        |  FROM events GROUP BY 1),
        |e AS (SELECT MAX(l) AS endd FROM u),
        |lt AS (SELECT CAST(date_diff('day', f, l) AS BIGINT) AS t,
        |         (l = endd) AS cens FROM u, e),
        |agg AS (SELECT t, SUM(CASE WHEN cens THEN 0 ELSE 1 END) AS d,
        |          SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS c
        |        FROM lt GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS n FROM lt),
        |risk AS (SELECT t, d, c,
        |    n - COALESCE(SUM(d + c) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS n_at_risk
        |  FROM agg, tot),
        |terms AS (SELECT list(struct_pack(t := t,
        |    d := CAST(d AS BIGINT), c := CAST(c AS BIGINT),
        |    n := CAST(n_at_risk AS BIGINT),
        |    x := 1.0 - CAST(d AS DOUBLE) / n_at_risk) ORDER BY t) AS xs
        |  FROM risk),
        |idx AS (SELECT xs, unnest(generate_series(1, len(xs))) AS i
        |        FROM terms)
        |SELECT xs[i].t AS t_days, xs[i].n AS n_at_risk,
        |  xs[i].d AS n_deaths, xs[i].c AS n_censored,
        |  CAST(FLOOR(list_reduce(list_transform(xs[1:i], s -> s.x),
        |    (a, b) -> a * b) * 100000.0 + 0.5) AS BIGINT) / 100000.0
        |    AS survival
        |FROM idx""".stripMargin))(
      (s, dir) => graft.ext.Retention.kaplanMeier(Tables(s, dir).events,
        "user_id", "ts")),

    Reg("cohort_retention", Some(
      """WITH firsts AS (
        |  SELECT o_custkey, date_trunc('month', min(o_orderdate)) AS cm
        |  FROM orders GROUP BY 1
        |), acts AS (
        |  SELECT DISTINCT o_custkey, date_trunc('month', o_orderdate) AS am
        |  FROM orders
        |)
        |SELECT strftime(f.cm, '%Y-%m-%d') AS cohort_month,
        |  CAST((extract(year FROM a.am) - extract(year FROM f.cm)) * 12
        |     + (extract(month FROM a.am) - extract(month FROM f.cm))
        |    AS BIGINT) AS month_offset,
        |  COUNT(*) AS n_active
        |FROM firsts f JOIN acts a USING (o_custkey)
        |GROUP BY 1, 2""".stripMargin))(
      (s, dir) => graft.ext.Retention.cohortRetention(
        Tables(s, dir).orders, "o_custkey", "o_orderdate")),

    // Trailing-7-day distinct active users per observed day (the WAU
    // series) via the explode-contribution trick — each deduplicated
    // (user, day) votes into the 7 days it counts toward; no sliding
    // count-distinct window, no day×activity range join. The oracle
    // replays the contribution expansion with generate_series.
    Reg("active_users_7d", Some(
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
        |  FROM events
        |), days AS (SELECT DISTINCT d FROM ud),
        |contrib AS (
        |  SELECT u.user_id,
        |    unnest(generate_series(u.d, u.d + INTERVAL 6 DAY,
        |                           INTERVAL 1 DAY)) AS day
        |  FROM ud u)
        |SELECT strftime(c.day, '%Y-%m-%d') AS day,
        |  COUNT(DISTINCT c.user_id) AS n_active
        |FROM contrib c JOIN days ON days.d = c.day
        |GROUP BY 1""".stripMargin))(
      (s, dir) => graft.ext.Retention.rollingActive(
        Tables(s, dir).events, "user_id", "ts", windowDays = 7)),

    // Per-group z-score outlier flagging over events.value (the one column
    // with a genuine tail on this corpus: max |z| ≈ 8.7). The z is rounded
    // to 6 decimals BEFORE the threshold compare on both engines, so
    // avg/stddev accumulation-order differences cannot flip membership.
    Reg("outlier_zscore", Some(
      """WITH st AS (
        |  SELECT event_type AS g, avg(value) AS mu,
        |    stddev_samp(value) AS sd
        |  FROM events GROUP BY 1)
        |SELECT event_id, value, ROUND((value - mu) / sd, 6) AS z
        |FROM events e JOIN st ON e.event_type = st.g
        |WHERE abs(ROUND((value - mu) / sd, 6)) > 3""".stripMargin))(
      (s, dir) => graft.ops.Clean.zscoreOutliers(Tables(s, dir).events,
        "value", "event_type", Seq("event_id"), threshold = 3.0)),

    // MAD robust outliers (modified z-score, 0.6745·(x−med)/MAD > 3.5) —
    // median and MAD are discrete rank-⌈n/2⌉ histogram elements, so the
    // oracle's row_number replay picks the identical cuts; the robust z is
    // rounded to 6 before the compare (same parity posture as
    // outlier_zscore).
    Reg("outlier_mad", Some(
      """WITH r AS (
        |  SELECT event_type AS g, value AS x,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |), med AS (
        |  SELECT g, MAX(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.5 * n) AS BIGINT)) THEN x END) AS med
        |  FROM r GROUP BY 1
        |), d AS (
        |  SELECT e.event_type AS g, abs(e.value - m.med) AS dev,
        |    row_number() OVER (PARTITION BY e.event_type
        |      ORDER BY abs(e.value - m.med)) AS rn,
        |    COUNT(*) OVER (PARTITION BY e.event_type) AS n
        |  FROM events e JOIN med m ON e.event_type = m.g
        |), mad AS (
        |  SELECT g, MAX(CASE WHEN rn = greatest(1,
        |      CAST(ceil(0.5 * n) AS BIGINT)) THEN dev END) AS mad
        |  FROM d GROUP BY 1)
        |SELECT event_id, value, m.med, a.mad,
        |  ROUND(0.6745 * (value - m.med) / NULLIF(a.mad, 0), 6) AS rz
        |FROM events e
        |JOIN med m ON e.event_type = m.g
        |JOIN mad a ON e.event_type = a.g
        |WHERE abs(ROUND(0.6745 * (value - m.med) / NULLIF(a.mad, 0), 6))
        |      > 3.5""".stripMargin))(
      (s, dir) => graft.ops.Clean.madOutliers(Tables(s, dir).events,
        "value", "event_type", Seq("event_id"), threshold = 3.5)),

    // Per-group winsorization (clip to the [p05, p95] DISCRETE percentile
    // bounds — actual group elements at rank ceil(p·n), so both engines
    // pick the identical bound and the clip comparisons are exact).
    // Summary row per group: exact-decimal clipped sum + clip counts.
    Reg("winsorize", Some(
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS x,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem
        |), cuts AS (
        |  SELECT g,
        |    MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))
        |             THEN x END) AS lo,
        |    MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |             THEN x END) AS hi
        |  FROM r GROUP BY 1)
        |SELECT l.l_returnflag,
        |  ROUND(CAST(SUM(CAST(FLOOR(least(greatest(l.l_extendedprice, c.lo), c.hi)
        |    * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS wsum,
        |  CAST(SUM(CASE WHEN l.l_extendedprice < c.lo THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_lo,
        |  CAST(SUM(CASE WHEN l.l_extendedprice > c.hi THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hi,
        |  COUNT(*) AS n, MIN(c.lo) AS lo, MIN(c.hi) AS hi
        |FROM lineitem l JOIN cuts c ON l.l_returnflag = c.g
        |GROUP BY 1""".stripMargin))(
      // r06 hash-FAIL that replayed byte-identical locally: pin the
      // version-drift surfaces — integer SUMs leave DuckDB as HUGEINT
      // (CAST BIGINT above), and the decimal-exact wsum is ROUNDed to its
      // own 2-decimal scale on BOTH engines (a representation no-op that
      // removes any double→DECIMAL cast-rounding dependence).
      (s, dir) => graft.ops.Clean.winsorize(Tables(s, dir).lineitem,
          "l_extendedprice", "l_returnflag")
        .withColumn("wsum", round(col("wsum"), 2))),

    // Batch gap-sessionization ([[Funnel.sessionizeBatch]]) — the offline
    // twin of the streaming sessionize family: per-(user, session) summary
    // rows from one lag + running-sum window. Oracled against the same
    // window rewrite the streaming variants verify with.
    Reg("sessionize_batch", Some(
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT user_id, ts,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM x
        |)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  strftime(min(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
        |    AS session_start,
        |  strftime(max(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
        |    AS session_end,
        |  CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT)
        |    - CAST(floor(epoch(min(CAST(ts AS TIMESTAMP)))) AS BIGINT)
        |    AS duration_sec,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY 1, 2""".stripMargin))(
      (s, dir) => graft.ext.Funnel.sessionizeBatch(Tables(s, dir).events,
        "user_id", "ts", tiebreak = Seq("event_id"), gapMinutes = 30)),

    // Interval-overlap join ([[Relational.intervalJoin]]): per-(user, day)
    // activity spans, overlapped against a WATCHLIST subset's spans
    // (user_id % 10 = 0) — the concurrent-activity-vs-monitored-set shape.
    // The watchlist bounds the pair fan-out (all-users × all-users
    // day-grain overlap is an inherently quadratic ANSWER: measured 121 s
    // at sf1 for ~3.3e9 true pairs before this restriction — output-bound,
    // the theta oracle pays the same, but a poor bench citizen). The
    // oracle is the plain theta join — the binned rewrite must reproduce
    // it exactly, including the one-bin-per-pair dedup.
    Reg("j_interval", Some(
      """WITH iv AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(min(CAST(ts AS TIMESTAMP)))) AS BIGINT) AS lo,
        |    CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT) + 1
        |      AS hi
        |  FROM events
        |  GROUP BY user_id, date_trunc('day', CAST(ts AS TIMESTAMP))
        |)
        |SELECT a.user_id AS user_id, COUNT(*) AS n_overlap,
        |  CAST(SUM(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT)
        |    AS overlap_sec
        |FROM iv a JOIN iv b
        |  ON b.user_id % 10 = 0 AND a.user_id <> b.user_id
        |  AND a.lo < b.hi AND b.lo < a.hi
        |GROUP BY 1""".stripMargin))(
      (s, dir) => {
        val iv = Tables(s, dir).events
          .groupBy(col("user_id"), date_trunc("day", col("ts")).as("__day"))
          .agg(tsSeconds(min(col("ts"))).as("lo"),
            (tsSeconds(max(col("ts"))) + 1L).as("hi"))
          .drop("__day")
        val a = iv.select(col("user_id").as("a_user"),
          col("lo").as("a_lo"), col("hi").as("a_hi"))
        val b = iv.where(col("user_id") % 10 === 0)
          .select(col("user_id").as("b_user"),
            col("lo").as("b_lo"), col("hi").as("b_hi"))
        intervalJoin(a, b, "a_lo", "a_hi", "b_lo", "b_hi", binSize = 3600.0)
          .where(col("a_user") =!= col("b_user"))
          .groupBy(col("a_user").as("user_id"))
          .agg(count(lit(1)).as("n_overlap"),
            sum(least(col("a_hi"), col("b_hi"))
              - greatest(col("a_lo"), col("b_lo"))).as("overlap_sec"))
      }),

    // Equal-frequency histogram ([[Profile.quantileHistogram]]) — the
    // scalable quantile bucketing w5_ntile's scaladoc points to: discrete
    // percentile cuts from the value histogram, bucket assignment by
    // comparison (ties value-determined, reproducible under any
    // partitioning). The oracle replays cuts, assignment, and ranges.
    Reg("histogram_quantile", Some(
      """WITH h AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS x, COUNT(*) AS c
        |  FROM lineitem GROUP BY 1, 2
        |), cum AS (
        |  SELECT g, x, c,
        |    SUM(c) OVER (PARTITION BY g ORDER BY x) AS cum,
        |    SUM(c) OVER (PARTITION BY g) AS n
        |  FROM h
        |), cuts AS (
        |  SELECT g,
        |    MIN(CASE WHEN cum >= CAST(ceil(0.25 * n) AS BIGINT) THEN x END)
        |      AS c1,
        |    MIN(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN x END)
        |      AS c2,
        |    MIN(CASE WHEN cum >= CAST(ceil(0.75 * n) AS BIGINT) THEN x END)
        |      AS c3
        |  FROM cum GROUP BY 1)
        |SELECT l.l_returnflag,
        |  CAST(1 + (CASE WHEN l_extendedprice > c1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN l_extendedprice > c2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN l_extendedprice > c3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bucket,
        |  COUNT(*) AS n, MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |FROM lineitem l JOIN cuts ON l.l_returnflag = cuts.g
        |GROUP BY 1, 2""".stripMargin))(
      (s, dir) => graft.ops.Profile.quantileHistogram(
        Tables(s, dir).lineitem, "l_extendedprice", "l_returnflag",
        nBuckets = 4)),

    // W-ext: percent_rank / cume_dist (relative standing within a group —
    // the rank-normalization every score-calibration step uses). Rounded
    // to 6: both are exact rationals, but the division is float.
    Reg("w6_pct_rank", Some(
      """SELECT o_orderkey,
        |  ROUND(percent_rank() OVER w, 6) AS pr,
        |  ROUND(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)""".stripMargin))(
      (s, dir) => {
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        Tables(s, dir).orders.select(col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
      }),

    // W-ext: LOCF imputation (last observation carried forward) —
    // `last_value IGNORE NULLS` over the user's event-time order, the
    // standard sensor/telemetry gap filler. The corpus has no nulls, so
    // both engines first null out the same deterministic subset
    // (event_id % 3 <> 0) and the carry must reconstruct identically —
    // the compare proves the ignore-nulls frame, not a no-op. One
    // window over the user partition; no self-joins.
    Reg("w7_locf", Some(
      """SELECT event_id, user_id,
        |  last_value(CASE WHEN event_id % 3 = 0 THEN value END IGNORE NULLS)
        |    OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS v_locf
        |FROM events""".stripMargin))(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir).events.select(col("event_id"), col("user_id"),
          last(when(col("event_id") % 3 === 0, col("value")),
            ignoreNulls = true).over(w).as("v_locf"))
      }),

    // W9: longest consecutive-active-day streak per user — the classic
    // gaps-and-islands form (island id = day − row_number days, constant
    // exactly while days are consecutive). One distinct, one per-user
    // window, two aggregations; the longest-streak pick is a struct-max
    // with a deterministic later-start tiebreak.
    Reg("w9_streaks", Some(
      """WITH d AS (SELECT DISTINCT user_id,
        |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d FROM events),
        |i AS (SELECT user_id, d,
        |    d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
        |             AS INTEGER) AS island
        |  FROM d),
        |s AS (SELECT user_id, COUNT(*) AS len, MIN(d) AS start
        |      FROM i GROUP BY user_id, island)
        |SELECT user_id, CAST(len AS BIGINT) AS streak_days,
        |  strftime(start, '%Y-%m-%d') AS streak_start
        |FROM (SELECT user_id, len, start, row_number() OVER (
        |        PARTITION BY user_id ORDER BY len DESC, start DESC) AS rn
        |      FROM s) WHERE rn = 1""".stripMargin))(
      (s, dir) => {
        val days = Tables(s, dir).events
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val w = Window.partitionBy("user_id").orderBy("d")
        days
          .withColumn("__island",
            date_sub(col("d"), row_number().over(w)))
          .groupBy("user_id", "__island")
          .agg(count(lit(1)).as("len"), min(col("d")).as("start"))
          .groupBy("user_id")
          .agg(max(struct(col("len"), col("start"))).as("__m"))
          .select(col("user_id"), col("__m.len").as("streak_days"),
            date_format(col("__m.start"), "yyyy-MM-dd").as("streak_start"))
      }),

    // A16: per-group MODE with a DETERMINISTIC tiebreak (count desc, then
    // smallest value) — engine mode() tie semantics differ, so both sides
    // replay the same count→rank→first pipeline; same argmax-by-rank
    // shape as a13, applied to the value histogram.
    Reg("a16_mode", Some(
      """WITH c AS (
        |  SELECT l_returnflag AS g, l_quantity AS x, COUNT(*) AS n
        |  FROM lineitem GROUP BY 1, 2
        |)
        |SELECT g AS l_returnflag, x AS mode_qty FROM (
        |  SELECT g, x, row_number() OVER (PARTITION BY g
        |    ORDER BY n DESC, x) AS rn FROM c)
        |WHERE rn = 1""".stripMargin))(
      (s, dir) => {
        val counts = Tables(s, dir).lineitem
          .groupBy(col("l_returnflag"), col("l_quantity").as("x"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("n").desc, col("x"))
        counts.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("l_returnflag"), col("x").as("mode_qty"))
      }),

    // First-order Markov transitions over each user's event-type sequence
    // ([[Funnel.transitions]]): (from, to, n, p). One lead window + one
    // pair count; the per-from denominator is a broadcast join-back, and
    // p's single division + FLOOR-rounding is replayed verbatim.
    Reg("seq_transitions", Some(
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (SELECT from_type, to_type, COUNT(*) AS n FROM s
        |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
        |  CAST(FLOOR(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)
        |    * 100000 + 0.5) AS BIGINT) / 100000.0 AS p
        |FROM c JOIN t USING (from_type)""".stripMargin))(
      (s, dir) => graft.ext.Funnel.transitions(Tables(s, dir).events,
        "user_id", "ts", Seq("event_id"), "event_type")),

    // Theil–Sen robust slope ([[Timeseries.theilSen]]): median of pairwise
    // slopes per user — OLS's outlier-proof sibling (ts_linreg registers
    // that). Each slope is one double division of exact ints; the median
    // is an element pick, so the hash needs NO rounding site. Registered
    // over a 5% user subset: the pair join is O(points²) per key by
    // definition (documented scale cap).
    Reg("ts_theilsen", Some(
      """WITH pts AS (SELECT user_id AS k,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS BIGINT) AS t,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
        |  FROM events WHERE user_id % 20 = 0),
        |pr AS (SELECT a.k,
        |    CAST((b.c - a.c) AS DOUBLE) / (100.0 * (b.t - a.t)) AS slope
        |  FROM pts a JOIN pts b ON a.k = b.k AND a.t < b.t),
        |n AS (SELECT k, COUNT(*) AS n_pairs FROM pr GROUP BY 1),
        |r AS (SELECT k, slope,
        |    row_number() OVER (PARTITION BY k ORDER BY slope) AS rn
        |  FROM pr)
        |SELECT r.k AS user_id, n_pairs, slope
        |FROM r JOIN n USING (k) WHERE rn = (n_pairs + 1) // 2"""
        .stripMargin))(
      (s, dir) => graft.ext.Timeseries.theilSen(
        Tables(s, dir).events.where(col("user_id") % 20 === 0),
        "user_id", "ts", "value")),

    // Gapped sequential patterns ([[Funnel.gappedPairs]]): per ordered
    // type pair, users with some x STRICTLY before some y — subsequence
    // containment (any gap), vs seq_transitions' consecutive-step counts.
    // Containment = first(x) < last(y), so both engines reduce to the
    // same (user, type) min/max frame before pairing.
    Reg("seq_patterns", Some(
      """WITH ut AS (SELECT user_id, event_type, MIN(ts) AS f, MAX(ts) AS l
        |            FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS x, b.event_type AS y,
        |  COUNT(*) AS n_users
        |FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.f < b.l
        |GROUP BY 1, 2""".stripMargin))(
      (s, dir) => graft.ext.Funnel.gappedPairs(Tables(s, dir).events,
        "user_id", "ts", "event_type")),

    // Leave-one-out target encoding ([[Features.targetEncodeLoo]]):
    // priority → mean total price of the OTHER orders in the priority —
    // the leakage-safe mean encoding. BIGINT-cents sums; singleton
    // categories NULL on both engines.
    Reg("feat_target_encode", Some(
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c
        |  FROM orders),
        |a AS (SELECT o_orderpriority, SUM(c) AS s, COUNT(*) AS n
        |      FROM b GROUP BY 1)
        |SELECT o_orderkey, b.o_orderpriority,
        |  CAST(FLOOR((CASE WHEN n > 1
        |      THEN CAST(s - c AS DOUBLE) / 100.0 / CAST(n - 1 AS DOUBLE)
        |      END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS te_loo
        |FROM b JOIN a USING (o_orderpriority)""".stripMargin))(
      (s, dir) => graft.ext.Features.targetEncodeLoo(Tables(s, dir).orders,
        "o_orderkey", "o_orderpriority", "o_totalprice")),

    // K-fold target encoding ([[Features.targetEncodeKFold]]): the
    // cross-fit mean encoder — deterministic md5 fold per order id, each
    // row scored on the other folds' category mean. Exact cents sums per
    // (category, fold); the oracle replays fold assignment and the one
    // r5 division.
    Reg("feat_target_kfold", Some(
      """WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
        |    CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)
        |      AS BIGINT) % 5 AS fold
        |  FROM orders),
        |cf AS (SELECT o_orderpriority, fold, CAST(SUM(c) AS BIGINT) AS sf,
        |         COUNT(*) AS nf
        |       FROM b GROUP BY 1, 2),
        |a AS (SELECT o_orderpriority, CAST(SUM(sf) AS BIGINT) AS s,
        |        CAST(SUM(nf) AS BIGINT) AS n
        |      FROM cf GROUP BY 1)
        |SELECT o_orderkey, b.o_orderpriority, b.fold,
        |  CAST(FLOOR((CASE WHEN n > nf
        |      THEN CAST(s - sf AS DOUBLE) / 100.0 / CAST(n - nf AS DOUBLE)
        |      END) * 100000 + 0.5) AS BIGINT) / 100000.0 AS te_kfold
        |FROM b JOIN cf USING (o_orderpriority, fold)
        |JOIN a USING (o_orderpriority)""".stripMargin))(
      (s, dir) => graft.ext.Features.targetEncodeKFold(Tables(s, dir).orders,
        "o_orderkey", "o_orderpriority", "o_totalprice", folds = 5)),

    // Equal-frequency binning ([[Features.quantileBin]]): quartile bin of
    // each lineitem's price within its returnflag group. Cuts are the
    // DISCRETE percentileCuts elements (rank ceil(p·n) replayed via
    // row_number), ties bin downward (strict >) — exact integers, no
    // float tolerance anywhere.
    Reg("feat_quantile_bin", Some(
      """WITH r AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS x,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
        |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem),
        |cuts AS (SELECT g,
        |  MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.25 * n) AS BIGINT))
        |           THEN x END) AS q1,
        |  MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |           THEN x END) AS q2,
        |  MAX(CASE WHEN rn = greatest(1, CAST(ceil(0.75 * n) AS BIGINT))
        |           THEN x END) AS q3
        |  FROM r GROUP BY 1)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
        |  CAST(1 + (CASE WHEN l.l_extendedprice > c.q1 THEN 1 ELSE 0 END)
        |         + (CASE WHEN l.l_extendedprice > c.q2 THEN 1 ELSE 0 END)
        |         + (CASE WHEN l.l_extendedprice > c.q3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS bin
        |FROM lineitem l JOIN cuts c ON l.l_returnflag = c.g"""
        .stripMargin))(
      (s, dir) => graft.ext.Features.quantileBin(Tables(s, dir).lineitem,
        "l_extendedprice", "l_returnflag",
        Seq("l_orderkey", "l_linenumber"), nBins = 4)),

    graphPagerankReg,
    graphTrianglesReg,
    graphBfsReg,
    graphLpaReg,
    graphCcReg,
    graphKcoreReg,
    graphCorenessReg,
    graphAdamicAdarReg,
    graphJaccardReg,
    graphModularityReg,
    graphAssortativityReg,
    graphHitsReg,
    graphPprReg,
    sketchCmsReg,
    erFsReg,
    erFsEmReg,
    erFsEmParamsReg,
    erFsGroupsReg,
    pipelineIngestLayoutsReg
  )

  /** THE GRAPH-LAYOUT INGEST COST, benched visibly (round 15, r14 verdict
    * item #2): rebuild every staged graph layout the iterative family
    * reads ([[stagedCopurchaseEdges]], [[stagedCopurchaseCounts]],
    * [[stagedHitsEdges]], [[stagedPurchaseEdges]]) from the raw tables,
    * INSIDE the timed window, into a PER-RUN temp dir (nothing is reused
    * across runs — the once-per-corpus staged artifacts the other queries
    * mount are built by ingest, and this query is that ingest cost on the
    * clock). The result reads every artifact BACK from the files just
    * written (row count + two integer checksums per artifact), so a
    * broken write breaks the oracle hash. */
  private def pipelineIngestLayoutsReg: Reg =
    Reg("pipeline_ingest_layouts", Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |co AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
        |       FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
        |ce AS (SELECT a AS src, b AS dst FROM co UNION ALL SELECT b, a FROM co),
        |cc AS (SELECT x.p AS a, y.p AS b, COUNT(*) AS nij
        |       FROM op x JOIN op y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
        |ci AS (SELECT p AS i, COUNT(*) AS ni FROM op GROUP BY 1),
        |hp AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
        |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |pp AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |       FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |pe AS (SELECT src, dst FROM pp UNION ALL SELECT dst, src FROM pp),
        |pd AS (SELECT pe.src, pe.dst, d.outdeg FROM pe
        |       JOIN (SELECT src, COUNT(*) AS outdeg FROM pe GROUP BY 1) d
        |       USING (src))
        |SELECT 'copairs' AS artifact, COUNT(*) AS n_rows,
        |  CAST(SUM(a) AS BIGINT) AS c1, CAST(SUM(b) AS BIGINT) AS c2 FROM co
        |UNION ALL SELECT 'coedges', COUNT(*), CAST(SUM(src) AS BIGINT),
        |  CAST(SUM(dst) AS BIGINT) FROM ce
        |UNION ALL SELECT 'cocounts', COUNT(*), CAST(SUM(nij) AS BIGINT),
        |  CAST(SUM(a + b) AS BIGINT) FROM cc
        |UNION ALL SELECT 'coitems', COUNT(*), CAST(SUM(ni) AS BIGINT),
        |  CAST(SUM(i) AS BIGINT) FROM ci
        |UNION ALL SELECT 'hits_bysrc', COUNT(*), CAST(SUM(src) AS BIGINT),
        |  CAST(SUM(dst) AS BIGINT) FROM hp
        |UNION ALL SELECT 'hits_bydst', COUNT(*), CAST(SUM(src) AS BIGINT),
        |  CAST(SUM(dst) AS BIGINT) FROM hp
        |UNION ALL SELECT 'puredges', COUNT(*), CAST(SUM(src) AS BIGINT),
        |  CAST(SUM(outdeg) AS BIGINT) FROM pd""".stripMargin))(
      (s, dir) => {
        val tmp = Stage.scratch("ingestlayouts", dir)
        val t = Tables(s, dir)
        def bkt(df: org.apache.spark.sql.DataFrame, table: String,
                bucketCol: String, buckets: Int, path: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS $table")
          graft.io.Sinks.writeBucketed(df, table, bucketCol, buckets,
            sortCol = Some(bucketCol), path = Some(path))
          s.sql(s"DROP TABLE IF EXISTS $table") // external: files remain
        }
        val op = t.lineitem
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct().ckpt() // feeds co-pairs, weighted counts, item counts
        // 1. canonical co-purchase pair list + 32-bucket bidirected table
        //    (the stagedCopurchaseEdges layout)
        graft.io.Sinks.parquet(
          op.as("x")
            .join(op.as("y"),
              col("x.o") === col("y.o") && col("x.p") =!= col("y.p"))
            .select(least(col("x.p"), col("y.p")).as("a"),
              greatest(col("x.p"), col("y.p")).as("b"))
            .distinct(),
          s"$tmp/copairs.parquet")
        val pr = s.read.parquet(s"$tmp/copairs.parquet")
        bkt(pr.select(col("a").as("src"), col("b").as("dst"))
            .unionAll(pr.select(col("b").as("src"), col("a").as("dst"))),
          "graft_ingest_lay_co", "src", 32, s"$tmp/coedges")
        // 2. weighted pair counts + per-item counts (stagedCopurchaseCounts)
        graft.io.Sinks.parquet(
          op.as("x")
            .join(op.as("y"),
              col("x.o") === col("y.o") && col("x.p") < col("y.p"))
            .groupBy(col("x.p").as("a"), col("y.p").as("b"))
            .agg(count(lit(1)).as("nij")),
          s"$tmp/cocounts.parquet")
        graft.io.Sinks.parquet(
          op.groupBy(col("p").as("i")).agg(count(lit(1)).as("ni")),
          s"$tmp/coitems.parquet")
        // 3. HITS bipartite edges, BOTH bucket orientations (stagedHitsEdges)
        graft.io.Sinks.parquet(
          t.orders
            .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
            .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
            .distinct(),
          s"$tmp/hitspairs.parquet")
        val hp = s.read.parquet(s"$tmp/hitspairs.parquet")
        val hb = Stage.buckets(hp.count())
        bkt(hp, "graft_ingest_lay_hs", "src", hb, s"$tmp/hits_bysrc")
        bkt(hp, "graft_ingest_lay_hd", "dst", hb, s"$tmp/hits_bydst")
        // 4. rank-family purchase edges, bidirected + outdeg, bucketed by
        //    src (stagedPurchaseEdges)
        graft.io.Sinks.parquet(
          t.orders
            .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst"))
            .distinct(),
          s"$tmp/purpairs.parquet")
        val pp = s.read.parquet(s"$tmp/purpairs.parquet")
        val pe = pp.unionAll(
          pp.select(col("dst").as("src"), col("src").as("dst")))
        val pb = Stage.buckets(pp.count() * 2)
        bkt(pe.join(
            pe.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")),
            Seq("src")),
          "graft_ingest_lay_pe", "src", pb, s"$tmp/puredges")
        // read every artifact BACK from the files just written
        def sum2(df: org.apache.spark.sql.DataFrame, label: String,
                 c1: org.apache.spark.sql.Column,
                 c2: org.apache.spark.sql.Column) =
          df.agg(count(lit(1)).as("n_rows"),
              sum(c1).cast("long").as("c1"), sum(c2).cast("long").as("c2"))
            .select(lit(label).as("artifact"), col("n_rows"),
              col("c1"), col("c2"))
        sum2(s.read.parquet(s"$tmp/copairs.parquet"), "copairs",
            col("a"), col("b"))
          .unionAll(sum2(s.read.parquet(s"$tmp/coedges"), "coedges",
            col("src"), col("dst")))
          .unionAll(sum2(s.read.parquet(s"$tmp/cocounts.parquet"), "cocounts",
            col("nij"), col("a") + col("b")))
          .unionAll(sum2(s.read.parquet(s"$tmp/coitems.parquet"), "coitems",
            col("ni"), col("i")))
          .unionAll(sum2(s.read.parquet(s"$tmp/hits_bysrc"), "hits_bysrc",
            col("src"), col("dst")))
          .unionAll(sum2(s.read.parquet(s"$tmp/hits_bydst"), "hits_bydst",
            col("src"), col("dst")))
          .unionAll(sum2(s.read.parquet(s"$tmp/puredges"), "puredges",
            col("src"), col("outdeg")))
      })

  /** Unrolled PERSONALIZED-PageRank CTE stack — [[duckPagerankCtes]] with
    * a seed-restart vector: `seedSql` selects the seed node ids (one
    * `node` column); teleport mass lands on seeds only (`seed / nS`, the
    * parenthesization matching the engine's `(1−d)·(seed/nS)` exactly).
    * Callers append a final SELECT over r`iters` / nn. */
  private[queries] def duckPprCtes(e0Sql: String, seedSql: String,
                                   iters: Int = 10,
                                   damping: Double = 0.85): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  ${1.0 - damping} * (n.seed / (SELECT ns FROM nsd))
         |    + $damping * COALESCE(s.c, 0) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank / d.outdeg) AS c
         |    FROM r${i - 1} r JOIN e ON e.src = r.node
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($e0Sql),
       |sd AS ($seedSql),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |n0 AS (SELECT DISTINCT src AS node FROM e),
       |n AS (SELECT n0.node,
       |        CASE WHEN sd.node IS NULL THEN 0.0 ELSE 1.0 END AS seed
       |      FROM n0 LEFT JOIN sd ON sd.node = n0.node),
       |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg
       |        FROM e GROUP BY src),
       |nsd AS (SELECT SUM(seed) AS ns FROM n),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM n),
       |r0 AS (SELECT node, seed / (SELECT ns FROM nsd) AS rank FROM n),
       |$steps""".stripMargin
  }

  // Personalized PageRank ([[Graph.personalizedPagerank]]): random walk
  // with restart to nation-0's customers over the bidirected purchase
  // graph — rank = proximity to the seed cohort, the "more like these"
  // expansion primitive. Same integer node encoding, relative-rank
  // reporting, and unrolled-CTE oracle discipline as graph_pagerank.
  private def graphPprReg: Reg =
    Reg("graph_ppr", Some(
      duckPprCtes(
        """SELECT DISTINCT
          |    o_custkey * 2 AS src,
          |    l_suppkey * 2 + 1 AS dst
          |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey"""
          .stripMargin,
        "SELECT c_custkey * 2 AS node FROM customer WHERE c_nationkey = 0") +
      """
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
        |  ROUND(rank * (SELECT nv FROM nn), 6) AS rank_rel
        |FROM r10""".stripMargin))(
      (s, dir) => {
        // staged layout (round 13): same bucketed edge table as
        // graph_pagerank — see that Reg and [[stagedPurchaseEdges]]
        val (_, tbl, nEdges) = stagedPurchaseEdges(s, dir)
        val sess = rankSession(s, nEdges)
        val seeds = Tables(s, dir).customer
          .where(col("c_nationkey") === 0)
          .select((col("c_custkey") * 2).as("node"))
        val pr = graft.ext.Graph.personalizedPagerankBucketed(
          sess.table(tbl), seeds, iters = 10, damping = 0.85)
        val nv = pr.agg(count(lit(1)).cast("double").as("nv"))
        pr.crossJoin(broadcast(nv))
          .select(
            when(col("node") % 2 === 0,
              concat(lit("c"), (col("node") / 2).cast("long").cast("string")))
              .otherwise(
                concat(lit("s"), (col("node") / 2).cast("long").cast("string")))
              .as("node"),
            round(col("rank") * col("nv"), 6).as("rank_rel"))
      })

  // Count-min sketch ([[graft.ext.CountMin]]): the CONSTANT-size
  // frequency summary (depth × width counters, partial-aggregable,
  // merge = counter sum) vs the cardinality-sized exact count table —
  // the 100 TB frequent-items posture. Every key's estimate joins its
  // exact count: overcount ≥ 0 is the sketch's defining guarantee, and
  // unlike HLL/KLL the whole sketch replays in the oracle (md5-derived
  // engine-neutral hashes), so it is hash-checked, not rows-only.
  private def sketchCmsReg: Reg =
    Reg("sketch_cms", Some(
      """WITH b AS (SELECT user_id, unnest(generate_series(0, 3)) AS d
        |           FROM events),
        |h AS (SELECT d,
        |        CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
        |          || ':' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 512
        |          AS bucket
        |      FROM b),
        |sk AS (SELECT d, bucket, COUNT(*) AS n FROM h GROUP BY 1, 2),
        |t AS (SELECT user_id, COUNT(*) AS true_n FROM events GROUP BY 1),
        |q AS (SELECT user_id, true_n,
        |        unnest(generate_series(0, 3)) AS d FROM t),
        |qh AS (SELECT user_id, true_n, d,
        |         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)
        |           || ':' || CAST(d AS VARCHAR)), 1, 15) AS BIGINT) % 512
        |           AS bucket
        |       FROM q)
        |SELECT user_id, true_n, MIN(n) AS est_n,
        |  MIN(n) - true_n AS overcount
        |FROM qh JOIN sk USING (d, bucket)
        |GROUP BY user_id, true_n""".stripMargin))(
      (s, dir) => graft.ext.CountMin.estimateVsTruth(
        Tables(s, dir).events, "user_id", width = 512, depth = 4))

  // Fellegi–Sunter record linkage ([[graft.ext.Linkage.selfLinkPairs]]):
  // blocked candidate pairs over part scored by per-field log-likelihood
  // weights — agreement on type and the first two name tokens, (m, u)
  // priors compiled into LITERAL weights so the score is a fixed-order
  // sum of identical doubles on both engines (no runtime ln anywhere).
  // Blocking on (brand, size) bounds the quadratic by design.
  // Shared Fellegi–Sunter configuration for the er_* queries: the field
  // priors, and the SQL fragments replaying the agreement count and the
  // literal-weight score.
  // lazy: referenced from Regs built during the object's `all` list
  // initialization, which runs BEFORE this declaration site
  private lazy val erFields = Seq(
    graft.ext.Linkage.FieldSpec("p_type", 0.95, 0.02),
    graft.ext.Linkage.FieldSpec("tok1", 0.90, 0.05),
    graft.ext.Linkage.FieldSpec("tok2", 0.90, 0.05))
  private def erAgreeSumSql: String = erFields.map(f =>
    s"CASE WHEN a.${f.field} = b.${f.field} THEN 1 ELSE 0 END")
    .mkString("\n      + ")
  // CAST each weight literal to DOUBLE: DuckDB otherwise types a
  // 17-digit literal DECIMAL, summing in decimal (and overflowing the
  // FLOOR multiply); the cast reconstructs the exact double Scala
  // computed, so the sum is the same IEEE chain as the engine's
  private def erScoreSumSql: String = erFields.map(f =>
    s"CASE WHEN a.${f.field} = b.${f.field} " +
      s"THEN CAST(${f.agreeWeight} AS DOUBLE) " +
      s"ELSE CAST(${f.disagreeWeight} AS DOUBLE) END")
    .mkString("\n      + ")
  private def erParts(s: org.apache.spark.sql.SparkSession,
                      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir).part.select(
      col("p_partkey"), col("p_brand"), col("p_size"), col("p_type"),
      col("p_name"),
      element_at(split(col("p_name"), " "), 1).as("tok1"),
      element_at(split(col("p_name"), " "), 2).as("tok2"))

  private def erFsReg: Reg = {
    val fields = erFields
    val agreeSum = erAgreeSumSql
    val scoreSum = erScoreSumSql
    Reg("er_fs", Some(
      // the cand branches model the engine's maxBlock=10000 star-collapse
      // (round-13 ADVICE closure): exact all-pairs at or under the cap,
      // members-vs-min-id-representative above it — so the oracle stays
      // the engine's exact twin on skewed corpora and beyond ~sf40
      s"""WITH p AS (SELECT p_partkey AS id,
         |    p_brand || '|' || CAST(p_size AS VARCHAR) AS blk,
         |    p_type, string_split(p_name, ' ')[1] AS tok1,
         |    string_split(p_name, ' ')[2] AS tok2 FROM part),
         |bs AS (SELECT blk, COUNT(*) AS bsz, MIN(id) AS rid
         |       FROM p GROUP BY blk),
         |cand AS (
         |  SELECT a.id AS a_id, b.id AS b_id,
         |    CAST($agreeSum AS BIGINT) AS n_agree,
         |    CAST(FLOOR(($scoreSum) * 100000.0 + 0.5) AS BIGINT) / 100000.0
         |      AS score
         |  FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
         |  JOIN bs ON bs.blk = a.blk
         |  WHERE bs.bsz <= 10000
         |  UNION ALL
         |  SELECT a.id AS a_id, b.id AS b_id,
         |    CAST($agreeSum AS BIGINT) AS n_agree,
         |    CAST(FLOOR(($scoreSum) * 100000.0 + 0.5) AS BIGINT) / 100000.0
         |      AS score
         |  FROM bs JOIN p a ON a.id = bs.rid
         |  JOIN p b ON b.blk = bs.blk AND b.id <> a.id
         |  WHERE bs.bsz > 10000)
         |SELECT a_id, b_id, n_agree, score FROM cand
         |WHERE score >= 5.0""".stripMargin))(
      (s, dir) => graft.ext.Linkage.selfLinkPairs(
        Tables(s, dir).part.select(
          col("p_partkey"), col("p_brand"), col("p_size"), col("p_type"),
          element_at(split(col("p_name"), " "), 1).as("tok1"),
          element_at(split(col("p_name"), " "), 2).as("tok2")),
        "p_partkey",
        concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
        fields, threshold = 5.0))
  }

  /** Unrolled-EM replay for er_fs_em (see [[graft.ext.Linkage.emFit]]'s
    * determinism contract): blocked CAPPED candidates → agreement-pattern
    * counts → `iters` E/M CTE pairs with the identical integer-w9 /
    * r9-rounded arithmetic (degenerate-collapse guards mirrored: a zero
    * match- or unmatch-mass keeps the previous iterate, exactly the
    * Scala guard) → RATIO weights from the final iterate → scored pairs.
    * The kmeans/PCA unrolled-chain precedent applied to EM.
    *
    * Round-13 parity closures (ADVICE): (a) the cand CTE models the
    * engine's maxBlock=10000 star-collapse, so the oracle stays exact on
    * skewed corpora and beyond ~sf40 where blocks overflow the cap;
    * (b) weights are the LIKELIHOOD-RATIO form (m/u, (1−m)/(1−u)) —
    * divisions and a left-assoc product of bit-identical doubles, IEEE-
    * exact on both engines, where the previous LN() pitted DuckDB's libm
    * against the JVM's Math.log; (c) the M-step guards are in the SQL.
    *
    * This builds the SHARED chain through `em$iters` (planting →
    * capped candidates → pattern counts → EM iterates); er_fs_em and
    * er_fs_em_params append their own final SELECTs. */
  private def erFsEmChain(iters: Int): String = {
    val k = 3
    val gflags = (0 until k).map(i =>
      s"CASE WHEN a.f$i = b.f$i THEN 1 ELSE 0 END AS g$i").mkString(",\n    ")
    // E-step responsibility, left-assoc products in field order — the
    // exact expression emFit folds
    val pm = (0 until k).map(i =>
      s"(CASE WHEN t.g$i = 1 THEN e.m$i ELSE 1.0 - e.m$i END)")
      .mkString(" * ")
    val pu = (0 until k).map(i =>
      s"(CASE WHEN t.g$i = 1 THEN e.u$i ELSE 1.0 - e.u$i END)")
      .mkString(" * ")
    def r9clamp(x: String) =
      s"LEAST(GREATEST(FLOOR($x * 1000000000.0 + 0.5) / 1000000000.0, " +
        "1e-9), 1.0 - 1e-9)"
    val gs = (0 until k).map(i => s"g$i").mkString(", ")
    val steps = (1 to iters).map { j =>
      // guard mirror (Linkage.emFit): sw = 0 or swc = 0 keeps the
      // previous m/u — MAX(e.x) over the 1-row em cross join is that
      // previous value (dropping the guard is NOT equivalent: 0/0 is
      // NaN through the clamp on both engines, but then the chains
      // would have to agree on NaN propagation — keep them frozen)
      val ms = (0 until k).map(i =>
        "CASE WHEN SUM(n * w9) > 0 THEN " + r9clamp(
          s"CAST(SUM(n * w9 * g$i) AS DOUBLE) / CAST(SUM(n * w9) AS DOUBLE)")
          + s" ELSE MAX(e.m$i) END AS m$i").mkString(",\n  ")
      val us = (0 until k).map(i =>
        "CASE WHEN SUM(n * (1000000000 - w9)) > 0 THEN " + r9clamp(
          s"CAST(SUM(n * (1000000000 - w9) * g$i) AS DOUBLE) / " +
            "CAST(SUM(n * (1000000000 - w9)) AS DOUBLE)")
          + s" ELSE MAX(e.u$i) END AS u$i").mkString(",\n  ")
      s"""w$j AS MATERIALIZED (SELECT $gs, n,
         |  CAST(FLOOR((e.p * $pm) / ((e.p * $pm) + ((1.0 - e.p) * $pu))
         |    * 1000000000.0 + 0.5) AS BIGINT) AS w9
         |  FROM pat t, em${j - 1} e),
         |em$j AS MATERIALIZED (SELECT
         |  ${r9clamp("CAST(SUM(n * w9) AS DOUBLE) / " +
              "((SELECT nn FROM tot) * 1000000000.0)")} AS p,
         |  $ms,
         |  $us
         |  FROM w$j, em${j - 1} e)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT p_partkey AS id,
       |    p_brand || '|' || CAST(p_size AS VARCHAR) AS blk,
       |    p_type AS f0, string_split(p_name, ' ')[1] AS f1,
       |    string_split(p_name, ' ')[2] AS f2 FROM part),
       |dups AS (SELECT id + 10000000 AS id, blk,
       |    CASE WHEN id % 20 = 0 THEN 'XX' ELSE f0 END AS f0,
       |    CASE WHEN id % 25 = 5 THEN 'XX' ELSE f1 END AS f1,
       |    CASE WHEN id % 5 = 1 THEN 'XX' ELSE f2 END AS f2
       |  FROM base WHERE id % 2 = 0),
       |p AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
       |bs AS (SELECT blk, COUNT(*) AS bsz, MIN(id) AS rid
       |       FROM p GROUP BY blk),
       |cand AS MATERIALIZED (
       |  SELECT a.id AS a_id, b.id AS b_id,
       |    $gflags
       |  FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
       |  JOIN bs ON bs.blk = a.blk
       |  WHERE bs.bsz <= 10000
       |  UNION ALL
       |  SELECT a.id AS a_id, b.id AS b_id,
       |    $gflags
       |  FROM bs JOIN p a ON a.id = bs.rid
       |  JOIN p b ON b.blk = bs.blk AND b.id <> a.id
       |  WHERE bs.bsz > 10000),
       |pat AS MATERIALIZED (SELECT $gs, COUNT(*) AS n FROM cand
       |  GROUP BY $gs),
       |tot AS MATERIALIZED (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM pat),
       |em0 AS (SELECT CAST(0.1 AS DOUBLE) AS p,
       |  ${(0 until k).map(i => s"CAST(0.9 AS DOUBLE) AS m$i").mkString(", ")},
       |  ${(0 until k).map(i => s"CAST(0.1 AS DOUBLE) AS u$i").mkString(", ")}),
       |$steps""".stripMargin
  }

  /** er_fs_em's final SELECT over the shared EM chain: ratio-form
    * weights from the final iterate, scored pairs. */
  private def erFsEmSql(iters: Int): String = {
    val k = 3
    val wts = (0 until k).map(i =>
      s"m$i / u$i AS aw$i, (1.0 - m$i) / (1.0 - u$i) AS dw$i")
      .mkString(", ")
    val scoreProd = (0 until k).map(i =>
      s"(CASE WHEN c.g$i = 1 THEN w.aw$i ELSE w.dw$i END)").mkString("\n      * ")
    val nAgree = (0 until k).map(i => s"c.g$i").mkString(" + ")
    erFsEmChain(iters) +
      s""",
         |wt AS (SELECT $wts FROM em$iters)
         |SELECT a_id, b_id, n_agree, lr FROM (
         |  SELECT c.a_id, c.b_id, CAST($nAgree AS BIGINT) AS n_agree,
         |    CAST(FLOOR(($scoreProd) * 100000.0 + 0.5) AS BIGINT) / 100000.0
         |      AS lr
         |  FROM cand c, wt w)
         |WHERE lr >= 1.0""".stripMargin
  }

  /** er_fs_em_params: the fitted 1-row parameter artifact — the final
    * EM iterate verbatim (r9-rounded clamped doubles, bit-stable). */
  private def erFsEmParamsSql(iters: Int): String = {
    val k = 3
    erFsEmChain(iters) +
      s"""
         |SELECT p, ${(0 until k).map(i => s"m$i").mkString(", ")},
         |  ${(0 until k).map(i => s"u$i").mkString(", ")}
         |FROM em$iters""".stripMargin
  }

  // Fellegi–Sunter with UNSUPERVISED priors — er_fs without hand-tuned
  // weights: [[graft.ext.Linkage.selfLinkPairsEmFitted]] fits (m, u) per
  // field by Winkler EM over the blocked agreement-pattern counts (one
  // bounded groupBy + a ≤2^k-row collect) and scores the SAME
  // checkpointed candidate pass in the likelihood-RATIO form (round 13:
  // one blocked join instead of two; ratios of the r9-rounded fitted
  // doubles are IEEE-exact cross-engine where a runtime LN was each
  // libm's own). Raw part has
  // NO latent duplicate class (EM on its blocked pairs converges to a
  // degenerate mixture — measured), so the query runs on a PLANTED noisy
  // re-crawl derived from part: every even-keyed part re-appears
  // id-offset with deterministic per-field error rates (f0 5%, f1 4%,
  // f2 20%). EM recovers that structure unsupervised — fitted m ≈
  // (0.90, 0.97, 0.73) ≫ u ≈ (0.15, 0.11, 0.12) at sf0.01 — and the
  // oracle UNROLLS the same 20 deterministic iterations (integer-w9
  // responsibilities, r9-rounded clamped parameters — bit-stable on any
  // engine) over the same derived frame, so the hash pins the planting,
  // candidate generation, the whole fit, and the scoring at once.
  /** The planted noisy re-crawl er_fs_em and er_fs_em_params fit on —
    * every even-keyed part re-appears id-offset with deterministic
    * per-field error rates (f0 5%, f1 4%, f2 20%). */
  private def erPlanted(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val base = Tables(s, dir).part.select(
      col("p_partkey").as("id"),
      concat(col("p_brand"), lit("|"),
        col("p_size").cast("string")).as("blk"),
      col("p_type").as("f0"),
      element_at(split(col("p_name"), " "), 1).as("f1"),
      element_at(split(col("p_name"), " "), 2).as("f2"))
    val dups = base.where(col("id") % 2 === 0).select(
      (col("id") + 10000000L).as("id"), col("blk"),
      when(col("id") % 20 === 0, "XX").otherwise(col("f0")).as("f0"),
      when(col("id") % 25 === 5, "XX").otherwise(col("f1")).as("f1"),
      when(col("id") % 5 === 1, "XX").otherwise(col("f2")).as("f2"))
    base.unionAll(dups)
  }

  private def erFsEmReg: Reg =
    Reg("er_fs_em", Some(erFsEmSql(iters = 20)))(
      (s, dir) =>
        // ONE pairwise pass (round-13): the EM fit runs on analytic
        // subset-lattice pattern counts (O(2^k·N), no pair enumeration)
        // and the blocked join executes once, for scoring, streamed —
        // previously emFitFields + selfLinkPairs enumerated the
        // quadratic candidates twice (the round-12 47.3 s sf10 row)
        graft.ext.Linkage.selfLinkPairsEmFitted(erPlanted(s, dir), "id",
          col("blk"), Seq("f0", "f1", "f2"), iters = 20, threshold = 1.0))

  // The fitted MODEL as a first-class 1-row artifact
  // ([[graft.ext.Linkage.emFitParams]]): p and per-field (m, u) after 20
  // deterministic EM iterations over the planted re-crawl — what a
  // production linkage job persists beside its pair output (and the
  // audit surface for what the unsupervised fit believed). The oracle
  // unrolls the identical integer-w9 / r9-rounded chain and selects the
  // final iterate VERBATIM, so the hash pins the fit itself — every
  // responsibility rounding, every clamp — not merely the scores
  // downstream of it.
  private def erFsEmParamsReg: Reg =
    Reg("er_fs_em_params", Some(erFsEmParamsSql(iters = 20)))(
      (s, dir) => graft.ext.Linkage.emFitParams(erPlanted(s, dir), "id",
        col("blk"), Seq("f0", "f1", "f2"), iters = 20))

  // The COMPLETE entity-resolution pipeline in one query: Fellegi–Sunter
  // pairs (er_fs's exact configuration) → connected-components grouping →
  // golden-record fusion per cluster (longest name, modal type, max size,
  // min-id survivor). The oracle replays blocking, literal weights, the
  // recursive-CTE closure, and every survivorship rule — the MDM shape
  // [[graft.ext.Linkage]] exists to feed.
  private def erFsGroupsReg: Reg =
    Reg("er_fs_groups", Some(
      s"""WITH RECURSIVE p AS (SELECT p_partkey AS id,
         |    p_brand || '|' || CAST(p_size AS VARCHAR) AS blk,
         |    p_type, p_name, p_size,
         |    string_split(p_name, ' ')[1] AS tok1,
         |    string_split(p_name, ' ')[2] AS tok2 FROM part),
         |bs AS (SELECT blk, COUNT(*) AS bsz, MIN(id) AS rid
         |       FROM p GROUP BY blk),
         |s AS (SELECT a.id AS a_id, b.id AS b_id
         |  FROM p a JOIN p b ON a.blk = b.blk AND a.id < b.id
         |  JOIN bs ON bs.blk = a.blk
         |  WHERE bs.bsz <= 10000
         |    AND CAST(FLOOR(($erScoreSumSql) * 100000.0 + 0.5) AS BIGINT)
         |    / 100000.0 >= 5.0
         |  UNION ALL
         |  SELECT a.id AS a_id, b.id AS b_id
         |  FROM bs JOIN p a ON a.id = bs.rid
         |  JOIN p b ON b.blk = bs.blk AND b.id <> a.id
         |  WHERE bs.bsz > 10000
         |    AND CAST(FLOOR(($erScoreSumSql) * 100000.0 + 0.5) AS BIGINT)
         |    / 100000.0 >= 5.0),
         |und AS (SELECT a_id AS u, b_id AS v FROM s
         |        UNION SELECT b_id, a_id FROM s),
         |reach AS (SELECT u, v FROM und
         |          UNION
         |          SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
         |comp AS (SELECT u AS id, LEAST(u, MIN(v)) AS component
         |         FROM reach GROUP BY u),
         |m AS (SELECT comp.component, p.id, p.p_type, p.p_name, p.p_size
         |      FROM p JOIN comp USING (id)),
         |tc AS (SELECT component, p_type, COUNT(*) AS cnt
         |       FROM m GROUP BY 1, 2),
         |md AS (SELECT component,
         |         struct_extract(min(ROW(-cnt, p_type)), 2) AS p_type
         |       FROM tc GROUP BY 1),
         |g AS (SELECT component, COUNT(*) AS n_members, MIN(id) AS keep_id,
         |        MAX(p_size) AS p_size,
         |        struct_extract(max(ROW(length(p_name), -id, p_name)), 3)
         |          AS p_name
         |      FROM m GROUP BY 1)
         |SELECT g.component, g.n_members, g.keep_id, g.p_size, g.p_name,
         |  md.p_type
         |FROM g JOIN md USING (component)""".stripMargin))(
      (s, dir) => {
        val p = erParts(s, dir)
        // ckpt the scored pair list: connectedComponents consumes its
        // input twice (live derivation + node set), and the blocked
        // join carries the maxBlock armor's block-stats pass —
        // materializing once keeps that pass at one execution per query
        // (the round-12 sf0.1 premium was it running twice). A
        // child-session parallelism rebind (the rank-family policy) was
        // measured HERE and lost: createDataFrame(ckpt.rdd) re-converts
        // rows and forfeits the checkpoint layout — 4.9 s vs 2.5 s.
        val pairs = graft.ext.Linkage.selfLinkPairs(p, "p_partkey",
            concat(col("p_brand"), lit("|"), col("p_size").cast("string")),
            erFields, threshold = 5.0)
          .select("a_id", "b_id").ckpt()
        val comp = graft.ext.Dedup.connectedComponents(pairs)
          .withColumnRenamed("id", "p_partkey")
        graft.ext.Dedup.goldenRecords(
          p.join(comp, Seq("p_partkey")), "p_partkey", "component",
          longestCols = Seq("p_name"), modalCols = Seq("p_type"),
          maxCols = Seq("p_size"))
      })

  /** Unrolled power-iteration PageRank CTE stack for a DuckDB oracle —
    * `e0Sql` supplies the directed edge query (columns src, dst); the
    * generator bidirects it (UNION dedups), derives nodes/out-degrees, and
    * chains `iters` damped steps as CTEs r1..r`iters` (a recursive CTE
    * cannot aggregate per step; a fixed unroll can, and at oracle scale
    * the duplication is free). Callers append their own final SELECT over
    * r`iters` / nn. Shared by graph_pagerank and text_keywords. */
  private[queries] def duckPagerankCtes(e0Sql: String, iters: Int = 10): String = {
    val steps = (1 to iters).map { i =>
      s"""r$i AS (SELECT n.node,
         |  (1.0 - 0.85) / (SELECT nv FROM nn)
         |    + 0.85 * COALESCE(s.c, 0) AS rank
         |  FROM n LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank / d.outdeg) AS c
         |    FROM r${i - 1} r JOIN e ON e.src = r.node
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS ($e0Sql),
       |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       |n AS (SELECT DISTINCT src AS node FROM e),
       |deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS outdeg
       |        FROM e GROUP BY src),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nv FROM n),
       |r0 AS (SELECT node, 1.0 / (SELECT nv FROM nn) AS rank FROM n),
       |$steps""".stripMargin
  }

  /** DuckDB oracle for graph_pagerank: 10 unrolled power-iteration steps
    * over the bidirected purchase graph (see the Reg comment). Node ids are
    * integer-encoded during iteration (custkey*2 / suppkey*2+1 — parity
    * keeps the partitions disjoint) and decoded to the 'c…'/'s…' names only
    * in the final SELECT, mirroring the engine (long keys hash/compare/
    * serialize ~20% faster than strings across 10 rounds of joins; at
    * corpus scale you'd dictionary-encode node ids for the same reason). */
  private lazy val duckPagerank: String =
    duckPagerankCtes(
      """SELECT DISTINCT
        |    o_custkey * 2 AS src,
        |    l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey""".stripMargin) +
      """
        |SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
        |            ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
        |  ROUND(rank * (SELECT nv FROM nn), 6) AS rank_rel
        |FROM r10""".stripMargin

  // Graph: PageRank authority over the customer↔supplier purchase graph
    // (orders ⋈ lineitem, bidirected so no node dangles) — the link-graph
    // centrality a web-corpus pipeline weights source domains by. Ranks
    // are reported relative to uniform (rank·N, an O(1) quantity whatever
    // N is) and rounded to 6 so power-iteration accumulation order can't
    // leak into the hash. Oracle: the same 10 damped iterations UNROLLED
    // as chained CTEs — a recursive CTE can't aggregate per step, a fixed
    // unroll can, and at oracle scale the duplication is free.
  private def graphPagerankReg: Reg =
    Reg("graph_pagerank", Some(duckPagerank))(
      (s, dir) => {
        // staged layout (round 13): reads the bucketed outdeg-annotated
        // bidirected purchase graph — the orders⋈lineitem derivation,
        // distinct, bidirect, and degree join are all ingest-time costs
        // now ([[stagedPurchaseEdges]]); a rank round consumes the
        // bucket partitioning with no Exchange on the edge input.
        // Node ids are integer-encoded (parity-disjoint custkey*2 /
        // suppkey*2+1) and decoded to names at the end — long keys
        // through 10 rounds of joins beat strings by ~20% measured.
        val (_, tbl, nEdges) = stagedPurchaseEdges(s, dir)
        val pr = graft.ext.Graph.pagerankBucketed(
          rankSession(s, nEdges).table(tbl), iters = 10, damping = 0.85)
        val nv = pr.agg(count(lit(1)).cast("double").as("nv"))
        pr.crossJoin(nv) // 1-row side — broadcast, not a real cross product
          .select(
            when(pmod(col("node"), lit(2)) === 0,
                concat(lit("c"), expr("node div 2")))
              .otherwise(concat(lit("s"), expr("node div 2"))).as("node"),
            round(col("rank") * col("nv"), 6).as("rank_rel"))
      })

  // Per-node triangle counts over the basket co-purchase graph (parts
  // co-occurring in one order; basket size bounds the per-order clique,
  // so the projection needs no frequency cap). Engine: degree-oriented
  // wedge join, O(E^1.5)-bounded (Graph.triangleCounts). Oracle: the
  // plain three-way edge join — exact integers, no float tolerance. The
  // hash pins projection, canonicalization, orientation, and closure.
  private def graphTrianglesReg: Reg =
    Reg("graph_triangles", Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
        |  FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
        |t AS MATERIALIZED (
        |  SELECT e1.a AS p, e1.b AS q, e2.b AS r
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |c AS (SELECT p AS node FROM t
        |      UNION ALL SELECT q FROM t
        |      UNION ALL SELECT r FROM t)
        |SELECT node, COUNT(*) AS n_triangles FROM c GROUP BY node"""
        .stripMargin))(
      (s, dir) => {
        // staged layout (round 14): the basket self-join + distinct is
        // an ingest-time cost — read the canonical a ≤ b pair list the
        // co-purchase staging already publishes
        val (pairsPath, _) = stagedCopurchaseEdges(s, dir)
        graft.ext.Graph.triangleCounts(
          s.read.parquet(pairsPath), canonical = true)
      })

  // BFS hop distances from the minimum-custkey customer over the bidirected
  // purchase graph (the graph_pagerank node encoding). Engine: frontier BFS
  // as bounded iterative joins; oracle: a recursive CTE whose UNION dedup
  // keeps (node, dist) pairs finite, MIN(dist) per node = BFS level. Exact
  // integers — the hash pins reachability AND level assignment.
  private def graphBfsReg: Reg =
    Reg("graph_bfs", Some(
      """WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |s AS (SELECT MIN(o_custkey) * 2 AS node FROM orders),
        |bfs AS (
        |  SELECT node, 0 AS dist FROM s
        |  UNION
        |  SELECT e.dst AS node, bfs.dist + 1 AS dist
        |  FROM bfs JOIN e ON e.src = bfs.node
        |  WHERE bfs.dist < 4)
        |SELECT node, CAST(MIN(dist) AS BIGINT) AS dist
        |FROM bfs GROUP BY node""".stripMargin))(
      (s, dir) => {
        // staged layout (round 14): the directed distinct pair list is
        // exactly what [[stagedPurchaseEdges]] publishes; the parity-
        // disjoint encoding makes the reversed set disjoint, so
        // bidirecting needs no E-sized distinct (dedupDirected = true)
        val (pairsPath, _, _) = stagedPurchaseEdges(s, dir)
        // NO loop session here (round 14): BFS rounds join and anti-join
        // SHUFFLED frames where AQE's runtime broadcast decisions apply
        // (unlike the bucketed rank rounds) — keep the root session
        val sources = Tables(s, dir).orders
          .agg((min(col("o_custkey")) * 2).as("node"))
        graft.ext.Graph.bfsLevels(s.read.parquet(pairsPath), sources,
          maxHops = 4, dedupDirected = true)
      })

  // Label-propagation communities over the basket co-purchase part graph
  // (non-bipartite, unlike the customer↔supplier graph, so synchronous
  // LPA does real merging instead of two-coloring oscillation). Engine:
  // Graph.labelPropagation — 5 synchronous rounds, min-label tiebreak,
  // O(E) joins per round. Oracle: the SAME 5 rounds unrolled as CTE
  // pairs (neighbor-label count → per-node argmax via row_number) — a
  // recursive CTE cannot aggregate per step, the fixed unroll can. Exact
  // integers end to end; the hash pins canonicalization, the sync update
  // rule, AND the tiebreak.
  // HITS ([[Graph.hits]]) over the DIRECTED customer→part purchase
  // bipartite graph: hub customers (broad, well-targeted baskets) and
  // authority parts (bought by the best hubs) — 3 unrolled rounds, each
  // side L1-normalized; the oracle replays round for round.
  private def graphHitsReg: Reg = {
    val rounds = (1 to 3).map { i =>
      s"""a${i}r AS (SELECT e.dst AS node, SUM(h) AS a FROM e
         |  JOIN h${i - 1} ON h${i - 1}.node = e.src GROUP BY 1),
         |a$i AS (SELECT node, a / (SELECT SUM(a) FROM a${i}r) AS a
         |        FROM a${i}r),
         |h${i}r AS (SELECT e.src AS node, SUM(a) AS h FROM e
         |  JOIN a$i ON a$i.node = e.dst GROUP BY 1),
         |h$i AS (SELECT node, h / (SELECT SUM(h) FROM h${i}r) AS h
         |        FROM h${i}r)""".stripMargin
    }.mkString(",\n")
    Reg("graph_hits", Some(
      s"""WITH e AS (SELECT DISTINCT o_custkey AS src, l_partkey AS dst
         |           FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
         |h0 AS (SELECT DISTINCT src AS node, 1.0 AS h FROM e),
         |$rounds
         |SELECT node, 'hub' AS role,
         |  CAST(FLOOR(h * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS score
         |FROM h3
         |UNION ALL
         |SELECT node, 'authority' AS role,
         |  CAST(FLOOR(a * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS score
         |FROM a3""".stripMargin))(
      (s, dir) => {
        // staged layout (round 14): the orders⋈lineitem derivation +
        // distinct is an ingest-time cost ([[stagedHitsEdges]]); each
        // half-round reads the bucket orientation matching its join key
        // Exchange-free, at |E|-matched parallelism
        val (ts, td, nEdges) = stagedHitsEdges(s, dir)
        val sess = rankSession(s, nEdges)
        graft.ext.Graph.hitsBucketed(sess.table(ts), sess.table(td),
          iters = 3)
      })
  }

  // Degree assortativity ([[Graph.assortativity]]): Pearson r of endpoint
  // degrees over the bidirected co-purchase edges — one exact-integer
  // summary row; the only float site is the final correlation expression,
  // mirrored term for term.
  private def graphAssortativityReg: Reg =
    Reg("graph_assortativity", Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e0 AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
        |       FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |                   UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        |xy AS (SELECT dx.d AS x, dy.d AS y FROM e
        |       JOIN deg dx ON dx.src = e.src
        |       JOIN deg dy ON dy.src = e.dst),
        |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |        SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |        SUM(CAST(y AS HUGEINT) * y) AS syy FROM xy)
        |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
        |  CAST(FLOOR((CASE WHEN sqrt(
        |      (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) = 0.0 THEN NULL
        |    ELSE (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        |    END) * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS assortativity
        |FROM s""".stripMargin))(
      (s, dir) => {
        val (pairsPath, _) = stagedCopurchaseEdges(s, dir)
        graft.ext.Graph.assortativity(s.read.parquet(pairsPath),
          canonical = true)
      })

  /** The unrolled synchronous-LPA CTE rounds (count → per-node argmax),
    * shared by graph_lpa and graph_modularity's oracle replays. */
  private def lpaRoundsSql(n: Int): String =
    (1 to n).map { i =>
      s"""c$i AS (SELECT e.dst AS node, l.label, COUNT(*) AS n
         |  FROM l${i - 1} l JOIN e ON e.src = l.node GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |  SELECT node, label, row_number() OVER (PARTITION BY node
         |    ORDER BY n DESC, label) AS rn FROM c$i) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")

  private def graphLpaReg: Reg = {
    val rounds = lpaRoundsSql(5)
    Reg("graph_lpa", Some(
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem),
         |e0 AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
         |       FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |                   UNION ALL SELECT b, a FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         |$rounds
         |SELECT node, label AS community FROM l5""".stripMargin))(
      (s, dir) => {
        // read the staged bucketed edge layout (round 12): the basket
        // self-join derivation is an ingest-time cost, and the per-round
        // src-join consumes the bucket partitioning with no Exchange on
        // the edge input — the canonical-pairs ckpt path (r10/r11 shape)
        // is what labelPropagation(canonical = true) still serves
        val (pairsPath, tbl) = stagedCopurchaseEdges(s, dir)
        // loop session (round 14): |E|-matched parallelism + AQE off for
        // the label rounds — same rationale as the rank family
        val sess = rankSession(s, copurchasePairCount(pairsPath) * 2)
        graft.ext.Graph.labelPropagationBucketed(sess.table(tbl), iters = 5)
      })
  }

  /** Canonical-pair count of the staged co-purchase layout (count.txt
    * beside the pair list) — the |E|/2 the loop sessions match their
    * parallelism to. */
  private def copurchasePairCount(pairsPath: String): Long =
    Stage.count(pairsPath.stripSuffix("/pairs.parquet"))

  /** The co-purchase part-graph edge derivation every graph_* entry
    * shares, as a Spark frame (bidirected; the library ops canonicalize). */
  private def copurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    val op = Tables(s, dir).lineitem
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    op.as("x")
      .join(op.as("y"),
        col("x.o") === col("y.o") && col("x.p") =!= col("y.p"))
      .select(col("x.p").as("src"), col("y.p").as("dst"))
  }

  /** Per-batch HLL sketch table staged ONCE per corpus (one sketch per
    * event_type batch, binary DataSketches column) — what an ingest
    * pipeline would persist so cardinality questions never re-scan the
    * corpus. Same mtime-keyed staging as the BPE merge artifact. */
  private def stagedHllSketches(s: org.apache.spark.sql.SparkSession,
                                dir: String): String = {
    Stage.versioned("hllsk", dir, "events") { path =>
      graft.io.Sinks.parquet(
        Tables(s, dir).events.groupBy("event_type")
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk")),
        s"$path/hll_batches.parquet")
    }
  }

  /** Stage the co-purchase part graph ONCE per corpus — the layout an
    * ingest pipeline writes so every iterative consumer stops paying the
    * basket self-join + distinct per run: the canonical a ≤ b pair list
    * as parquet (CC / modularity input, pair count in count.txt) and the
    * BIDIRECTED edge table bucketed by src, 32 buckets
    * ([[graft.io.Stage.bucketed]]) so per-round src-joins read a
    * pre-shuffled layout (no Exchange on the edge input — PlanSpec pins
    * it). Returns (pairsPath, bucketedTableName). */
  private def stagedCopurchaseEdges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) = {
    val pairsDir = Stage.versioned("coedges2", dir, "lineitem") { path =>
      graft.io.Sinks.parquet(
        copurchaseEdges(s, dir)
          .select(least(col("src"), col("dst")).as("a"),
            greatest(col("src"), col("dst")).as("b"))
          .where(col("a") =!= col("b")).distinct(),
        s"$path/pairs.parquet")
      Stage.writeCount(s, path, "pairs.parquet")
    }
    val tbl = Stage.bucketed(s, "coedgesbkt", dir, "lineitem")("src", 32) {
      val pr = s.read.parquet(s"$pairsDir/pairs.parquet")
      pr.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pr.select(col("b").as("src"), col("a").as("dst")))
    }
    (s"$pairsDir/pairs.parquet", tbl)
  }

  /** Stage the WEIGHTED co-purchase part graph ONCE per corpus (round
    * 14) — the same ingest-layout posture as [[stagedCopurchaseEdges]],
    * for the consumers that need pair MULTIPLICITIES, which the distinct
    * pair list necessarily lost: the repeat-co-purchase graph
    * (graph_kcore / graph_coreness filter count ≥ 2) and the
    * co-occurrence recommender (rec_cooccur's n_ij). Artifacts:
    * `counts.parquet` (a < b, nij — the canonical basket-pair counts)
    * and `item_counts.parquet` (i, ni — per-item basket counts, the
    * cosine normalizer counted over the same basket universe). These are
    * graph LAYOUTS an ingest pipeline writes once, not query results:
    * every consumer still runs its full algorithm (6 peeling rounds,
    * 4 h-index rounds, cosine + top-k) per run. */
  private def stagedCopurchaseCounts(
      s: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    Stage.versioned("cocnts", dir, "lineitem") { path =>
      val op = Tables(s, dir).lineitem
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
        .ckpt() // pair join (both sides) + item counts read it
      graft.io.Sinks.parquet(
        op.as("x")
          .join(op.as("y"),
            col("x.o") === col("y.o") && col("x.p") < col("y.p"))
          .groupBy(col("x.p").as("a"), col("y.p").as("b"))
          .agg(count(lit(1)).as("nij")),
        s"$path/counts.parquet")
      graft.io.Sinks.parquet(
        op.groupBy(col("p").as("i")).agg(count(lit(1)).as("ni")),
        s"$path/item_counts.parquet")
    }
  }

  /** Stage the bidirected customer↔supplier purchase graph ONCE per
    * corpus — the round-12 staged-copurchase precedent applied to the
    * rank family (round-13 demand: graph_pagerank/graph_ppr were the
    * last per-run edge derivations, 85.6/94.6 s at sf10): the directed
    * distinct (custkey·2 → suppkey·2+1) pair list as parquet, and the
    * BIDIRECTED edge table annotated with per-src out-degree, bucketed
    * by src, so every power-iteration round's src-join reads a
    * pre-shuffled layout with outdeg already on the edge row — no
    * derivation join, no degree join, no Exchange on the edge input
    * (PlanSpec pins it). Returns (pairsPath, tableName,
    * bidirectedEdgeCount). */
  private def stagedPurchaseEdges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String, Long) = {
    val pairsDir = Stage.versioned("puredges2", dir, "orders", "lineitem") {
      path =>
        val t = Tables(s, dir)
        graft.io.Sinks.parquet(
          t.orders
            .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
            .select((col("o_custkey") * 2).as("src"),
              (col("l_suppkey") * 2 + 1).as("dst"))
            .distinct(),
          s"$path/pairs.parquet")
        // directed-pair count beside the layout — consumers match their
        // round parallelism to |E| = 2·pairs (Graph.rankParallelism)
        Stage.writeCount(s, path, "pairs.parquet")
    }
    val nEdges = Stage.count(pairsDir) * 2
    val tbl = Stage.bucketed(s, "puredgesbkt", dir, "orders", "lineitem")(
        "src", Stage.buckets(nEdges)) {
      val pr = s.read.parquet(s"$pairsDir/pairs.parquet")
      // parity-disjoint encoding ⇒ the swapped set never overlaps the
      // forward set, so unionAll here equals the oracle's UNION
      val e = pr.unionAll(
        pr.select(col("dst").as("src"), col("src").as("dst")))
      e.join(
        e.groupBy("src").agg(count(lit(1)).cast("double").as("outdeg")),
        Seq("src"))
    }
    (s"$pairsDir/pairs.parquet", tbl, nEdges)
  }

  /** Stage the DIRECTED customer→part purchase bipartite graph ONCE per
    * corpus for the HITS family — the round-13 verdict's last per-run
    * edge derivation: the distinct (o_custkey, l_partkey) pair list,
    * bucketed in BOTH orientations (by src AND by dst, same rows),
    * because HITS alternates an authority half-round joining on src with
    * a hub half-round joining on dst and one layout cannot serve both
    * Exchange-free. Returns (tableBySrc, tableByDst, edgeCount). */
  private def stagedHitsEdges(
      s: org.apache.spark.sql.SparkSession,
      dir: String): (String, String, Long) = {
    val tables = Seq("orders", "lineitem")
    val pairsDir = Stage.versioned("hitsedges2", dir, tables: _*) { path =>
      val t = Tables(s, dir)
      graft.io.Sinks.parquet(
        t.orders
          .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
          .distinct(),
        s"$path/pairs.parquet")
      Stage.writeCount(s, path, "pairs.parquet")
    }
    val nEdges = Stage.count(pairsDir)
    def layout(family: String, bucketCol: String): String =
      Stage.bucketed(s, family, dir, tables: _*)(
          bucketCol, Stage.buckets(nEdges)) {
        s.read.parquet(s"$pairsDir/pairs.parquet")
      }
    (layout("hitssrc", "src"), layout("hitsdst", "dst"), nEdges)
  }

  /** Child session carrying |E|-matched shuffle parallelism for a rank
    * loop ([[graft.ext.Graph.rankParallelism]]); the parent session when
    * the value already matches. */
  private[queries] def rankSession(s: org.apache.spark.sql.SparkSession,
                                   nEdges: Long): org.apache.spark.sql.SparkSession = {
    val parts = graft.ext.Graph.rankParallelism(nEdges)
    if (parts.toString == s.conf.get("spark.sql.shuffle.partitions")) s
    else {
      val c = s.newSession()
      c.conf.set("spark.sql.shuffle.partitions", parts.toString)
      c.conf.set("spark.sql.adaptive.enabled", "true")
      c
    }
  }

  // Adamic–Adar link prediction ([[Graph.adamicAdar]]): non-adjacent part
  // pairs scored Σ 1/ln(deg) over common neighbors, hub centers dropped
  // whole by the maxDeg armor (their wedge fan-out is deg² for the
  // smallest possible addend). The oracle replays cap, wedge join,
  // anti-join, and the one r5 rounding site.
  private def graphAdamicAdarReg: Reg =
    Reg("graph_adamic_adar", Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e0 AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
        |       FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |                   UNION ALL SELECT b, a FROM e0),
        |ctr AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1
        |        HAVING COUNT(*) BETWEEN 2 AND 30),
        |h AS (SELECT e.src, e.dst, c.d FROM e JOIN ctr c USING (src)),
        |s AS (SELECT x.dst AS u, y.dst AS w, COUNT(*) AS n_common,
        |        SUM(1.0 / ln(CAST(x.d AS DOUBLE))) AS aa0
        |      FROM h x JOIN h y ON x.src = y.src AND x.dst < y.dst
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT u, w, n_common,
        |  CAST(FLOOR(aa0 * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS aa
        |FROM s LEFT JOIN e0 ON e0.a = s.u AND e0.b = s.w
        |WHERE e0.a IS NULL""".stripMargin))(
      (s, dir) => {
        val (pairsPath, _) = stagedCopurchaseEdges(s, dir)
        graft.ext.Graph.adamicAdar(s.read.parquet(pairsPath),
          maxDeg = 30, minCommon = 2, canonical = true)
      })

  // Neighbor-Jaccard link prediction ([[Graph.neighborJaccard]]):
  // adamic_adar's normalized sibling over the same co-purchase graph —
  // exact common/union counts, one r5 division, identical wedge cap and
  // anti-join replayed by the oracle (u/w degrees stay UNCAPPED).
  private def graphJaccardReg: Reg =
    Reg("graph_jaccard", Some(
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |e0 AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
        |       FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
        |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
        |                   UNION ALL SELECT b, a FROM e0),
        |deg AS (SELECT src, COUNT(*) AS d FROM e GROUP BY 1),
        |ctr AS (SELECT src FROM deg WHERE d BETWEEN 2 AND 30),
        |h AS (SELECT e.src, e.dst FROM e JOIN ctr USING (src)),
        |s AS (SELECT x.dst AS u, y.dst AS w, COUNT(*) AS n_common
        |      FROM h x JOIN h y ON x.src = y.src AND x.dst < y.dst
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 2)
        |SELECT u, w, CAST(n_common AS BIGINT) AS n_common,
        |  CAST(FLOOR(CAST(n_common AS DOUBLE)
        |    / CAST(du.d + dw.d - n_common AS DOUBLE)
        |    * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS jaccard
        |FROM s
        |JOIN deg du ON du.src = s.u
        |JOIN deg dw ON dw.src = s.w
        |LEFT JOIN e0 ON e0.a = s.u AND e0.b = s.w
        |WHERE e0.a IS NULL""".stripMargin))(
      (s, dir) => {
        val (pairsPath, _) = stagedCopurchaseEdges(s, dir)
        graft.ext.Graph.neighborJaccard(s.read.parquet(pairsPath),
          maxDeg = 30, minCommon = 2, canonical = true)
      })

  // Newman modularity of the LPA-5 communities ([[Graph.modularity]]):
  // per-community q_c = e_c/m − (d_c/2m)² — the quality gauge for
  // graph_lpa's output. Exact integer counts; one rounding site. The
  // oracle replays the SAME 5 LPA rounds (shared generator) plus the
  // modularity aggregation.
  private def graphModularityReg: Reg =
    Reg("graph_modularity", Some(
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem),
         |e0 AS (SELECT DISTINCT LEAST(x.p, y.p) AS a, GREATEST(x.p, y.p) AS b
         |       FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
         |                   UNION ALL SELECT b, a FROM e0),
         |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
         |${lpaRoundsSql(5)},
         |lab AS (SELECT node, label AS community FROM l5),
         |m AS (SELECT COUNT(*) AS m FROM e0),
         |intra AS (SELECT la.community, COUNT(*) AS e_intra
         |          FROM e0 JOIN lab la ON la.node = e0.a
         |          JOIN lab lb ON lb.node = e0.b
         |          WHERE la.community = lb.community GROUP BY 1),
         |deg AS (SELECT src AS node, COUNT(*) AS d FROM e GROUP BY 1),
         |byc AS (SELECT community, COUNT(*) AS n_nodes,
         |          CAST(SUM(d) AS BIGINT) AS d_tot
         |        FROM deg JOIN lab USING (node) GROUP BY 1)
         |SELECT byc.community, n_nodes, coalesce(e_intra, 0) AS e_intra,
         |  d_tot,
         |  CAST(FLOOR((CAST(coalesce(e_intra, 0) AS DOUBLE) / m
         |    - (CAST(d_tot AS DOUBLE) / (2 * m))
         |      * (CAST(d_tot AS DOUBLE) / (2 * m)))
         |    * 100000.0 + 0.5) AS BIGINT) / 100000.0 AS q
         |FROM byc LEFT JOIN intra USING (community) CROSS JOIN m"""
        .stripMargin))(
      (s, dir) => {
        // staged layout (round 12): LPA reads the bucketed bidirected
        // table, the modularity aggregations read the staged pair list —
        // no per-run derivation, no non-evictable checkpoint at all
        // (the sf10 OOM lesson's stronger fix)
        val (pairsPath, tbl) = stagedCopurchaseEdges(s, dir)
        // loop session (round 14): the LPA rounds AND the modularity
        // aggregations run |E|-matched with AQE off (rank-family rationale)
        val sess = rankSession(s, copurchasePairCount(pairsPath) * 2)
        graft.ext.Graph.modularity(sess.read.parquet(pairsPath),
          graft.ext.Graph.labelPropagationBucketed(sess.table(tbl), iters = 5),
          canonical = true)
      })

  // Connected components of the co-purchase part graph — the graph-family
  // registration of [[graft.ext.Dedup.connectedComponents]]'s large-star/
  // small-star engine (O(log n) rounds, the 100 TB CC algorithm), whose
  // other oracled uses ride the dedup pair lists. component = min node id
  // reachable — canonical, so the recursive-CTE closure replay must agree
  // exactly. Exact integers, no float anywhere.
  private def graphCcReg: Reg =
    Reg("graph_cc", Some(
      """WITH RECURSIVE op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem),
        |pairs AS (SELECT DISTINCT LEAST(x.p, y.p) AS a_id,
        |            GREATEST(x.p, y.p) AS b_id
        |          FROM op x JOIN op y ON x.o = y.o AND x.p <> y.p),
        |und AS (SELECT a_id AS u, b_id AS v FROM pairs
        |        UNION SELECT b_id, a_id FROM pairs),
        |reach AS (SELECT u, v FROM und
        |          UNION
        |          SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u),
        |comp AS (SELECT u AS node, least(u, min(v)) AS component
        |         FROM reach GROUP BY u)
        |SELECT node, component FROM comp""".stripMargin))(
      (s, dir) => {
        // staged layout (round 12): the pair list is the ingest-time
        // parquet artifact — no basket self-join, no checkpoint; the
        // multi-consumer reads (node set + both star rounds) re-scan the
        // small staged file instead
        val (pairsPath, _) = stagedCopurchaseEdges(s, dir)
        // NO loop session here (round 14): the star-contraction rounds
        // join two SHUFFLED frames where AQE's runtime broadcast/coalesce
        // decisions apply (measured 6.5 s AQE-off vs 5.0 s AQE-on in one
        // isolated window) — CC keeps the root session
        graft.ext.Dedup.connectedComponents(
            s.read.parquet(pairsPath), "a", "b")
          .select(col("id").as("node"), col("component"))
      })

  // k-core peeling ([[Graph.kCore]]) over the REPEAT-co-purchase part
  // graph (pairs sharing ≥2 distinct orders — the single-order graph is
  // near-complete and peels nothing; the repeat graph has the sparse tail
  // k-core exists to strip). k=3, 6 synchronous rounds; the oracle
  // unrolls the SAME 6 rounds (degree filter → survivor semi-joins), so
  // the hash pins the cascade order, not just the fixpoint. Exact
  // integers end to end.
  private def graphKcoreReg: Reg = {
    val rounds = (1 to 6).map { i =>
      s"""n$i AS (SELECT src FROM e${i - 1} GROUP BY src
         |  HAVING COUNT(*) >= 3),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN n$i a ON e.src = a.src JOIN n$i b ON e.dst = b.src)"""
        .stripMargin
    }.mkString(",\n")
    Reg("graph_kcore", Some(
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem),
         |und AS (SELECT x.p AS a, y.p AS b
         |        FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
         |                    UNION ALL SELECT b, a FROM und),
         |$rounds
         |SELECT src AS node, COUNT(*) AS deg FROM e6 GROUP BY src"""
        .stripMargin))(
      (s, dir) => {
        // staged layout (round 14): the repeat-co-purchase graph reads
        // off the weighted pair-count artifact — the per-run basket
        // self-join is an ingest-time cost
        val cnts = stagedCopurchaseCounts(s, dir)
        val edges = s.read.parquet(s"$cnts/counts.parquet")
          .where(col("nij") >= 2).select("a", "b")
        graft.ext.Graph.kCore(edges, k = 3L, rounds = 6, canonical = true)
      })
  }

  // Core numbers via iterated h-index ([[Graph.coreness]]) on the same
  // repeat-co-purchase graph as graph_kcore — kcore answers ONE k,
  // coreness ranks every node. 4 unrolled rounds in the oracle; the
  // H-index is tie-order-insensitive so row_number's arbitrary tie order
  // is safe on both engines. Exact integers end to end.
  private def graphCorenessReg: Reg = {
    val rounds = (1 to 4).map { i =>
      s"""c$i AS (SELECT e.dst AS node, l.h AS nh
         |  FROM l${i - 1} l JOIN e ON e.src = l.node),
         |r$i AS (SELECT node, nh, row_number() OVER (PARTITION BY node
         |  ORDER BY nh DESC) AS r FROM c$i),
         |l$i AS (SELECT node, MAX(CASE WHEN nh >= r THEN r ELSE 0 END) AS h
         |  FROM r$i GROUP BY node)""".stripMargin
    }.mkString(",\n")
    Reg("graph_coreness", Some(
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |            FROM lineitem),
         |und AS (SELECT x.p AS a, y.p AS b
         |        FROM op x JOIN op y ON x.o = y.o AND x.p < y.p
         |        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM und
         |                   UNION ALL SELECT b, a FROM und),
         |l0 AS (SELECT src AS node, COUNT(*) AS h FROM e GROUP BY src),
         |$rounds
         |SELECT node, CAST(h AS BIGINT) AS coreness FROM l4"""
        .stripMargin))(
      (s, dir) => {
        // staged layout (round 14): same weighted-pair artifact as
        // graph_kcore — multiplicity filter off the ingest layout
        val cnts = stagedCopurchaseCounts(s, dir)
        val edges = s.read.parquet(s"$cnts/counts.parquet")
          .where(col("nij") >= 2).select("a", "b")
        graft.ext.Graph.coreness(edges, rounds = 4, canonical = true)
      })
  }

  private val streamRunCounter = new java.util.concurrent.atomic.AtomicLong(0)
}
