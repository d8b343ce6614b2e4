package graft
package contract

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{Corpus, Transforms}

/** Event-stream transforms over `events`: carry-forward, as-of and
  * interval joins, sessions, funnels, cohorts, time series and the
  * per-user analytics built on [[graft.operators.Transforms]]. */
object TransformQueries {
  import Tables._
  import Shared._

  val contracts: Seq[Contract] = Seq(
    // A3/A4 — per-category feature aggregation pivoted wide
    // (`PGSITE/__init__.py:302-357`).
    Contract("q19_feature_pivot", ((s, d) => {
      val piv = Transforms.pivotAgg(events(s, d), Seq(col("user_id")), "event_type",
        Seq("click", "error", "purchase", "signup", "view"),
        Seq(count(lit(1)).as("n"), count(when(col("value") > 100, 1)).as("hi")))
      piv.na.fill(0L)
    }),
      """SELECT user_id,
        | count(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
        | count(CASE WHEN event_type = 'click' AND value > 100 THEN 1 END) AS click_hi,
        | count(CASE WHEN event_type = 'error' THEN 1 END) AS error_n,
        | count(CASE WHEN event_type = 'error' AND value > 100 THEN 1 END) AS error_hi,
        | count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
        | count(CASE WHEN event_type = 'purchase' AND value > 100 THEN 1 END) AS purchase_hi,
        | count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_n,
        | count(CASE WHEN event_type = 'signup' AND value > 100 THEN 1 END) AS signup_hi,
        | count(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
        | count(CASE WHEN event_type = 'view' AND value > 100 THEN 1 END) AS view_hi
        |FROM events GROUP BY user_id""".stripMargin),

    // W4 — last-non-null carry-forward (`HTGPIWASDE/__init__.py:807-808`).
    Contract("q20_carry_forward", ((s, d) => {
      val e = events(s, d).withColumn("v",
        when(col("value") < 40, lit(null)).otherwise(col("value")))
      Transforms.carryForward(e, "v", Seq(col("user_id")),
          Seq(col("ts"), col("event_id")), "filled")
        .select(col("event_id"), col("user_id"), col("ts"), col("v"), col("filled"))
    }),
      """SELECT event_id, user_id, ts, v,
        | last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM (SELECT event_id, user_id, ts,
        |       CASE WHEN value < 40 THEN NULL ELSE value END AS v
        |      FROM events) t""".stripMargin),

    // §2.3 extension — as-of join (latest purchase at-or-before each event,
    // per user) via the scalable union + carry-forward plan; oracle is
    // DuckDB's native ASOF LEFT JOIN.
    Contract("q44_asof_join", ((s, d) => {
      val ev = events(s, d)
      val left = ev.select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("ts").as("pts"),
          col("value").as("pval"))
      Transforms.asofJoin(left, purchases, "user_id", "ts", Seq("pts", "pval"))
        .select(col("event_id"), col("user_id"), col("ts"), col("pts"), col("pval"))
    }),
      """WITH p AS (SELECT user_id, ts, ts AS pts, value AS pval
        |           FROM events WHERE event_type = 'purchase')
        |SELECT e.event_id, e.user_id, e.ts, p.pts, p.pval
        |FROM (SELECT event_id, user_id, ts FROM events) e
        |ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin),

    // Sessionization — gap-based session ids via lag + running sum
    // (extends W-family to the events stream table).
    Contract("q35_sessionize", ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("flag",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) > 300000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("flag")).over(run).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), sumc(col("value")).as("total"))
    }),
      """WITH x AS (SELECT user_id, event_id, ts, value,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events),
        |f AS (SELECT *, CASE WHEN prev IS NULL
        |       OR epoch_us(ts) - epoch_us(prev) > 300000000 THEN 1 ELSE 0 END AS flag
        |      FROM x),
        |sess AS (SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        | FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM sess GROUP BY user_id, session_id""".stripMargin),

    // W-family widening — bounded moving window (3-row sum/avg) + lag delta
    // per user. Decimal-exact sums; the average divides two exact values as
    // doubles so both engines produce identical bits.
    Contract("q48_moving_avg", ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val w3 = w.rowsBetween(-2, Window.currentRow)
      events(s, d).select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("mov_sum3", sum(dec(col("value"))).over(w3).cast("double"))
        .withColumn("mov_n3", count(lit(1)).over(w3))
        .withColumn("mov_avg3", col("mov_sum3") / col("mov_n3").cast("double"))
        .withColumn("delta", col("value") - lag(col("value"), 1).over(w))
    }),
      """SELECT event_id, user_id, ts, value,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w3 AS DOUBLE) AS mov_sum3,
        | count(*) OVER w3 AS mov_n3,
        | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER w3 AS DOUBLE) /
        |   CAST(count(*) OVER w3 AS DOUBLE) AS mov_avg3,
        | value - lag(value) OVER w AS delta
        |FROM events
        |WINDOW
        | w AS (PARTITION BY user_id ORDER BY ts, event_id),
        | w3 AS (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin),

    // J-family widening — interval join without an equi-key: every event
    // inside any purchase's 10-minute window, via the banded time join
    // (Transforms.intervalJoin) — never a cross join.
    Contract("q50_interval_join", ((s, d) => {
      val ev = events(s, d)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"), col("ts").as("pts"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("pte"))
      Transforms.intervalJoin(
          ev.select(col("event_id"), col("ts")), "ts", purch, "pts", "pte", 600L)
        .select(col("event_id"), col("p_event_id"),
          (unix_micros(col("ts")) - unix_micros(col("pts"))).as("delta_us"))
    }),
      """WITH purch AS (
        |  SELECT event_id AS p_event_id, ts AS pts, ts + INTERVAL 10 MINUTE AS pte
        |  FROM events WHERE event_type = 'purchase')
        |SELECT e.event_id, p.p_event_id,
        |  epoch_us(e.ts) - epoch_us(p.pts) AS delta_us
        |FROM events e JOIN purch p
        |  ON e.ts >= p.pts AND e.ts < p.pte""".stripMargin),

    // A/F-family — z-score outlier flagging: population mean/std from
    // exact integer-cents sums, per-row z in doubles with mirrored
    // operation order.
    Contract("q56_zscore_outliers", ((s, d) => {
      val stats = events(s, d).groupBy(col("event_type")).agg(
        sumc(col("value")).as("s1"),
        (sum((cents(col("value")) * cents(col("value")))
          .cast(DecimalType(18, 0))) / lit(10000)).cast("double").as("s2"),
        count(lit(1)).cast("double").as("n"))
        .select(col("event_type"),
          (col("s1") / col("n")).as("m"),
          sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n")))
            .as("sd"))
      events(s, d).join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round((col("value") - col("m")) / col("sd"), 6).as("z"))
        .filter(abs((col("value") - col("m")) / col("sd")) > 2.5)
    }),
      """WITH st AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) / 100 AS DOUBLE) AS s1,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT) *
        |             CAST(round(value * 100) AS BIGINT)) / 10000 AS DOUBLE) AS s2,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM events GROUP BY event_type),
        |ms AS (SELECT event_type, s1 / n AS m,
        |         sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd FROM st)
        |SELECT e.event_id, e.event_type, round((e.value - m) / sd, 6) AS z
        |FROM events e JOIN ms USING (event_type)
        |WHERE abs((e.value - m) / sd) > 2.5""".stripMargin),

    // W-family depth — calendar gap-fill with LOCF over each user's daily
    // value series: dense date spine per key (bounded by keys × days, not
    // events), carried totals, gap flags. The resample step in front of
    // any moving-window feature.
    Contract("q151_gap_fill", ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("user_id"), to_date(col("ts")).as("day"))
        .agg(sumc(col("value")).as("total"))
      Transforms.calendarFill(daily, "user_id", "day", "total")
    }),
      // q151: same decimal-exact daily sums (q35 pattern), generate_series
      // spine, IGNORE NULLS last_value for the LOCF carry
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, min(day) AS d0, max(day) AS d1
        |      FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |j AS (SELECT s.user_id, s.day, d.total FROM spine s
        |      LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day)
        |SELECT user_id, day,
        |  last_value(total IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS total,
        |  (total IS NULL) AS is_gap
        |FROM j""".stripMargin),

    // W-family depth — truncated EWMA smoothing per user's event-value
    // series: exact-integer geometric weights (α=1/2 rational, trailing 8
    // rows), one key exchange + one sort for the whole lag chain. The
    // timestamp goes out as unix micros (engine-neutral).
    Contract("q153_ewma", ((s, d) => {
      val ev = events(s, d)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("value"))
      Transforms.ewmaSmooth(ev, "user_id", "ts_us", "event_id", "value")
    }),
      // q153: same lag chain, integer-cent weights 2^(7-k), exact half-up
      // ratio; den needs the BIGINT cast (DuckDB literal sums are INT32)
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id,
        |  CAST(round(value * 100) AS BIGINT) AS c FROM events),
        |l AS (SELECT user_id, ts_us, event_id, c,
        |    lag(c, 1) OVER w AS c1, lag(c, 2) OVER w AS c2,
        |    lag(c, 3) OVER w AS c3, lag(c, 4) OVER w AS c4,
        |    lag(c, 5) OVER w AS c5, lag(c, 6) OVER w AS c6,
        |    lag(c, 7) OVER w AS c7
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (SELECT user_id, ts_us, event_id, c,
        |    c * 128 + coalesce(c1 * 64, 0) + coalesce(c2 * 32, 0)
        |      + coalesce(c3 * 16, 0) + coalesce(c4 * 8, 0)
        |      + coalesce(c5 * 4, 0) + coalesce(c6 * 2, 0)
        |      + coalesce(c7, 0) AS num,
        |    CAST(128 + CASE WHEN c1 IS NULL THEN 0 ELSE 64 END
        |      + CASE WHEN c2 IS NULL THEN 0 ELSE 32 END
        |      + CASE WHEN c3 IS NULL THEN 0 ELSE 16 END
        |      + CASE WHEN c4 IS NULL THEN 0 ELSE 8 END
        |      + CASE WHEN c5 IS NULL THEN 0 ELSE 4 END
        |      + CASE WHEN c6 IS NULL THEN 0 ELSE 2 END
        |      + CASE WHEN c7 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS den
        |  FROM l)
        |SELECT user_id, ts_us, event_id, c AS value_c, num AS ewma_num,
        |  den AS ewma_den,
        |  CAST((2000000 * num + den * 100) // (2 * den * 100) AS DOUBLE) / 1e6
        |    AS ewma_r
        |FROM s""".stripMargin),

    // Recency sequence features: per-user last-5 event-type ids as fixed
    // columns (alphabetical broadcast dictionary) — the model-input
    // featurizer; window and aggregate share one user exchange.
    Contract("q194_sequence_features", ((s, d) =>
      Transforms.sequenceFeatures(events(s, d), "user_id", "event_type",
        "ts", "event_id", k = 5)),
      // q194: same desc (ts, event_id) recency rank, same alphabetical
      // dictionary, conditional-max slot fold
      """WITH dict AS (
        |  SELECT t, CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS tid
        |  FROM (SELECT DISTINCT event_type AS t FROM events)),
        |r AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |j AS (
        |  SELECT r.user_id, r.rn, d.tid FROM r
        |  JOIN dict d ON d.t = r.event_type WHERE r.rn <= 5)
        |SELECT user_id,
        |  coalesce(max(CASE WHEN rn = 1 THEN tid END), 0) AS f1,
        |  coalesce(max(CASE WHEN rn = 2 THEN tid END), 0) AS f2,
        |  coalesce(max(CASE WHEN rn = 3 THEN tid END), 0) AS f3,
        |  coalesce(max(CASE WHEN rn = 4 THEN tid END), 0) AS f4,
        |  coalesce(max(CASE WHEN rn = 5 THEN tid END), 0) AS f5,
        |  CAST(count(*) AS BIGINT) AS n_recent
        |FROM j GROUP BY user_id""".stripMargin),

    // North star: growth report — q185's lifetime table segmented at the
    // data's anchor (churned / customer / prospect) and rolled up, all
    // in ONE plan; proves the analytics family COMPOSES.
    Contract("q190_growth_report", ((s, d) => {
      val lt = Transforms.userLifetime(events(s, d), "user_id", "ts",
        "event_type", "value", "purchase")
      val anchor = lt.agg(max(to_date(col("last_ts"))).as("anchor"))
      lt.crossJoin(broadcast(anchor))
        .withColumn("segment",
          when(datediff(col("anchor"), to_date(col("last_ts"))) > 14,
            "churned")
            .when(col("revenue_c") >= 75000L, "vip")
            .when(col("n_conversions") > 0L, "customer")
            .otherwise("prospect"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).cast("long").as("n_users"),
          sum(col("revenue_c")).cast("long").as("revenue_c"),
          sum(col("active_days")).cast("long").as("active_days"))
        .withColumn("mean_active_r",
          Corpus.ratioRound6(col("active_days"), col("n_users")))
    }),
      // q190: inlined q185 rollup + anchor segmentation + segment rollup
      """WITH lt AS (
        |  SELECT user_id, max(ts) AS last_ts,
        |    count(DISTINCT CAST(ts AS DATE)) AS active_days,
        |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n_conversions,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) END), 0) AS revenue_c
        |  FROM events GROUP BY user_id),
        |a AS (SELECT max(CAST(last_ts AS DATE)) AS anchor FROM lt),
        |seg AS (
        |  SELECT CASE
        |      WHEN date_diff('day', CAST(last_ts AS DATE), anchor) > 14
        |        THEN 'churned'
        |      WHEN revenue_c >= 75000 THEN 'vip'
        |      WHEN n_conversions > 0 THEN 'customer'
        |      ELSE 'prospect' END AS segment,
        |    active_days, revenue_c
        |  FROM lt, a)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(revenue_c) AS BIGINT) AS revenue_c,
        |  CAST(sum(active_days) AS BIGINT) AS active_days,
        |  CAST((2000000 * sum(active_days) + count(*)) // (2 * count(*))
        |    AS DOUBLE) / 1e6 AS mean_active_r
        |FROM seg GROUP BY 1""".stripMargin),

    // Lagged cross-correlation view→purchase at 7 days: signed r² from
    // exact integer moments over calendar-paired daily counts.
    Contract("q189_lagged_corr", ((s, d) =>
      Transforms.laggedCrossCorrelation(events(s, d), "event_type", "ts",
        "view", "purchase", lagDays = 7)),
      // q189: same calendar pairing and exact moment identities; signed
      // r² via HUGEINT with one half-up rounding
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT x.n AS x, y.n AS y
        |  FROM daily x JOIN daily y
        |    ON x.event_type = 'view' AND y.event_type = 'purchase'
        |    AND y.day = x.day + 7),
        |m AS (
        |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM p),
        |f AS (
        |  SELECT n, n * sxy - sx * sy AS cov, n * sxx - sx * sx AS vx,
        |    n * syy - sy * sy AS vy
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(cov AS BIGINT) AS cov_num,
        |  CAST(vx AS BIGINT) AS varx_num, CAST(vy AS BIGINT) AS vary_num,
        |  CASE WHEN vx = 0 OR vy = 0 THEN NULL
        |    ELSE (CASE WHEN cov < 0 THEN -1 ELSE 1 END) *
        |      CAST((2000000 * cov * cov + vx * vy) // (2 * vx * vy)
        |        AS DOUBLE) / 1e6
        |  END AS signed_r2
        |FROM f""".stripMargin),

    // Linear multi-touch attribution: equal split across the last 5
    // in-horizon touches — q157's window, micro-unit credit quanta, no
    // touch×conversion join.
    Contract("q186_linear_attribution", ((s, d) =>
      Transforms.linearAttribution(events(s, d), "user_id", "event_type",
        "ts", "event_id", "value", Seq("view", "click"), "purchase",
        lookbackSeconds = 604800L, maxTouches = 5)),
      // q186: join-shaped oracle mirror of the window plan — rank ALL
      // strictly-before touches desc, keep rnk<=5 AND horizon, recount n,
      // identical half-up credit/revenue quanta
      """WITH conv AS (
        |  SELECT user_id, event_id, ts, value FROM events
        |  WHERE event_type = 'purchase'),
        |tch AS (
        |  SELECT user_id, event_id, ts, event_type FROM events
        |  WHERE event_type IN ('view', 'click')),
        |pairs AS (
        |  SELECT c.event_id AS conv_id,
        |    CAST(round(c.value * 100) AS BIGINT) AS cents, c.ts AS conv_ts,
        |    t.event_type AS touch_type, t.ts AS t_ts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY t.ts DESC, t.event_id DESC) AS rnk
        |  FROM conv c JOIN tch t ON t.user_id = c.user_id
        |    AND (t.ts < c.ts OR (t.ts = c.ts AND t.event_id < c.event_id))),
        |kept AS (
        |  SELECT * FROM pairs
        |  WHERE rnk <= 5 AND date_diff('second', t_ts, conv_ts) <= 604800),
        |sized AS (
        |  SELECT touch_type, cents,
        |    count(*) OVER (PARTITION BY conv_id) AS n
        |  FROM kept),
        |cr AS (
        |  SELECT touch_type,
        |    (2000000 + n) // (2 * n) AS credit_u,
        |    (2 * cents * 1000 + n) // (2 * n) AS rev_mu
        |  FROM sized)
        |SELECT touch_type, CAST(count(*) AS BIGINT) AS n_credits,
        |  CAST(sum(credit_u) AS BIGINT) AS credit_u,
        |  CAST(sum(rev_mu) AS BIGINT) AS revenue_mu
        |FROM cr GROUP BY 1""".stripMargin),

    // Churn snapshot: inactivity decay curve at the data's own anchor,
    // exact shares, 14-day churn line.
    Contract("q187_churn_snapshot", ((s, d) =>
      Transforms.churnSnapshot(events(s, d), "user_id", "ts", 14)),
      // q187: same user rollup, data-anchored inactivity, exact shares
      """WITH ld AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day FROM events
        |  GROUP BY 1),
        |a AS (SELECT max(last_day) AS anchor FROM ld),
        |g AS (
        |  SELECT date_diff('day', last_day, anchor) AS days_inactive
        |  FROM ld, a),
        |c AS (SELECT days_inactive, count(*) AS n_users FROM g GROUP BY 1),
        |f AS (SELECT days_inactive, n_users, sum(n_users) OVER () AS total
        |      FROM c)
        |SELECT CAST(days_inactive AS BIGINT) AS days_inactive,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  days_inactive > 14 AS is_churned,
        |  CAST((2000000 * n_users + total) // (2 * total) AS DOUBLE) / 1e6
        |    AS share_r
        |FROM f""".stripMargin),

    // Event-type co-occurrence: user-day baskets, within-basket pairs,
    // support + lift — the (user, day)-keyed self-join with |types|²
    // bounded fanout.
    Contract("q184_cooccurrence", ((s, d) =>
      Transforms.typeCooccurrence(events(s, d), "user_id", "ts",
        "event_type")),
      // q184: same distinct user-day-type baskets, a<b pair join, exact
      // support and lift rationals
      """WITH b AS (
        |  SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS day,
        |    event_type AS t
        |  FROM events),
        |tot AS (SELECT count(*) AS n_baskets FROM
        |  (SELECT DISTINCT u, day FROM b)),
        |pt AS (SELECT t, count(*) AS nt FROM b GROUP BY 1),
        |p AS (
        |  SELECT x.t AS type_a, y.t AS type_b, count(*) AS nab
        |  FROM b x JOIN b y ON x.u = y.u AND x.day = y.day AND x.t < y.t
        |  GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b, CAST(p.nab AS BIGINT) AS nab,
        |  CAST(tot.n_baskets AS BIGINT) AS n_baskets,
        |  CAST((2000000 * p.nab + tot.n_baskets) // (2 * tot.n_baskets)
        |    AS DOUBLE) / 1e6 AS support_r,
        |  CAST((2000000 * p.nab * tot.n_baskets + a.nt * c.nt)
        |    // (2 * a.nt * c.nt) AS DOUBLE) / 1e6 AS lift_r
        |FROM p
        |JOIN pt a ON a.t = p.type_a JOIN pt c ON c.t = p.type_b, tot"""
        .stripMargin),

    // Per-user lifetime rollup: first/last/active-days/conversions/
    // revenue in ONE map-side-combining aggregate.
    Contract("q185_user_lifetime", ((s, d) =>
      Transforms.userLifetime(events(s, d), "user_id", "ts", "event_type",
        "value", "purchase")),
      // q185: one user rollup, conversion-filtered cents sum coalesced
      """SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_conversions,
        |  CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) END), 0) AS BIGINT)
        |    AS revenue_c,
        |  CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts)
        |    AS DATE)) AS BIGINT) AS span_days
        |FROM events GROUP BY user_id""".stripMargin),

    // Conditional next-event entropy per from-state: the q138 transition
    // counts through the exact micro-bit entropy identity.
    Contract("q181_transition_entropy", ((s, d) =>
      Transforms.transitionEntropy(events(s, d), "user_id", "event_type",
        "ts", "event_id")),
      // q181: q138's successor pairs, q111's micro-bit entropy identity
      """WITH nx AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |p AS (SELECT from_type, next_type, count(*) AS n FROM nx
        |      WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |a AS (
        |  SELECT from_type, sum(n) AS n_from, count(*) AS n_successors,
        |    sum(n * CAST(round(1e6 * log2(CAST(n AS DOUBLE))) AS BIGINT))
        |      AS sum_ub
        |  FROM p GROUP BY 1)
        |SELECT from_type, CAST(n_from AS BIGINT) AS n_from,
        |  CAST(n_successors AS BIGINT) AS n_successors,
        |  CAST((2 * (CAST(round(1e6 * log2(CAST(n_from AS DOUBLE)))
        |      AS BIGINT) * n_from - sum_ub) + n_from)
        |    // (2 * n_from) AS DOUBLE) / 1e6 AS h_r
        |FROM a""".stripMargin),

    // Fano-factor burstiness of daily counts per event type: exact
    // integer moment identity, no windows.
    Contract("q182_fano", ((s, d) =>
      Transforms.fanoBurstiness(events(s, d), "event_type", "ts")),
      // q182: same daily rollup and exact moment identity
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*) AS d, sum(x) AS sx,
        |        sum(x * x) AS sxx FROM daily GROUP BY 1)
        |SELECT event_type, CAST(d AS BIGINT) AS n_days,
        |  CAST(sx AS BIGINT) AS n_events,
        |  CAST((2000000 * sx + d) // (2 * d) AS DOUBLE) / 1e6
        |    AS daily_mean_r,
        |  CAST((2000000 * (d * sxx - sx * sx) + d * sx) // (2 * d * sx)
        |    AS DOUBLE) / 1e6 AS fano_r
        |FROM m""".stripMargin),

    // Day-of-week seasonality index per event type (Monday=1 ISO
    // numbering — the one stable across engines); ≤ types×7 cells.
    Contract("q177_dow_seasonality", ((s, d) =>
      Transforms.dowSeasonality(events(s, d), "event_type", "ts")),
      // q177: DuckDB isodow == Spark weekday()+1 (both Monday=1)
      """WITH c AS (
        |  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |f AS (SELECT event_type, dow, n,
        |  sum(n) OVER (PARTITION BY event_type) AS total FROM c)
        |SELECT event_type, dow, CAST(n AS BIGINT) AS n,
        |  CAST(total AS BIGINT) AS total,
        |  CAST((2000000 * 7 * n + total) // (2 * total) AS DOUBLE) / 1e6
        |    AS index_r
        |FROM f""".stripMargin),

    // Rolling 7-day active users: DAU/WAU/stickiness via W× explode of
    // the DISTINCT (day, user) table — no sliding-window distinct state.
    Contract("q172_rolling_active", ((s, d) =>
      Transforms.rollingActiveUsers(events(s, d), "user_id", "ts", 7)),
      // q172: same W-day coverage explode over the DISTINCT day×user
      // table, trailing partial days dropped at max(day)
      """WITH du AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |mx AS (SELECT max(day) AS mxd FROM du),
        |cov AS (
        |  SELECT day + CAST(i AS INTEGER) AS day_c, user_id
        |  FROM du, LATERAL unnest(range(0, 7)) AS t(i)),
        |wau AS (
        |  SELECT day_c, count(DISTINCT user_id) AS wau FROM cov, mx
        |  WHERE day_c <= mxd GROUP BY 1),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du
        |        GROUP BY 1)
        |SELECT w.day_c AS day, CAST(coalesce(d.dau, 0) AS BIGINT) AS dau,
        |  CAST(w.wau AS BIGINT) AS wau,
        |  CAST((2000000 * coalesce(d.dau, 0) + w.wau) // (2 * w.wau)
        |    AS DOUBLE) / 1e6 AS stickiness_r
        |FROM wau w LEFT JOIN dau d ON d.day = w.day_c""".stripMargin),

    // Inter-event gap profile: per-user consecutive gaps in exponential
    // buckets (pure integer comparisons, no floor(log2) hazard).
    Contract("q173_gap_profile", ((s, d) =>
      Transforms.interEventGaps(events(s, d), "user_id", "ts", "event_id",
        20)),
      // q173: same (ts, event_id) lag gaps, identical integer-threshold
      // CASE chain
      s"""WITH g AS (
         |  SELECT date_diff('second',
         |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
         |    ts) AS gap_s
         |  FROM events),
         |f AS (SELECT gap_s FROM g WHERE gap_s IS NOT NULL),
         |b AS (
         |  SELECT CASE WHEN gap_s = 0 THEN 0
         |${(1 to 20).map(b => s"    WHEN gap_s < ${1L << b} THEN $b")
            .mkString("\n")}
         |    ELSE 21 END AS bucket, gap_s
         |  FROM f),
         |c AS (SELECT bucket, count(*) AS n, min(gap_s) AS lo_s,
         |        max(gap_s) AS hi_s FROM b GROUP BY 1),
         |t AS (SELECT bucket, n, lo_s, hi_s, sum(n) OVER () AS total FROM c)
         |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
         |  CAST(lo_s AS BIGINT) AS lo_s, CAST(hi_s AS BIGINT) AS hi_s,
         |  CAST((2000000 * n + total) // (2 * total) AS DOUBLE) / 1e6
         |    AS share_r
         |FROM t""".stripMargin),

    // Week-over-week deltas per event type: calendar equi-join against
    // day−7 (honest NULL when no prior week, unlike a lag-7 row window).
    Contract("q169_wow_delta", ((s, d) =>
      Transforms.weekOverWeek(events(s, d), "event_type", "ts", "value")),
      // q169: same daily rollup, LEFT self-join on day − 7
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
        |    coalesce(sum(CAST(round(value * 100) AS BIGINT)), 0) AS val_c
        |  FROM events GROUP BY 1, 2)
        |SELECT c.event_type, c.day, CAST(c.n AS BIGINT) AS n,
        |  CAST(c.val_c AS BIGINT) AS val_c,
        |  CAST(p.n AS BIGINT) AS n_prev,
        |  CAST(c.n - p.n AS BIGINT) AS delta_n,
        |  CAST(c.val_c - p.val_c AS BIGINT) AS delta_val_c
        |FROM daily c LEFT JOIN daily p
        |  ON p.event_type = c.event_type AND p.day = c.day - 7""".stripMargin),

    // Clickstream path mining: each user's first-3-events path with
    // exact frequency shares — one user-keyed window + aggregate on a
    // shared exchange, alphabet-bounded path table.
    Contract("q167_path_mining", ((s, d) =>
      Transforms.pathMining(events(s, d), "user_id", "event_type", "ts",
        "event_id", k = 3)),
      // q167: same (ts, event_id) row_number truncation; DuckDB's ordered
      // string_agg replaces the sorted-struct join
      """WITH rn AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |p AS (
        |  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM rn WHERE rn <= 3 GROUP BY user_id),
        |c AS (SELECT path, count(*) AS n FROM p GROUP BY 1),
        |f AS (SELECT path, n, sum(n) OVER () AS total FROM c)
        |SELECT path, CAST(n AS BIGINT) AS n, CAST(total AS BIGINT) AS total,
        |  CAST((2000000 * n + total) // (2 * total) AS DOUBLE) / 1e6
        |    AS share_r
        |FROM f""".stripMargin),

    // OHLC daily bars per event type: first/last in strict (ts, id)
    // order + min/max/count/sum cents — per-bucket window and the bar
    // aggregate share ONE (key, day) shuffle.
    Contract("q161_ohlc_bars", ((s, d) =>
      Transforms.ohlcBars(events(s, d), "event_type", "ts", "event_id",
        "value")),
      // q161: same per-(type, day) full-frame first/last over (ts,
      // event_id) order, integer cents throughout
      """WITH b AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, ts, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS c
        |  FROM events WHERE value IS NOT NULL),
        |w AS (
        |  SELECT event_type, day, c,
        |    first_value(c) OVER win AS open_c,
        |    last_value(c) OVER win AS close_c
        |  FROM b
        |  WINDOW win AS (PARTITION BY event_type, day ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
        |SELECT event_type, day,
        |  CAST(max(open_c) AS BIGINT) AS open_c,
        |  CAST(max(close_c) AS BIGINT) AS close_c,
        |  CAST(max(c) AS BIGINT) AS high_c, CAST(min(c) AS BIGINT) AS low_c,
        |  CAST(count(*) AS BIGINT) AS n, CAST(sum(c) AS BIGINT) AS vol_c
        |FROM w GROUP BY 1, 2""".stripMargin),

    // Per-group OLS trend: closed-form slope of value-cents vs hours-
    // since-anchor from four exact integer moment sums — one broadcast
    // anchor + one map-side-combining aggregate, no windows.
    Contract("q159_ols_trend", ((s, d) =>
      Transforms.olsTrend(events(s, d), "event_type", "ts", "value")),
      // q159: same hours-since-min-epoch x, cents y, four HUGEINT-safe
      // moment sums cast to BIGINT, sign-aware half-up slope rounding
      """WITH t0 AS (SELECT min(date_diff('second',
        |    TIMESTAMP '1970-01-01', ts)) AS t0 FROM events),
        |xy AS (
        |  SELECT event_type,
        |    (date_diff('second', TIMESTAMP '1970-01-01', ts) - t0)
        |      // 3600 AS x,
        |    CAST(round(value * 100) AS BIGINT) AS y
        |  FROM events, t0 WHERE value IS NOT NULL),
        |m AS (
        |  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy
        |  FROM xy GROUP BY 1),
        |f AS (
        |  SELECT event_type, CAST(n AS BIGINT) AS n,
        |    CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
        |    CAST(n * sxx - sx * sx AS BIGINT) AS slope_den
        |  FROM m)
        |SELECT event_type, n, slope_num, slope_den,
        |  CASE WHEN slope_den = 0 THEN NULL
        |    ELSE (CASE WHEN slope_num < 0 THEN -1 ELSE 1 END) *
        |      CAST((2000000 * abs(slope_num) + slope_den)
        |        // (2 * slope_den) AS DOUBLE) / 1e6
        |  END AS slope_r
        |FROM f""".stripMargin),

    // Last-touch attribution: each purchase credited to the user's most
    // recent view/click within 7 days, else 'direct' — one user-keyed
    // window, no touch×conversion self-join.
    Contract("q157_attribution", ((s, d) =>
      Transforms.lastTouchAttribution(events(s, d), "user_id", "event_type",
        "ts", "event_id", "value", Seq("view", "click"), "purchase",
        lookbackSeconds = 604800L)),
      // q157: same strictly-before frame (ROWS ... 1 PRECEDING over ts,
      // event_id), IGNORE NULLS last_value per column (both CASEs share the
      // null mask so they pick the same row), integer-second horizon
      """WITH t AS (
        |  SELECT user_id, event_type, ts, event_id, value,
        |    last_value(CASE WHEN event_type IN ('view','click')
        |        THEN event_type END IGNORE NULLS) OVER w AS lt_type,
        |    last_value(CASE WHEN event_type IN ('view','click')
        |        THEN ts END IGNORE NULLS) OVER w AS lt_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id, ts AS conv_ts,
        |  CASE WHEN lt_ts IS NOT NULL
        |         AND date_diff('second', lt_ts, ts) <= 604800
        |       THEN lt_type ELSE 'direct' END AS touch_type,
        |  CASE WHEN lt_ts IS NOT NULL
        |         AND date_diff('second', lt_ts, ts) <= 604800
        |       THEN lt_ts END AS touch_ts,
        |  CAST(round(value * 100) AS BIGINT) AS revenue_cents
        |FROM t WHERE event_type = 'purchase'""".stripMargin),

    // Cohort retention: first-activity-day cohorts × day offsets, exact
    // integer retention shares.
    Contract("q137_cohort_retention", ((s, d) =>
      Transforms.cohortRetention(events(s, d), "user_id", "ts")),
      // q137: all-integer cohort arithmetic; retention via exact half-up
      // integer rounding
      """WITH fd AS (SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |            FROM events GROUP BY 1),
        |cs AS (SELECT cohort_day, count(*) AS cohort_n FROM fd GROUP BY 1),
        |ad AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |r AS (
        |  SELECT fd.cohort_day,
        |    CAST(date_diff('day', fd.cohort_day, ad.day) AS BIGINT)
        |      AS day_offset,
        |    count(*) AS n_active
        |  FROM ad JOIN fd ON ad.user_id = fd.user_id
        |  GROUP BY 1, 2)
        |SELECT r.cohort_day, r.day_offset,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(cohort_n AS BIGINT) AS cohort_n,
        |  CAST((2000000 * n_active + cohort_n) // (2 * cohort_n) AS DOUBLE)
        |    / 1e6 AS retention_r
        |FROM r JOIN cs ON r.cohort_day = cs.cohort_day""".stripMargin),

    // First-order Markov transition matrix over per-user clickstreams;
    // one bounded per-user window, type²-bounded aggregate.
    Contract("q138_event_transitions", ((s, d) =>
      Transforms.eventTransitions(events(s, d), "user_id", "event_type",
        "ts", "event_id")),
      // q138: identical (ts, event_id) total order for lead(); conditional
      // share via the same exact integer rounding
      """WITH nx AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |p AS (SELECT from_type, next_type, count(*) AS n FROM nx
        |      WHERE next_type IS NOT NULL GROUP BY 1, 2),
        |f AS (SELECT from_type, next_type, n,
        |        sum(n) OVER (PARTITION BY from_type) AS n_from FROM p)
        |SELECT from_type, next_type, CAST(n AS BIGINT) AS n,
        |  CAST(n_from AS BIGINT) AS n_from,
        |  CAST((2000000 * n + n_from) // (2 * n_from) AS DOUBLE) / 1e6 AS p_r
        |FROM f""".stripMargin),

    // Time-decayed per-type event aggregates, 7-day half-life — recency-
    // weighted features with per-event micro-unit rounding before the sum.
    Contract("q136_time_decay", ((s, d) =>
      Transforms.timeDecayedAgg(events(s, d), "event_type", "ts", "value",
        halfLifeSeconds = 604800L)),
      // q136: same anchor, integer-second ages, per-event micro-weight
      // rounding before the integer sum
      """WITH a AS (SELECT max(ts) AS anchor FROM events),
        |w AS (
        |  SELECT event_type, value,
        |    CAST(round(1e6 * pow(2.0,
        |      -CAST(date_diff('second', ts, anchor) AS DOUBLE) / 604800.0))
        |      AS BIGINT) AS w_u
        |  FROM events, a)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(w_u) AS BIGINT) AS decayed_n_u,
        |  CAST(sum(w_u) AS DOUBLE) / 1e6 AS decayed_n_r,
        |  CAST(sum(w_u * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS decayed_val_cu
        |FROM w GROUP BY event_type""".stripMargin),

    // Ordered conversion funnel view → click → purchase: strict event-order
    // semantics, one user-keyed aggregate per stage, no windows.
    Contract("q135_funnel", ((s, d) =>
      Transforms.funnel(events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),
      // q135: stage i = earliest stage event strictly after the stage-(i-1)
      // frontier; timestamps are micro-aligned so the values compare exactly
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |       WHERE e.event_type = 'click' GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |       WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST((CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END)
        |     + (CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END)
        |     + (CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS stages_reached
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id""".stripMargin),

    // Shuffle-key skew diagnostic over the natural join key: per-key count
    // distribution (exact percentiles), hottest-key share — what bounds a
    // join's parallelism at 100 TB.
    Contract("q134_skew_profile", ((s, d) =>
      Transforms.skewProfile(lineitem(s, d), col("l_orderkey"))),
      // q134: same count table; quantile_cont is DuckDB's exact interpolated
      // percentile (Spark `percentile`); top-1 share via exact-integer rounding
      """WITH c AS (
        |  SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |a AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |    CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(max(c) AS BIGINT) AS max_cnt,
        |    round(quantile_cont(c, 0.5), 6) AS p50_cnt,
        |    round(quantile_cont(c, 0.99), 6) AS p99_cnt
        |  FROM c)
        |SELECT n_rows, n_keys, max_cnt,
        |  CAST((2000000 * max_cnt + n_rows) // (2 * n_rows) AS DOUBLE) / 1e6
        |    AS top1_share_r,
        |  p50_cnt, p99_cnt,
        |  round(CAST(max_cnt AS DOUBLE) / p50_cnt, 6) AS skew_r
        |FROM a""".stripMargin),

    // Robust per-group outlier statistics: median + MAD (both exact
    // interpolated percentiles, rounded to 6dp BEFORE reuse so both engines
    // thresholded with identical doubles), outlier count at the standard
    // 3σ-equivalent 3·1.4826·MAD fence.
    Contract("q117_mad_outliers", ((s, d) => {
      val ev = events(s, d)
      val med = ev.groupBy(col("event_type"))
        .agg(round(expr("percentile(value, 0.5D)"), 6).as("med_r"))
      val stats = ev.join(broadcast(med), "event_type")
        .groupBy(col("event_type"))
        .agg(first(col("med_r")).as("med_r"),
          round(expr("percentile(abs(value - med_r), 0.5D)"), 6).as("mad_r"),
          count(lit(1)).as("n"))
      ev.join(broadcast(stats), "event_type")
        .groupBy(col("event_type"), col("med_r"), col("mad_r"), col("n"))
        .agg(sum(when(abs(col("value") - col("med_r")) >
          lit(4.4478) * col("mad_r"), 1L).otherwise(0L)).as("n_outlier"))
        .select(col("event_type"), col("med_r"), col("mad_r"),
          col("n").cast("long").as("n"),
          col("n_outlier").cast("long").as("n_outlier"))
    }),
      // q117: median and MAD rounded to 6dp BEFORE the threshold compare, so
      // both engines fence with identical doubles (q52 pins the percentile
      // interpolation parity)
      """WITH med AS (
        |  SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med_r
        |  FROM events GROUP BY event_type),
        |stats AS (
        |  SELECT e.event_type, any_value(m.med_r) AS med_r,
        |    round(quantile_cont(abs(e.value - m.med_r), 0.5), 6) AS mad_r,
        |    count(*) AS n
        |  FROM events e JOIN med m USING (event_type)
        |  GROUP BY e.event_type)
        |SELECT s.event_type, s.med_r, s.mad_r, CAST(s.n AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN abs(e.value - s.med_r) > 4.4478 * s.mad_r
        |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier
        |FROM events e JOIN stats s USING (event_type)
        |GROUP BY s.event_type, s.med_r, s.mad_r, s.n""".stripMargin),

    // Directional as-of (pandas merge_asof parity): every event matched to
    // its NEAREST same-user purchase within a 6h tolerance — backward wins
    // ties. Same one-exchange union+carry plan as q44's backward as-of.
    Contract("q201_asof_directional", ((s, d) => {
      val ev = events(s, d)
      val left = ev.select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("pval"))
      Transforms.asofJoinDirectional(left, purchases, "user_id", "ts",
          Seq("pval"), direction = "nearest", toleranceSeconds = 21600L)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("asof_ts"), col("pval"))
    }),
      // Same union+ordered-carry formulation as the Spark plan; per-column
      // fills share one deterministic ordering (rts, pval tiebreak), so they
      // pick the same matched row.
      """WITH l AS (SELECT user_id, ts, event_id, 1 AS is_left,
        |    CAST(NULL AS TIMESTAMP) AS rts, CAST(NULL AS DOUBLE) AS pval
        |  FROM events),
        |r AS (SELECT user_id, ts, CAST(NULL AS BIGINT) AS event_id,
        |    0 AS is_left, ts AS rts, value AS pval
        |  FROM events WHERE event_type = 'purchase'),
        |u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
        |f AS (SELECT *,
        |  last_value(rts IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, is_left, rts, pval
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_rts,
        |  last_value(pval IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, is_left, rts, pval
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS b_pval,
        |  first_value(rts IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, is_left DESC, rts, pval
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_rts,
        |  first_value(pval IGNORE NULLS) OVER
        |    (PARTITION BY user_id ORDER BY ts, is_left DESC, rts, pval
        |     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS f_pval
        |  FROM u),
        |ch AS (SELECT *, CASE
        |    WHEN b_rts IS NULL THEN f_rts
        |    WHEN f_rts IS NULL THEN b_rts
        |    WHEN epoch_us(ts) - epoch_us(b_rts)
        |      <= epoch_us(f_rts) - epoch_us(ts) THEN b_rts ELSE f_rts
        |  END AS m_rts, CASE
        |    WHEN b_rts IS NULL THEN f_pval
        |    WHEN f_rts IS NULL THEN b_pval
        |    WHEN epoch_us(ts) - epoch_us(b_rts)
        |      <= epoch_us(f_rts) - epoch_us(ts) THEN b_pval ELSE f_pval
        |  END AS m_pval FROM f WHERE is_left = 1),
        |tol AS (SELECT *, abs(epoch_us(ts) - epoch_us(m_rts))
        |    <= 21600000000 AS ok FROM ch)
        |SELECT event_id, user_id, ts,
        |  CASE WHEN ok THEN m_rts END AS asof_ts,
        |  CASE WHEN ok THEN m_pval END AS pval
        |FROM tol""".stripMargin),

    // STL-lite daily decomposition (q177's DOW index taken to the full
    // classical decomposition): per day, trend = centered 7-day moving
    // average, seasonal = DOW mean minus overall mean, residual = the
    // rest — each a single divide (or divide-difference in fixed order)
    // over exact integer window sums, so doubles are bit-equal
    // cross-engine. Scale-safe by construction: the windows run over the
    // DAILY AGGREGATE (bounded by calendar days), never event rows.
    Contract("q215_stl_decompose", ((s, d) => {
      val daily = events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val wT = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val wAll = Window.orderBy(col("day")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val trend = col("trend_sum").cast("double") /
        col("trend_cnt").cast("double")
      val seasonal = col("dow_sum").cast("double") /
        col("dow_cnt").cast("double") -
        col("tot_sum").cast("double") / col("tot_cnt").cast("double")
      daily
        .withColumn("dow", (weekday(col("day")) + lit(1)).cast("long"))
        .withColumn("trend_sum", sum(col("n")).over(wT))
        .withColumn("trend_cnt", count(lit(1)).over(wT))
        .withColumn("dow_sum",
          sum(col("n")).over(Window.partitionBy(col("dow"))))
        .withColumn("dow_cnt",
          count(lit(1)).over(Window.partitionBy(col("dow"))))
        .withColumn("tot_sum", sum(col("n")).over(wAll))
        .withColumn("tot_cnt", count(lit(1)).over(wAll))
        .select(col("day"), col("dow"), col("n").cast("long").as("n"),
          round(trend, 6).as("trend_r"),
          round(seasonal, 6).as("seasonal_r"),
          round(col("n").cast("double") - trend - seasonal, 6)
            .as("residual_r"))
    }),
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, CAST(isodow(day) AS BIGINT) AS dow, n,
        |  sum(n) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend_sum,
        |  count(*) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend_cnt,
        |  sum(n) OVER (PARTITION BY isodow(day)) AS dow_sum,
        |  count(*) OVER (PARTITION BY isodow(day)) AS dow_cnt,
        |  sum(n) OVER () AS tot_sum,
        |  count(*) OVER () AS tot_cnt
        |  FROM daily)
        |SELECT day, dow, CAST(n AS BIGINT) AS n,
        |  round(CAST(trend_sum AS DOUBLE) / CAST(trend_cnt AS DOUBLE), 6)
        |    AS trend_r,
        |  round(CAST(dow_sum AS DOUBLE) / CAST(dow_cnt AS DOUBLE) -
        |    CAST(tot_sum AS DOUBLE) / CAST(tot_cnt AS DOUBLE), 6)
        |    AS seasonal_r,
        |  round(CAST(n AS DOUBLE) -
        |    CAST(trend_sum AS DOUBLE) / CAST(trend_cnt AS DOUBLE) -
        |    (CAST(dow_sum AS DOUBLE) / CAST(dow_cnt AS DOUBLE) -
        |     CAST(tot_sum AS DOUBLE) / CAST(tot_cnt AS DOUBLE)), 6)
        |    AS residual_r
        |FROM w""".stripMargin),

    // Residual anomaly days — q215's decomposition closed into an
    // actionable detector with q117's robust fence: a day is anomalous
    // when its residual sits more than 3σ-equivalent (4.4478·MAD) from
    // the residual median. Medians are exact interpolated percentiles
    // rounded to 6dp BEFORE reuse (q117 pattern) so both engines
    // threshold with identical doubles.
    Contract("q216_residual_anomalies", ((s, d) => {
      val daily = events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val wT = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val wAll = Window.orderBy(col("day")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val trend = col("trend_sum").cast("double") /
        col("trend_cnt").cast("double")
      val seasonal = col("dow_sum").cast("double") /
        col("dow_cnt").cast("double") -
        col("tot_sum").cast("double") / col("tot_cnt").cast("double")
      val resid = daily
        .withColumn("dow", (weekday(col("day")) + lit(1)).cast("long"))
        .withColumn("trend_sum", sum(col("n")).over(wT))
        .withColumn("trend_cnt", count(lit(1)).over(wT))
        .withColumn("dow_sum",
          sum(col("n")).over(Window.partitionBy(col("dow"))))
        .withColumn("dow_cnt",
          count(lit(1)).over(Window.partitionBy(col("dow"))))
        .withColumn("tot_sum", sum(col("n")).over(wAll))
        .withColumn("tot_cnt", count(lit(1)).over(wAll))
        .select(col("day"), col("n").cast("long").as("n"),
          (col("n").cast("double") - trend - seasonal).as("resid"))
      val med = resid.agg(
        round(expr("percentile(resid, 0.5D)"), 6).as("med_r"))
      val stats = resid.crossJoin(broadcast(med))
        .agg(first(col("med_r")).as("med_r"),
          round(expr("percentile(abs(resid - med_r), 0.5D)"), 6).as("mad_r"))
      resid.crossJoin(broadcast(stats))
        .select(col("day"), col("n"), round(col("resid"), 6).as("resid_r"),
          col("med_r"), col("mad_r"),
          (abs(col("resid") - col("med_r")) >
            lit(4.4478) * col("mad_r")).as("is_anomaly"))
    }),
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1),
        |w AS (SELECT day, n,
        |  sum(n) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend_sum,
        |  count(*) OVER (ORDER BY day
        |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend_cnt,
        |  sum(n) OVER (PARTITION BY isodow(day)) AS dow_sum,
        |  count(*) OVER (PARTITION BY isodow(day)) AS dow_cnt,
        |  sum(n) OVER () AS tot_sum,
        |  count(*) OVER () AS tot_cnt
        |  FROM daily),
        |r AS (SELECT day, n,
        |  CAST(n AS DOUBLE) -
        |    CAST(trend_sum AS DOUBLE) / CAST(trend_cnt AS DOUBLE) -
        |    (CAST(dow_sum AS DOUBLE) / CAST(dow_cnt AS DOUBLE) -
        |     CAST(tot_sum AS DOUBLE) / CAST(tot_cnt AS DOUBLE)) AS resid
        |  FROM w),
        |m AS (SELECT round(quantile_cont(resid, 0.5), 6) AS med_r FROM r),
        |s AS (SELECT m.med_r,
        |    round(quantile_cont(abs(r.resid - m.med_r), 0.5), 6) AS mad_r
        |  FROM r CROSS JOIN m GROUP BY m.med_r)
        |SELECT r.day, CAST(r.n AS BIGINT) AS n,
        |  round(r.resid, 6) AS resid_r, s.med_r, s.mad_r,
        |  abs(r.resid - s.med_r) > 4.4478 * s.mad_r AS is_anomaly
        |FROM r CROSS JOIN s""".stripMargin),

    // Bot-rate session gate — the crawl/abuse filter a clickstream feeds
    // through before analytics: q35's gap sessionization, then a flag for
    // sessions sustaining > 6 events/minute, tested cross-multiplied in
    // exact integers (n·60s > dur·6 — no float rate, no div-by-zero on
    // single-event sessions). One user exchange shared by the lag window
    // and the session rollup.
    Contract("q239_bot_rate_gate", ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      events(s, d)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("flag",
          when(col("prev").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev")) > 300000000L, 1)
            .otherwise(0))
        .withColumn("session_id", sum(col("flag")).over(run).cast("long"))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).cast("long").as("n"),
          expr("(max(unix_micros(ts)) - min(unix_micros(ts))) DIV 1000000")
            .cast("long").as("dur_s"))
        // single/short sessions can't establish a RATE — require volume
        .withColumn("is_bot",
          col("n") >= 10L && col("n") * 60L > col("dur_s") * 6L)
    }),
      // q239: q35's session CTEs + the integer cross-multiplied rate gate.
      """WITH x AS (SELECT user_id, event_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        | FROM events),
        |f AS (SELECT *, CASE WHEN prev IS NULL
        |       OR epoch_us(ts) - epoch_us(prev) > 300000000 THEN 1 ELSE 0
        |     END AS flag FROM x),
        |sess AS (SELECT *, CAST(sum(flag) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS session_id
        | FROM f)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000
        |    AS BIGINT) AS dur_s,
        |  count(*) >= 10 AND
        |    count(*) * 60 > ((max(epoch_us(ts)) - min(epoch_us(ts)))
        |      // 1000000) * 6 AS is_bot
        |FROM sess GROUP BY user_id, session_id""".stripMargin),

    // Time-bounded conversion funnel (q135's windowed sibling): each
    // stage must land within 30 minutes of the previous stage's earliest
    // qualifying event — the funnel semantics product analytics actually
    // uses (an unbounded funnel credits conversions months later).
    Contract("q212_funnel_within", ((s, d) =>
      Transforms.funnelWithin(events(s, d), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), maxGapSeconds = 1800L)),
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |    AND epoch_us(e.ts) - epoch_us(s1.t1) <= 1800000000
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |    AND epoch_us(e.ts) - epoch_us(s2.t2) <= 1800000000
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
        |  CAST(1 + (CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END) +
        |    (CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |    AS stages_reached
        |FROM s1
        |LEFT JOIN s2 ON s2.user_id = s1.user_id
        |LEFT JOIN s3 ON s3.user_id = s1.user_id""".stripMargin),

    // Decile lift/gains table — the model-eval report scoring pipelines
    // ship with every propensity model: rank by score into deciles, then
    // per-decile and cumulative lift vs the base rate. All rates are
    // single divides of exact integer cross-products (n_pos·N vs n·N_pos),
    // so the doubles are bit-equal cross-engine; ntile is total-ordered by
    // (score desc, event_id). Complements q158 (exact ROC AUC) and q165
    // (calibration curve) as the third standard scoring diagnostic.
    // Scale note: exact ntile is a global sort — correct for report-sized
    // scored sets; at 100 TB bucket by equi-depth score boundaries
    // (q163's percentile approach) instead of ranking every row.
    Contract("q209_lift_table", ((s, d) => {
      val ev = events(s, d).select(col("event_id"),
        col("value").as("score"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("label"))
      val decd = ev.withColumn("decile",
        ntile(10).over(Window.orderBy(col("score").desc, col("event_id"))))
      val per = decd.groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"))
      val tot = per.agg(sum(col("n")).as("nn"), sum(col("n_pos")).as("np"))
      val w = Window.orderBy(col("decile"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      per.crossJoin(broadcast(tot))
        .withColumn("cum_n", sum(col("n")).over(w))
        .withColumn("cum_pos", sum(col("n_pos")).over(w))
        .select(col("decile").cast("long").as("decile"),
          col("n").cast("long").as("n"),
          col("n_pos").cast("long").as("n_pos"),
          round(col("n_pos").cast("double") / col("n").cast("double"), 6)
            .as("rate_r"),
          round((col("n_pos") * col("nn")).cast("double") /
            (col("n") * col("np")).cast("double"), 6).as("lift_r"),
          round((col("cum_pos") * col("nn")).cast("double") /
            (col("cum_n") * col("np")).cast("double"), 6).as("cum_lift_r"))
    }),
      """WITH ev AS (SELECT event_id, value AS score,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
        |  FROM events),
        |d AS (SELECT *, ntile(10) OVER (ORDER BY score DESC, event_id)
        |    AS decile FROM ev),
        |per AS (SELECT decile, count(*) AS n, sum(label) AS n_pos
        |  FROM d GROUP BY decile),
        |tot AS (SELECT sum(n) AS nn, sum(n_pos) AS np FROM per),
        |c AS (SELECT p.*, t.nn, t.np,
        |    sum(n) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
        |    sum(n_pos) OVER (ORDER BY decile
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
        |  FROM per p CROSS JOIN tot t)
        |SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n,
        |  CAST(n_pos AS BIGINT) AS n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate_r,
        |  round(CAST(n_pos * nn AS DOUBLE) / CAST(n * np AS DOUBLE), 6)
        |    AS lift_r,
        |  round(CAST(cum_pos * nn AS DOUBLE) / CAST(cum_n * np AS DOUBLE), 6)
        |    AS cum_lift_r
        |FROM c""".stripMargin)
  )
}
