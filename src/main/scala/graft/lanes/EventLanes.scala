package graft.lanes

import org.apache.spark.sql.functions._

import graft.operators.{FeatureEng, FeatureEngSql, Ranks, Tables, TextAnalysis, TextAnalysisSql}

/** Event-time, date and sequence analytics over `events` (SURVEY §2.5). */
object EventLanes extends LaneFamily("events") {
  // shared by e9_attribution and its incremental twin
  // st22_stream_attribution: per-user carried last-touch, 7-day lookback
  private[lanes] lazy val attributionSql =
    """WITH seq AS (
      |  SELECT user_id, event_id, epoch_ns(ts) AS tns, event_type,
      |         last_value(CASE WHEN event_type IN ('click', 'view')
      |                         THEN epoch_ns(ts) END IGNORE NULLS)
      |           OVER w AS t_ns,
      |         last_value(CASE WHEN event_type IN ('click', 'view')
      |                         THEN event_id END IGNORE NULLS)
      |           OVER w AS t_id,
      |         last_value(CASE WHEN event_type IN ('click', 'view')
      |                         THEN event_type END IGNORE NULLS)
      |           OVER w AS t_type
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT user_id, event_id AS purchase_id,
      |       tns // 1000 AS purchase_ts_us,
      |       CASE WHEN t_ns IS NOT NULL AND tns - t_ns <= 604800000000000
      |            THEN t_id END AS touch_id,
      |       CASE WHEN t_ns IS NOT NULL AND tns - t_ns <= 604800000000000
      |            THEN t_type ELSE 'organic' END AS channel
      |FROM seq WHERE event_type = 'purchase'
      |ORDER BY purchase_id""".stripMargin
  // shared by w7_zscore_anomaly and its incremental twin
  // st21_stream_anomaly: identical trailing 50-frame, rounded-z filter
  private[lanes] lazy val zscoreSql =
    """WITH f AS (
      |  SELECT event_id, event_type, value,
      |         count(*) OVER w AS n_prev,
      |         avg(value) OVER w AS mu,
      |         stddev_samp(value) OVER w AS sd
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type
      |               ORDER BY epoch_ns(ts), event_id
      |               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING))
      |SELECT event_id, event_type, round(value, 6) AS value,
      |       round((value - mu) / sd, 6) AS z
      |FROM f
      |WHERE n_prev = 50 AND sd > 0
      |  AND abs(round((value - mu) / sd, 6)) > 3
      |ORDER BY event_id""".stripMargin
  // shared by e8_markov and its incremental twin st20_stream_markov:
  // identical per-user lead + per-prev normalization
  private[lanes] lazy val markovSql =
    """WITH seq AS (
      |  SELECT event_type AS prev_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |           ORDER BY epoch_ns(ts), event_id) AS next_type
      |  FROM events),
      |tr AS (SELECT prev_type, next_type, count(*) AS n
      |       FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT prev_type, next_type, n,
      |       round(n / CAST(sum(n) OVER (PARTITION BY prev_type)
      |                      AS DOUBLE), 6) AS p
      |FROM tr ORDER BY prev_type, next_type""".stripMargin

  val lanes: Seq[Lane] = Seq(
    // --- E: event-time / date functions over events (SURVEY §2.5 absence)
    Lane("e1_event_hourly", Some(
        """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
          |       event_type, count(*) AS n
          |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin))((s, dir) =>
      Tables(s, dir, "events")
        // integer `div`: double division of ~1.7e18 nanos loses the last
        // ~8 bits and can misplace hour-boundary events vs the oracle
        .select(date_format(timestamp_micros(expr("ts div 1000")),
          "yyyy-MM-dd HH:00").as("hour"), col("event_type"))
        .groupBy("hour", "event_type").agg(count("*").as("n"))
        .orderBy("hour", "event_type")),
    // the same 4 hops per event via integer micros
    Lane("e6_sliding", Some(
        """WITH ev AS (SELECT epoch_ns(ts) // 1000 AS us, event_type
          |            FROM events),
          |hops AS (
          |  SELECT ((us // 900000000) - k) * 900000000 AS w_start_us,
          |         event_type
          |  FROM ev, (SELECT unnest(generate_series(0, 3)) AS k))
          |SELECT w_start_us, event_type, count(*) AS n
          |FROM hops GROUP BY 1, 2
          |ORDER BY w_start_us, event_type""".stripMargin))((s, dir) =>
      // Hopping (sliding) event-time windows — 1 h windows advancing
      // every 15 min, so each event lands in exactly 4 overlapping
      // windows: the trend-detection shape e1's tumbling windows can't
      // express. Spark's window() plans the 4 assignments as a narrow
      // explode in the scan projection (no self-join); the aggregate
      // stays one partial/final pair keyed by (window, type). The
      // oracle regenerates the same 4 hops per event with integer
      // arithmetic on epoch micros.
      Tables(s, dir, "events")
        .select(timestamp_micros(expr("ts div 1000")).as("t"),
          col("event_type"))
        .groupBy(window(col("t"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(expr("unix_micros(window.start)").as("w_start_us"),
          col("event_type"), col("n"))
        .orderBy("w_start_us", "event_type")),
    Lane("e5_retention", Some(
        """WITH ev AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
          |            FROM events),
          |first AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1)
          |SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
          |       date_diff('day', cohort, day) AS day_offset,
          |       count(DISTINCT user_id) AS n_active
          |FROM ev JOIN first USING (user_id)
          |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin))((s, dir) => {
      // cohort retention: users grouped by first-seen day, activity
      // counted per day offset — the classic growth-analytics matrix.
      // Two user-keyed aggregates and one user-keyed join over narrow
      // rows; distinct-user counting shuffles (cohort, offset, user)
      // triples, never event payloads.
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          to_date(timestamp_micros(expr("ts div 1000"))).as("day"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort"))
      ev.join(first, "user_id")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"),
          col("user_id"))
        .groupBy("cohort", "day_offset")
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort", "day_offset")
    }),
    // identical cents-exact cumulative triangle
    Lane("e10_cohort_ltv", Some(
        """WITH ev AS (
          |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          |         CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |first AS (SELECT user_id, min(day) AS cohort FROM ev GROUP BY 1),
          |cells AS (
          |  SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
          |         date_diff('day', cohort, day) AS day_offset,
          |         CAST(sum(cents) AS BIGINT) AS c
          |  FROM ev JOIN first USING (user_id) GROUP BY 1, 2)
          |SELECT cohort, day_offset,
          |       round(CAST(c AS DOUBLE) / 100, 2) AS rev,
          |       round(CAST(sum(c) OVER (PARTITION BY cohort
          |               ORDER BY day_offset ROWS UNBOUNDED PRECEDING)
          |             AS DOUBLE) / 100, 2) AS cum_ltv
          |FROM cells ORDER BY cohort, day_offset""".stripMargin))((s, dir) => {
      // cohort LTV triangle: per signup cohort (first-seen day), the
      // per-offset revenue and its CUMULATIVE total — the money face of
      // e5's retention matrix (the growth-analytics "LTV by cohort age"
      // curve). Value sums are cents-exact integers (the benford
      // precedent), so the running totals are summation-order
      // independent; the cumulative window runs over the BOUNDED
      // (cohort × offset) cell relation partitioned by cohort — never a
      // row-scaled window. Same two user-keyed aggregates + user-keyed
      // join scale shape as e5.
      val ev = Tables(s, dir, "events")
        .select(col("user_id"),
          to_date(timestamp_micros(expr("ts div 1000"))).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val first = ev.groupBy("user_id").agg(min("day").as("cohort"))
      val cells = ev.join(first, "user_id")
        .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"),
          col("cents"))
        .groupBy("cohort", "day_offset").agg(sum("cents").as("c"))
      val wLtv = org.apache.spark.sql.expressions.Window
        .partitionBy("cohort").orderBy("day_offset")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      cells.select(col("cohort"), col("day_offset"),
        round(col("c").cast("double") / 100, 2).as("rev"),
        round(sum(col("c")).over(wLtv).cast("double") / 100, 2)
          .as("cum_ltv"))
        .orderBy("cohort", "day_offset")
    }),
    // identical bounded cells + broadcast margins
    Lane("e11_seasonality", Some(
        """WITH cells AS (
          |  SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hod,
          |         count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |bt AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_type
          |       FROM cells GROUP BY 1),
          |bh AS (SELECT hod, CAST(sum(n) AS BIGINT) AS n_hod
          |       FROM cells GROUP BY 1),
          |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM cells)
          |SELECT c.event_type, c.hod, CAST(c.n AS BIGINT) AS n,
          |       round(CAST(c.n AS DOUBLE) / bt.n_type, 6) AS share,
          |       round(CAST(c.n AS DOUBLE) * t.n_tot
          |             / (CAST(bt.n_type AS DOUBLE) * bh.n_hod), 6)
          |         AS seasonal_index
          |FROM cells c
          |JOIN bt ON bt.event_type = c.event_type
          |JOIN bh ON bh.hod = c.hod
          |CROSS JOIN t
          |ORDER BY c.event_type, c.hod""".stripMargin))((s, dir) => {
      // hour-of-day seasonal index per event type: each type's hourly
      // profile against the corpus-wide profile (index > 1 = the hour is
      // over-represented for that type) — the seasonality screen a
      // volume-drift monitor consults before alerting. One fact shuffle
      // to the bounded (|type| × 24) cells; margins are second-level
      // aggregates broadcast back (the fe4/fe5 shape); the index is
      // n·N/(n_type·n_hod) on doubles derived from exact counts.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("hod"))
        .groupBy("event_type", "hod").agg(count(lit(1)).as("n"))
        .persist()
      val byType = cells.groupBy("event_type").agg(sum("n").as("n_type"))
      val byHod = cells.groupBy("hod").agg(sum("n").as("n_hod"))
      val tot = cells.agg(sum("n").as("n_tot"))
      cells.join(broadcast(byType), "event_type")
        .join(broadcast(byHod), "hod")
        .crossJoin(tot)
        .select(col("event_type"), col("hod"), col("n"),
          round(col("n").cast("double") / col("n_type"), 6).as("share"),
          round(col("n").cast("double") * col("n_tot")
            / (col("n_type").cast("double") * col("n_hod")), 6)
            .as("seasonal_index"))
        .orderBy("event_type", "hod")
    }),
    // identical exact medians + Hampel threshold
    Lane("w12_mad_anomaly", Some(
        """WITH ev AS (SELECT event_id, event_type, value FROM events
          |            WHERE value IS NOT NULL),
          |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
          |        FROM ev GROUP BY 1),
          |mad AS (SELECT ev.event_type, med.med,
          |               quantile_cont(abs(ev.value - med.med), 0.5) AS mad
          |        FROM ev JOIN med USING (event_type) GROUP BY 1, 2)
          |SELECT ev.event_id, ev.event_type, ev.value,
          |       round(CAST(0.6745 AS DOUBLE) * (ev.value - mad.med)
          |             / mad.mad, 6) AS rz
          |FROM ev JOIN mad USING (event_type)
          |WHERE mad.mad > 0
          |  AND abs(round(CAST(0.6745 AS DOUBLE) * (ev.value - mad.med)
          |                / mad.mad, 6)) > 3.5
          |ORDER BY event_id""".stripMargin))((s, dir) => {
      // Robust anomaly flags: MAD z-scores per event type — w7's
      // mean/std z is itself dragged by the outliers it hunts (masking);
      // the median/MAD pair is the robust standard (Hampel identifier,
      // |0.6745·(v − med)/MAD| > 3.5). Two bounded per-type aggregates
      // (exact `percentile` ⇔ quantile_cont, the a6-proven parity)
      // broadcast back onto the scan; the z is ROUNDED BEFORE the
      // threshold per the repo convention.
      val ev = Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
        .where(col("value").isNotNull)
      val med = ev.groupBy("event_type")
        .agg(expr("percentile(value, 0.5)").as("med"))
      val mad = ev.join(broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(expr("percentile(abs(value - med), 0.5)").as("mad"))
      ev.join(broadcast(mad), "event_type")
        .where(col("mad") > 0)
        .select(col("event_id"), col("event_type"), col("value"),
          round(lit(0.6745) * (col("value") - col("med")) / col("mad"), 6)
            .as("rz"))
        .where(abs(col("rz")) > 3.5)
        .orderBy("event_id")
    }),
    // identical exact distinct counts + pooled-z
    Lane("e12_holdout_lift", Some(
        """WITH a AS (
          |  SELECT
          |    count(DISTINCT CASE WHEN user_id % 2 = 0
          |                        THEN user_id END) AS n_ctl,
          |    count(DISTINCT CASE WHEN user_id % 2 = 1
          |                        THEN user_id END) AS n_trt,
          |    count(DISTINCT CASE WHEN user_id % 2 = 0
          |                        AND event_type = 'purchase'
          |                        AND value >= 200.0
          |                        THEN user_id END) AS c_ctl,
          |    count(DISTINCT CASE WHEN user_id % 2 = 1
          |                        AND event_type = 'purchase'
          |                        AND value >= 200.0
          |                        THEN user_id END) AS c_trt
          |  FROM events),
          |d AS (
          |  SELECT CAST(n_ctl AS BIGINT) AS n_ctl,
          |         CAST(n_trt AS BIGINT) AS n_trt,
          |         CAST(c_ctl AS DOUBLE) / n_ctl AS p0,
          |         CAST(c_trt AS DOUBLE) / n_trt AS p1,
          |         CAST(c_ctl + c_trt AS DOUBLE) / (n_ctl + n_trt) AS pp
          |  FROM a),
          |e AS (
          |  SELECT n_ctl, n_trt, p0, p1,
          |         sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
          |              * (CAST(1.0 AS DOUBLE) / n_ctl
          |                 + CAST(1.0 AS DOUBLE) / n_trt)) AS se
          |  FROM d)
          |SELECT n_ctl, n_trt,
          |       round(p0, 6) AS conv_ctl, round(p1, 6) AS conv_trt,
          |       round(p1 - p0, 6) AS lift,
          |       round(CASE WHEN se > 0 THEN (p1 - p0) / se END, 6) AS z
          |FROM e""".stripMargin))((s, dir) => {
      // holdout conversion uplift with a two-proportion z-score — the
      // A/B readout every growth-analytics deployment runs; the "arms"
      // are the deterministic user_id % 2 split (integer arithmetic,
      // never RNG — the p8/p18 discipline). ONE distinct-counting
      // aggregate produces all four exact integers; the lift and the
      // pooled-variance z are closed forms on those integers, so both
      // engines compute identical doubles (the fe9 precedent), rounded
      // to 6dp. Scale: the exchange carries (cohort, user) pairs for
      // the distinct counts — 16 bytes/row — and the output is one row.
      // conversion = HIGH-VALUE purchase (value ≥ 200): on this event
      // mix every user purchases *something*, which would make plain
      // purchase-conversion degenerate (1.0 in both arms)
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("value"),
          pmod(col("user_id"), lit(2L)).as("cohort"))
      val conv = col("event_type") === "purchase" && col("value") >= 200.0
      val agg = ev.agg(
        countDistinct(when(col("cohort") === 0, col("user_id"))).as("n_ctl"),
        countDistinct(when(col("cohort") === 1, col("user_id"))).as("n_trt"),
        countDistinct(when(col("cohort") === 0 && conv, col("user_id")))
          .as("c_ctl"),
        countDistinct(when(col("cohort") === 1 && conv, col("user_id")))
          .as("c_trt"))
      val p0 = col("c_ctl").cast("double") / col("n_ctl")
      val p1 = col("c_trt").cast("double") / col("n_trt")
      val pPool = (col("c_ctl") + col("c_trt")).cast("double") /
        (col("n_ctl") + col("n_trt"))
      val se = sqrt(pPool * (lit(1.0) - pPool) *
        (lit(1.0) / col("n_ctl") + lit(1.0) / col("n_trt")))
      agg.select(col("n_ctl"), col("n_trt"),
        round(p0, 6).as("conv_ctl"), round(p1, 6).as("conv_trt"),
        round(p1 - p0, 6).as("lift"),
        round(when(se > 0, (p1 - p0) / se), 6).as("z"))
    }),
    // DuckDB's own ntile() over the identical unique
    // orders (RanksSpec pins the Spark=DuckDB split convention)
    Lane("e13_rfm", Some(
        """WITH pc AS (
          |  SELECT o_custkey, max(o_orderdate) AS last_dt,
          |         count(*) AS freq,
          |         CAST(sum(CAST(round(o_totalprice * 100) AS HUGEINT))
          |              AS BIGINT) AS cents
          |  FROM orders GROUP BY 1),
          |sc AS (
          |  SELECT cents,
          |         ntile(5) OVER (ORDER BY last_dt, o_custkey) AS r_score,
          |         ntile(5) OVER (ORDER BY freq, o_custkey) AS f_score,
          |         ntile(5) OVER (ORDER BY cents, o_custkey) AS m_score
          |  FROM pc)
          |SELECT CAST(r_score AS BIGINT) AS r_score,
          |       CAST(f_score AS BIGINT) AS f_score,
          |       CAST(m_score AS BIGINT) AS m_score,
          |       count(*) AS n_customers,
          |       CAST(sum(CAST(cents AS HUGEINT)) AS BIGINT)
          |         AS total_cents
          |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin))((s, dir) => {
      // RFM segmentation — the customer-value grid every growth/CRM
      // deployment maintains: per customer, Recency (last order date),
      // Frequency (order count), Monetary (lifetime cents), each scored
      // 1-5 by exact global quintile, then the bounded 5×5×5 segment
      // grid with member counts and total spend. The quintiles come from
      // Ranks.withGlobalNtile over UNIQUE total orders (metric,
      // o_custkey) — the fe12 discipline: range exchange + broadcast
      // offsets, never a single-partition window, and the tie-break
      // makes the split engine-identical (RanksSpec pins the
      // Spark=DuckDB ntile convention). Higher score = later last
      // order / more orders / more spend. Scale: one orders shuffle to
      // the per-customer relation, three rank passes over CUSTOMERS
      // (not orders), one bounded aggregate out.
      // cents accumulate in DECIMAL(38,0) (the fe13/fe15/a19 exact-sum
      // discipline — a plain BIGINT sum would wrap silently at extreme
      // row counts); cast back to long only after each sum, mirroring
      // the twin's HUGEINT-then-BIGINT
      val perCust = Tables(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_dt"),
          count(lit(1)).as("freq"),
          sum(round(col("o_totalprice") * 100).cast("decimal(38,0)"))
            .cast("long").as("cents"))
        .persist()
      // three rank passes over CUSTOMERS: size their range exchanges by
      // the measured customer count (r17, guide §2.2 — at sf0.1 each
      // pass otherwise paid session-width exchange+sort+collect stages
      // over ~15k rows; a 100 TB customer relation keeps the session
      // width). The count doubles as the perCust-cache materializer all
      // three passes read.
      val w = graft.functions.Staging.roundWidth(s, perCust.count())
      val r = Ranks.withGlobalNtile(perCust,
        Seq(col("last_dt"), col("o_custkey")), 5, "r_score", w)
      val rf = Ranks.withGlobalNtile(r,
        Seq(col("freq"), col("o_custkey")), 5, "f_score", w)
      val rfm = Ranks.withGlobalNtile(rf,
        Seq(col("cents"), col("o_custkey")), 5, "m_score", w)
      graft.CacheScope.owns(
        rfm.groupBy("r_score", "f_score", "m_score")
          .agg(count(lit(1)).as("n_customers"),
            sum(col("cents").cast("decimal(38,0)")).cast("long")
              .as("total_cents"))
          .orderBy("r_score", "f_score", "m_score"),
        perCust)
    }),
    // DuckDB's own ntile over the identical
    // unique (cents, custkey) orders per half, identical day
    // midpoint, HUGEINT cents sums cast back (RanksSpec parity)
    Lane("e15_segment_migration", Some(
        """WITH base AS (
          |  SELECT o_custkey,
          |         epoch_us(o_orderdate) // 86400000000 AS d,
          |         CAST(round(o_totalprice * 100) AS HUGEINT) AS cents
          |  FROM orders),
          |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM base),
          |half AS (
          |  SELECT o_custkey,
          |         d <= (d0 + d1) // 2 AS first_half,
          |         CAST(sum(cents) AS BIGINT) AS cents
          |  FROM base CROSS JOIN span
          |  GROUP BY 1, 2),
          |h1 AS (
          |  SELECT o_custkey,
          |         ntile(5) OVER (ORDER BY cents, o_custkey) AS r_first
          |  FROM half WHERE first_half),
          |h2 AS (
          |  SELECT o_custkey,
          |         ntile(5) OVER (ORDER BY cents, o_custkey) AS r_second
          |  FROM half WHERE NOT first_half)
          |SELECT CAST(r_first AS BIGINT) AS r_first,
          |       CAST(r_second AS BIGINT) AS r_second,
          |       count(*) AS n_customers
          |FROM h1 JOIN h2 USING (o_custkey)
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))((s, dir) => {
      // Customer value-segment MIGRATION matrix — what e13's static RFM
      // grid cannot show: split the corpus at its day midpoint, score
      // each customer's spend quintile in each half (the fe12/e13 exact
      // distributed ntile over UNIQUE (cents, custkey) orders), and
      // count customers per (first-half segment, second-half segment)
      // cell for customers active in BOTH halves. The upgrade/downgrade
      // off-diagonals are the churn-risk signal a lifecycle program
      // acts on. Exactness: integer day indexes (the e14 convention),
      // DECIMAL(38,0) cents sums cast back to long, the RanksSpec-pinned
      // ntile split. Scale: one orders scan into per-(customer, half)
      // cents, two rank passes over CUSTOMERS, one bounded 5x5 matrix.
      val di = expr("timestampdiff(DAY, timestamp_ntz'1970-01-01 " +
        "00:00:00', o_orderdate)")
      val base = Tables(s, dir, "orders")
        .select(col("o_custkey"), di.as("d"),
          round(col("o_totalprice") * 100).cast("decimal(38,0)")
            .as("cents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val span = base.agg(min("d").as("d0"), max("d").as("d1"))
      // Midpoint uses FLOOR division to match DuckDB's `//` even for a
      // negative (pre-1970) day-index sum: subtract pmod first so the
      // truncating `div` sees an exact multiple (ADVICE r13). The day
      // index `d` itself keeps the e14 positive-epoch convention.
      val half = base.crossJoin(broadcast(span))
        .select(col("o_custkey"),
          (col("d") <= expr(
            "(d0 + d1 - pmod(d0 + d1, 2)) div 2")).as("first_half"),
          col("cents"))
        .groupBy("o_custkey", "first_half")
        .agg(sum("cents").cast("long").as("cents"))
        .persist()
      // both rank passes read the counted (customer, half) cache; the
      // count sizes their range exchanges (r17, the e13 treatment)
      val w = graft.functions.Staging.roundWidth(s, half.count())
      val h1 = Ranks.withGlobalNtile(half.where(col("first_half")),
        Seq(col("cents"), col("o_custkey")), 5, "r_first", w)
        .select(col("o_custkey"), col("r_first"))
      val h2 = Ranks.withGlobalNtile(half.where(!col("first_half")),
        Seq(col("cents"), col("o_custkey")), 5, "r_second", w)
        .select(col("o_custkey"), col("r_second"))
      graft.CacheScope.owns(
        h1.join(h2, "o_custkey")
          .groupBy("r_first", "r_second")
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("r_first", "r_second"),
        half)
    }),
    // identical integer day indexes, quantized
    // ln terms (1e12 grid), exact prefix sums, one exp at the end
    Lane("e14_survival", Some(
        """WITH per AS (
          |  SELECT o_custkey,
          |         min(epoch_us(o_orderdate) // 86400000000) AS f,
          |         max(epoch_us(o_orderdate) // 86400000000) AS l
          |  FROM orders GROUP BY 1),
          |mx AS (SELECT max(l) AS m FROM per),
          |b AS (SELECT l - f AS dur, (m - l) > 90 AS event
          |      FROM per CROSS JOIN mx),
          |cells AS (
          |  SELECT dur, count(*) AS n_all,
          |         CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT)
          |           AS d
          |  FROM b GROUP BY 1),
          |r AS (
          |  SELECT dur, d,
          |         CAST(sum(n_all) OVER (ORDER BY dur DESC
          |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_risk
          |  FROM cells),
          |e AS (
          |  SELECT dur, n_risk, d,
          |         CASE WHEN n_risk > d
          |              THEN CAST(round(ln(1.0 - CAST(d AS DOUBLE)
          |                                / CAST(n_risk AS DOUBLE))
          |                              * 1e12) AS BIGINT)
          |              ELSE CAST(0 AS BIGINT) END AS tq,
          |         CASE WHEN n_risk = d THEN 1 ELSE 0 END AS dd
          |  FROM r WHERE d > 0),
          |k AS (
          |  SELECT dur, n_risk, d,
          |         sum(tq) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
          |           AS cq,
          |         max(dd) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING)
          |           AS dead
          |  FROM e)
          |SELECT dur AS t_days, n_risk, d AS d_events,
          |       CASE WHEN dead = 1 THEN 0.0
          |            ELSE round(exp(CAST(cq AS DOUBLE) / 1e12), 6)
          |       END AS survival
          |FROM k ORDER BY t_days""".stripMargin))((s, dir) => {
      // Kaplan-Meier churn survival over customer LIFETIMES (days from
      // first to last order), with right-censoring: a customer whose
      // last order falls within 90 days of the corpus horizon is still
      // alive ("at risk"), not churned — dropping that distinction is
      // survival analysis's textbook bias. Per distinct event time t:
      // the risk set n_t (lifetimes >= t), churn events d_t, and
      // S(t) = prod_{u<=t}(1 - d_u/n_u).
      //
      // Cross-engine determinism: day indexes are exact integers
      // (complete days since the epoch, both engines); the KM product
      // re-expresses as exp(sum(ln(1 - d/n))) with each per-time ln term
      // QUANTIZED to a BIGINT at 1e12 (the priv5 grid argument:
      // an engine ln-ulp moves the pre-round value ~1e-4 grid steps),
      // prefix-summed exactly, ONE exp at the end, rounded to 6dp.
      // When n_t = d_t the curve hits exact 0 and a running flag pins
      // every later row to 0.0 (sum-over-NULL would silently revive it).
      //
      // Scale: two customer-keyed aggregates; every window runs over the
      // BOUNDED distinct-lifetime grid (days within the corpus span — a
      // deployment constant, not a row count; the e10 bounded-cells
      // argument). The horizon is a one-row broadcast cross join.
      val di = "timestampdiff(DAY, timestamp_ntz'1970-01-01 00:00:00', " +
        "o_orderdate)"
      // persisted: the horizon aggregate and the lifetime cells are two
      // consumers of the same customer-keyed relation — one orders scan,
      // not two (the e11 cells discipline; harness clearCache releases)
      val per = Tables(s, dir, "orders")
        .select(col("o_custkey"), expr(di).as("di"))
        .groupBy("o_custkey").agg(min("di").as("f"), max("di").as("l"))
        .persist()
      val mx = per.agg(max("l").as("m"))
      val cells = per.crossJoin(broadcast(mx))
        .select((col("l") - col("f")).as("dur"),
          (col("m") - col("l") > 90).as("event"))
        .groupBy("dur").agg(count(lit(1)).as("n_all"),
          sum(when(col("event"), 1L).otherwise(0L)).as("d"))
      val unb = org.apache.spark.sql.expressions.Window.unboundedPreceding
      val cur = org.apache.spark.sql.expressions.Window.currentRow
      val wDesc = org.apache.spark.sql.expressions.Window
        .orderBy(col("dur").desc).rowsBetween(unb, cur)
      val wAsc = org.apache.spark.sql.expressions.Window
        .orderBy(col("dur")).rowsBetween(unb, cur)
      cells.withColumn("n_risk", sum("n_all").over(wDesc))
        .where(col("d") > 0)
        .withColumn("tq", when(col("n_risk") > col("d"),
          round(log(lit(1.0) - col("d").cast("double")
            / col("n_risk").cast("double")) * lit(1e12)).cast("long"))
          .otherwise(lit(0L)))
        .withColumn("dead",
          max(when(col("n_risk") === col("d"), 1).otherwise(0)).over(wAsc))
        .withColumn("cq", sum("tq").over(wAsc))
        .select(col("dur").as("t_days"), col("n_risk"),
          col("d").as("d_events"),
          when(col("dead") === 1, lit(0.0))
            .otherwise(round(exp(col("cq").cast("double") / lit(1e12)), 6))
            .as("survival"))
        .orderBy("t_days")
    }),
    // identical reflection-identity CUSUM, exact ints
    Lane("w13_cusum", Some(
        FeatureEngSql.cusum))((s, dir) => {
      // CUSUM changepoint screen over hourly volumes per event type —
      // the drift detector an ingestion monitor runs upstream of w7/w12's
      // pointwise outlier flags (a LEVEL SHIFT never trips a z-score but
      // accumulates in a CUSUM). The recursive statistic
      // S_t = max(0, S_{t-1} + y_t) is re-expressed with the
      // reflection identity S_t = cumsum_t − min(0, running_min(cumsum))
      // so both engines compute it with two stock window functions over
      // the BOUNDED (|type| × hours) cell relation — no recursion, no
      // row-scaled window. y_t = n·x_t − Σx (mean-centered, scaled by n)
      // keeps the whole recurrence in exact integers; the only float is
      // the final ratio against σ_scaled = sqrt(n·Σx² − (Σx)²), a
      // closed form on DECIMAL(38,0)-exact sums (fe9/fe13 precedent),
      // ROUNDED BEFORE the 4σ threshold per the repo convention.
      // Arithmetic lives in FeatureEng.cusumFace — ONE face shared with
      // the streaming monitor st29, the benford/psi/ks convention.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
      FeatureEng.cusumFace(cells)
    }),
    // identical exact S / tie term / n, one
    // closed-form z, quantile_cont over the identical slope multiset
    Lane("w14_mann_kendall", Some(
        """WITH cells AS (
          |  SELECT event_type, epoch_ns(ts) // 3600000000000 AS hr,
          |         count(*) AS x
          |  FROM events GROUP BY 1, 2),
          |p AS (
          |  SELECT a.event_type,
          |         CAST(sum(CASE WHEN b.x > a.x THEN 1
          |                       WHEN b.x < a.x THEN -1
          |                       ELSE 0 END) AS BIGINT) AS s_stat,
          |         quantile_cont((b.x - a.x) / (b.hr - a.hr), 0.5)
          |           AS sen_raw
          |  FROM cells a JOIN cells b
          |    ON b.event_type = a.event_type AND b.hr > a.hr
          |  GROUP BY 1),
          |t AS (
          |  SELECT event_type,
          |         CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT)
          |           AS tie_term
          |  FROM (SELECT event_type, x, count(*) AS c
          |        FROM cells GROUP BY 1, 2)
          |  GROUP BY 1),
          |n AS (SELECT event_type, count(*) AS n FROM cells GROUP BY 1),
          |j AS (
          |  SELECT n.event_type, n.n, p.s_stat, p.sen_raw,
          |         CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term
          |              AS DOUBLE) / 18.0 AS var_s
          |  FROM n JOIN p USING (event_type) JOIN t USING (event_type)),
          |z AS (
          |  SELECT event_type, n, s_stat, sen_raw,
          |         CASE WHEN var_s > 0 THEN
          |           CASE WHEN s_stat > 0
          |                THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
          |                WHEN s_stat < 0
          |                THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
          |                ELSE 0.0 END
          |         END AS zv
          |  FROM j)
          |SELECT event_type, n AS n_hours, s_stat,
          |       round(zv, 6) AS z,
          |       abs(round(zv, 6)) > 1.96 AS trend,
          |       round(sen_raw, 6) AS sen_slope
          |FROM z ORDER BY event_type""".stripMargin))((s, dir) => {
      // Mann-Kendall trend test + Theil-Sen slope over hourly volumes
      // per event type — the robust MONOTONE-TREND detector that
      // completes the w-lane's drift family (w13's CUSUM sees level
      // SHIFTS; MK sees gradual drift a changepoint statistic smears
      // over): S = Σ sign(x_j − x_i) over all hour pairs i<j, the
      // tie-corrected variance n(n−1)(2n+5)/18 − Σ_t t(t−1)(2t+5)/18
      // (counts tie heavily — the correction is NOT optional on count
      // data), the continuity-corrected z, and the Theil-Sen median of
      // the pairwise slopes (the robust trend magnitude).
      //
      // Exactness: S, n, and the tie term are exact integers (the sign
      // fold and the tie triple products commute); z is ONE closed form
      // on their doubles, rounded BEFORE the 1.96 verdict; each pairwise
      // slope (x_j−x_i)/(h_j−h_i) is the identical double division in
      // both engines, and the median is the a6-proven exact
      // percentile ⇔ quantile_cont parity over the identical multiset.
      //
      // Scale: the pair relation is |type| × hours² — hours grow with
      // TIME, not data volume (a deployment constant like w13's cells);
      // the type-keyed self-join carries 24-byte cell rows and the
      // per-type aggregates fold it without materialization.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"), expr("ts div 3600000000000").as("hr"))
        .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
        .persist()
      val pairs = cells.select(col("event_type"),
          col("hr").as("h1"), col("x").as("x1"))
        .join(cells.select(col("event_type"),
          col("hr").as("h2"), col("x").as("x2")), Seq("event_type"))
        .where(col("h2") > col("h1"))
      val pstats = pairs.groupBy("event_type").agg(
        sum(signum(col("x2") - col("x1")).cast("long")).as("s_stat"),
        expr("percentile((x2 - x1) / (h2 - h1), 0.5)").as("sen_raw"))
      val ties = cells.groupBy(col("event_type"), col("x"))
        .agg(count(lit(1)).as("c"))
        .groupBy("event_type")
        .agg(sum(col("c") * (col("c") - 1) * (lit(2L) * col("c") + 5))
          .as("tie_term"))
      val nh = cells.groupBy("event_type").agg(count(lit(1)).as("n"))
      val varS = (col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
        - col("tie_term")).cast("double") / lit(18.0)
      val z = when(varS > 0,
        when(col("s_stat") > 0,
          (col("s_stat") - lit(1L)).cast("double") / sqrt(varS))
          .when(col("s_stat") < 0,
            (col("s_stat") + lit(1L)).cast("double") / sqrt(varS))
          .otherwise(lit(0.0)))
      nh.join(broadcast(pstats), "event_type")
        .join(broadcast(ties), "event_type")
        .select(col("event_type"), col("n").as("n_hours"),
          col("s_stat"), round(z, 6).as("z"),
          (abs(round(z, 6)) > 1.96).as("trend"),
          round(col("sen_raw"), 6).as("sen_slope"))
        .orderBy("event_type")
    }),
    // identical cells, row_number tie-break
    Lane("a18_mode", Some(
        """WITH cells AS (
          |  SELECT event_type, (epoch_ns(ts) // 3600000000000) % 24 AS hod,
          |         count(*) AS n
          |  FROM events GROUP BY 1, 2),
          |r AS (SELECT event_type, hod, n,
          |             row_number() OVER (PARTITION BY event_type
          |                                ORDER BY n DESC, hod) AS rn
          |      FROM cells)
          |SELECT event_type, hod AS mode_hod, CAST(n AS BIGINT) AS n
          |FROM r WHERE rn = 1 ORDER BY event_type""".stripMargin))((s, dir) => {
      // exact per-group MODE with a deterministic tie-break (largest
      // count, then smallest hour) — the categorical profiling statistic
      // the a11/a12 profilers lack. One bounded (|type| × 24) counting
      // aggregate, then a row_number over the BOUNDED cell relation
      // partitioned by type — never a row-scaled window.
      val cells = Tables(s, dir, "events")
        .select(col("event_type"),
          expr("(ts div 3600000000000) % 24").as("hod"))
        .groupBy("event_type", "hod").agg(count(lit(1)).as("n"))
      val wm = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("n").desc, col("hod"))
      cells.withColumn("rn", row_number().over(wm))
        .where(col("rn") === 1)
        .select(col("event_type"), col("hod").as("mode_hod"), col("n"))
        .orderBy("event_type")
    }),
    // identical HUGEINT power sums, closed forms on
    // identical doubles, same zero-variance guards
    Lane("a19_moments", Some(
        """WITH g AS (
          |  SELECT o_orderpriority AS priority,
          |         count(*) AS n,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)) AS s1,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)
          |             * CAST(round(o_totalprice) AS BIGINT)) AS s2,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)
          |             * CAST(round(o_totalprice) AS BIGINT)
          |             * CAST(round(o_totalprice) AS BIGINT)) AS s3,
          |         sum(CAST(round(o_totalprice) AS HUGEINT)
          |             * CAST(round(o_totalprice) AS BIGINT)
          |             * CAST(round(o_totalprice) AS BIGINT)
          |             * CAST(round(o_totalprice) AS BIGINT)) AS s4
          |  FROM orders GROUP BY 1),
          |m AS (
          |  SELECT priority, n,
          |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
          |         CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
          |         CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
          |         CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
          |  FROM g),
          |cm AS (
          |  SELECT priority, n,
          |         r2 - mu * mu AS m2,
          |         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
          |         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2
          |           - 3.0 * mu * mu * mu * mu AS m4
          |  FROM m)
          |SELECT priority, n,
          |       round(CASE WHEN m2 > 0
          |                  THEN m3 / sqrt(m2 * m2 * m2) END, 6)
          |         AS skewness,
          |       round(CASE WHEN m2 > 0
          |                  THEN m4 / (m2 * m2) - 3.0 END, 6)
          |         AS ex_kurtosis
          |FROM cm ORDER BY priority""".stripMargin))((s, dir) => {
      // exact higher-moment profile per priority class: skewness and
      // excess kurtosis from raw power sums — the distribution-shape
      // columns a12's profiler lacks (a z-score monitor tuned on a
      // skewed column fires asymmetrically; the profile says so BEFORE
      // deployment). Values are integer dollars (round(o_totalprice)):
      // v^4 stays inside DECIMAL(38,0) up to ~1e12 rows, so all four
      // power sums are EXACT and the central-moment closed forms run
      // once per bounded group on identical doubles in both engines
      // (the fe13/fe14 discipline) — no float summation across rows,
      // nothing to quantize. One scan, one bounded aggregate.
      val v = round(col("o_totalprice")).cast("long")
      val vd = v.cast("decimal(38,0)")
      val g = Tables(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("priority"))
        .agg(count(lit(1)).as("n"), sum(vd).as("s1"),
          sum(vd * v).as("s2"), sum(vd * v * v).as("s3"),
          sum(vd * v * v * v).as("s4"))
      val nD = col("n").cast("double")
      val mu = col("s1").cast("double") / nD
      val m2 = col("s2").cast("double") / nD - mu * mu
      val m3 = col("s3").cast("double") / nD -
        lit(3.0) * mu * (col("s2").cast("double") / nD) +
        lit(2.0) * mu * mu * mu
      val m4 = col("s4").cast("double") / nD -
        lit(4.0) * mu * (col("s3").cast("double") / nD) +
        lit(6.0) * mu * mu * (col("s2").cast("double") / nD) -
        lit(3.0) * mu * mu * mu * mu
      g.select(col("priority"), col("n"),
          round(when(m2 > 0, m3 / sqrt(m2 * m2 * m2)), 6).as("skewness"),
          round(when(m2 > 0, m4 / (m2 * m2) - lit(3.0)), 6)
            .as("ex_kurtosis"))
        .orderBy("priority")
    }),
    // identical exact quantiles (a6 parity),
    // identical fence arithmetic rounded before the comparison
    Lane("a20_iqr_outliers", Some(
        """WITH q AS (
          |  SELECT event_type,
          |         quantile_cont(value, 0.25) AS q1,
          |         quantile_cont(value, 0.75) AS q3
          |  FROM events GROUP BY 1),
          |f AS (
          |  SELECT event_type,
          |         round(q1 - 1.5 * (q3 - q1), 6) AS lo,
          |         round(q3 + 1.5 * (q3 - q1), 6) AS hi
          |  FROM q)
          |SELECT e.event_type, count(*) AS n,
          |       CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          |       min(f.lo) AS lo_fence, min(f.hi) AS hi_fence,
          |       round(CAST(sum(CASE WHEN e.value < f.lo OR e.value > f.hi
          |                          THEN 1 ELSE 0 END) AS DOUBLE)
          |             / count(*), 6) AS outlier_frac
          |FROM events e JOIN f USING (event_type)
          |GROUP BY 1 ORDER BY 1""".stripMargin))((s, dir) => {
      // Tukey-fence outlier audit per event type — the robust anomaly
      // count a monitoring profile quotes next to a12's mean/stddev
      // (z-scores assume normality; the IQR fence doesn't): Q1/Q3 via
      // the EXACT percentile (the a6-proven percentile ⇔ quantile_cont
      // parity), fences Q1 − 1.5·IQR / Q3 + 1.5·IQR rounded 6dp BEFORE
      // the comparison (rounded-before-thresholded), outliers counted
      // against the rounded fences. Scale: one bounded per-type
      // aggregate (|type| rows broadcast back), one counting pass.
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("value"))
      val q = ev.groupBy("event_type").agg(
          expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.75)").as("q3"))
        .select(col("event_type"),
          round(col("q1") - lit(1.5) * (col("q3") - col("q1")), 6).as("lo"),
          round(col("q3") + lit(1.5) * (col("q3") - col("q1")), 6).as("hi"))
      ev.join(broadcast(q), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("lo") || col("value") > col("hi"), 1L)
            .otherwise(0L)).as("n_outliers"),
          min(col("lo")).as("lo_fence"), min(col("hi")).as("hi_fence"))
        .withColumn("outlier_frac",
          round(col("n_outliers").cast("double") / col("n"), 6))
        .orderBy("event_type")
    }),
    Lane("e4_funnel", Some(
        """WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
          |           WHERE event_type = 'view' GROUP BY 1),
          |c AS (SELECT e.user_id, min(e.ts) AS t_click
          |      FROM events e JOIN v USING (user_id)
          |      WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
          |p AS (SELECT e.user_id, min(e.ts) AS t_purchase
          |      FROM events e JOIN c USING (user_id)
          |      WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
          |SELECT nv AS n_view, nc AS n_click, np AS n_purchase,
          |       CASE WHEN nv > 0
          |         THEN round(CAST(nc AS DOUBLE) / nv, 6) END AS view_to_click,
          |       CASE WHEN nc > 0
          |         THEN round(CAST(np AS DOUBLE) / nc, 6) END AS click_to_purchase
          |FROM (SELECT count(*) AS nv FROM v),
          |     (SELECT count(*) AS nc FROM c),
          |     (SELECT count(*) AS np FROM p)""".stripMargin))((s, dir) => {
      // strict sequential funnel view -> click -> purchase per user:
      // each stage's first qualifying event must be STRICTLY after the
      // previous stage's. Three user-keyed min-aggregates chained by
      // user-keyed joins over (user_id, ts) rows — at 100 TB every
      // exchange carries 16 bytes/row and the per-stage relations only
      // shrink. Counts + rounded conversion rates, one row.
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val v = ev.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.where(col("event_type") === "click").join(v, "user_id")
        .where(col("ts") > col("t_view"))
        .groupBy("user_id").agg(min("ts").as("t_click"))
      val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
        .where(col("ts") > col("t_click"))
        .groupBy("user_id").agg(min("ts").as("t_purchase"))
      v.agg(count(lit(1)).as("n_view"))
        .crossJoin(c.agg(count(lit(1)).as("n_click")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          when(col("n_view") > 0,
            round(col("n_click").cast("double") / col("n_view"), 6))
            .as("view_to_click"),
          when(col("n_click") > 0,
            round(col("n_purchase").cast("double") / col("n_click"), 6))
            .as("click_to_purchase"))
    }),
    Lane("t26_char_entropy", Some(TextAnalysisSql.charEntropy))((s, dir) =>
      // char-distribution gibberish signal
      TextAnalysis.charEntropy(Tables(s, dir, "documents"))
        .orderBy("doc_id")),
    // hour spine x types, sparse counts zero-filled
    Lane("e3_gapfill", Some(
        """WITH ev AS (SELECT epoch_ns(ts) // 3600000000000 AS hr, event_type
          |            FROM events),
          |spine AS (SELECT unnest(generate_series((SELECT min(hr) FROM ev),
          |                                        (SELECT max(hr) FROM ev))) AS hr),
          |types AS (SELECT DISTINCT event_type FROM ev),
          |counts AS (SELECT hr, event_type, count(*) AS n FROM ev GROUP BY 1, 2)
          |SELECT s.hr, t.event_type,
          |       CAST(coalesce(c.n, 0) AS BIGINT) AS n
          |FROM spine s CROSS JOIN types t
          |LEFT JOIN counts c ON c.hr = s.hr AND c.event_type = t.event_type
          |ORDER BY s.hr, t.event_type""".stripMargin))((s, dir) => {
      // time-series gap fill: a generated hour spine (min..max hour ×
      // event types) left-joins the sparse counts, missing cells become
      // zero. The spine is (time range × type cardinality) rows — tiny at
      // any data scale, broadcast into the join; only the counts shuffle.
      val ev = Tables(s, dir, "events")
        .select(expr("ts div 3600000000000").as("hr"), col("event_type"))
      val counts = ev.groupBy("hr", "event_type").agg(count(lit(1)).as("n"))
      val spine = ev.agg(min("hr").as("lo"), max("hr").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"))).as("hr"))
        .crossJoin(ev.select("event_type").distinct())
      spine.join(counts, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("hr", "event_type")
    }),
    // lag/gap/cumsum replicates session_window exactly:
    // an event starts a new session iff it is STRICTLY more than the
    // gap after the previous one (an event at exactly last+gap merges
    // — session_window's interval is closed; RetrievalSpec pins this)
    Lane("e2_sessionize", Some(
        """WITH o AS (
          |  SELECT user_id, ts,
          |         CASE WHEN prev IS NULL
          |                OR ts - prev > INTERVAL 30 MINUTE THEN 1
          |              ELSE 0 END AS new_s
          |  FROM (SELECT user_id, ts,
          |               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          |        FROM events)),
          |s AS (
          |  SELECT user_id,
          |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM o),
          |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY user_id, sid)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
          |       CAST(sum(n) AS BIGINT) AS n_events,
          |       CAST(max(n) AS BIGINT) AS max_session_events
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin))((s, dir) => {
      // session windows (30-min inactivity gap) per user — the classic
      // event-stream sessionization, via the built-in session_window
      // (state merges inside one shuffle on user_id; no self-join)
      val ev = Tables(s, dir, "events")
        .select(timestamp_micros(expr("ts div 1000")).as("event_time"),
          col("user_id"))
      ev.groupBy(col("user_id"), session_window(col("event_time"), "30 minutes"))
        .agg(count("*").as("n"))
        .groupBy("user_id")
        .agg(count("*").as("n_sessions"),
          sum("n").as("n_events"),
          max("n").as("max_session_events"))
        .orderBy("user_id")
    }),
    // islands via running max of per-event ends
    Lane("e7_dynamic_sessions", Some(
        """WITH ev AS (
          |  SELECT user_id, ts,
          |         CASE WHEN event_type IN ('view', 'click')
          |                THEN INTERVAL 15 MINUTE
          |              ELSE INTERVAL 45 MINUTE END AS gap
          |  FROM events),
          |m AS (
          |  SELECT user_id, ts,
          |         max(ts + gap) OVER (PARTITION BY user_id ORDER BY ts
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          |           AS prev_end
          |  FROM ev),
          |o AS (SELECT user_id, ts,
          |             CASE WHEN prev_end IS NULL OR ts > prev_end THEN 1
          |                  ELSE 0 END AS new_s
          |      FROM m),
          |s AS (SELECT user_id,
          |             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
          |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |               AS sid
          |      FROM o),
          |g AS (SELECT user_id, sid, count(*) AS n FROM s GROUP BY 1, 2)
          |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
          |       CAST(sum(n) AS BIGINT) AS n_events,
          |       CAST(max(n) AS BIGINT) AS max_session_events
          |FROM g GROUP BY user_id ORDER BY user_id""".stripMargin))((s, dir) => {
      // DYNAMIC-gap sessionization: the inactivity window depends on the
      // event itself (engagement events hold a session open 15 min,
      // everything else 45) — session_window's expression-gap form, a
      // different planner path from e2's static gap (per-row window
      // construction feeding the same merging state). The oracle
      // rebuilds the islands with a running max of per-event window
      // ends, the exact merge rule the variable gap induces.
      val ev = Tables(s, dir, "events")
        .select(timestamp_micros(expr("ts div 1000")).as("event_time"),
          col("user_id"),
          when(col("event_type").isin("view", "click"), lit("15 minutes"))
            .otherwise(lit("45 minutes")).as("gap"))
      ev.groupBy(col("user_id"),
          session_window(col("event_time"), col("gap")))
        .agg(count(lit(1)).as("n"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("n").as("n_events"),
          max("n").as("max_session_events"))
        .orderBy("user_id")
    }),

    // identical frame, rounded-z filter
    Lane("w7_zscore_anomaly", Some(zscoreSql))((s, dir) => {
      // streaming-telemetry outlier flagging: each event's value scored
      // against the trailing 50 same-type events' mean/σ (full-frame
      // only, σ > 0), |z| > 3 flagged. Frames ride a per-type window
      // partition (bounded-cardinality keys, the w3 family); both
      // engines aggregate the identical ordered frame, z rounds to 6.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-50, -1)
      Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("value"),
          col("ts"),
          count(lit(1)).over(w).as("n_prev"),
          avg("value").over(w).as("mu"),
          stddev_samp(col("value")).over(w).as("sd"))
        .where(col("n_prev") === 50 && col("sd") > 0)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"),
          round((col("value") - col("mu")) / col("sd"), 6).as("z"))
        .where(abs(col("z")) > 3)
        .orderBy("event_id")
    }),
    // native windowed median, identical frame
    Lane("w8_rolling_median", Some(
        """SELECT user_id, event_id, round(value, 6) AS value,
          |       round(median(value) OVER (PARTITION BY user_id
          |         ORDER BY ts, event_id
          |         ROWS BETWEEN 14 PRECEDING AND CURRENT ROW), 6)
          |         AS roll_median
          |FROM events WHERE user_id <= 50
          |ORDER BY user_id, event_id""".stripMargin))((s, dir) => {
      // Rolling MEDIAN over each user's trailing 15 readings — the
      // outlier-robust smoother w6's EWMA is not (one wild reading moves
      // every mean-based stat; the median shrugs). Spark has no median
      // window function, so the BOUNDED 15-row frame collects into an
      // in-task array sorted per row — O(frame·log frame) per row at a
      // CONSTANT frame width, the sanctioned shape for small-frame order
      // statistics (an unbounded frame would be the scale bug, not the
      // collect). DuckDB's native windowed median (interpolating the even
      // case exactly like the two-middle average here) is the oracle.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id")).rowsBetween(-14, 0)
      Tables(s, dir, "events").where(col("user_id") <= 50)
        .select(col("user_id"), col("event_id"), round(col("value"), 6)
          .as("value"),
          sort_array(collect_list(col("value")).over(w)).as("s"))
        .withColumn("n", size(col("s")))
        .select(col("user_id"), col("event_id"), col("value"),
          round(when(col("n") % 2 === 1,
            element_at(col("s"), expr("cast((n + 1) div 2 as int)")))
            .otherwise((element_at(col("s"), expr("cast(n div 2 as int)"))
              + element_at(col("s"), expr("cast(n div 2 + 1 as int)")))
              / 2.0), 6)
            .as("roll_median"))
        .orderBy("user_id", "event_id")
    }),
    // same exact percentiles, same clamp
    Lane("w10_winsorize", Some(
        """WITH c AS (SELECT event_type,
          |                  quantile_cont(value, 0.01) AS lo,
          |                  quantile_cont(value, 0.99) AS hi
          |           FROM events GROUP BY 1)
          |SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
          |       round(least(greatest(e.value, c.lo), c.hi), 6) AS clipped,
          |       (e.value < c.lo OR e.value > c.hi) AS was_clipped
          |FROM events e JOIN c ON c.event_type = e.event_type
          |ORDER BY e.event_id""".stripMargin))((s, dir) => {
      // Winsorization — percentile-clipped features, the standard
      // outlier-robust normalization before model training: per-type
      // p01/p99 cut points (EXACT percentile over the BOUNDED type
      // domain — 5 groups, so the sort-based aggregate is tiny; a6's
      // exact-vs-sketch split applies if the group domain ever grows),
      // broadcast back over one scan, values clamped with a was_clipped
      // audit flag. At 100 TB: one bounded aggregate + one broadcast
      // join + one projection pass.
      val ev = Tables(s, dir, "events")
      val cuts = ev.groupBy("event_type").agg(
        expr("percentile(value, 0.01)").as("lo"),
        expr("percentile(value, 0.99)").as("hi"))
      ev.join(broadcast(cuts), "event_type")
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"),
          round(least(greatest(col("value"), col("lo")), col("hi")), 6)
            .as("clipped"),
          (col("value") < col("lo") || col("value") > col("hi"))
            .as("was_clipped"))
        .orderBy("event_id")
    }),
    // same lag pairs, same Pearson, same degeneracy guard
    Lane("w9_autocorr", Some(
        """SELECT user_id, count(*) AS n_pairs,
          |       CASE WHEN stddev_samp(value) > 0
          |                 AND stddev_samp(prev) > 0
          |            THEN round(corr(value, prev), 6) END AS rho
          |FROM (SELECT user_id, value,
          |             lag(value) OVER (PARTITION BY user_id
          |               ORDER BY ts, event_id) AS prev
          |      FROM events)
          |WHERE prev IS NOT NULL
          |GROUP BY user_id ORDER BY user_id""".stripMargin))((s, dir) => {
      // Lag-1 autocorrelation of each user's reading sequence — the
      // time-series memory feature (is the signal trending or white?).
      // One lag() window pass builds the (x_i, x_{i-1}) pairs, then a
      // per-user corr aggregate: partial/final co-moment merge, exchanges
      // carry one row per user. Pearson r is invariant to the 1/n vs
      // 1/(n-1) convention, so Spark's corr and DuckDB's corr agree to
      // double noise, far inside the 6-decimal rounding. Degenerate
      // (zero-variance) series emit NULL on both engines by the guard.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables(s, dir, "events")
        .select(col("user_id"), col("value"),
          lag(col("value"), 1).over(w).as("prev"))
        .where(col("prev").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          when(stddev_samp(col("value")) > 0
              && stddev_samp(col("prev")) > 0,
            round(corr(col("value"), col("prev")), 6)).as("rho"))
        .orderBy("user_id")
    }),
    Lane("e8_markov", Some(markovSql))((s, dir) => {
      // first-order Markov transition matrix over each user's event
      // sequence: lead() windowed PER USER (bounded partitions, the e2
      // scale contract — never a global sequence sort), then transition
      // probabilities via a partitioned window over the (type × type)
      // relation, which is bounded by event-type cardinality squared.
      // The sequence-model feature layer for behavioral events.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tr = Tables(s, dir, "events")
        .select(col("event_type").as("prev_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .where(col("next_type").isNotNull)
        .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
      tr.withColumn("p",
          round(col("n") / sum("n").over(Window.partitionBy("prev_type")), 6))
        .orderBy("prev_type", "next_type")
    }),
    // carried last-touch, 7-day look
    Lane("e9_attribution", Some(attributionSql))((s, dir) => {
      // last-touch attribution: each purchase credits the most recent
      // preceding click/view by the same user within a 7-day lookback,
      // else 'organic'. The carried last-touch rides the same per-user
      // forward-fill frame as w5 (bounded partitions, never a global
      // sort); `last(..., ignoreNulls)` over a running frame is a
      // single-pass window — no self-join against the touch set, which
      // at 100 TB would rebuild the event table per purchase.
      import org.apache.spark.sql.expressions.Window
      val lookbackNs = 7L * 24 * 3600 * 1000000000L
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val touched = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
          last(when(col("event_type").isin("click", "view"),
            struct(col("ts").as("t_ts"), col("event_id").as("t_id"),
              col("event_type").as("t_type"))), ignoreNulls = true)
            .over(w).as("touch"))
      val inWin = col("touch").isNotNull &&
        col("ts") - col("touch.t_ts") <= lit(lookbackNs)
      touched.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          expr("ts div 1000").as("purchase_ts_us"),
          when(inWin, col("touch.t_id")).as("touch_id"),
          when(inWin, col("touch.t_type")).otherwise(lit("organic"))
            .as("channel"))
        .orderBy("purchase_id")
    })
  )
}
