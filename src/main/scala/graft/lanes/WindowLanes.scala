package graft.lanes

import org.apache.spark.sql.functions._

import graft.operators.{BloomPipeline, Ratings, Tables}

/** Window functions (SURVEY §2.7). */
object WindowLanes extends LaneFamily("windows") {
  val lanes: Seq[Lane] = Seq(
    // --- W: window functions (beyond the reference; SURVEY §2.7 gap)
    Lane("w1_window_share", Some(
        s"""SELECT rating, n, round(n / sum(n) OVER (), 6) AS share
           |FROM (SELECT rating, count(*) AS n FROM ($li) GROUP BY rating)
           |ORDER BY rating""".stripMargin))((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      BloomPipeline.linecount(Ratings.fromLineitem(s, dir))
        .withColumn("share", round(col("n") / sum("n").over(Window.partitionBy()), 6))
        .orderBy("rating")
    }),
    Lane("w2_topn_per_group", Some(
        """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
          |  SELECT o_orderpriority, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_orderpriority
          |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn <= 2 ORDER BY o_orderpriority, rn""".stripMargin))((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 2)
        .orderBy("o_orderpriority", "rn")
    }),

    // last_value IGNORE NULLS carries readings forward
    Lane("w5_ffill", Some(
        """SELECT user_id, event_id, reading,
          |       last_value(reading IGNORE NULLS) OVER (
          |         PARTITION BY user_id ORDER BY ts, event_id
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
          |FROM (SELECT user_id, event_id, ts,
          |             CASE WHEN event_type = 'error' THEN NULL
          |                  ELSE value END AS reading
          |      FROM events WHERE user_id <= 200)
          |ORDER BY user_id, event_id""".stripMargin))((s, dir) => {
      // Forward fill (last non-null carried forward) — the sparse-signal
      // repair of event pipelines: error events carry no reading (nullif
      // plants the gaps), each user's stream fills from its own past via
      // last(..., ignoreNulls) over a unique total order. One window
      // pass, shuffled on user_id only.
      import org.apache.spark.sql.expressions.Window
      // micros-grain ordering (+ event_id), the oracle's exact grain —
      // see j10/w6 for the storage-precision-drift rationale
      val w = Window.partitionBy("user_id")
        .orderBy(expr("ts div 1000"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .where(col("user_id") <= 200) // bounded output; fill logic intact
        .select(col("user_id"), col("event_id"), col("ts"),
          when(col("event_type") === "error", lit(null))
            .otherwise(col("value")).as("reading"))
        .withColumn("filled", last("reading", ignoreNulls = true).over(w))
        .select("user_id", "event_id", "reading", "filled")
        .orderBy("user_id", "event_id")
    }),

    // identical power-of-two weights, identical frame order
    Lane("w6_ewma", Some(
        """WITH recent AS (
          |  SELECT user_id, ts, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rd
          |  FROM events),
          |seq AS (
          |  SELECT user_id, ts, event_id, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts, event_id) AS i,
          |         count(*) OVER (PARTITION BY user_id) AS m
          |  FROM recent WHERE rd <= 32),
          |cum AS (
          |  SELECT user_id, i, m,
          |         sum(value * (CASE WHEN i = 1 THEN 2.0
          |                           ELSE pow(2.0, i - 1) END)) OVER (
          |           PARTITION BY user_id ORDER BY i
          |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          |  FROM seq)
          |SELECT user_id, CAST(m AS BIGINT) AS n_events,
          |       round(c / pow(2.0, m), 6) AS ewma
          |FROM cum WHERE i = m ORDER BY user_id""".stripMargin))((s, dir) => {
      // Exponentially-weighted moving average per user over the 32 most
      // recent events — the time-decayed feature engineering op (fraud /
      // engagement scoring). α = 1/2 on purpose: every decay weight is a
      // power of two, so the scale factors are EXACT in binary floating
      // point and the only rounding is the ordered cumulative sum, which
      // both engines execute in the identical (ts, event_id) frame order
      // — cross-engine exact like the w3 frames. The closed form of
      // s_i = α·x_i + (1−α)·s_{i−1}, s_1 = x_1 over m rows is
      // (2·x_1 + Σ_{i≥2} x_i·2^{i−1}) / 2^m. Bounding history to 32
      // events bounds the weights (and is the production shape: a
      // decayed feature over unbounded history is state, over a bounded
      // suffix it's a window). One shuffle on user_id for both windows.
      import org.apache.spark.sql.expressions.Window
      // both windows order by the derived MICROS key + event_id — the
      // oracle's exact grain — so same-micro ties can never order
      // differently across engines (raw nanos ts would, if storage
      // precision drifts back below the microsecond)
      val recentW = Window.partitionBy("user_id")
        .orderBy(col("ts_us").desc, col("event_id").desc)
      val seqW = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      val cumW = seqW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("ts_us"),
          col("event_id"), col("value"))
        .withColumn("rd", row_number().over(recentW))
        .where(col("rd") <= 32)
        .withColumn("i", row_number().over(seqW))
        .withColumn("m", count(lit(1)).over(Window.partitionBy("user_id")))
        .withColumn("cum",
          sum(col("value") *
            when(col("i") === 1, lit(2.0)).otherwise(pow(lit(2.0), col("i") - 1)))
            .over(cumW))
        .where(col("i") === col("m"))
        .select(col("user_id"), col("m").as("n_events"),
          round(col("cum") / pow(lit(2.0), col("m")), 6).as("ewma"))
        .orderBy("user_id")
    }),
    // rows-frame running aggs + lag, unique total order
    Lane("w3_frames", Some(
        """SELECT l_suppkey, l_orderkey, l_linenumber,
          |       sum(l_quantity) OVER w3 AS mov_qty,
          |       max(l_extendedprice) OVER w3 AS mov_max,
          |       lag(l_extendedprice, 1) OVER
          |         (PARTITION BY l_suppkey
          |          ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_price
          |FROM lineitem WHERE l_suppkey <= 10
          |WINDOW w3 AS (PARTITION BY l_suppkey
          |              ORDER BY l_shipdate, l_orderkey, l_linenumber
          |              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
          |ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin))((s, dir) => {
      // rows-frame running aggregates + lag over a unique total order per
      // key. Frame aggregates chosen for cross-engine exactness: sums of
      // integral-valued doubles and min/max are order-insensitive, where a
      // running avg's last-bit drift could flip a rounding boundary.
      import org.apache.spark.sql.expressions.Window
      val ord = Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      val w = Window.partitionBy("l_suppkey").orderBy(ord: _*)
      Tables(s, dir, "lineitem")
        .where(col("l_suppkey") <= 10) // bounded output; frame logic intact
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          sum("l_quantity").over(w.rowsBetween(-3, 0)).as("mov_qty"),
          max("l_extendedprice").over(w.rowsBetween(-3, 0)).as("mov_max"),
          lag("l_extendedprice", 1).over(w).as("prev_price"))
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    }),
    // row_number / ntile / percent_rank / cume_dist
    Lane("w4_rank_family", Some(
        """SELECT * FROM (
          |  SELECT o_orderpriority, o_orderkey,
          |         CAST(row_number() OVER w AS INT) AS rn,
          |         CAST(ntile(4) OVER w AS INT) AS q4,
          |         round(percent_rank() OVER w, 6) AS pr,
          |         round(cume_dist() OVER w, 6) AS cd
          |  FROM orders
          |  WINDOW w AS (PARTITION BY o_orderpriority
          |               ORDER BY o_totalprice DESC, o_orderkey))
          |WHERE rn <= 100 ORDER BY o_orderpriority, rn""".stripMargin))((s, dir) => {
      // the full ranking family over one window pass; ordering keys are
      // unique so peer groups are single rows -> all four deterministic
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rn", row_number().over(w))
        .withColumn("q4", ntile(4).over(w))
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .where(col("rn") <= 100)
        .drop("o_totalprice")
        .orderBy("o_orderpriority", "rn")
    })
  )
}
