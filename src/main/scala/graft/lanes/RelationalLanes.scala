package graft.lanes

import org.apache.spark.sql.functions._

import graft.Config
import graft.operators.{AsOf, Bucketing, RangeJoin, Ratings, Skew, Tables}

/** Joins, grouping sets, set operations and distinct aggregation, the
  * skew-salted, runtime-bloom and bucketed joins, and the JSON/map scalar
  * functions (SURVEY §2.3, §2.5). */
object RelationalLanes extends LaneFamily("relational") {
  val lanes: Seq[Lane] = Seq(
    // --- J: joins (SURVEY §2.3)
    Lane("j1_broadcast_join", Some(
        """SELECT c_mktsegment, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))((s, dir) =>
      Tables(s, dir, "orders")
        .join(broadcast(Tables(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(
          count("*").as("n_orders"),
          round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy("c_mktsegment")),
    Lane("j2_shuffle_join", Some(
        """SELECT o_orderpriority, count(*) AS n_items,
          |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))((s, dir) =>
      Tables(s, dir, "lineitem")
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")),
    Lane("j3_union_tag", Some(
        s"""SELECT tag, rating, count(*) AS n FROM (
           |  SELECT movieId, rating, 'li' AS tag FROM ($li)
           |  UNION ALL
           |  SELECT movieId, rating, 'ev' AS tag FROM ($ev)
           |) GROUP BY tag, rating ORDER BY tag, rating""".stripMargin))((s, dir) =>
      Ratings.fromLineitem(s, dir).withColumn("tag", lit("li"))
        .unionByName(Ratings.fromEvents(s, dir).withColumn("tag", lit("ev")))
        .groupBy("tag", "rating").agg(count("*").as("n"))
        .orderBy("tag", "rating")),

    // --- G/U/D: grouping sets, set ops, distinct aggregation (SURVEY
    // §2.7 explicit absences in the reference — covered here as bonus
    // surface; null grouping keys coalesced to 'ALL' for stable compare)
    Lane("g1_rollup", Some(
        """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
          |       coalesce(o_orderstatus, 'ALL') AS status,
          |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
          |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
          |ORDER BY priority, status""".stripMargin))((s, dir) =>
      Tables(s, dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count("*").as("n"), round(sum("o_totalprice"), 2).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("revenue"))
        .orderBy("priority", "status")),
    Lane("g2_cube", Some(
        """SELECT coalesce(l_returnflag, 'ALL') AS rf,
          |       coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
          |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          |ORDER BY rf, ls""".stripMargin))((s, dir) =>
      Tables(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count("*").as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"))
        .orderBy("rf", "ls")),
    Lane("g3_pivot", Some(
        """SELECT o_orderpriority,
          |       count(*) FILTER (o_orderstatus = 'F') AS "F",
          |       count(*) FILTER (o_orderstatus = 'O') AS "O",
          |       count(*) FILTER (o_orderstatus = 'P') AS "P"
          |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))((s, dir) =>
      Tables(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("o_orderpriority")),
    Lane("g4_grouping_sets", Some(
        """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
          |       coalesce(o_orderstatus, 'ALL') AS status,
          |       count(*) AS n, round(sum(o_totalprice), 2) AS revenue
          |FROM orders
          |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
          |ORDER BY priority, status""".stripMargin))((s, dir) =>
      // explicit GROUPING SETS (the general form rollup/cube specialize):
      // two independent one-dimension aggregates in ONE scan + shuffle
      Tables(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus"))),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(count("*").as("n"), round(sum("o_totalprice"), 2).as("revenue"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("revenue"))
        .orderBy("priority", "status")),
    // DuckDB's native ASOF JOIN is the oracle
    Lane("j5_asof_join", Some(
        """WITH probes AS (
          |  SELECT event_id, event_type, epoch_us(ts) AS p_us
          |  FROM events WHERE event_id % 10 = 0),
          |quotes AS (
          |  SELECT event_type, epoch_us(ts) AS q_us, round(max(value), 6) AS q_value
          |  FROM events WHERE event_id % 10 <> 0
          |  GROUP BY event_type, epoch_us(ts))
          |SELECT p.event_id, p.event_type, p.p_us,
          |       coalesce(q.q_us, -1) AS q_us,
          |       coalesce(q.q_value, 0.0) AS q_value
          |FROM probes p ASOF LEFT JOIN quotes q
          |  ON p.event_type = q.event_type AND q.q_us <= p.p_us
          |ORDER BY event_id""".stripMargin))((s, dir) => {
      // As-of join (operator Spark lacks; AsOf composes it from a union +
      // keyed window — one shuffle, one sort). Probes = every 10th event;
      // quotes = the rest, deduped to one row per (type, microsecond).
      // Times compare at µs (integer `div`, no double rounding); the
      // no-match case is coalesced to sentinels because the compare
      // bridge floats nullable int columns.
      val ev = Tables(s, dir, "events")
      val probes = ev.where(pmod(col("event_id"), lit(10)) === 0)
        .select(col("event_id"), col("event_type"),
          expr("ts div 1000").as("p_us"))
      val quotes = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
        .groupBy(col("event_type"), expr("ts div 1000").as("q_us"))
        .agg(round(max("value"), 6).as("q_value"))
      AsOf.asofJoin(probes, quotes, "event_type", "p_us", "q_us",
        Seq("q_us", "q_value"))
        .select(col("event_id"), col("event_type"), col("p_us"),
          coalesce(col("asof.q_us"), lit(-1L)).as("q_us"),
          coalesce(col("asof.q_value"), lit(0.0d)).as("q_value"))
        .orderBy("event_id")
    }),
    // native ASOF + staleness null-out
    Lane("j11_asof_tolerance", Some(
        """WITH probes AS (
          |  SELECT event_id, event_type, epoch_us(ts) AS p_us
          |  FROM events WHERE event_id % 10 = 0),
          |quotes AS (
          |  SELECT event_type, epoch_us(ts) AS q_us, round(max(value), 6) AS q_value
          |  FROM events WHERE event_id % 10 <> 0
          |  GROUP BY event_type, epoch_us(ts))
          |SELECT p.event_id, p.event_type, p.p_us,
          |       coalesce(CASE WHEN p.p_us - q.q_us <= 1800000000
          |                     THEN q.q_us END, -1) AS q_us,
          |       coalesce(CASE WHEN p.p_us - q.q_us <= 1800000000
          |                     THEN q.q_value END, 0.0) AS q_value
          |FROM probes p ASOF LEFT JOIN quotes q
          |  ON p.event_type = q.event_type AND q.q_us <= p.p_us
          |ORDER BY event_id""".stripMargin))((s, dir) => {
      // j5's as-of join with a 30-minute staleness tolerance (pandas
      // merge_asof `tolerance`): a preceding quote older than the bound
      // does not match — the stale-quote guard. Same one-shuffle window
      // plan; the tolerance is a projection (AsOf.asofJoinTolerance).
      // 30 min bisects the testdata's gap distribution (p50 ≈ 15 min,
      // p90 ≈ 53 min), so both branches are exercised.
      val ev = Tables(s, dir, "events")
      val probes = ev.where(pmod(col("event_id"), lit(10)) === 0)
        .select(col("event_id"), col("event_type"),
          expr("ts div 1000").as("p_us"))
      val quotes = ev.where(pmod(col("event_id"), lit(10)) =!= 0)
        .groupBy(col("event_type"), expr("ts div 1000").as("q_us"))
        .agg(round(max("value"), 6).as("q_value"))
      AsOf.asofJoinTolerance(probes, quotes, "event_type", "p_us", "q_us",
        Seq("q_us", "q_value"), tolerance = 1800000000L)
        .select(col("event_id"), col("event_type"), col("p_us"),
          coalesce(col("asof.q_us"), lit(-1L)).as("q_us"),
          coalesce(col("asof.q_value"), lit(0.0d)).as("q_value"))
        .orderBy("event_id")
    }),
    // plain BETWEEN join (DuckDB plans IEJoin)
    Lane("j6_range_join", Some(
        """SELECT p_partkey AS band_id, count(*) AS n,
          |       round(sum(l_extendedprice), 2) AS total_price
          |FROM lineitem JOIN part
          |  ON l_extendedprice BETWEEN p_retailprice - 50.0 AND p_retailprice + 50.0
          |WHERE p_partkey % 10 = 0
          |GROUP BY p_partkey ORDER BY band_id""".stripMargin))((s, dir) => {
      // Range join via bin bucketing (never a nested loop — asserted in
      // PlanAuditSpec): price bands from every 10th part, lineitem prices
      // matched into overlapping bands, aggregated per band.
      val bands = Tables(s, dir, "part")
        .where(pmod(col("p_partkey"), lit(10)) === 0)
        .select(col("p_partkey").as("band_id"),
          (col("p_retailprice") - 50.0).as("lo"),
          (col("p_retailprice") + 50.0).as("hi"))
      RangeJoin.bucketed(
        Tables(s, dir, "lineitem").select(col("l_extendedprice")),
        bands, "l_extendedprice", "lo", "hi", binWidth = 100.0)
        .groupBy("band_id")
        .agg(count("*").as("n"),
          round(sum("l_extendedprice"), 2).as("total_price"))
        .orderBy("band_id")
    }),
    Lane("j4_semi_anti", Some(
        """SELECT tag, count(*) AS n FROM (
          |  SELECT c_custkey, CASE WHEN EXISTS (SELECT 1 FROM orders
          |           WHERE o_custkey = c_custkey)
          |         THEN 'has_orders' ELSE 'no_orders' END AS tag
          |  FROM customer)
          |GROUP BY tag ORDER BY tag""".stripMargin))((s, dir) => {
      // left-semi + left-anti as one tagged result: customers with and
      // without orders
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.join(o, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_orders").as("tag"))
        .unionByName(
          c.join(o, Seq("c_custkey"), "left_anti")
            .select(col("c_custkey"), lit("no_orders").as("tag")))
        .groupBy("tag").agg(count("*").as("n"))
        .orderBy("tag")
    }),
    Lane("u1_intersect", Some(
        s"""SELECT DISTINCT rating FROM ($li)
           |INTERSECT SELECT DISTINCT rating FROM ($ev) ORDER BY rating""".stripMargin))((s, dir) =>
      Ratings.fromLineitem(s, dir).select("rating").distinct()
        .intersect(Ratings.fromEvents(s, dir).select("rating").distinct())
        .orderBy("rating")),
    Lane("u2_except", Some(
        s"""SELECT DISTINCT rating FROM ($li)
           |EXCEPT SELECT DISTINCT rating FROM ($ev) ORDER BY rating""".stripMargin))((s, dir) =>
      Ratings.fromLineitem(s, dir).select("rating").distinct()
        .except(Ratings.fromEvents(s, dir).select("rating").distinct())
        .orderBy("rating")),
    Lane("d1_distinct_agg", Some(
        """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
          |       count(*) AS n_rows
          |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin))((s, dir) =>
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("n_parts"),
          count("*").as("n_rows"))
        .orderBy("l_returnflag")),
    // latest change record per key wins
    Lane("d2_upsert_latest", Some(
        """SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
          |       event_type, value
          |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
          |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
          |WHERE rn = 1 ORDER BY user_id""".stripMargin))((s, dir) =>
      // CDC / SCD-1 merge: the event stream as a change log keyed by
      // user, latest record wins (ts, then event_id). max_by keeps this a
      // partial-aggregable reduce — map-side combine shrinks each
      // partition to one row per key BEFORE the shuffle, where a
      // row_number window would shuffle and sort every change record
      Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max_by(
          struct(col("event_id"), expr("ts div 1000").as("ts_us"),
            col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("last"))
        .select(col("user_id"), col("last.event_id").as("event_id"),
          col("last.ts_us").as("ts_us"),
          col("last.event_type").as("event_type"),
          col("last.value").as("value"))
        .orderBy("user_id")),

    // merge of partials == full recompute
    Lane("d4_incremental_mv", Some(
        """SELECT epoch_ns(ts) // 3600000000000 AS hr, event_type,
          |       count(*) AS n, round(sum(value), 2) AS sum_value
          |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin))((s, dir) => {
      // incremental materialized-view maintenance: the hourly rollup is
      // kept as MERGEABLE partial aggregates — a delta slice (a tenth of
      // the events, standing in for newly-arrived data) aggregates
      // SEPARATELY and merges into the base rollup by key, exactly how a
      // 100 TB MV refreshes without re-scanning history (count and sum
      // are the canonical self-merging states; the oracle recomputes from
      // scratch, pinning merge == recompute).
      val ev = Tables(s, dir, "events").select(
        expr("ts div 3600000000000").as("hr"), col("event_type"),
        col("value"), (col("event_id") % 10 === 0).as("is_delta"))
      def partial(p: org.apache.spark.sql.Column) = ev.where(p)
        .groupBy("hr", "event_type")
        .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      partial(!col("is_delta")).unionByName(partial(col("is_delta")))
        .groupBy("hr", "event_type")
        .agg(sum("n").as("n"), round(sum("sv"), 2).as("sum_value"))
        .orderBy("hr", "event_type")
    }),
    // from-scratch recompute: global latest op, D wins
    Lane("d5_merge_cdc", Some(
        """WITH ops AS (
          |  SELECT user_id, event_id, epoch_ns(ts) AS tns,
          |         CASE event_type WHEN 'signup' THEN 'I'
          |                         WHEN 'error' THEN 'D'
          |                         ELSE 'U' END AS op,
          |         value
          |  FROM events),
          |seq AS (SELECT *, row_number() OVER (PARTITION BY user_id
          |          ORDER BY tns DESC, event_id DESC) AS rn FROM ops)
          |SELECT user_id, event_id, tns // 1000 AS ts_us, op, value
          |FROM seq WHERE rn = 1 AND op <> 'D'
          |ORDER BY user_id""".stripMargin))((s, dir) => {
      // MERGE-shaped CDC apply with DELETES: the event stream as an
      // insert/update/delete changelog over user profiles (signup=I,
      // error=D, everything else=U). A base snapshot (first half of the
      // time range, SCD-1-reduced like d2) is merged with the later
      // delta's reduction via ONE full-outer join on the key — the
      // MERGE INTO physical shape, where delta verdicts win and a
      // delta-side D (or a base row already deleted) drops the key.
      // At 100 TB the base never re-scans history: both sides are
      // map-side-combining max_by reductions, and the merge join is
      // key-partitioned. The oracle recomputes final state from scratch
      // (global latest op per user, D filtered), pinning merge ==
      // recompute, the d4 contract extended to deletes.
      val ops = Tables(s, dir, "events").select(
        col("user_id"), col("event_id"), col("ts"),
        when(col("event_type") === "signup", lit("I"))
          .when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        col("value"))
      // integer midpoint (min + (max-min) div 2): all-Long arithmetic —
      // a (min+max)/2 double round-trip would hit DuckDB's round-to-
      // nearest vs Spark's truncate cast on values above 2^53
      val mid = ops.agg(min("ts").as("mn"), max("ts").as("mx"))
        .select(expr("mn + (mx - mn) div 2").as("mid"))
      val withMid = ops.crossJoin(mid) // one-row scalar broadcast
      def latest(p: org.apache.spark.sql.Column) = withMid.where(p)
        .groupBy("user_id")
        .agg(max_by(
          struct(col("event_id"), expr("ts div 1000").as("ts_us"),
            col("op"), col("value")),
          struct(col("ts"), col("event_id"))).as("r"))
      val base = latest(col("ts") <= col("mid"))
        .select(col("user_id"), col("r").as("b"))
      val delta = latest(col("ts") > col("mid"))
        .select(col("user_id"), col("r").as("d"))
      base.join(delta, Seq("user_id"), "full_outer")
        .select(col("user_id"), coalesce(col("d"), col("b")).as("f"))
        .where(col("f.op") =!= "D")
        .select(col("user_id"), col("f.event_id").as("event_id"),
          col("f.ts_us").as("ts_us"), col("f.op").as("op"),
          col("f.value").as("value"))
        .orderBy("user_id")
    }),
    // two latest-wins states compared key for key
    Lane("d6_snapshot_diff", Some(
        """WITH cut AS (SELECT (min(epoch_ns(ts))
          |                     + (max(epoch_ns(ts)) - min(epoch_ns(ts))) // 2)
          |                AS c FROM events),
          |n AS (SELECT user_id, event_id AS new_eid FROM (
          |        SELECT *, row_number() OVER (PARTITION BY user_id
          |          ORDER BY ts DESC, event_id DESC) AS rn FROM events)
          |      WHERE rn = 1),
          |o AS (SELECT user_id, event_id AS old_eid FROM (
          |        SELECT *, row_number() OVER (PARTITION BY user_id
          |          ORDER BY ts DESC, event_id DESC) AS rn FROM events
          |        WHERE epoch_ns(ts) < (SELECT c FROM cut))
          |      WHERE rn = 1)
          |SELECT n.user_id, o.old_eid, n.new_eid,
          |       CASE WHEN o.old_eid IS NULL THEN 'added'
          |            WHEN o.old_eid <> n.new_eid THEN 'changed'
          |            ELSE 'unchanged' END AS status
          |FROM n LEFT JOIN o ON o.user_id = n.user_id
          |ORDER BY n.user_id""".stripMargin))((s, dir) => {
      // Snapshot diff — the data-regression face of the CDC lane: the
      // latest-wins state (d2's reduce) materialized at two points in
      // time (mid-stream and end), full states compared key for key.
      // Per user: added (absent at the cutoff), changed (a newer change
      // record won), unchanged. Append-only log → no removals; the
      // delete-aware state is d5's. Shape: two partial-aggregable max_by
      // reductions + ONE key-equi join of two key-sized relations — at
      // 100 TB the exchanges carry one row per user, never the log.
      val ev = Tables(s, dir, "events")
      val cut = ev.agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"))
        .select(expr("mn + (mx - mn) div 2").as("cut"))
      val withCut = ev.crossJoin(cut) // one-row scalar broadcast
      def latest(p: org.apache.spark.sql.Column) = withCut.where(p)
        .groupBy("user_id")
        .agg(max_by(col("event_id"), struct(col("ts"), col("event_id")))
          .as("eid"))
      latest(lit(true)).withColumnRenamed("eid", "new_eid")
        .join(latest(col("ts") < col("cut"))
          .withColumnRenamed("eid", "old_eid"), Seq("user_id"), "left_outer")
        .select(col("user_id"), col("old_eid"), col("new_eid"),
          when(col("old_eid").isNull, "added")
            .when(col("old_eid") =!= col("new_eid"), "changed")
            .otherwise("unchanged").as("status"))
        .orderBy("user_id")
    }),

    // identical SQL: the LATERAL subquery cross-engine
    Lane("u5_lateral", Some(
        """SELECT n.n_name, l.c_name, l.c_acctbal
          |FROM nation n,
          |LATERAL (SELECT c_name, c_acctbal FROM customer c
          |         WHERE c.c_nationkey = n.n_nationkey
          |         ORDER BY c_acctbal DESC, c_name LIMIT 2) l
          |ORDER BY n.n_name, l.c_acctbal DESC, l.c_name""".stripMargin))((s, dir) => {
      // LATERAL correlated subquery (Spark 4 SQL surface): per-nation
      // top-2 customers — the parser/analyzer turn the per-row subquery
      // into a LateralJoin the optimizer can reason about; the identical
      // SQL runs on DuckDB, so the decorrelation is oracle-checked.
      val sp = Config.child(s)
      Tables(sp, dir, "nation").createOrReplaceTempView("nation_v")
      Tables(sp, dir, "customer").createOrReplaceTempView("customer_v")
      sp.sql("""SELECT n.n_name, l.c_name, l.c_acctbal
               |FROM nation_v n,
               |LATERAL (SELECT c_name, c_acctbal FROM customer_v c
               |         WHERE c.c_nationkey = n.n_nationkey
               |         ORDER BY c_acctbal DESC, c_name LIMIT 2) l
               |ORDER BY n.n_name, l.c_acctbal DESC, l.c_name""".stripMargin)
    }),
    // identical recursion; hour-of-day via epoch nanos
    Lane("u6_recursive", Some(
        """WITH RECURSIVE hours(hr) AS (
          |  SELECT 0 UNION ALL SELECT hr + 1 FROM hours WHERE hr < 23)
          |SELECT h.hr, count(e.hr) AS n
          |FROM hours h LEFT JOIN
          |  (SELECT epoch_ns(ts) // 3600000000000 % 24 AS hr FROM events) e
          |  ON e.hr = h.hr
          |GROUP BY h.hr ORDER BY h.hr""".stripMargin))((s, dir) => {
      // WITH RECURSIVE (Spark 4 SQL surface): the hour-of-day spine
      // generated by the recursion itself (e3 builds the same spine with
      // sequence()), left-joined to hour-of-day event counts so empty
      // hours surface as zero. Identical SQL is the DuckDB oracle.
      val sp = Config.child(s)
      Tables(sp, dir, "events").createOrReplaceTempView("events_v")
      sp.sql("""WITH RECURSIVE hours(hr) AS (
               |  SELECT 0 UNION ALL SELECT hr + 1 FROM hours WHERE hr < 23)
               |SELECT h.hr, count(e.hr) AS n
               |FROM hours h LEFT JOIN
               |  (SELECT CAST(ts div 3600000000000 AS BIGINT) % 24 AS hr
               |   FROM events_v) e
               |  ON e.hr = h.hr
               |GROUP BY h.hr ORDER BY h.hr""".stripMargin)
    }),
    // variant_get's value via engine-neutral extraction
    Lane("f5_variant", Some(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
          |                     AS BIGINT)) AS BIGINT) AS sum_k,
          |       max(CAST(regexp_extract(props, '"k": ([0-9]+)', 1)
          |                AS BIGINT)) AS max_k
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin))((s, dir) => {
      // VARIANT (Spark 4 semi-structured type): parse the JSON props
      // payload once into a variant and extract typed paths — the open
      // schema-on-read shape for event payloads. The oracle extracts the
      // same value with engine-neutral string functions, so the variant
      // path is value-checked without assuming DuckDB's JSON extension.
      val sp = Config.child(s)
      Tables(sp, dir, "events").createOrReplaceTempView("events_vv")
      sp.sql("""SELECT event_type,
               |       count(*) AS n,
               |       sum(variant_get(parse_json(props), '$.k', 'long')) AS sum_k,
               |       max(variant_get(parse_json(props), '$.k', 'long')) AS max_k
               |FROM events_vv GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),
    // correlated EXISTS, decorrelated to semi join
    Lane("u3_exists_subquery", Some(
        """SELECT o_orderpriority, count(*) AS n
          |FROM orders o
          |WHERE EXISTS (SELECT 1 FROM lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey
          |                AND l.l_quantity >= 45)
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))((s, dir) => {
      // the SQL front door: correlated EXISTS through the parser; the
      // analyzer decorrelates it to a left-semi join (same physical shape
      // as j4) — no per-row subquery execution survives to the plan
      val sp = Config.child(s)
      Tables(sp, dir, "orders").createOrReplaceTempView("orders_v")
      Tables(sp, dir, "lineitem").createOrReplaceTempView("lineitem_v")
      sp.sql("""SELECT o_orderpriority, count(*) AS n
               |FROM orders_v o
               |WHERE EXISTS (SELECT 1 FROM lineitem_v l
               |              WHERE l.l_orderkey = o.o_orderkey
               |                AND l.l_quantity >= 45)
               |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    }),
    // correlated scalar agg vs segment average
    Lane("u4_scalar_subquery", Some(
        """SELECT c_mktsegment, count(*) AS n_above
          |FROM customer c
          |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
          |                   WHERE c2.c_mktsegment = c.c_mktsegment)
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin))((s, dir) => {
      // correlated scalar-aggregate subquery -> decorrelated to one
      // aggregate + join (RewriteCorrelatedScalarSubquery); compares each
      // customer to their segment's average balance
      val sp = Config.child(s)
      Tables(sp, dir, "customer").createOrReplaceTempView("customer_v")
      sp.sql("""SELECT c_mktsegment, count(*) AS n_above
               |FROM customer_v c
               |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer_v c2
               |                   WHERE c2.c_mktsegment = c.c_mktsegment)
               |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),
    // wide -> long melt
    Lane("g5_unpivot", Some(
        """SELECT l_orderkey, l_linenumber, metric, value FROM (
          |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
          |         l_quantity AS value FROM lineitem
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
          |  FROM lineitem
          |  UNION ALL
          |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
          |  FROM lineitem)
          |WHERE l_orderkey <= 100
          |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin))((s, dir) =>
      // wide -> long melt via the native Unpivot node (Expand under the
      // hood: one scan, rows×metrics output, no shuffle before the sort)
      Tables(s, dir, "lineitem")
        .where(col("l_orderkey") <= 100)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),
    // dimension side preserved, zero-filled left
    Lane("j9_right_outer", Some(
        """SELECT c_custkey, c_acctbal,
          |       coalesce(n_orders, 0) AS n_orders
          |FROM (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          |      FROM orders GROUP BY o_custkey) o
          |RIGHT JOIN (SELECT c_custkey, c_acctbal FROM customer
          |            WHERE c_mktsegment = 'BUILDING') c
          |  ON o_custkey = c_custkey
          |ORDER BY c_custkey""".stripMargin))((s, dir) => {
      // right outer: the preserved side is the dimension — BUILDING
      // customers keep their row even with zero orders (null-filled left)
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      val c = Tables(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_acctbal"))
      o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
        .select(col("c_custkey"), col("c_acctbal"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("c_custkey")
    }),
    // fold/filter lambdas over the array column
    Lane("f4_higher_order", Some(
        """SELECT vec_id,
          |       round(sqrt(list_aggregate(
          |         list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
          |         'sum')), 4) AS l2,
          |       CAST(len(list_filter(embedding, x -> x > 0)) AS INT)
          |         AS n_pos
          |FROM embeddings ORDER BY vec_id""".stripMargin))((s, dir) =>
      // array higher-order functions as first-class row logic: L2 norm by
      // fold, positive-component count by filter — all codegen'd lambdas
      // over the array column, zero UDFs, zero explodes (no row blowup)
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        round(sqrt(aggregate(col("embedding"), lit(0.0d),
          (acc, x) => acc + x.cast("double") * x.cast("double"))), 4)
          .as("l2"),
        size(filter(col("embedding"), _ > 0f)).as("n_pos"))
        .orderBy("vec_id")),
    // both dangling sides preserved
    Lane("j7_full_outer", Some(
        """SELECT coalesce(c_custkey, o_custkey) AS custkey, c_acctbal,
          |       coalesce(n_orders, 0) AS n_orders
          |FROM (SELECT c_custkey, c_acctbal FROM customer
          |      WHERE c_mktsegment = 'BUILDING') c
          |FULL JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
          |           FROM orders GROUP BY o_custkey) o
          |  ON c_custkey = o_custkey
          |ORDER BY custkey""".stripMargin))((s, dir) => {
      // full outer with BOTH dangling sides real: one customer segment vs
      // order counts across all customers — left-only rows are BUILDING
      // customers with no orders, right-only rows are other segments'
      // buyers. Shuffle hash join on the key; no broadcast (full outer
      // cannot broadcast either side).
      val c = Tables(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_acctbal"))
      val o = Tables(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_acctbal"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    }),
    // change log -> validity intervals, lead() per key
    Lane("d3_scd2", Some(
        """SELECT user_id, event_id, event_type, value,
          |       epoch_ns(ts) // 1000 AS valid_from_us,
          |       lead(epoch_ns(ts) // 1000) OVER
          |         (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us,
          |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          |         IS NULL AS is_current
          |FROM events
          |ORDER BY user_id, valid_from_us, event_id""".stripMargin))((s, dir) => {
      // SCD-2 materialization of the same change log: each change record
      // becomes a validity interval [valid_from, valid_to) via one lead()
      // window — a single shuffle on the dimension key, no self-join. At
      // 100 TB the shuffle carries (key, ts) sorted runs; state never
      // exceeds one row in flight per key within a partition.
      import org.apache.spark.sql.expressions.Window
      // ordered by the derived MICROS key (+ event_id), not raw nanos ts:
      // the oracle orders by its micros-grain timestamp, so both engines
      // must tiebreak on identical-grain keys even if the storage ever
      // returns to sub-microsecond precision
      val w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"), expr("ts div 1000").as("valid_from_us"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
        .withColumn("is_current", col("valid_to_us").isNull)
        .drop("ts")
        .orderBy("user_id", "valid_from_us", "event_id")
    }),

    // same intervals, same half-open boundary
    Lane("j10_interval_lookup", Some(
        """WITH dim AS (
          |  SELECT user_id AS d_user, event_id AS dim_event_id,
          |         value AS dim_value,
          |         epoch_ns(ts) // 1000 AS valid_from_us,
          |         lead(epoch_ns(ts) // 1000) OVER
          |           (PARTITION BY user_id ORDER BY ts, event_id)
          |           AS valid_to_us
          |  FROM events),
          |probes AS (
          |  SELECT user_id, event_id AS probe_event_id,
          |         epoch_ns(ts) // 1000 - 1 AS probe_us
          |  FROM events)
          |SELECT p.user_id, p.probe_event_id, d.dim_event_id, d.dim_value
          |FROM probes p LEFT JOIN dim d
          |  ON p.user_id = d.d_user AND p.probe_us >= d.valid_from_us
          |  AND (d.valid_to_us IS NULL OR p.probe_us < d.valid_to_us)
          |ORDER BY p.user_id, p.probe_event_id""".stripMargin))((s, dir) => {
      // Point-in-time lookup against the SCD-2 dimension d3 materializes
      // — the canonical temporal-dimension join of warehouse fact loads.
      // Probes sit 1 µs BEFORE each change record, so each one must
      // resolve to the user's PREVIOUS version (half-open [from, to)
      // semantics exercised at the boundary; a user's first event probes
      // before any interval and left-joins to NULL). The equi-key
      // (user_id) makes this a hash/sort-merge join with the interval
      // predicate as a residual — never a nested loop; intervals per key
      // are disjoint, so at most one dimension row matches a probe.
      import org.apache.spark.sql.expressions.Window
      // micros-grain ordering key + event_id, matching the oracle's grain
      // exactly (see d3) — raw nanos d_ts could order same-micro ties
      // differently than the micros-grain oracle if storage precision drifts
      val w = Window.partitionBy("d_user")
        .orderBy("valid_from_us", "dim_event_id")
      val dim = Tables(s, dir, "events")
        .select(col("user_id").as("d_user"),
          col("event_id").as("dim_event_id"), col("value").as("dim_value"),
          expr("ts div 1000").as("valid_from_us"))
        .withColumn("valid_to_us", lead(col("valid_from_us"), 1).over(w))
      val probes = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id").as("probe_event_id"),
          (expr("ts div 1000") - 1).as("probe_us"))
      probes.join(dim,
          col("user_id") === col("d_user")
            && col("probe_us") >= col("valid_from_us")
            && (col("valid_to_us").isNull
              || col("probe_us") < col("valid_to_us")),
          "left")
        .select(col("user_id"), col("probe_event_id"),
          col("dim_event_id"), col("dim_value"))
        .orderBy("user_id", "probe_event_id")
    }),

    // --- X: skew-salted join (scale technique; oracle is the UNSALTED
    // join, proving the rewrite is semantics-preserving)
    // the UNSALTED join: salting must not change results
    Lane("x1_salted_join", Some(
        """SELECT o_orderpriority, count(*) AS n_items,
          |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))((s, dir) =>
      Skew.saltedJoin(
        Tables(s, dir, "lineitem").withColumnRenamed("l_orderkey", "orderkey"),
        Tables(s, dir, "orders").withColumnRenamed("o_orderkey", "orderkey"),
        key = "orderkey", saltFactor = 8,
        bigSaltSource = Seq("orderkey", "l_linenumber"))
        .groupBy("o_orderpriority").agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")),
    // --- X2: the runtime bloom-filter optimizer rule, driver-checked —
    // the rule injects bloom_might_contain(scalar-subquery(build)) under
    // the probe side so non-joinable rows die before the shuffle; zero
    // false negatives make the rewrite semantics-preserving, so the
    // oracle is the PLAIN join. Scoped to this query via
    // experimental.extraOptimizations (the rule's idempotency guard makes
    // the fixed-point batch safe); executed inside the scope so the
    // restored session state cannot un-inject it, then returned as a
    // local relation (the result is a handful of grouped rows).
    // the rule must not change results: plain join
    Lane("x2_runtime_bloom", Some(
        """SELECT p_size, count(*) AS n_items,
          |       round(sum(l_quantity), 2) AS total_qty
          |FROM lineitem JOIN part ON concat('p', l_partkey) = concat('p', p_partkey)
          |WHERE p_size <= 5
          |GROUP BY p_size ORDER BY p_size""".stripMargin))((outer, dir) => {
      // isolated session: extraOptimizations + confs live and die here, so
      // nothing leaks into the shared session even under concurrent queries
      val s = Config.child(outer, "spark.graft.runtimeBloom.enabled" -> "true",
        "spark.graft.runtimeBloom.minProbeBytes" -> "1")
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.InjectBloomRuntimeFilter(s)
      val big = Tables(s, dir, "lineitem")
        .select(concat(lit("p"), col("l_partkey")).as("pk"), col("l_quantity"))
      val small = Tables(s, dir, "part").where(col("p_size") <= 5)
        .select(concat(lit("p"), col("p_partkey")).as("pk"), col("p_size"))
      val df = big.join(small, "pk")
        .groupBy("p_size").agg(
          count("*").as("n_items"),
          round(sum("l_quantity"), 2).as("total_qty"))
        .orderBy("p_size")
      require(df.queryExecution.optimizedPlan.toString.contains("bloom_might_contain"),
        "runtime bloom filter was not injected")
      import scala.jdk.CollectionConverters._
      // materialize under the isolated session, hand rows to the caller's
      outer.createDataFrame(df.collect().toSeq.asJava, df.schema)
    }),

    // --- B: bucketed co-located join (write-time pre-shuffle; the plan
    // has NO exchange on either join side — asserted in BucketingSpec)
    // bucketing must not change results
    Lane("b1_bucketed_join", Some(
        """SELECT o_orderpriority, count(*) AS n_items,
          |       round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin))((s, dir) => {
      val suffix = math.abs(dir.hashCode).toString
      val li = Bucketing.ensureBucketed(s,
        Tables(s, dir, "lineitem")
          .select("l_orderkey", "l_extendedprice", "l_discount"),
        s"graft_li_$suffix", "l_orderkey")
      val od = Bucketing.ensureBucketed(s,
        Tables(s, dir, "orders").select("o_orderkey", "o_orderpriority"),
        s"graft_od_$suffix", "o_orderkey")
      s.table(li)
        .join(s.table(od), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(
          count("*").as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // --- F: JSON + map scalar functions (SURVEY §2.5 absences) — the
    // to_json -> from_json/get_json_object round trip must reproduce the
    // source columns exactly, so the oracle is the identity projection
    Lane("f2_json_roundtrip", Some(
        """SELECT doc_id, lang, n_chars, lang AS lang_path
          |FROM documents ORDER BY doc_id""".stripMargin))((s, dir) => {
      import org.apache.spark.sql.types._
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("n_chars", LongType)))
      Tables(s, dir, "documents")
        .select(to_json(struct(col("doc_id"), col("lang"), col("n_chars"))).as("j"))
        .select(from_json(col("j"), schema).as("p"),
          get_json_object(col("j"), "$.lang").as("lang_path"))
        .select(col("p.doc_id").as("doc_id"), col("p.lang").as("lang"),
          col("p.n_chars").as("n_chars"), col("lang_path"))
        .orderBy("doc_id")
    }),
    Lane("f3_map_ops", Some(
        """SELECT doc_id, lang, source, 2 AS n_keys
          |FROM documents ORDER BY doc_id""".stripMargin))((s, dir) =>
      // map construction + lookup + size; identity-checkable projection
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          map_from_arrays(
            array(lit("lang"), lit("source")),
            array(col("lang"), col("source"))).as("m"))
        .select(col("doc_id"),
          element_at(col("m"), "lang").as("lang"),
          element_at(col("m"), "source").as("source"),
          size(col("m")).as("n_keys"))
        .orderBy("doc_id"))
  )
}
