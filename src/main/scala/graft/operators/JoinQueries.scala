package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import graft.Rounding.round // engine-identical rounding — shadows functions.round (see Rounding)

/** KSQL join surface (SURVEY.md §2.5) in batch-verifiable form.
  *
  * Scale design:
  *  - dimension tables (customer, nation, region) are `broadcast()` — the
  *    fact side (orders/lineitem) is NEVER shuffled for a dim join. At
  *    100 TB the fact scan streams through map-side hash joins.
  *  - the stream-stream WITHIN join is an equi-join on the key plus a range
  *    predicate on time — Spark plans the equi-part as the join key, the
  *    range as a post-filter, so shuffle volume stays linear in input.
  */
object JoinQueries {

  def entries: Map[String, Q] = Map(
    // stream-table join analog: orders (fact) ⋈ customer (dim, broadcast)
    "q_join_orders_customer" -> Q(
      (s, d) => Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"),
          col("c_name"), col("c_mktsegment")),
      """SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin),

    // n-way star join with aggregation: revenue per region/nation
    "q_join_star" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items")),
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),

    // LEFT OUTER join: every customer, order count (0 for order-less)
    "q_join_left" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent")),
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),

    // salted skew join, oracle-gated: event_type has 5 values, so the
    // plain shuffle join lands each type on ONE task; the salt spreads
    // every type over 8 tasks and the result is provably identical to
    // the unsalted join (the oracle IS the plain join). This is the
    // skew remedy when AQE's skew-split can't kick in (e.g. a
    // low-cardinality key under an agg that needs the join first).
    "q_salted_join" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val typeDim = ev.groupBy(col("event_type"))
          .agg(avg(col("value")).as("type_avg"))
        Ops.saltedJoin(ev, typeDim, Seq("event_type"),
          saltLeft = col("event_id"), salt = 8)
          .select(col("event_id"), col("event_type"),
            round(col("value") - col("type_avg"), 4).as("delta"))
      },
      """WITH st AS (
        |  SELECT event_type, avg(value) AS type_avg FROM events GROUP BY 1
        |)
        |SELECT event_id, e.event_type,
        |  round(value - type_avg, 4) AS delta
        |FROM events e JOIN st USING (event_type)""".stripMargin),

    // range join: parts priced into irregular bands — binned equi-join,
    // not a nested-loop inequality join (see Ops.rangeJoinBinned)
    "q_range_join" -> Q(
      (s, d) => {
        import s.implicits._
        val bands = Seq(
          (0.0, 500.0, "low"), (500.0, 900.0, "mid"),
          (900.0, 1500.0, "high"), (1500.0, 100000.0, "lux"))
          .toDF("lo", "hi", "band")
        Ops.rangeJoinBinned(Tables.part(s, d), col("p_retailprice"),
            bands, col("lo"), col("hi"), binWidth = 500.0)
          .select(col("p_partkey"), col("band"))
      },
      """WITH bands(lo, hi, band) AS (VALUES
        |  (0.0, 500.0, 'low'), (500.0, 900.0, 'mid'),
        |  (900.0, 1500.0, 'high'), (1500.0, 100000.0, 'lux'))
        |SELECT p_partkey, band FROM part
        |JOIN bands ON p_retailprice >= lo AND p_retailprice < hi"""
        .stripMargin),

    // TPC-H Q3 shape: revenue of unshipped orders per order/date/priority,
    // top 10 — join + agg + order + limit in one plan (broadcast dim,
    // shuffle only on the fact-fact key and the final agg)
    "q_tpch_q3" -> Q(
      (s, d) => Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(col("o_orderdate") < lit("1998-03-15").cast("timestamp_ntz")
          && col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
        .groupBy(col("l_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("o_orderdate_ms"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10),
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS o_orderdate_ms,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q5 shape: local-supplier revenue by nation inside a region +
    // year window. The join-order stress test: region/nation/supplier/
    // customer all broadcast; lineitem⋈orders is the only shuffled pair;
    // the c_nationkey = s_nationkey residual rides the supplier join.
    "q_tpch_q5" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue")),
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin),

    // TPC-H Q18 shape (large-volume customers): the HAVING aggregate
    // runs FIRST and partial-aggregates map-side, so only the ~big
    // orders reach the joins — at 100 TB the lineitem scan reduces to
    // (orderkey, sum) before anything shuffles, and the surviving key
    // list is small enough that AQE broadcasts the join sides. Top-100
    // plans as TakeOrdered, never a global sort. l_quantity is
    // integer-valued so the HAVING/ORDER sums are exact in both engines.
    "q_tpch_q18" -> Q(
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .filter(col("sum_qty") > 100)
        big.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_custkey"), col("o_orderkey"),
            round(col("o_totalprice"), 2).as("o_totalprice"),
            round(col("sum_qty"), 2).as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      },
      """WITH big AS (
        |  SELECT l_orderkey, sum(l_quantity) AS sum_qty
        |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 100
        |)
        |SELECT c_custkey, o_orderkey,
        |  round(o_totalprice, 2) AS o_totalprice,
        |  round(sum_qty, 2) AS sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // TPC-H Q6 shape (forecasting revenue change): the pure-scan
    // aggregate — every predicate pushes to the parquet reader
    // (min/max row-group skipping does the real work at 100 TB), one
    // partial+final agg, zero joins. The plan-audit baseline for "a
    // filter that never reaches Spark".
    "q_tpch_q6" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1997-01-01").cast("timestamp_ntz")
          && col("l_discount").between(0.05, 0.07)
          && col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
          .as("revenue")),
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""
        .stripMargin),

    // TPC-H Q14 shape (promotion effect): one broadcast dim join + a
    // conditional/total revenue ratio in a single agg pass over the
    // date-pruned fact slice.
    "q_tpch_q14" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp_ntz")
          && col("l_shipdate") < lit("1996-04-01").cast("timestamp_ntz"))
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .agg(round(lit(100.0) * sum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(0.0))
          / sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("promo_revenue")),
      """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 2) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'"""
        .stripMargin),

    // bloom-prefiltered semi join: a selective order subset prunes the
    // lineitem scan through an inlined might_contain(xxhash64) predicate
    // BEFORE the exact semi join (Ops.bloomSemiJoin) — results are
    // exact, so the whole path oracle-checks against a plain semi join.
    "q_bloom_semijoin" -> Q(
      (s, d) => {
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT"
            && col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz")
            && col("o_orderdate") < lit("1996-04-01").cast("timestamp_ntz"))
          .select(col("o_orderkey"))
        Ops.bloomSemiJoin(Tables.lineitem(s, d), urgent,
            "l_orderkey", "o_orderkey")
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
      },
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem WHERE l_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1996-04-01')
        |GROUP BY 1""".stripMargin),

    // TPC-H Q10 shape (returned-item revenue per customer): the classic
    // fact⋈fact⋈two-dims top-k. customer/nation broadcast; the only
    // shuffle pair is lineitem⋈orders; the quarter + returnflag filters
    // push into both fact scans so the join sees pre-pruned rows; top-20
    // plans as TakeOrdered on the ROUNDED revenue with c_custkey as the
    // deterministic tie-break (both engines rank the same rounded key).
    "q_tpch_q10" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1996-10-01").cast("timestamp_ntz")
            && col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz")),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20),
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-10-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin),

    // as-of join: latest order at-or-before each event's timestamp for the
    // same customer (time-series enrichment; DuckDB's native ASOF JOIN is
    // the oracle). Output keeps only tie-deterministic columns.
    "q_asof_join" -> Q(
      (s, d) => {
        // project BEFORE the as-of join: its union-merge carries full
        // rows of both sides as structs through the key shuffle, so
        // unneeded columns (events.props is the widest in the table)
        // would ride the whole pipeline — the generic operator cannot
        // prune for you, the call site declares what it needs
        val e = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("ts"))
        val o = Tables.orders(s, d)
          .select(col("o_custkey"), col("o_orderdate"))
        Ops.asOfJoin(e, o,
            col("user_id"), col("o_custkey"), col("ts"), col("o_orderdate"))
          .select(col("event_id"), col("user_id"),
            // o_orderdate is TIMESTAMP_NTZ; session TZ is UTC so the cast
            // is an identity relabel for unix_millis
            unix_millis(col("o_orderdate").cast("timestamp")).as("last_order_ms"))
      },
      """SELECT e.event_id, e.user_id,
        |  epoch_ms(o.o_orderdate) AS last_order_ms
        |FROM events e ASOF JOIN orders o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate""".stripMargin),

    // stream-stream join WITHIN 1 HOUR: signup followed by a purchase by the
    // same user within an hour (equi-join on user + time-range predicate)
    "q_join_within" -> Q(
      (s, d) => {
        val e = Tables.events(s, d)
        val signups = e.filter(col("event_type") === "signup")
          .select(col("user_id").as("su"), col("event_id").as("signup_id"), col("ts").as("s_ts"))
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("event_id").as("purchase_id"), col("ts").as("p_ts"))
        signups.join(purchases,
          col("su") === col("pu")
            && col("p_ts") >= col("s_ts")
            && col("p_ts") < col("s_ts") + expr("INTERVAL 1 HOUR"))
          .select(col("su").as("user_id"), col("signup_id"), col("purchase_id"))
      },
      """SELECT s.user_id AS user_id, s.event_id AS signup_id, p.event_id AS purchase_id
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id
        | AND p.ts >= s.ts AND p.ts < s.ts + INTERVAL 1 HOUR
        |WHERE s.event_type = 'signup' AND p.event_type = 'purchase'""".stripMargin),

    // spatial grid join (round 10): suppliers within 100 km of each
    // customer — the geo analogue of q_range_join's bin alignment.
    // Coordinates are key-derived (deterministic, like q_geo_distance);
    // each customer probes its 3×3 neighborhood of 1° grid cells
    // (1° ≈ 111 km ≥ R, so the cover is exact), candidates come from a
    // cell EQUI-join (broadcast: the supplier side is dim-sized; at
    // fact×fact scale the same cell key shuffles both sides), and the
    // exact haversine runs only on candidates. Never a cross join —
    // the plan the guard enforces everywhere.
    "q_geo_join" -> Q(
      (s, d) => {
        val cust = Tables.customer(s, d).select(col("c_custkey"),
          ((col("c_custkey") % 100) / 2.0 - 20.0).as("c_lat"),
          ((col("c_custkey") % 160) / 2.0 - 40.0).as("c_lon"))
        val supp = Tables.supplier(s, d).select(col("s_suppkey"),
          ((col("s_suppkey") * 13 % 100) / 2.0 - 20.0).as("s_lat"),
          ((col("s_suppkey") * 29 % 160) / 2.0 - 40.0).as("s_lon"))
          .withColumn("cell_lat", floor(col("s_lat")))
          .withColumn("cell_lon", floor(col("s_lon")))
        val probes = cust
          .withColumn("dlat", explode(array(lit(-1), lit(0), lit(1))))
          .withColumn("dlon", explode(array(lit(-1), lit(0), lit(1))))
          .withColumn("cell_lat", floor(col("c_lat")) + col("dlat"))
          .withColumn("cell_lon", floor(col("c_lon")) + col("dlon"))
        probes.join(broadcast(supp), Seq("cell_lat", "cell_lon"))
          .withColumn("km", graft.functions.KsqlFunctions.call("GEO_DISTANCE",
            col("c_lat"), col("c_lon"), col("s_lat"), col("s_lon"), lit("KM")))
          .filter(col("km") <= 100.0)
          .groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("n_nearby"),
            round(min(col("km")), 3).as("nearest_km"))
      },
      """WITH cust AS (
        |  SELECT c_custkey,
        |    (c_custkey % 100) / 2.0 - 20.0 AS c_lat,
        |    (c_custkey % 160) / 2.0 - 40.0 AS c_lon
        |  FROM customer
        |), supp AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 13 % 100) / 2.0 - 20.0 AS s_lat,
        |    (s_suppkey * 29 % 160) / 2.0 - 40.0 AS s_lon
        |  FROM supplier
        |), probes AS (
        |  SELECT c.*, floor(c_lat) + d1.x AS cell_lat,
        |    floor(c_lon) + d2.x AS cell_lon
        |  FROM cust c, (VALUES (-1), (0), (1)) d1(x), (VALUES (-1), (0), (1)) d2(x)
        |), cand AS (
        |  SELECT c_custkey,
        |    2 * 6371 * asin(sqrt(least(
        |      pow(sin(radians(s_lat - c_lat) / 2), 2)
        |      + cos(radians(c_lat)) * cos(radians(s_lat))
        |        * pow(sin(radians(s_lon - c_lon) / 2), 2), 1.0))) AS km
        |  FROM probes p JOIN supp s
        |    ON p.cell_lat = floor(s.s_lat) AND p.cell_lon = floor(s.s_lon)
        |)
        |SELECT c_custkey, count(*) AS n_nearby, round(min(km), 3) AS nearest_km
        |FROM cand WHERE km <= 100.0
        |GROUP BY c_custkey""".stripMargin),

    // Bucketed co-located join + aggregation — the write-once/join-free
    // layout lever for a 100 TB fact table: orders and customer are both
    // bucketed (and per-bucket sorted, one file per bucket) on custkey at
    // write time, so the join needs NO exchange on either side and the
    // per-custkey aggregation reuses the same distribution — the whole
    // plan has ZERO ShuffleExchange nodes (asserted in PlanAuditSpec).
    // hint("merge") pins sort-merge: at test SF Spark would broadcast
    // customer and the gate would silently measure the wrong (and at
    // 100 TB impossible — customer is fact-sized there) strategy.
    "q_bucketed_join" -> Q(
      (s, d) => {
        JoinQueries.bucketedPrepare(s, d)
        val (oTbl, cTbl) = JoinQueries.bucketedNames(d)
        s.table(oTbl).hint("merge")
          .join(s.table(cTbl), col("o_custkey") === col("c_custkey"))
          .groupBy(col("o_custkey"), col("c_mktsegment"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
      },
      """SELECT o_custkey, c_mktsegment, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2""".stripMargin)
  )

  /** Bench's separately-timed prepare phase for the bucketed layout. */
  def prepares: Map[String, (org.apache.spark.sql.SparkSession, String) => Unit] =
    Map("q_bucketed_join" -> ((s, d) => bucketedPrepare(s, d)))

  /** Deterministic per-sf-dir table names (the session catalog is scoped
    * to the JVM, so names only need to be stable and collision-free). */
  private[operators] def bucketedNames(d: String): (String, String) = {
    val h = Integer.toHexString(d.hashCode)
    (s"b_orders_$h", s"b_customer_$h")
  }

  private val bucketLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Write-once bucketed layout: both tables bucketed on custkey with the
    * SAME bucket count, repartitioned to one file per bucket so the
    * sorted-bucket metadata also elides the merge-join sorts. External
    * location under /tmp (the catalog entry is session-scoped; the data
    * dir is reused if the same JVM re-prepares). Idempotent + thread-safe:
    * bench's 8-way pool may race two queries into the first call.
    */
  private[operators] def bucketedPrepare(
      s: org.apache.spark.sql.SparkSession, d: String): Unit =
    bucketLocks.computeIfAbsent(d, _ => new Object).synchronized {
      val (oTbl, cTbl) = bucketedNames(d)
      if (!s.catalog.tableExists(oTbl) || !s.catalog.tableExists(cTbl)) {
        val n = 16
        val base = java.nio.file.Files
          .createTempDirectory("bucketed_join").toString
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .repartition(n, col("o_custkey"))
          .write.mode("overwrite").format("parquet")
          .option("path", s"$base/orders")
          .bucketBy(n, "o_custkey").sortBy("o_custkey")
          .saveAsTable(oTbl)
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"))
          .repartition(n, col("c_custkey"))
          .write.mode("overwrite").format("parquet")
          .option("path", s"$base/customer")
          .bucketBy(n, "c_custkey").sortBy("c_custkey")
          .saveAsTable(cTbl)
      }
    }
}
