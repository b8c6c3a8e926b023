package graft

import graft.ksql._
import org.apache.spark.sql.functions._

class KsqlSpec extends SparkSpec {

  /** Dialect expressions evaluated through Translator.run over one row
    * whose columns the inputs name. */
  private def dialectRow(exprs: String*): org.apache.spark.sql.Row =
    dialectRowOver(
      """SELECT 'Ab1.x' AS name, '{"k": 7}' AS props,
        |  TIMESTAMP '2024-01-01 00:00:00' AS ts, array(3, 1, 2) AS a,
        |  map(1, 10, 22, 20) AS m, 'k1=v1;k2=v2' AS s, 'hi' AS x""".stripMargin)(
      exprs: _*)
  private def dialectRowOver(source: String)(exprs: String*)
  : org.apache.spark.sql.Row = {
    val cat: Translator.Catalog = Map("one" -> Translator.Source(spark.sql(source), "id"))
    val (_, Some(df)) = Translator.run(spark, cat, exprs.zipWithIndex
      .map { case (e, i) => s"$e AS c$i" }.mkString("SELECT ", ", ", " FROM one"))
      : @unchecked
    df.head
  }

  test("GraftExtensions registers native expressions as SQL functions") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |  vec_l2sq(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS l2,
        |  jaccard_sorted(array(1L, 2L, 3L), array(2L, 3L, 4L)) AS j,
        |  size(minhash_sig(array(42L, 7L), 16)) AS k""".stripMargin).head
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 25.0)
    assert(math.abs(r.getDouble(2) - 0.5) < 1e-12)
    assert(r.getInt(3) == 16)
    val k = spark.sql(
      """SELECT UCASE('ab') AS u, LCASE('AB') AS l, LEN('abc') AS n,
        |  IFNULL(NULL, 'x') AS f,
        |  EXTRACTJSONFIELD('{"k": 7}', '$.k') AS j""".stripMargin).head
    assert(k.getString(0) == "AB" && k.getString(1) == "ab")
    assert(k.getInt(2) == 3 && k.getString(3) == "x" && k.getString(4) == "7")
  }

  test("translated KSQL text runs as a continuous streaming query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    val catalog: Translator.Catalog = Map(
      "clicks" -> Translator.Source(mem.toDF(), "ts", "5 minutes"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """CREATE TABLE per_min AS
        |SELECT event_type, COUNT(*) AS cnt FROM clicks
        |WINDOW TUMBLING (SIZE 10 MINUTES)
        |GROUP BY event_type EMIT CHANGES""".stripMargin): @unchecked
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("ksql_stream")
      .outputMode("append").start()
    val t0 = 1700000000000L
    mem.addData(
      Ev(1, new java.sql.Timestamp(t0), 1, "click", 1.0),
      Ev(2, new java.sql.Timestamp(t0 + 60000), 1, "click", 1.0),
      Ev(3, new java.sql.Timestamp(t0 + 40 * 60000), 1, "view", 1.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ksql_stream").collect()
    assert(out.exists(r => r.getAs[String]("event_type") == "click"
      && r.getAs[Long]("cnt") == 2))
  }

  test("translated stream-stream JOIN WITHIN runs as a streaming query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val m1 = MemoryStream[Ev](spark)
    val m2 = MemoryStream[Ev](spark)
    val catalog: Translator.Catalog = Map(
      "signups" -> Translator.Source(
        m1.toDF().select(col("user_id"), col("ts"), col("event_id").as("signup_id")),
        "ts", "10 minutes"),
      "purchases" -> Translator.Source(
        m2.toDF().select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id")),
        "p_ts", "10 minutes"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT s.signup_id AS signup_id, p.purchase_id AS purchase_id
        |FROM signups s JOIN purchases p WITHIN 30 MINUTES
        |ON s.user_id = p.p_user EMIT CHANGES""".stripMargin): @unchecked
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("ksql_ssj")
      .outputMode("append").start()
    val t0 = 1700000000000L
    m1.addData(Ev(1, new java.sql.Timestamp(t0), 7, "signup", 0))
    m2.addData(Ev(2, new java.sql.Timestamp(t0 + 600000), 7, "purchase", 1.0),
      Ev(3, new java.sql.Timestamp(t0 + 3600000), 7, "purchase", 2.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("ksql_ssj").collect()
    assert(out.length == 1 && out.head.getAs[Long]("purchase_id") == 2L)
  }

  test("parser handles CREATE STREAM with schema and WITH props") {
    val s = Parser.parse(
      """CREATE STREAM pageviews (viewtime BIGINT, userid VARCHAR,
        |  pageid VARCHAR, tags ARRAY<VARCHAR>)
        |WITH (KAFKA_TOPIC='pageviews', VALUE_FORMAT='JSON', TIMESTAMP='viewtime')"""
        .stripMargin)
    val cs = s.asInstanceOf[CreateSource]
    assert(!cs.isTable && cs.name == "pageviews")
    assert(cs.columns.map(_._1) == Seq("viewtime", "userid", "pageid", "tags"))
    assert(cs.props("KAFKA_TOPIC") == "pageviews")
    assert(cs.props("TIMESTAMP") == "viewtime")
  }

  test("parser handles windowed CTAS with EMIT CHANGES") {
    val s = Parser.parse(KsqlQueries.ctasWindowed).asInstanceOf[CreateAsSelect]
    assert(s.isTable && s.name == "hourly_by_type")
    assert(s.select.window.contains(Tumbling(3600000L)))
    assert(s.select.groupBy == Seq("event_type"))
    assert(s.select.emitChanges)
  }

  test("parser handles HOPPING and SESSION windows") {
    val h = Parser.parse(
      "SELECT COUNT(*) FROM events WINDOW HOPPING (SIZE 1 HOURS, ADVANCE BY 30 MINUTES) GROUP BY event_type")
      .asInstanceOf[Query]
    assert(h.select.window.contains(Hopping(3600000L, 1800000L)))
    val se = Parser.parse(
      "SELECT COUNT(*) FROM events WINDOW SESSION (6 HOURS) GROUP BY user_id")
      .asInstanceOf[Query]
    assert(se.select.window.contains(Session(21600000L)))
  }

  test("parser handles JOIN WITHIN") {
    val s = Parser.parse(
      """SELECT s.event_id FROM signups s JOIN purchases p WITHIN 1 HOURS
        |ON s.user_id = p.user_id""".stripMargin).asInstanceOf[Query]
    val j = s.select.joins.head
    assert(j.withinMs.contains((3600000L, 3600000L)))
    assert(j.onLeft == "s.user_id" && j.onRight == "p.user_id")
  }

  test("parser handles GRACE PERIOD and asymmetric WITHIN bounds") {
    val t = Parser.parse(
      """SELECT COUNT(*) FROM events
        |WINDOW TUMBLING (SIZE 1 HOURS, GRACE PERIOD 5 MINUTES)
        |GROUP BY event_type""".stripMargin).asInstanceOf[Query]
    assert(t.select.window.contains(Tumbling(3600000L, Some(300000L))))
    val se = Parser.parse(
      """SELECT COUNT(*) FROM events
        |WINDOW SESSION (30 SECONDS, GRACE PERIOD 10 SECONDS)
        |GROUP BY user_id""".stripMargin).asInstanceOf[Query]
    assert(se.select.window.contains(Session(30000L, Some(10000L))))
    val j = Parser.parse(
      """SELECT s.a FROM s1 s JOIN s2 p WITHIN (10 MINUTES, 20 MINUTES)
        |ON s.k = p.k""".stripMargin).asInstanceOf[Query]
    assert(j.select.joins.head.withinMs.contains((600000L, 1200000L)))
    // RETENTION parses in any order with GRACE and carries through
    val r = Parser.parse(
      """SELECT COUNT(*) FROM events
        |WINDOW TUMBLING (SIZE 1 HOURS, RETENTION 2 DAYS, GRACE PERIOD 5 MINUTES)
        |GROUP BY event_type""".stripMargin).asInstanceOf[Query]
    assert(r.select.window.contains(
      Tumbling(3600000L, Some(300000L), Some(172800000L))))
  }

  test("RETENTION drops windows behind the event-time high-water mark") {
    import spark.implicits._
    val base = 1700000000000L // window-aligned epoch anchor
    def ev(id: Long, hoursAgoEnd: Double, v: Double) =
      Ev(id, new java.sql.Timestamp(base + (hoursAgoEnd * 3600000L).toLong),
        1L, "click", v)
    // rows in three 1-hour windows: [0,1) old, [5,6) mid, [9,10) newest
    val evs = Seq(ev(1, 0.5, 1.0), ev(2, 0.7, 2.0),
      ev(3, 5.5, 3.0), ev(4, 9.5, 4.0)).toDF()
    val catalog: Translator.Catalog =
      Map("ev" -> Translator.Source(evs, "ts"))
    def windows(sql: String): Set[Long] = {
      val (_, Some(df)) = Translator.run(spark, catalog, sql): @unchecked
      df.collect().map(r => r.getAs[Long]("ws")).toSet
    }
    // tumbling windows align to epoch hours, not to `base`
    def wstart(hours: Double): Long =
      ((base + (hours * 3600000L).toLong) / 3600000L) * 3600000L
    // high-water mark = 9.5h; RETENTION 5 HOURS keeps windows whose END
    // >= hw - 5h → the 5.5h and 9.5h windows stay, the 0.x h one is gone
    val kept = windows(
      """SELECT WINDOWSTART AS ws, COUNT(*) AS n FROM ev
        |WINDOW TUMBLING (SIZE 1 HOURS, RETENTION 5 HOURS)
        |GROUP BY event_type""".stripMargin)
    assert(kept == Set(wstart(5.5), wstart(9.5)), kept)
    // no RETENTION → every window queryable
    val all = windows(
      """SELECT WINDOWSTART AS ws, COUNT(*) AS n FROM ev
        |WINDOW TUMBLING (SIZE 1 HOURS)
        |GROUP BY event_type""".stripMargin)
    assert(all == Set(wstart(0.5), wstart(5.5), wstart(9.5)), all)
  }

  test("GRACE PERIOD becomes the watermark delay of the translated stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    val catalog: Translator.Catalog = Map(
      "clicks" -> Translator.Source(mem.toDF(), "ts", "10 minutes"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """CREATE TABLE t AS SELECT event_type, COUNT(*) AS cnt FROM clicks
        |WINDOW TUMBLING (SIZE 10 MINUTES, GRACE PERIOD 2 MINUTES)
        |GROUP BY event_type EMIT CHANGES""".stripMargin): @unchecked
    assert(df.isStreaming)
    val plan = df.queryExecution.analyzed.toString
    // the grace period (120000 ms), not the source default (10 min),
    // must be the EventTimeWatermark delay
    assert(plan.contains("EventTimeWatermark"), plan)
    assert(plan.contains("2 minutes") || plan.contains("120 seconds")
      || plan.contains("120000"), plan)
  }

  test("HAVING filters on WINDOWSTART (window-bound predicates post-agg)") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val cutoff = 1704070800000L // 2024-01-01T01:00Z — one window in
    val (_, Some(all)) = Translator.run(spark, catalog,
      """SELECT WINDOWSTART, event_type, COUNT(*) AS cnt
        |FROM events WINDOW TUMBLING (SIZE 1 HOURS)
        |GROUP BY event_type""".stripMargin): @unchecked
    val (_, Some(filtered)) = Translator.run(spark, catalog,
      s"""SELECT WINDOWSTART, event_type, COUNT(*) AS cnt
         |FROM events WINDOW TUMBLING (SIZE 1 HOURS)
         |GROUP BY event_type HAVING WINDOWSTART >= $cutoff""".stripMargin): @unchecked
    assert(filtered.filter(col("windowstart") < cutoff).count() == 0)
    assert(filtered.count() ==
      all.filter(col("windowstart") >= cutoff).count())
  }

  test("GROUP BY resolves SELECT aliases (KSQL idiom, no derived table needed)") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS band,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY band""".stripMargin): @unchecked
    assert(df.columns.toSeq == Seq("band", "cnt"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sfDir)
    assert(m("hi") == ev.filter(col("value") > 50).count())
    assert(m("lo") == ev.filter(col("value") <= 50).count())
  }

  test("CSAS WITH (PATH=...) materializes the result to files") {
    val dir = java.nio.file.Files.createTempDirectory("csas_path").toString
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (cat2, Some(df)) = Translator.run(spark, catalog,
      s"""CREATE STREAM clicks WITH (PATH='$dir/out', VALUE_FORMAT='PARQUET') AS
         |SELECT event_id, value FROM events WHERE event_type = 'click'"""
        .stripMargin): @unchecked
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == df.count() && back.count() > 0)
    assert(cat2.contains("clicks"))
  }

  test("CSAS PARTITION BY persists a hive-partitioned layout on the key") {
    val dir = java.nio.file.Files.createTempDirectory("csas_part").toString
    val catalog: Translator.Catalog =
      Map("documents" -> Translator.Source(Tables.documents(spark, sfDir), "doc_id"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      s"""CREATE STREAM bylang WITH (PATH='$dir/out', VALUE_FORMAT='PARQUET') AS
         |SELECT doc_id, lang, n_chars FROM documents PARTITION BY lang"""
        .stripMargin): @unchecked
    val subdirs = new java.io.File(s"$dir/out").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(subdirs.exists(_.startsWith("lang=")), s"no partition dirs: $subdirs")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == df.count() && back.count() > 0)
    // the layout actually prunes: a lang filter reads only that subdir
    val one = subdirs.find(_.startsWith("lang=")).get.stripPrefix("lang=")
    val pruned = back.filter(col("lang") === one)
    assert(pruned.count() > 0)
    // the lang predicate must land in PartitionFilters (non-empty),
    // not in PushedFilters/post-scan — that's what makes the layout
    // prune at scale. "PartitionFilters" alone prints even when empty.
    val pf = pruned.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("lang"), pf)
  }

  test("EMIT FINAL parses and is distinguished from EMIT CHANGES") {
    val f = Parser.parse(
      """SELECT event_type, COUNT(*) AS cnt FROM events
        |WINDOW TUMBLING (SIZE 1 HOURS) GROUP BY event_type EMIT FINAL"""
        .stripMargin).asInstanceOf[Query]
    assert(f.select.emitFinal && !f.select.emitChanges)
    val c = Parser.parse(
      "SELECT COUNT(*) FROM events GROUP BY event_type EMIT CHANGES")
      .asInstanceOf[Query]
    assert(c.select.emitChanges && !c.select.emitFinal)
  }

  test("EMIT FINAL drives append mode: only watermark-closed windows emit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    val catalog: Translator.Catalog = Map(
      "clicks" -> Translator.Source(mem.toDF(), "ts", "5 minutes"))
    val stmt =
      """CREATE TABLE t AS SELECT event_type, COUNT(*) AS cnt FROM clicks
        |WINDOW TUMBLING (SIZE 10 MINUTES) GROUP BY event_type EMIT FINAL"""
        .stripMargin
    val sel = Parser.parse(stmt).asInstanceOf[CreateAsSelect].select
    val (_, Some(df)) = Translator.run(spark, catalog, stmt): @unchecked
    val q = df.writeStream.format("memory").queryName("emit_final")
      .outputMode(Translator.outputModeFor(sel)).start()
    val t0 = 1700000000000L
    mem.addData(
      Ev(1, new java.sql.Timestamp(t0), 1, "click", 1.0),
      Ev(2, new java.sql.Timestamp(t0 + 60000), 1, "click", 1.0),
      Ev(3, new java.sql.Timestamp(t0 + 40 * 60000), 1, "view", 1.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("emit_final").collect()
    // the click window [0,10) closed when the watermark passed -> emits
    // its FINAL count once; the view window at +40min is still open ->
    // nothing emitted for it
    assert(out.exists(r => r.getAs[String]("event_type") == "click"
      && r.getAs[Long]("cnt") == 2), out.mkString(","))
    assert(!out.exists(r => r.getAs[String]("event_type") == "view"), out.mkString(","))
  }

  test("INSERT INTO ... VALUES appends a typed literal row; PRINT pages a source") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val before = Tables.events(spark, sfDir).count()
    val (cat2, _) = Translator.run(spark, catalog,
      """INSERT INTO events (event_id, user_id, event_type, value)
        |VALUES (999999, 7, 'manual', 42.5)""".stripMargin)
    val ev2 = cat2("events").df
    assert(ev2.count() == before + 1)
    val row = ev2.filter(col("event_id") === 999999L).head
    assert(row.getAs[String]("event_type") == "manual"
      && row.getAs[Double]("value") == 42.5)
    assert(row.isNullAt(row.fieldIndex("ts"))) // unlisted column -> typed NULL
    // schema is preserved exactly (union would fail otherwise)
    assert(ev2.schema == Tables.events(spark, sfDir).schema)
    val (_, Some(page)) = Translator.run(spark, cat2,
      "PRINT events LIMIT 5"): @unchecked
    assert(page.count() == 5)
    // full KSQL option surface: FROM BEGINNING accepted; INTERVAL n
    // samples every nth record of the time-ordered prefix
    // sample over the ORIGINAL catalog (the inserted row has ts NULL,
    // which would sort first in the time-ordered prefix)
    val (_, Some(sampled)) = Translator.run(spark, catalog,
      "PRINT events FROM BEGINNING INTERVAL 3 LIMIT 4"): @unchecked
    val got = sampled.collect()
    // every 3rd of the 12 EARLIEST records: 4 rows, all within the
    // 12th-smallest timestamp (tie-tolerant bound)
    assert(got.length == 4)
    val cutoff = Tables.events(spark, sfDir).orderBy(col("ts")).limit(12)
      .collect().map(_.getAs[java.sql.Timestamp]("ts")).max
    assert(got.forall(!_.getAs[java.sql.Timestamp]("ts").after(cutoff)))
    val bad = intercept[IllegalArgumentException] {
      Translator.run(spark, cat2, "PRINT events INTERVAL 0")
    }
    assert(bad.getMessage.contains("INTERVAL must be >= 1"))
    val e = intercept[IllegalArgumentException] {
      Translator.run(spark, cat2,
        "INSERT INTO events (event_id) VALUES (1, 2)")
    }
    assert(e.getMessage.contains("1 columns but 2 values"))
  }

  test("FROM_UNIXTIME / UNIX_TIMESTAMP expand to millis-preserving forms") {
    val before = System.currentTimeMillis()
    val r = dialectRow("FROM_UNIXTIME(1704067200000)", "UNIX_TIMESTAMP()",
      "UNIX_TIMESTAMP(ts)")
    assert(r.getTimestamp(0).getTime == 1704067200000L)
    assert(r.getLong(1) >= before && r.getLong(1) <= System.currentTimeMillis())
    assert(r.getLong(2) == 1704067200000L)
  }

  test("IF NOT EXISTS keeps an existing binding; OR REPLACE rebinds fresh") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    // IF NOT EXISTS on an existing name: binding survives untouched,
    // including its time column (a bare CREATE would rebind it to 'ts')
    val (cat2, _) = Translator.run(spark, catalog,
      "CREATE STREAM IF NOT EXISTS events (event_id BIGINT) WITH (TIMESTAMP='event_id')")
    assert(cat2("events").timeColumn == "ts")
    val (cat3, _) = Translator.run(spark, cat2,
      "CREATE TABLE IF NOT EXISTS events AS SELECT COUNT(*) AS n FROM events")
    assert(cat3("events").df.columns.toSeq == cat2("events").df.columns.toSeq)
    // OR REPLACE ignores the existing binding: empty placeholder schema
    val (cat4, _) = Translator.run(spark, cat3,
      "CREATE OR REPLACE STREAM events (event_id BIGINT)")
    assert(cat4("events").df.columns.toSeq == Seq("event_id"))
  }

  test("INSERT VALUES rejects unknown and duplicate columns; escaped quotes survive") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val e1 = intercept[IllegalArgumentException] {
      Translator.run(spark, catalog,
        "INSERT INTO events (event_typ) VALUES ('click')")
    }
    assert(e1.getMessage.contains("unknown column"))
    val e2 = intercept[IllegalArgumentException] {
      Translator.run(spark, catalog,
        "INSERT INTO events (event_id, event_id) VALUES (1, 2)")
    }
    assert(e2.getMessage.contains("duplicate column"))
    // '' escape: the literal keeps its quote through tokenize → insert
    val (cat2, _) = Translator.run(spark, catalog,
      "INSERT INTO events (event_id, event_type) VALUES (999998, 'o''brien')")
    val v = cat2("events").df.filter(col("event_id") === 999998L)
      .head.getAs[String]("event_type")
    assert(v == "o'brien", v)
  }

  test("statement splitting ignores ';' inside string literals") {
    val stmts = Translator.splitStatements(
      "SELECT 1 WHERE x = 'a;b'; SELECT 2; SELECT 'it''s; fine'")
    assert(stmts == Seq("SELECT 1 WHERE x = 'a;b'", "SELECT 2",
      "SELECT 'it''s; fine'"))
    val e = intercept[IllegalArgumentException] {
      Parser.parse("CREATE STREAM s (a INT")
    }
    assert(e.getMessage.contains("expected )"))
    // TERMINATE accepts a UUID id (lexer splits at '-', parser rejoins)
    val t = Parser.parse("TERMINATE 22d2a852-9f11-4e0a-8888-000000000001")
      .asInstanceOf[Terminate]
    assert(t.id == "22d2a852-9f11-4e0a-8888-000000000001")
  }

  test("CREATE schema supports STRUCT and DECIMAL types") {
    val (cat, _) = Translator.run(spark, Map.empty,
      """CREATE STREAM payments (id BIGINT, amount DECIMAL(10, 2),
        |  billing STRUCT<city VARCHAR, zip INT>)""".stripMargin)
    val schema = cat("payments").df.schema
    import org.apache.spark.sql.types._
    assert(schema("amount").dataType == DecimalType(10, 2))
    assert(schema("billing").dataType ==
      StructType(Seq(StructField("city", StringType), StructField("zip", IntegerType))))
  }

  test("RIGHT and FULL OUTER joins translate with correct preserved sides") {
    val catalog: Translator.Catalog = Map(
      "orders" -> Translator.Source(Tables.orders(spark, sfDir), "o_orderdate"),
      "customer" -> Translator.Source(Tables.customer(spark, sfDir), "c_custkey"))
    val (_, Some(r)) = Translator.run(spark, catalog,
      """SELECT c_custkey, o_orderkey FROM orders o
        |RIGHT OUTER JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin): @unchecked
    val direct = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("o_custkey") === col("c_custkey"), "right")
    assert(r.count() == direct.count())
    // every customer survives, including order-less ones
    assert(r.select("c_custkey").distinct().count() ==
      Tables.customer(spark, sfDir).count())
    val (_, Some(f)) = Translator.run(spark, catalog,
      """SELECT c_custkey, o_orderkey FROM orders o
        |FULL OUTER JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin): @unchecked
    assert(f.count() == direct.count()) // every order has a customer here
  }

  test("CASE WHEN / BETWEEN / IN pass through the translator") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT event_id,
        |  CASE WHEN value > 50 THEN 'hi' ELSE 'lo' END AS band
        |FROM events
        |WHERE value BETWEEN 10 AND 90 AND event_type IN ('click', 'view')"""
        .stripMargin): @unchecked
    val direct = Tables.events(spark, sfDir)
      .filter(col("value").between(10, 90) && col("event_type").isin("click", "view"))
    assert(df.count() == direct.count())
    assert(df.filter(col("band") === "hi").count() ==
      direct.filter(col("value") > 50).count())
  }

  test("time/geo rewrites preserve KSQL semantics (epoch millis, km)") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT event_id,
        |  STRINGTOTIMESTAMP('2024-01-01 00:00:00') AS ms,
        |  TIMESTAMPTOSTRING(1704067200000, 'yyyy-MM-dd') AS day,
        |  GEO_DISTANCE(0.0, 0.0, 0.0, 1.0) AS dist
        |FROM events WHERE event_id = 1""".stripMargin): @unchecked
    val r = df.head
    assert(r.getAs[Long]("ms") == 1704067200000L)
    assert(r.getAs[String]("day") == "2024-01-01")
    // 1 degree of longitude at the equator ≈ 111.19 km
    assert(math.abs(r.getAs[Double]("dist") - 111.19) < 0.1)
  }

  test("function rewrite maps KSQL names to Spark") {
    val r = dialectRow("UCASE(SUBSTRING(name, 1, 3))",
      "EXTRACTJSONFIELD(props, '$.k')", "MASK(name)")
    assert(r.getString(0) == "AB1")
    assert(r.getString(1) == "7")
    assert(r.getString(2) == "Xxn-x")
  }

  test("ksqlDB lambda arrows land on Spark HOFs; map TRANSFORM sees original entries") {
    // `=>` → `->`; FILTER/REDUCE are Spark's own HOFs and keep their name
    // zero-space lambda survives (deref would claim `x->x`; `=>` must not)
    assert(Translator.rewriteExpr("FILTER(a, x=>x>2)")
      .replaceAll("\\s", "") == "FILTER(a,x->x>2)")
    // null-safe equality is not a lambda arrow
    assert(Translator.rewriteExpr("a <=> b") == "a <=> b")
    // `=>` inside a string literal survives
    assert(Translator.rewriteExpr("CONCAT(s, 'a => b')") contains "'a => b'")
    val r = dialectRow("TRANSFORM(a, x => x + 1)",
      // 3-arg map TRANSFORM: both lambdas see the ORIGINAL (k, v)
      "TRANSFORM(m, (k, v) => UCASE(k), (k, v) => v + LENGTH(k))",
      // ARRAY[...] constructor literals inside HOF args: the bracketed
      // commas are not argument separators
      "TRANSFORM(ARRAY[1, 2, 3], x => x + 1)",
      // params named `key`/`value` do not corrupt the entry references
      "TRANSFORM(m, (x, key) => x + key, (k, v) => v)")
    assert(r.getSeq[Int](0) == Seq(4, 2, 3))
    assert(r.getMap[String, Int](1) == Map("1" -> 11, "22" -> 22))
    assert(r.getSeq[Int](2) == Seq(2, 3, 4))
    assert(r.getMap[Int, Int](3) == Map(11 -> 10, 42 -> 20))
    // the rewrite of the 3-arg form is idempotent
    val m = Translator.rewriteExpr(
      "TRANSFORM(m, (k, v) => UCASE(k), (k, v) => v + LENGTH(k))")
    assert(Translator.rewriteExpr(m) == m)
    // execution: dialect result equals the Spark-native formulation
    import org.apache.spark.sql.functions._
    val df = spark.range(1, 6).toDF("n")
      .withColumn("arr", expr("array(n, n * 2, n * 3)"))
    df.createOrReplaceTempView("lam_src")
    val got = spark.sql("SELECT n, " +
      Translator.rewriteExpr(
        "REDUCE(FILTER(TRANSFORM(arr, x => x * 10), x => x > 20), " +
          "CAST(0 AS BIGINT), (acc, x) => acc + x)") + " AS s FROM lam_src")
    val want = df.select(col("n"), aggregate(
      filter(transform(col("arr"), x => x * 10), x => x > 20),
      lit(0L), (acc, x) => acc + x).as("s"))
    assert(got.orderBy("n").collect().toSeq ==
      want.orderBy("n").collect().toSeq)
  }

  test("ksqlDB array/JSON family: ARRAY_SORT direction, IS_JSON_STRING, renames") {
    val sorted = dialectRow("ARRAY_SORT(a)", "ARRAY_SORT(a, 'DESC')",
      "ARRAY_SORT(a, 'ASC')",
      // Spark's own comparator-lambda form keeps Spark's meaning
      "array_sort(a, (l, r) -> 1)",
      "SPLIT_TO_MAP(s, ';', '=')")
    assert(sorted.getSeq[Int](0) == Seq(1, 2, 3))
    assert(sorted.getSeq[Int](1) == Seq(3, 2, 1))
    assert(sorted.getSeq[Int](2) == Seq(1, 2, 3))
    assert(sorted.getSeq[Int](3).sorted == Seq(1, 2, 3))
    assert(sorted.getMap[String, String](4) == Map("k1" -> "v1", "k2" -> "v2"))
    // ksqlDB null contract: one NULL side returns the other; nulls sort
    // LAST in both directions
    val ac = spark.sql("SELECT " +
      Translator.rewriteExpr("ARRAY_CONCAT(ARRAY[1, 2], CAST(NULL AS ARRAY<INT>))")
      + " AS c, " +
      Translator.rewriteExpr("ARRAY_SORT(ARRAY['b', CAST(NULL AS STRING), 'a'], 'DESC')")
      + " AS d").head()
    assert(ac.getSeq[Int](0) == Seq(1, 2))
    assert(ac.getSeq[String](1) == Seq("b", "a", null))
    // ENCODE round-trips through hex and base64
    val er = spark.sql("SELECT " +
      Translator.rewriteExpr("ENCODE('hi', 'utf8', 'hex')") + " AS h, " +
      Translator.rewriteExpr("ENCODE(ENCODE('spark', 'utf8', 'base64'), 'base64', 'utf8')")
      + " AS rt").head()
    assert(er.getString(0) == "6869" && er.getString(1) == "spark")
    intercept[IllegalArgumentException] {
      dialectRow("ENCODE(x, 'utf8', 'ebcdic')")
    }
    // execution: IS_JSON_STRING is false for NULL and malformed, true for valid
    val r = spark.sql("SELECT " +
      Translator.rewriteExpr("IS_JSON_STRING('{\"a\": 1}')") + " AS ok, " +
      Translator.rewriteExpr("IS_JSON_STRING('nope{')") + " AS bad, " +
      Translator.rewriteExpr("IS_JSON_STRING(CAST(NULL AS STRING))") + " AS nul")
      .head()
    assert(r.getAs[Boolean]("ok") && !r.getAs[Boolean]("bad") && !r.getAs[Boolean]("nul"))
  }

  test("WindowStart()/WindowEnd() call forms equal the pseudo-column forms") {
    val cat: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    def run(sel: String) = {
      val (_, Some(df)) = Translator.run(spark, cat,
        s"""SELECT $sel, event_type, COUNT(*) AS cnt
           |FROM events WINDOW TUMBLING (SIZE 1 HOURS)
           |GROUP BY event_type EMIT CHANGES""".stripMargin): @unchecked
      df.select("ws", "event_type", "cnt").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    val viaCall = run("WindowStart() AS ws")
    val viaPseudo = run("WINDOWSTART AS ws")
    assert(viaCall == viaPseudo && viaCall.nonEmpty)
  }

  test("ROWTIME and ROWKEY pseudo-columns resolve; SELECT * stays the declared schema") {
    val (cat, _) = Translator.run(spark, Map.empty,
      s"""CREATE STREAM ev (event_id BIGINT, user_id BIGINT, event_type VARCHAR,
         |  value DOUBLE)
         |WITH (PATH='$sfDir/events.parquet', VALUE_FORMAT='PARQUET',
         |      TIMESTAMP='ts', KEY='user_id')""".stripMargin)
    val (_, Some(r)) = Translator.run(spark, cat,
      "SELECT event_id, ROWTIME, ROWKEY FROM ev WHERE ROWTIME > 0 AND event_id < 3")
      : @unchecked
    val rows = r.collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      assert(row.getAs[Long]("ROWTIME") > 0L)                 // epoch millis
    }
    // rowkey mirrors the declared key column
    val (_, Some(r2)) = Translator.run(spark, cat,
      "SELECT user_id, ROWKEY FROM ev WHERE event_id = 1"): @unchecked
    val row2 = r2.head
    assert(row2.getAs[Long]("ROWKEY") == row2.getAs[Long]("user_id"))
    // SELECT * does NOT sprout pseudo-columns
    val (_, Some(star)) = Translator.run(spark, cat,
      "SELECT * FROM ev WHERE event_id < 5"): @unchecked
    assert(!star.columns.exists(c => c.equalsIgnoreCase("rowtime")
      || c.equalsIgnoreCase("rowkey")))
    // ROWKEY without a declared KEY is a clear error
    val (cat2, _) = Translator.run(spark, cat,
      s"""CREATE STREAM nk (event_id BIGINT, value DOUBLE)
         |WITH (PATH='$sfDir/events.parquet', VALUE_FORMAT='PARQUET',
         |      TIMESTAMP='ts')""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      Translator.run(spark, cat2, "SELECT ROWKEY FROM nk")
    }
    assert(e.getMessage.contains("KEY"))
  }

  test("ARRAY[...] and MAP(k := v) constructor syntax rewrite and evaluate") {
    assert(Translator.rewriteExpr("ARRAY['a', 'b']") == "array('a', 'b')")
    assert(Translator.rewriteExpr("x = 'ARRAY[1]'") == "x = 'ARRAY[1]'")
    val m = Translator.rewriteExpr("MAP('k' := 1, 'j' := 2)")
    assert(m == "map('k', 1, 'j', 2)", m)
    // Spark's own map(...) call passes through untouched
    assert(Translator.rewriteExpr("map('k', 1)") == "map('k', 1)")
    val row = spark.sql("SELECT " +
      Translator.rewriteExpr("ARRAY['x', 'y'][1]") + " AS a, " +
      Translator.rewriteExpr("MAP('k' := 41 + 1)['k']") + " AS v, " +
      Translator.rewriteExpr("ARRAY['x', 'y'][-1]") + " AS t, " +
      Translator.rewriteExpr("ARRAY['x', 'y'][9]") + " AS oob").head
    // ksqlDB subscripts: ONE-indexed, negative from the end, NULL out
    // of bounds (round 16 — was pinned to Spark's 0-indexed [ ])
    assert(row.getString(0) == "x")
    assert(row.getInt(1) == 42)
    assert(row.getString(2) == "y")
    assert(row.isNullAt(3))
    intercept[IllegalArgumentException] {
      Translator.rewriteExpr("MAP('k' := 1, 'bad')")
    }
  }

  test("struct dereference s->f rewrites to dotted access and resolves end-to-end") {
    assert(Translator.rewriteExpr("addr->city = 'x'") == "addr.city = 'x'")
    // literals keep their arrows; minus stays minus
    assert(Translator.rewriteExpr("note = 'a->b'") == "note = 'a->b'")
    assert(Translator.rewriteExpr("a - b") == "a - b")
    // nested deref through a live frame
    val src = spark.sql(
      "SELECT 1L AS id, named_struct('city', 'paris', 'geo', " +
        "named_struct('lat', CAST(48.8 AS DOUBLE))) AS addr")
    val catalog: Translator.Catalog =
      Map("people" -> Translator.Source(src, "id"))
    val (_, Some(r)) = Translator.run(spark, catalog,
      "SELECT id, addr->city AS city, addr->geo->lat AS lat FROM people")
      : @unchecked
    val row = r.head
    assert(row.getAs[String]("city") == "paris")
    assert(row.getAs[Double]("lat") == 48.8)
  }

  test("DESCRIBE EXTENDED adds source metadata to the schema listing") {
    val catalog: Translator.Catalog = Map("ev" -> Translator.Source(
      Tables.events(spark, sfDir), "ts", key = Some("user_id")))
    val (_, Some(plain)) = Translator.run(spark, catalog, "DESCRIBE ev"): @unchecked
    assert(plain.columns.toSeq == Seq("column", "type"))
    assert(!plain.collect().map(_.getString(0)).exists(_.startsWith("(")))
    val (_, Some(ext)) = Translator.run(spark, catalog,
      "DESCRIBE EXTENDED ev"): @unchecked
    val m = ext.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("(time column)") == "ts")
    assert(m("(key column)") == "user_id")
    assert(m("(streaming)") == "false")
    // size is a stats estimate, never a count() scan of the source
    assert(BigInt(m("(size bytes est)")) > 0)
    assert(m.contains("event_type"))   // schema rows still present
  }

  test("SET / UNSET / SHOW PROPERTIES / SHOW FUNCTIONS") {
    val (c1, _) = Translator.run(spark, Map.empty, "SET 'graft.test.prop' = 'v1'")
    val (_, Some(props)) = Translator.run(spark, c1, "SHOW PROPERTIES"): @unchecked
    val m = props.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.get("graft.test.prop").contains("v1"))
    Translator.run(spark, c1, "UNSET 'graft.test.prop'")
    val (_, Some(after)) = Translator.run(spark, c1, "SHOW PROPERTIES"): @unchecked
    assert(!after.collect().map(_.getString(0)).contains("graft.test.prop"))
    // spark.-prefixed keys bridge to the live conf
    val orig = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Translator.run(spark, c1, "SET 'spark.sql.shuffle.partitions' = '7'")
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally spark.conf.set("spark.sql.shuffle.partitions", orig)
    val (_, Some(fns)) = Translator.run(spark, c1, "SHOW FUNCTIONS"): @unchecked
    val names = fns.collect().map(_.getString(0)).toSet
    assert(Set("UCASE", "MASK", "TOPK", "URL_EXTRACT_HOST", "VEC_DOT")
      .subsetOf(names), names.toSeq.sorted.mkString(","))
    // LIST is a synonym; DESCRIBE FUNCTION resolves each kind
    val (_, Some(viaList)) = Translator.run(spark, c1, "LIST FUNCTIONS"): @unchecked
    assert(viaList.count() == fns.count())
    for ((fn, kind) <- Seq(("UCASE", "rename"), ("MASK", "expansion"),
        ("vec_dot", "native codegen"))) {
      val (_, Some(d)) = Translator.run(spark, c1,
        s"DESCRIBE FUNCTION $fn"): @unchecked
      assert(d.head.getAs[String]("kind") == kind, fn)
    }
    intercept[IllegalArgumentException] {
      Translator.run(spark, c1, "DESCRIBE FUNCTION NO_SUCH_FN")
    }
  }

  test("time-format functions accept the optional timezone argument") {
    // 2024-01-01T00:00:00Z == 1704067200000 ms; in UTC+2 that is 02:00
    val row = spark.sql("SELECT " + Seq(
      Translator.rewriteExpr(
        "TIMESTAMPTOSTRING(1704067200000, 'yyyy-MM-dd HH:mm', 'UTC+02:00')") + " AS s",
      Translator.rewriteExpr(
        "STRINGTOTIMESTAMP('2024-01-01 02:00', 'yyyy-MM-dd HH:mm', 'UTC+02:00')") + " AS ms"
    ).mkString(", ")).head
    assert(row.getAs[String]("s") == "2024-01-01 02:00")
    assert(row.getAs[Long]("ms") == 1704067200000L)
    // round trip: format(parse(x)) is identity in the same zone
    intercept[IllegalArgumentException] {
      dialectRow("TIMESTAMPTOSTRING(1)")
    }
  }

  test("tz-arg time functions are independent of spark.sql.session.timeZone") {
    // 2024-06-01T12:00 Europe/Paris (CEST, UTC+2) == 2024-06-01T10:00Z
    // == 1717236000000 ms — the answer must not move with the session zone
    val sqlText = "SELECT " + Seq(
      Translator.rewriteExpr(
        "STRINGTOTIMESTAMP('2024-06-01 12:00', 'yyyy-MM-dd HH:mm', 'Europe/Paris')") + " AS ms",
      Translator.rewriteExpr(
        "TIMESTAMPTOSTRING(1717236000000, 'yyyy-MM-dd HH:mm', 'Europe/Paris')") + " AS s"
    ).mkString(", ")
    // PARSE_TIMESTAMP/FORMAT_TIMESTAMP tz forms ride the same NTZ +
    // convert_timezone discipline: the instant and its tz rendering
    // must not move with the session zone either
    val sqlText2 = "SELECT " + Seq(
      Translator.rewriteExpr("UNIX_TIMESTAMP(PARSE_TIMESTAMP(" +
        "'2024-06-01 12:00', 'yyyy-MM-dd HH:mm', 'Europe/Paris'))") + " AS pms",
      Translator.rewriteExpr("FORMAT_TIMESTAMP(PARSE_TIMESTAMP(" +
        "'2024-06-01 12:00', 'yyyy-MM-dd HH:mm', 'Europe/Paris'), " +
        "'yyyy-MM-dd HH:mm', 'Europe/Paris')") + " AS rt"
    ).mkString(", ")
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (zone <- Seq("UTC", "America/New_York", "Asia/Tokyo")) {
        spark.conf.set("spark.sql.session.timeZone", zone)
        val row = spark.sql(sqlText).head
        assert(row.getAs[Long]("ms") == 1717236000000L, s"session zone $zone")
        assert(row.getAs[String]("s") == "2024-06-01 12:00", s"session zone $zone")
        val row2 = spark.sql(sqlText2).head
        assert(row2.getAs[Long]("pms") == 1717236000000L, s"session zone $zone")
        assert(row2.getAs[String]("rt") == "2024-06-01 12:00", s"session zone $zone")
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("JSON function family rides VARIANT; date arithmetic maps ksqlDB TimeUnits") {
    val row = spark.sql("SELECT " + Seq(
      Translator.rewriteExpr(
        """JSON_CONCAT('{"a":1,"b":{"x":2}}', '{"c":[1,2]}')""") + " AS merged",
      Translator.rewriteExpr(
        """ELEMENT_AT(JSON_RECORDS('{"a":1,"b":{"x":2}}'), 'b')""") + " AS rec",
      Translator.rewriteExpr(
        """ARRAY_JOIN(JSON_ITEMS('[1, {"a":2}, "s"]'), '|')""") + " AS items",
      Translator.rewriteExpr("""JSON_ARRAY_CONTAINS('[1,2,"s"]', 's')""") + " AS hasS",
      Translator.rewriteExpr("""JSON_ARRAY_CONTAINS('[1,2]', 3)""") + " AS has3",
      Translator.rewriteExpr("FORMAT_TIMESTAMP(TIMESTAMPSUB(MINUTES, 30, " +
        "TIMESTAMP '2024-01-01 01:00:00'), 'HH:mm')") + " AS t1",
      Translator.rewriteExpr("FORMAT_DATE(DATESUB(DAYS, 1, DATE '2024-01-01'), " +
        "'yyyy-MM-dd')") + " AS d1",
      // parse interprets the wall clock in tz; format renders in tz —
      // both independent of the (UTC-pinned) session zone
      Translator.rewriteExpr("FORMAT_TIMESTAMP(PARSE_TIMESTAMP(" +
        "'2024-06-01 12:00', 'yyyy-MM-dd HH:mm', 'Europe/Paris'), " +
        "'yyyy-MM-dd HH:mm')") + " AS pts",
      Translator.rewriteExpr("FORMAT_TIMESTAMP(PARSE_TIMESTAMP(" +
        "'2024-06-01 10:00', 'yyyy-MM-dd HH:mm'), " +
        "'yyyy-MM-dd HH:mm', 'Europe/Paris')") + " AS fts",
      Translator.rewriteExpr("FORMAT_DATE(FROM_DAYS(UNIX_DATE(" +
        "PARSE_DATE('2024-03-01', 'yyyy-MM-dd'))), 'yyyy-MM-dd')") + " AS rt",
      Translator.rewriteExpr("ARRAY_JOIN(TRANSFORM(SLICE(GENERATE_SERIES(3, 9)," +
        " 2, 4), x => CAST(x AS STRING)), ',')") + " AS sl"
    ).mkString(", ")).head
    assert(row.getAs[String]("merged") == """{"a":1,"b":{"x":2},"c":[1,2]}""")
    assert(row.getAs[String]("rec") == """{"x":2}""")
    assert(row.getAs[String]("items") == """1|{"a":2}|"s"""")
    assert(row.getAs[Boolean]("hasS"))
    assert(!row.getAs[Boolean]("has3"))
    assert(row.getAs[String]("t1") == "00:30")
    assert(row.getAs[String]("d1") == "2023-12-31")
    assert(row.getAs[String]("pts") == "2024-06-01 10:00")
    assert(row.getAs[String]("fts") == "2024-06-01 12:00")
    assert(row.getAs[String]("rt") == "2024-03-01")
    // ksqlDB SLICE is 1-based INCLUSIVE-end: elements 2..4 of [3..9]
    assert(row.getAs[String]("sl") == "4,5,6")
  }

  test("SHOW TOPICS lists the catalog; WITH(PARTITIONS=n) sizes the frame") {
    val dir = java.nio.file.Files.createTempDirectory("parts").toString
    Tables.nation(spark, sfDir).write.parquet(s"$dir/nat")
    val (c1, _) = Translator.run(spark, Map.empty,
      s"CREATE STREAM nat WITH (PATH='$dir/nat', VALUE_FORMAT='PARQUET', PARTITIONS='3')")
    val (_, Some(topics)) = Translator.run(spark, c1, "SHOW TOPICS"): @unchecked
    assert(topics.collect().map(_.getString(0)).contains("nat"))
    assert(c1("nat").df.rdd.getNumPartitions == 3)
    // CSAS PARTITIONS sizes the materialization
    val (_, _) = Translator.run(spark, c1,
      s"""CREATE STREAM natout WITH (PATH='$dir/out', PARTITIONS='2') AS
         |SELECT n_nationkey, n_name FROM nat""".stripMargin)
    val files = new java.io.File(s"$dir/out").listFiles()
      .map(_.getName).count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(files == 2, s"expected 2 part files, got $files")
  }

  test("SET accepts unquoted dotted keys and UNSET removes them") {
    val (c1, _) = Translator.run(spark, Map.empty,
      "SET auto.offset.reset = 'earliest'")
    val (_, Some(props)) = Translator.run(spark, c1, "SHOW PROPERTIES"): @unchecked
    val m = props.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m("auto.offset.reset") == "earliest")
    val (c2, _) = Translator.run(spark, c1, "UNSET auto.offset.reset")
    val (_, Some(props2)) = Translator.run(spark, c2, "SHOW PROPERTIES"): @unchecked
    assert(!props2.collect().map(_.getString(0)).contains("auto.offset.reset"))
  }

  test("URL function family rewrites and evaluates (extract, port, parameter, codec)") {
    val u = "'https://ex.com:8443/a/b?x=1&y=two#frag'"
    val row = spark.sql("SELECT " + Seq(
      Translator.rewriteExpr(s"URL_EXTRACT_HOST($u)") + " AS host",
      Translator.rewriteExpr(s"URL_EXTRACT_PATH($u)") + " AS path",
      Translator.rewriteExpr(s"URL_EXTRACT_PROTOCOL($u)") + " AS proto",
      Translator.rewriteExpr(s"URL_EXTRACT_QUERY($u)") + " AS q",
      Translator.rewriteExpr(s"URL_EXTRACT_FRAGMENT($u)") + " AS frag",
      Translator.rewriteExpr(s"URL_EXTRACT_PORT($u)") + " AS port",
      Translator.rewriteExpr(s"URL_EXTRACT_PARAMETER($u, 'y')") + " AS p",
      Translator.rewriteExpr("URL_ENCODE_PARAM('a b&c')") + " AS enc",
      Translator.rewriteExpr("URL_DECODE_PARAM('a+b%26c')") + " AS dec"
    ).mkString(", ")).head
    assert(row.getAs[String]("host") == "ex.com")
    assert(row.getAs[String]("path") == "/a/b")
    assert(row.getAs[String]("proto") == "https")
    assert(row.getAs[String]("q") == "x=1&y=two")
    assert(row.getAs[String]("frag") == "frag")
    assert(row.getAs[Int]("port") == 8443)
    assert(row.getAs[String]("p") == "two")
    assert(row.getAs[String]("enc") == "a+b%26c")
    assert(row.getAs[String]("dec") == "a b&c")
    // no port → NULL, not an empty-string cast error
    val np = spark.sql("SELECT " +
      Translator.rewriteExpr("URL_EXTRACT_PORT('https://ex.com/a')") + " AS port").head
    assert(np.isNullAt(0))
  }

  test("ELT / FIELD / CONCAT_WS rewrite and evaluate with ksqlDB semantics") {
    val v = dialectRowOver("SELECT 'ab' AS a, 'cd' AS b, 'MACHINERY' AS seg")(
      "ELT(2, 'a', 'b')", "CONCAT_WS('-', a, b)",
      "FIELD(seg, 'BUILDING', 'MACHINERY')")
    assert(v.getString(0) == "b")
    assert(v.getString(1) == "ab-cd")
    assert(v.getInt(2) == 2)
    // evaluate through Spark: index is 1-based, 0 when absent
    val row = spark.sql(
      s"SELECT ${Translator.rewriteExpr("FIELD('MACHINERY', 'BUILDING', 'MACHINERY')")} AS i1, " +
        s"${Translator.rewriteExpr("FIELD('x', 'BUILDING', 'MACHINERY')")} AS i0, " +
        s"${Translator.rewriteExpr("ELT(2, 'a', 'b')")} AS e").head
    assert(row.getInt(0) == 2 && row.getInt(1) == 0 && row.getString(2) == "b")
  }

  test("function rewrite leaves function names inside string literals untouched") {
    // a call-looking token inside a quoted literal must not be rewritten
    assert(Translator.rewriteExpr("note = 'see MASK(x)'")
      == "note = 'see MASK(x)'")
    assert(Translator.rewriteExpr("note = 'UCASE(a)'") == "note = 'UCASE(a)'")
    // ...while the same name outside the literal still rewrites, even
    // when a literal containing the name precedes it
    val mixed = Translator.rewriteExpr("CONCAT('MASK(keep)', MASK(name))")
    assert(mixed.contains("'MASK(keep)'"))
    assert(dialectRow("CONCAT('MASK(keep)', MASK(name))").getString(0) ==
      "MASK(keep)Xxn-x")
    // '' escape keeps quote parity intact across the scan
    assert(Translator.rewriteExpr("x = 'it''s MASK(y)'") == "x = 'it''s MASK(y)'")
  }

  test("MASK positional variants match the programmatic KsqlFunctions") {
    import graft.functions.KsqlFunctions
    val catalog: Translator.Catalog =
      Map("customer" -> Translator.Source(Tables.customer(spark, sfDir), "c_custkey"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT c_custkey, MASK_LEFT(c_name, 3) AS ml, MASK_RIGHT(c_name, 3) AS mr,
        |  MASK_KEEP_LEFT(c_name, 5) AS kl, MASK_KEEP_RIGHT(c_name, 4) AS kr
        |FROM customer""".stripMargin): @unchecked
    val direct = Tables.customer(spark, sfDir).select(col("c_custkey"),
      KsqlFunctions.call("MASK_LEFT", col("c_name"), lit(3)).as("ml"),
      KsqlFunctions.call("MASK_RIGHT", col("c_name"), lit(3)).as("mr"),
      KsqlFunctions.call("MASK_KEEP_LEFT", col("c_name"), lit(5)).as("kl"),
      KsqlFunctions.call("MASK_KEEP_RIGHT", col("c_name"), lit(4)).as("kr"))
    assert(df.exceptAll(direct).count() == 0 && direct.exceptAll(df).count() == 0)
  }

  test("HISTOGRAM aggregates to a per-group value-count map") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT user_id, HISTOGRAM(event_type) AS h FROM events
        |GROUP BY user_id""".stripMargin): @unchecked
    val direct = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), col("event_type")).count()
    val fromMap = df.select(col("user_id"),
      explode(col("h")).as(Seq("event_type", "count")))
    assert(fromMap.exceptAll(direct).count() == 0
      && direct.exceptAll(fromMap).count() == 0)
  }

  test("EMIT CHANGES LIMIT n applies the limit (push-query form)") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      "SELECT event_id FROM events EMIT CHANGES LIMIT 7"): @unchecked
    assert(df.count() == 7)
    // trailing garbage must be a parse error, never silently dropped
    intercept[IllegalArgumentException] {
      Translator.run(spark, catalog, "SELECT event_id FROM events BOGUS TRAILING")
    }
  }

  test("WHERE EXISTS / IN subqueries plan as semi and anti joins") {
    val catalog: Translator.Catalog = Map(
      "customer" -> Translator.Source(Tables.customer(spark, sfDir), "c_custkey"),
      "orders" -> Translator.Source(Tables.orders(spark, sfDir), "o_orderdate"))
    val (_, Some(semi)) = Translator.run(spark, catalog,
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""
        .stripMargin): @unchecked
    val directSemi = Tables.customer(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("c_custkey") === col("o_custkey"), "left_semi")
    assert(semi.count() == directSemi.count())
    assert(semi.queryExecution.executedPlan.toString.contains("LeftSemi"))

    val (_, Some(anti)) = Translator.run(spark, catalog,
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""
        .stripMargin): @unchecked
    assert(anti.count() == Tables.customer(spark, sfDir).count() - semi.count())

    val (_, Some(in)) = Translator.run(spark, catalog,
      """SELECT o_orderkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)"""
        .stripMargin): @unchecked
    val directIn = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir).filter(col("c_acctbal") > 9000),
        col("o_custkey") === col("c_custkey"), "left_semi")
    assert(in.count() == directIn.count() && in.count() > 0)
  }

  test("aliased derived table resolves qualified column references") {
    val catalog: Translator.Catalog =
      Map("docs" -> Translator.Source(Tables.documents(spark, sfDir), "doc_id"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT a.lang, COUNT(*) AS cnt
        |FROM (SELECT lang FROM docs WHERE n_chars > 100) a
        |GROUP BY a.lang""".stripMargin): @unchecked
    val direct = Tables.documents(spark, sfDir).filter(col("n_chars") > 100)
      .groupBy("lang").count()
    assert(df.count() == direct.count())
  }

  test("derived-table subquery: FROM (SELECT ...) feeds the outer query") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT etype, COUNT(*) AS cnt
        |FROM (SELECT UCASE(event_type) AS etype, value FROM events
        |      WHERE value > 50)
        |GROUP BY etype""".stripMargin): @unchecked
    val direct = Tables.events(spark, sfDir).filter(col("value") > 50)
      .groupBy(upper(col("event_type")).as("etype")).count().withColumnRenamed("count", "cnt")
    assert(df.exceptAll(direct).count() == 0 && direct.exceptAll(df).count() == 0)
  }

  test("ORDER BY + LIMIT translate to a top-k plan") {
    val catalog: Translator.Catalog =
      Map("orders" -> Translator.Source(Tables.orders(spark, sfDir), "o_orderdate"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > 1000
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin): @unchecked
    val direct = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 1000)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice")).limit(5)
    assert(df.collect().toSeq == direct.collect().toSeq)
    // ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-partition
    // top-k + k-row merge), not a global sort
    assert(df.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }

  test("translated hopping window matches hand-written operator") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """CREATE TABLE t AS SELECT event_type, COUNT(*) AS cnt FROM events
        |WINDOW HOPPING (SIZE 1 HOURS, ADVANCE BY 30 MINUTES)
        |GROUP BY event_type EMIT CHANGES""".stripMargin): @unchecked
    val direct = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("window.start")).as("windowstart"), col("event_type"), col("cnt"))
    val a = df.select("windowstart", "event_type", "cnt").collect().toSet
    val b = direct.collect().toSet
    assert(a == b)
  }

  test("windowed 1-arg LATEST_BY_OFFSET materializes the implicit offset proxy") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """CREATE TABLE t AS SELECT user_id, LATEST_BY_OFFSET(value) AS last_v
        |FROM events WINDOW TUMBLING (SIZE 1 HOURS)
        |GROUP BY user_id EMIT CHANGES""".stripMargin): @unchecked
    val got = df.select("windowstart", "user_id", "last_v").collect()
    // ties on the max event-time make the picked value plan-dependent, so
    // assert membership: last_v must be one of the values at max ts
    val latestSets = Tables.events(spark, sfDir)
      .withColumn("windowstart", unix_millis(window(col("ts"), "1 hour")("start")))
      .withColumn("rt", unix_millis(col("ts")))
      .groupBy("windowstart", "user_id")
      .agg(max("rt").as("maxrt"), collect_list(struct(col("rt"), col("value"))).as("vs"))
      .collect().map { r =>
        val maxrt = r.getAs[Long]("maxrt")
        (r.getAs[Long]("windowstart"), r.getAs[Long]("user_id")) ->
          r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("vs")
            .filter(_.getAs[Long]("rt") == maxrt).map(_.getAs[Double]("value")).toSet
      }.toMap
    assert(got.nonEmpty && got.length == latestSets.size)
    got.foreach { r =>
      val k = (r.getAs[Long]("windowstart"), r.getAs[Long]("user_id"))
      assert(latestSets(k).contains(r.getAs[Double]("last_v")), s"group $k")
    }
  }

  test("LATEST_BY_OFFSET(x, N) returns the N latest values in offset order") {
    import spark.implicits._
    val rows = Seq(
      (1L, new java.sql.Timestamp(1000L), 10.0),
      (1L, new java.sql.Timestamp(2000L), 20.0),
      (1L, new java.sql.Timestamp(3000L), 30.0),
      (1L, new java.sql.Timestamp(4000L), 40.0),
      (2L, new java.sql.Timestamp(5000L), 50.0)
    ).toDF("user_id", "ts", "value")
    val catalog: Translator.Catalog = Map("ev" -> Translator.Source(rows, "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT user_id, LATEST_BY_OFFSET(value, 2) AS last2,
        |  EARLIEST_BY_OFFSET(value, 3) AS first3
        |FROM ev GROUP BY user_id""".stripMargin): @unchecked
    val got = df.collect().map(r => r.getLong(0) ->
      ((r.getSeq[Double](1).toList, r.getSeq[Double](2).toList))).toMap
    // ksqlDB contract: N latest, ascending offset order within the slice
    assert(got(1L) == ((List(30.0, 40.0), List(10.0, 20.0, 30.0))))
    // fewer rows than N → the whole history, no padding
    assert(got(2L) == ((List(50.0), List(50.0))))
  }

  test("SET 'ksql.star.pseudocolumns' gives SELECT * the strict KSQL 5.x shape") {
    val catalog: Translator.Catalog = Map("events" -> Translator.Source(
      Tables.events(spark, sfDir), "ts", key = Some("user_id")))
    val (_, Some(plain)) = Translator.run(spark, catalog,
      "SELECT * FROM events LIMIT 5"): @unchecked
    assert(!plain.columns.map(_.toLowerCase).contains("rowtime"))
    val (c1, _) = Translator.run(spark, catalog,
      "SET 'ksql.star.pseudocolumns' = 'true'")
    try {
      val (_, Some(star)) = Translator.run(spark, c1,
        "SELECT * FROM events LIMIT 5"): @unchecked
      assert(star.columns.take(2).map(_.toLowerCase).toSeq == Seq("rowtime", "rowkey"))
      val r = star.head
      assert(r.getAs[Long]("rowtime") > 0)
      assert(r.getAs[Any]("rowkey") == r.getAs[Any]("user_id"))
      // explicit projections keep their declared schema even when set
      val (_, Some(proj)) = Translator.run(spark, c1,
        "SELECT user_id FROM events LIMIT 1"): @unchecked
      assert(proj.columns.toSeq == Seq("user_id"))
    } finally Translator.run(spark, c1, "UNSET 'ksql.star.pseudocolumns'")
  }

  test("CSAS result is referencable by later statements (catalog chaining)") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (cat2, _) = Translator.run(spark, catalog,
      "CREATE STREAM purchases AS SELECT * FROM events WHERE event_type = 'purchase'")
    val (_, Some(out)) = Translator.run(spark, cat2,
      "SELECT user_id, COUNT(*) AS n FROM purchases GROUP BY user_id"): @unchecked
    assert(out.agg(sum("n")).head.getLong(0) ==
      Tables.events(spark, sfDir).filter(col("event_type") === "purchase").count())
  }

  test("TOPK/TOPKDISTINCT rewrite to sorted-slice aggregates") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """CREATE TABLE t AS SELECT event_type, TOPK(value, 3) AS top3
        |FROM events GROUP BY event_type""".stripMargin): @unchecked
    val row = df.filter(col("event_type") === "purchase").head
    val top3 = row.getAs[scala.collection.Seq[Double]]("top3")
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .orderBy(col("value").desc).limit(3)
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(top3.toSeq == expected)
  }

  test("WINDOWSTART/WINDOWEND are referencable in the select list") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT WINDOWSTART AS ws, WINDOWEND AS we, event_type, COUNT(*) AS cnt
        |FROM events WINDOW TUMBLING (SIZE 1 HOURS) GROUP BY event_type"""
        .stripMargin): @unchecked
    assert(df.columns.toSet == Set("ws", "we", "event_type", "cnt"))
    assert(df.filter(col("we") - col("ws") =!= 3600000L).count() == 0)
  }

  test("DROP removes a source; EXPLAIN returns the physical plan") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (cat2, _) = Translator.run(spark, catalog, "DROP STREAM events")
    assert(!cat2.contains("events"))
    // IF EXISTS tolerates a missing name; bare DROP does not
    val (cat3, _) = Translator.run(spark, cat2, "DROP STREAM IF EXISTS events")
    assert(cat3.isEmpty)
    intercept[IllegalArgumentException] {
      Translator.run(spark, cat3, "DROP TABLE events")
    }
    val (_, Some(plan)) = Translator.run(spark, catalog,
      "EXPLAIN SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type"
    ): @unchecked
    val txt = plan.head.getString(0)
    assert(txt.contains("HashAggregate") && txt.contains("Physical Plan"))
  }

  test("SHOW STREAMS and DESCRIBE return catalog metadata") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(shown)) = Translator.run(spark, catalog, "SHOW STREAMS"): @unchecked
    assert(shown.collect().map(_.getString(0)).contains("events"))
    val (_, Some(desc)) = Translator.run(spark, catalog, "DESCRIBE events"): @unchecked
    val cols = desc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cols("event_id") == "bigint" && cols("ts") == "timestamp")
  }

  test("self-contained KSQL script: PATH-bound source through CTAS to result") {
    val script =
      s"""CREATE STREAM ev (event_id BIGINT, user_id BIGINT, event_type VARCHAR,
         |  value DOUBLE)
         |WITH (PATH='$sfDir/events.parquet', VALUE_FORMAT='PARQUET', TIMESTAMP='ts');
         |
         |CREATE TABLE by_type AS
         |SELECT event_type, COUNT(*) AS cnt FROM ev GROUP BY event_type;
         |
         |SELECT event_type, cnt FROM by_type WHERE cnt > 0
         |""".stripMargin
    val (_, Some(df)) = Translator.runScript(spark, Map.empty, script): @unchecked
    val total = df.agg(sum("cnt")).head.getLong(0)
    assert(total == Tables.events(spark, sfDir).count())
  }

  test("parse and catalog errors are precise") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val e1 = intercept[IllegalArgumentException] {
      Translator.run(spark, catalog, "SELECT * FROM nonexistent")
    }
    assert(e1.getMessage.contains("unknown source nonexistent"))
    val e2 = intercept[IllegalArgumentException] {
      Parser.parse("CREATE BOGUS foo AS SELECT 1")
    }
    assert(e2.getMessage.contains("expected STREAM"))
    val e3 = intercept[IllegalArgumentException] {
      Parser.parse("SELECT a FROM t WINDOW TUMBLING (SIZE 1 PARSECS)")
    }
    assert(e3.getMessage.contains("unknown unit"))
  }

  test("self-referencing subquery reads the BASE table, not the outer joined frame") {
    // orders JOIN lineitem multiplies each order by its line count, so
    // avg(o_totalprice) over the JOINED frame differs from the base-table
    // avg. Registering the outer frame under the name 'orders' (the old
    // behavior) would make the subquery read the joined frame and shift
    // the threshold — the count below would silently change.
    val catalog: Translator.Catalog = Map(
      "orders" -> Translator.Source(Tables.orders(spark, sfDir), "o_orderdate"),
      "lineitem" -> Translator.Source(Tables.lineitem(spark, sfDir), "l_shipdate"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT o_orderkey, l_linenumber FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)"""
        .stripMargin): @unchecked
    val base = Tables.orders(spark, sfDir)
    val threshold = base.agg(avg("o_totalprice")).head.getDouble(0)
    val direct = base
      .join(Tables.lineitem(spark, sfDir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_totalprice") > threshold)
    assert(df.count() == direct.count())
  }

  test("SELECT-list scalar subquery reads the BASE table, not the filtered outer frame") {
    // same isolation contract as the WHERE-subquery test above, for the
    // round-9 SELECT-list path: the outer WHERE filters to a subset,
    // but the subquery's COUNT must see the FULL base table — a
    // projection registered under the table's own name would make n_all
    // silently equal the filtered count
    val catalog: Translator.Catalog = Map(
      "orders" -> Translator.Source(Tables.orders(spark, sfDir), "o_orderdate"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT o_orderkey, (SELECT COUNT(*) FROM orders) AS n_all
        |FROM orders o WHERE o_totalprice > 200000""".stripMargin): @unchecked
    val base = Tables.orders(spark, sfDir)
    val full = base.count()
    val filtered = base.filter(col("o_totalprice") > 200000).count()
    assert(filtered > 0 && filtered < full)
    assert(df.count() == filtered)
    val nAll = df.select("n_all").distinct().collect().map(_.getLong(0)).toSeq
    assert(nAll == Seq(full), s"subquery saw $nAll, base has $full")
    // correlated form: per-customer max through the dialect equals the
    // hand-built left-outer aggregate join
    val cat2: Translator.Catalog = catalog +
      ("customer" -> Translator.Source(Tables.customer(spark, sfDir), "c_custkey"))
    val (_, Some(corr)) = Translator.run(spark, cat2,
      """SELECT c_custkey,
        |  (SELECT MAX(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey) AS max_spend
        |FROM customer c""".stripMargin): @unchecked
    val expected = Tables.customer(spark, sfDir).select("c_custkey")
      .join(Tables.orders(spark, sfDir)
        .groupBy(col("o_custkey")).agg(max("o_totalprice").as("max_spend")),
        col("c_custkey") === col("o_custkey"), "left")
      .select("c_custkey", "max_spend")
    def rows(df0: org.apache.spark.sql.DataFrame) =
      df0.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(rows(corr) == rows(expected))
  }

  test("MASK variants accept nested calls and expression counts") {
    val r = dialectRowOver(
      "SELECT 'Ab1.x' AS name, 'ab' AS a, 'cd' AS b, 1704067200000L AS ts")(
      "MASK_LEFT(UCASE(name), 3)",
      "MASK_KEEP_RIGHT(CONCAT(a, b), LEN(a) - 1)",
      // quote-aware scan: commas/parens inside string literals are opaque
      "TIMESTAMPTOSTRING(ts, 'yyyy (MM,dd)')")
    assert(r.getString(0) == "XXn.X")
    assert(r.getString(1) == "xxxd")
    assert(r.getString(2) == "2024 (01,01)")
    val e = intercept[IllegalArgumentException] {
      dialectRow("MASK_LEFT(name)")
    }
    assert(e.getMessage.contains("expects 2 arguments"))
  }

  test("LIMIT with a non-integer operand fails with a positioned parse error") {
    val e = intercept[IllegalArgumentException] {
      Parser.parse("SELECT a FROM t LIMIT foo")
    }
    assert(e.getMessage.contains("LIMIT expects an integer literal"))
    val e2 = intercept[IllegalArgumentException] {
      Parser.parse("SELECT a FROM t EMIT CHANGES LIMIT 'ten'")
    }
    assert(e2.getMessage.contains("LIMIT expects an integer literal"))
  }

  test("REPL loop: statements execute, catalog chains, errors don't kill the session") {
    import java.io.{BufferedReader, PrintWriter, StringReader, StringWriter}
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val script =
      """CREATE STREAM big AS SELECT event_id, value FROM events WHERE value > 90;
        |SELECT COUNT(*) AS n FROM big;
        |SELECT * FROM nonexistent;
        |EXIT
        |""".stripMargin
    val sw = new StringWriter
    Repl.loop(spark, new BufferedReader(new StringReader(script)),
      new PrintWriter(sw), catalog)
    val printed = sw.toString
    val expected = Tables.events(spark, sfDir).filter(col("value") > 90).count()
    assert(printed.contains(expected.toString), printed)
    assert(printed.contains("error: unknown source nonexistent"), printed)
    assert(printed.contains("bye"), printed)
  }

  test("REPL SPOOL mirrors result lines to the file until SPOOL OFF") {
    import java.io.{BufferedReader, PrintWriter, StringReader, StringWriter}
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val f = java.nio.file.Files.createTempFile("graft_spool", ".log").toString
    val script =
      s"""SPOOL '$f';
        |SELECT COUNT(*) AS n FROM events;
        |SPOOL OFF;
        |SELECT COUNT(*) AS unspooled FROM events;
        |EXIT
        |""".stripMargin
    val sw = new StringWriter
    Repl.loop(spark, new BufferedReader(new StringReader(script)),
      new PrintWriter(sw), catalog)
    val printed = sw.toString
    val spooled = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
    val n = Tables.events(spark, sfDir).count()
    // screen shows everything; the file holds only the spooled window
    assert(printed.contains(s"spooling to $f"), printed)
    assert(printed.contains("unspooled"), printed)
    assert(spooled.contains("n") && spooled.contains(n.toString), spooled)
    assert(!spooled.contains("unspooled"), spooled)
  }

  test("EXPLAIN <queryId> answers status + live plan; unknown id errors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    val q = mem.toDF().writeStream.format("memory")
      .queryName("explain_me").outputMode("append").start()
    try {
      mem.addData(Ev(1, new java.sql.Timestamp(1700000000000L), 1, "click", 1.0))
      q.processAllAvailable()
      // by name
      val (_, Some(byName)) =
        Translator.run(spark, Map.empty, "EXPLAIN explain_me"): @unchecked
      val props = byName.collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props("name") == "explain_me")
      assert(props("state") == "RUNNING")
      assert(props("query_id") == q.id.toString)
      assert(props("batch_id").nonEmpty)
      assert(props("plan").nonEmpty, props)
      // by UUID (lexer splits at '-'; parser rejoins like TERMINATE)
      val (_, Some(byId)) =
        Translator.run(spark, Map.empty, s"EXPLAIN ${q.id}"): @unchecked
      assert(byId.collect().exists(r =>
        r.getString(0) == "name" && r.getString(1) == "explain_me"))
      // EXPLAIN <select> still answers a plan frame
      val (_, Some(sel)) = Translator.run(spark,
        Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts")),
        "EXPLAIN SELECT COUNT(*) FROM events"): @unchecked
      assert(sel.columns.sameElements(Array("plan")))
      val e = intercept[IllegalArgumentException] {
        Translator.run(spark, Map.empty, "EXPLAIN no_such_query")
      }
      assert(e.getMessage.contains("no running or paused query"))
      // multi-token remainder that is NOT a '-'-joined UUID must be a
      // parse error — not a silently fused id, not a typo'd statement
      // surfacing as "no running query SELEC…"
      val multi = intercept[IllegalArgumentException] {
        Translator.run(spark, Map.empty, "EXPLAIN foo bar")
      }
      assert(multi.getMessage.contains("after EXPLAIN id"), multi.getMessage)
      val typo = intercept[IllegalArgumentException] {
        Translator.run(spark, Map.empty, "EXPLAIN SELEC 1 FROM events")
      }
      assert(typo.getMessage.contains("after EXPLAIN id"), typo.getMessage)
    } finally if (q.isActive) q.stop()
  }

  test("processing log captures JSON deserialization failures as a queryable stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_proclog").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.json"),
      ("""{"id": 1, "name": "ok"}""" + "\n" +
        """{"id": 2 "name": "missing comma"}""" + "\n" +
        """{"id": 3, "name": "fine"}""" + "\n" +
        "not json at all\n" +
        """{"id": 4, "name": "good"}""" + "\n").getBytes("UTF-8"))
    val create = s"CREATE STREAM j (id BIGINT, name VARCHAR) " +
      s"WITH (PATH='$dir', VALUE_FORMAT='JSON')"
    // disabled (default): no log stream appears
    val (catOff, _) = Translator.run(spark, Map.empty, create)
    assert(!catOff.contains("ksql_processing_log"))
    // enabled: failures land in the queryable log, data rows unaffected
    val (cat1, _) = Translator.run(spark, Map.empty,
      "SET 'ksql.logging.processing.enabled'='true'")
    try {
      val (cat2, _) = Translator.run(spark, cat1, create)
      assert(cat2.contains("ksql_processing_log"))
      val (_, Some(data)) =
        Translator.run(spark, cat2, "SELECT COUNT(*) AS n FROM j"): @unchecked
      assert(data.head.getLong(0) == 5) // schema'd read keeps every line
      val (_, Some(log)) = Translator.run(spark, cat2,
        "SELECT message, record FROM ksql_processing_log"): @unchecked
      val rows = log.collect()
      assert(rows.length == 2, rows.mkString("|"))
      assert(rows.forall(_.getString(0) == "DESERIALIZATION_FAILURE"))
      val records = rows.map(_.getString(1)).toSet
      assert(records.contains("not json at all"), records)
      assert(records.exists(_.contains("missing comma")), records)
      // a second logged source unions into the SAME log stream
      val (cat3, _) = Translator.run(spark, cat2,
        s"CREATE STREAM j2 (id BIGINT, name VARCHAR) " +
          s"WITH (PATH='$dir', VALUE_FORMAT='JSON')")
      val (_, Some(log2)) = Translator.run(spark, cat3,
        "SELECT COUNT(*) AS n FROM ksql_processing_log"): @unchecked
      assert(log2.head.getLong(0) == 4)
    } finally
      Translator.run(spark, cat1, "UNSET 'ksql.logging.processing.enabled'")
  }

  test("SHOW QUERIES lists active continuous queries; TERMINATE stops by name") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val mem = MemoryStream[Ev](spark)
    val q = mem.toDF().writeStream.format("memory")
      .queryName("term_me").outputMode("append").start()
    try {
      val (_, Some(listed)) = Translator.run(spark, Map.empty, "SHOW QUERIES"): @unchecked
      assert(listed.collect().exists(_.getAs[String]("name") == "term_me"))
      Translator.run(spark, Map.empty, "TERMINATE term_me")
      q.awaitTermination(30000)
      assert(!q.isActive)
      val e = intercept[IllegalArgumentException] {
        Translator.run(spark, Map.empty, "TERMINATE nonexistent_query")
      }
      assert(e.getMessage.contains("no active query"))
    } finally if (q.isActive) q.stop()
  }

  test("PAUSE suspends a registered query; RESUME continues from the checkpoint") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_pause_in").toString
    val out = Files.createTempDirectory("graft_pause_out").toString
    val ckpt = Files.createTempDirectory("graft_pause_ckpt").toString
    def writeBatch(id: Int): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$in/b$id.csv"), s"$id\n")
    def sinkIds(): Set[Long] = {
      val files = Option(new java.io.File(out).listFiles()).toSeq.flatten
      if (!files.exists(_.getName.startsWith("part-"))) Set.empty
      else spark.read.schema("id LONG").parquet(out)
        .collect().map(_.getLong(0)).toSet
    }
    writeBatch(1)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    // the restart thunk re-issues the SAME sink + checkpoint — RESUME's
    // continue-from-committed-offset contract is Spark's checkpoint
    // recovery, exactly how a ksql server resumes a paused query
    def start() = spark.readStream.schema(schema).csv(in)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .queryName("pausable").outputMode("append").start()
    var q = graft.ksql.QueryControl.startRegistered(spark, "pausable")(start())
    try {
      q.processAllAvailable()
      assert(sinkIds() == Set(1L))

      val (_, Some(pausedDf)) =
        Translator.run(spark, Map.empty, "PAUSE pausable"): @unchecked
      assert(pausedDf.collect().map(r =>
        (r.getString(0), r.getString(1))).toSeq == Seq(("pausable", "PAUSED")))
      assert(!q.isActive)
      // SHOW QUERIES keeps listing it, state PAUSED
      val (_, Some(listed)) = Translator.run(spark, Map.empty, "SHOW QUERIES"): @unchecked
      assert(listed.collect().exists(r =>
        r.getAs[String]("name") == "pausable" &&
          r.getAs[String]("state") == "PAUSED"))
      // input arriving while paused is NOT processed
      writeBatch(2)
      Thread.sleep(300)
      assert(sinkIds() == Set(1L))

      val (_, Some(resumedDf)) =
        Translator.run(spark, Map.empty, "RESUME pausable"): @unchecked
      assert(resumedDf.collect().map(_.getString(1)).toSeq == Seq("RUNNING"))
      q = spark.streams.active.find(x => Option(x.name).contains("pausable")).get
      q.processAllAvailable()
      // the paused-era batch is picked up exactly once from the
      // checkpointed offset — no loss, no duplication
      assert(sinkIds() == Set(1L, 2L))

      // refusals: pausing an unregistered query, resuming a running one
      val e1 = intercept[IllegalArgumentException] {
        Translator.run(spark, Map.empty, "PAUSE not_registered")
      }
      assert(e1.getMessage.contains("no registered query"))
      val e2 = intercept[IllegalArgumentException] {
        Translator.run(spark, Map.empty, "RESUME pausable")
      }
      assert(e2.getMessage.contains("no paused query"))
      // TERMINATE drops it from the resumable registry too
      Translator.run(spark, Map.empty, "TERMINATE pausable")
      val e3 = intercept[IllegalArgumentException] {
        Translator.run(spark, Map.empty, "RESUME pausable")
      }
      assert(e3.getMessage.contains("no paused query"))
    } finally spark.streams.active
      .filter(x => Option(x.name).contains("pausable")).foreach(_.stop())
  }

  test("CREATE OR REPLACE upgrade: swap a running query's logic, offsets carry over") {
    import java.nio.file.Files
    val in = Files.createTempDirectory("graft_upg_in").toString
    val out = Files.createTempDirectory("graft_upg_out").toString
    val ckpt = Files.createTempDirectory("graft_upg_ckpt").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    def write(name: String, ids: Seq[Long]): Unit =
      Files.writeString(java.nio.file.Paths.get(s"$in/$name.csv"),
        ids.mkString("", "\n", "\n"))
    def sinkIds(): Set[Long] = {
      val files = Option(new java.io.File(out).listFiles()).toSeq.flatten
      if (!files.exists(_.getName.startsWith("part-"))) Set.empty
      else spark.read.schema("id LONG").parquet(out)
        .collect().map(_.getLong(0)).toSet
    }
    def start(filter: org.apache.spark.sql.Column) =
      spark.readStream.schema(schema).csv(in).filter(filter)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .queryName("upgradable").outputMode("append").start()
    import org.apache.spark.sql.functions.{col => c}
    write("b1", Seq(1L, 2L, 3L, 4L))
    val v1 = graft.ksql.QueryControl.startRegistered(spark, "upgradable")(
      start(c("id") > 0)) // v1: pass everything
    try {
      v1.processAllAvailable()
      assert(sinkIds() == Set(1L, 2L, 3L, 4L))
      // upgrade in place: evens only. The v1 batch is NOT reprocessed
      // (3 stays in the sink — committed offsets carry over); the new
      // batch flows through the NEW filter.
      val v2 = graft.ksql.QueryControl.replaceRegistered(spark, "upgradable")(
        start(c("id") % 2 === 0))
      assert(!v1.isActive)
      write("b2", Seq(5L, 6L, 7L, 8L))
      v2.processAllAvailable()
      assert(sinkIds() == Set(1L, 2L, 3L, 4L, 6L, 8L))
      // the upgraded query stays PAUSE/RESUME-able under its name with
      // the NEW definition
      Translator.run(spark, Map.empty, "PAUSE upgradable")
      assert(!v2.isActive)
      write("b3", Seq(9L, 10L))
      Translator.run(spark, Map.empty, "RESUME upgradable")
      val v3 = spark.streams.active
        .find(x => Option(x.name).contains("upgradable")).get
      v3.processAllAvailable()
      assert(sinkIds() == Set(1L, 2L, 3L, 4L, 6L, 8L, 10L))
    } finally spark.streams.active
      .filter(x => Option(x.name).contains("upgradable")).foreach(_.stop())
  }

  test("VALUE_FORMAT='WIRE' round-trips a topic dump through the dialect") {
    import java.nio.file.Files
    val reg = Files.createTempDirectory("graft_wire_reg").toString
    val dump = Files.createTempDirectory("graft_wire_dump").toString + "/t"
    val catalog: Translator.Catalog =
      Map("orders" -> Translator.Source(Tables.orders(spark, sfDir), "o_orderdate"))
    val (c1, _) = Translator.run(spark, catalog,
      s"""CREATE STREAM big WITH (PATH='$dump', VALUE_FORMAT='WIRE',
         |  SCHEMA_REGISTRY='$reg', SUBJECT='big-value')
         |AS SELECT o_orderkey, o_totalprice FROM orders
         |WHERE o_totalprice > 400000""".stripMargin)
    // the dump is REAL wire format: binary column, magic 0 + id
    val raw = spark.read.parquet(dump).collect()
    assert(raw.nonEmpty && raw.forall(_.getAs[Array[Byte]]("value")(0) == 0))
    // consumer: bind a fresh stream off the dump via the registry
    val (_, _) = (0, 0)
    val (c2, _) = Translator.run(spark, c1,
      s"""CREATE STREAM back (o_orderkey BIGINT, o_totalprice DOUBLE)
         |WITH (PATH='$dump', VALUE_FORMAT='WIRE',
         |  SCHEMA_REGISTRY='$reg', SUBJECT='big-value',
         |  TIMESTAMP='o_orderkey')""".stripMargin)
    val got = c2("back").df.collect()
      .map(r => (r.getAs[Long]("o_orderkey"), r.getAs[Double]("o_totalprice"))).toSet
    val want = Tables.orders(spark, sfDir).filter(col("o_totalprice") > 400000)
      .collect().map(r => (r.getAs[Long]("o_orderkey"),
        r.getAs[Double]("o_totalprice"))).toSet
    assert(got == want && got.nonEmpty)
    // missing registry props fail loudly on both sides
    val e = intercept[IllegalArgumentException] {
      Translator.run(spark, catalog,
        s"CREATE STREAM x (a BIGINT) WITH (PATH='$dump', VALUE_FORMAT='WIRE')")
    }
    assert(e.getMessage.contains("SCHEMA_REGISTRY"))
  }

  test("ASSERT TOPIC/STREAM/SCHEMA verify existence with timeout semantics") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(ok)) = Translator.run(spark, catalog,
      "ASSERT TOPIC events"): @unchecked
    assert(ok.head.getString(2) == "EXISTS")
    val (_, Some(ok2)) = Translator.run(spark, catalog,
      "ASSERT NOT EXISTS STREAM nope"): @unchecked
    assert(ok2.head.getString(2) == "ABSENT")
    // failure waits out the timeout, then names the condition
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException] {
      Translator.run(spark, catalog, "ASSERT TABLE nope TIMEOUT 1 SECONDS")
    }
    assert((System.nanoTime() - t0) / 1e9 >= 0.9)
    assert(e.getMessage.contains("Assertion failed") &&
      e.getMessage.contains("does not exist"))
    val e2 = intercept[IllegalArgumentException] {
      Translator.run(spark, catalog, "ASSERT NOT EXISTS TOPIC events")
    }
    assert(e2.getMessage.contains("still exists"))
    // SCHEMA against a real registry dir: register then assert, both
    // inline REGISTRY and the session property form
    val reg = java.nio.file.Files.createTempDirectory("graft_assert_reg").toString
    val schema = org.apache.avro.SchemaBuilder.record("r").fields()
      .requiredLong("id").endRecord()
    graft.sources.SchemaRegistry(spark, reg).register("t-value", schema)
    val (_, Some(s1)) = Translator.run(spark, catalog,
      s"ASSERT SCHEMA SUBJECT 't-value' REGISTRY '$reg'"): @unchecked
    assert(s1.head.getString(2) == "EXISTS")
    Translator.run(spark, catalog, s"SET 'ksql.schema.registry' = '$reg'")
    val (_, Some(s2)) = Translator.run(spark, catalog,
      "ASSERT SCHEMA SUBJECT 't-value'"): @unchecked
    assert(s2.head.getString(2) == "EXISTS")
    val e3 = intercept[IllegalArgumentException] {
      Translator.run(spark, catalog, "ASSERT SCHEMA SUBJECT 'missing'")
    }
    assert(e3.getMessage.contains("Assertion failed"))
    Translator.run(spark, catalog, "UNSET 'ksql.schema.registry'")
  }

  test("RUN SCRIPT executes a statement file, threading the catalog") {
    val f = java.nio.file.Files.createTempFile("graft_script", ".ksql")
    java.nio.file.Files.write(f,
      """CREATE STREAM clicks AS SELECT event_id, value FROM events
        |WHERE event_type = 'click';
        |SELECT COUNT(*) AS n FROM clicks;""".stripMargin.getBytes)
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      s"RUN SCRIPT '${f.toString}'"): @unchecked
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").count()
    assert(df.head.getLong(0) == expected)
  }

  test("dialect multi-way star join chains JOINs and broadcasts each dim") {
    val catalog: Translator.Catalog = Map(
      "orders" -> Translator.Source(Tables.orders(spark, sfDir), "o_orderdate"),
      "customer" -> Translator.Source(Tables.customer(spark, sfDir), "c_custkey"),
      "nation" -> Translator.Source(Tables.nation(spark, sfDir), "n_nationkey"))
    val (_, Some(df)) = Translator.run(spark, catalog,
      """SELECT n_name, COUNT(*) AS cnt
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name""".stripMargin): @unchecked
    val direct = Tables.orders(spark, sfDir)
      .join(Tables.customer(spark, sfDir), col("o_custkey") === col("c_custkey"))
      .join(Tables.nation(spark, sfDir), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name").count()
    val a = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = direct.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // both dims must broadcast — the fact side never shuffles for them
    val p = df.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2, p.take(2000))
  }

  test("INSERT INTO unions into an existing source") {
    val catalog: Translator.Catalog =
      Map("events" -> Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (cat2, _) = Translator.run(spark, catalog,
      "CREATE STREAM sink AS SELECT event_id, event_type FROM events WHERE event_type = 'signup'")
    val before = cat2("sink").df.count()
    val (cat3, _) = Translator.run(spark, cat2,
      "INSERT INTO sink SELECT event_id, event_type FROM events WHERE event_type = 'error'")
    val errors = Tables.events(spark, sfDir).filter(col("event_type") === "error").count()
    assert(cat3("sink").df.count() == before + errors)
  }

  test("DEFINE / UNDEFINE / SHOW VARIABLES substitute ${var} references") {
    import spark.implicits._
    val src = Seq((1L, "a", 3.0), (2L, "b", 5.0), (3L, "a", 9.0))
      .toDF("id", "grp", "v")
    val catalog: Translator.Catalog = Map("src" -> Translator.Source(src, "ts"))
    val (c1, _) = Translator.run(spark, catalog, "DEFINE min_v = '4.0'")
    Translator.run(spark, c1, "DEFINE which = 'grp'")
    val (_, Some(vars)) = Translator.run(spark, c1, "SHOW VARIABLES"): @unchecked
    val vm = vars.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(vm("min_v") == "4.0" && vm("which") == "grp")
    // substitution reaches identifiers AND literals (the CLI's use case)
    val (_, Some(out)) = Translator.run(spark, c1,
      "SELECT id, ${which} AS g FROM src WHERE v >= ${min_v}"): @unchecked
    assert(out.collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // an undefined reference is a clear error, not a silent pass-through
    val e = intercept[IllegalArgumentException] {
      Translator.run(spark, c1, "SELECT ${nope} FROM src") }
    assert(e.getMessage.contains("nope"))
    Translator.run(spark, c1, "UNDEFINE min_v")
    intercept[IllegalArgumentException] {
      Translator.run(spark, c1, "SELECT id FROM src WHERE v >= ${min_v}") }
    Translator.run(spark, c1, "UNDEFINE which")
    val (_, Some(after)) = Translator.run(spark, c1, "SHOW VARIABLES"): @unchecked
    assert(!after.collect().map(_.getString(0)).toSet
      .exists(Set("min_v", "which")))
  }

  test("CREATE TYPE aliases expand (nested too) in CREATE schemas") {
    import org.apache.spark.sql.types._
    val (c1, _) = Translator.run(spark, Map.empty,
      "CREATE TYPE ADDRESS AS STRUCT<street VARCHAR, zip INT>")
    val (c2, _) = Translator.run(spark, c1,
      "CREATE TYPE ADDRBOOK AS ARRAY<ADDRESS>")
    val (_, Some(types)) = Translator.run(spark, c2, "SHOW TYPES"): @unchecked
    assert(types.collect().map(_.getString(0)).toSet
      .intersect(Set("ADDRESS", "ADDRBOOK")) == Set("ADDRESS", "ADDRBOOK"))
    val (c3, _) = Translator.run(spark, c2,
      "CREATE STREAM people (id BIGINT, home ADDRESS, prev ADDRBOOK)")
    val sch = c3("people").df.schema
    val addr = StructType(Seq(
      StructField("street", StringType), StructField("zip", IntegerType)))
    assert(sch("home").dataType == addr)
    assert(sch("prev").dataType == ArrayType(addr))
    // cyclic definitions surface as a clear error at use, not a hang
    Translator.run(spark, c3, "CREATE TYPE LOOPA AS ARRAY<LOOPB>")
    Translator.run(spark, c3, "CREATE TYPE LOOPB AS ARRAY<LOOPA>")
    val e = intercept[IllegalArgumentException] {
      Translator.run(spark, c3, "CREATE STREAM cyc (x LOOPA)") }
    assert(e.getMessage.toLowerCase.contains("cyclic"))
    // DROP TYPE: strict without IF EXISTS, idempotent with it
    Seq("ADDRESS", "ADDRBOOK", "LOOPA", "LOOPB").foreach(t =>
      Translator.run(spark, c3, s"DROP TYPE $t"))
    intercept[IllegalArgumentException] {
      Translator.run(spark, c3, "DROP TYPE ADDRESS") }
    Translator.run(spark, c3, "DROP TYPE IF EXISTS ADDRESS")
    // with the alias gone the bare word falls back to the dialect's
    // default scalar (VARCHAR) — same as any unknown type name
    val (c4, _) = Translator.run(spark, c3, "CREATE STREAM bare (x ADDRESS)")
    assert(c4("bare").df.schema("x").dataType == StringType)
  }

  test("AVRO + schema registry through the dialect: register-on-write, " +
      "latest-schema reads across producer versions") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ksql_sr").toString
    val reg = s"$tmp/registry"
    val data = s"$tmp/topic"
    // producer v1: CSAS writes avro AND registers the subject
    val cat1: Translator.Catalog = Map(
      "nation" -> Translator.Source(Tables.nation(spark, sfDir), "n_nationkey"))
    Translator.run(spark, cat1,
      s"""CREATE STREAM natv1 WITH (PATH='$data', VALUE_FORMAT='AVRO',
         |SCHEMA_REGISTRY='$reg', SUBJECT='nat-value') AS
         |SELECT n_nationkey, n_name FROM nation""".stripMargin)
    val registry = graft.sources.SchemaRegistry(spark, reg)
    assert(registry.versions("nat-value") == Seq(1))
    // producer v2 evolves the subject (adds a nullable column) and
    // appends; the registry now serves v2 as latest
    val v2 = Tables.nation(spark, sfDir)
      .select(col("n_nationkey"), col("n_name"),
        // NULLABLE added column (when() without otherwise): a non-null
        // literal would map to a defaultless avro field and correctly
        // fail the BACKWARD check against v1
        when(col("n_nationkey").isNotNull, lit("emea")).as("region_name"))
    assert(registry.write(v2.limit(3), data + "_v2", "nat-value") == 2)
    // consumer: registry-backed CREATE STREAM resolves the v1 files
    // through the LATEST schema — added column comes back NULL-filled
    val (c2, _) = Translator.run(spark, Map.empty,
      s"""CREATE STREAM natback WITH (PATH='$data', VALUE_FORMAT='AVRO',
         |SCHEMA_REGISTRY='$reg', SUBJECT='nat-value')""".stripMargin)
    val back = c2("natback").df
    assert(back.columns.toSeq == Seq("n_nationkey", "n_name", "region_name"))
    assert(back.count() == Tables.nation(spark, sfDir).count())
    assert(back.filter(col("region_name").isNotNull).count() == 0)
    // incompatible producer (drops a field the old reader needs AND
    // re-types the key) is rejected at REGISTER time — no data lands
    val bad = Tables.nation(spark, sfDir)
      .select(col("n_nationkey").cast("string").as("n_nationkey"))
    intercept[graft.sources.SchemaRegistry.IncompatibleSchemaException] {
      registry.write(bad, data + "_bad", "nat-value")
    }
  }

  test("connector DDL: a SOURCE connector ingests files continuously, a " +
      "SINK connector exports the topic, DROP stops the stream") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_conn").toString
    val in = s"$root/in"; val topic = s"$root/topic"; val out = s"$root/out"
    new java.io.File(in).mkdirs()
    Files.write(Paths.get(s"$in/a.json"),
      "{\"id\":1,\"v\":\"x\"}\n{\"id\":2,\"v\":\"y\"}".getBytes)
    val catalog = Map.empty[String, Translator.Source]
    Translator.run(spark, catalog,
      s"""CREATE SOURCE CONNECTOR ingest WITH (
         |  'input.path' = '$in', 'topic' = '$topic',
         |  'format' = 'JSON', 'schema' = 'id BIGINT, v VARCHAR')""".stripMargin)
    val q = spark.streams.active.find(_.name == "connector_ingest").get
    q.processAllAvailable()
    assert(spark.read.parquet(topic).count() == 2)
    // continuous: a file landing AFTER creation flows through too
    Files.write(Paths.get(s"$in/b.json"), "{\"id\":3,\"v\":\"z\"}".getBytes)
    q.processAllAvailable()
    assert(spark.read.parquet(topic).count() == 3)
    // second create of the same name: IF NOT EXISTS no-ops, bare throws
    Translator.run(spark, catalog,
      s"""CREATE SOURCE CONNECTOR IF NOT EXISTS ingest WITH (
         |  'input.path' = '$in', 'topic' = '$topic')""".stripMargin)
    intercept[IllegalArgumentException] {
      Translator.run(spark, catalog,
        s"""CREATE SOURCE CONNECTOR ingest WITH (
           |  'input.path' = '$in', 'topic' = '$topic')""".stripMargin)
    }
    // introspection: SHOW CONNECTORS lists it RUNNING, DESCRIBE carries
    // the props and the engine's own progress numbers
    val (_, Some(listed)) =
      Translator.run(spark, catalog, "SHOW CONNECTORS"): @unchecked
    val row = listed.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2)))
    assert(row.contains(("ingest", "SOURCE", "RUNNING")))
    val (_, Some(desc)) =
      Translator.run(spark, catalog, "DESCRIBE CONNECTOR ingest"): @unchecked
    val props = desc.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("type") == "SOURCE" && props("state") == "RUNNING")
    assert(props("input.path") == in && props("topic") == topic)
    // SINK side: the engine topic exports continuously as DELIMITED
    Translator.run(spark, catalog,
      s"""CREATE SINK CONNECTOR export WITH (
         |  'topic' = '$topic', 'output.path' = '$out',
         |  'format' = 'DELIMITED')""".stripMargin)
    val q2 = spark.streams.active.find(_.name == "connector_export").get
    q2.processAllAvailable()
    assert(spark.read.option("header", "true").csv(out).count() == 3)
    // the ingested topic binds like any PATH source and serves a pull query
    val (cat2, _) = Translator.run(spark, catalog,
      s"""CREATE STREAM ingested (id BIGINT, v VARCHAR)
         |  WITH (PATH = '$topic', VALUE_FORMAT = 'PARQUET')""".stripMargin)
    val (_, Some(rows)) = Translator.run(spark, cat2,
      "SELECT id, v FROM ingested WHERE id >= 2"): @unchecked
    assert(rows.count() == 2)
    // DROP stops the stream and forgets the name; IF EXISTS tolerates
    Translator.run(spark, catalog, "DROP CONNECTOR ingest")
    assert(!spark.streams.active.exists(_.name == "connector_ingest"))
    intercept[IllegalArgumentException] {
      Translator.run(spark, catalog, "DROP CONNECTOR ingest")
    }
    Translator.run(spark, catalog, "DROP CONNECTOR IF EXISTS ingest")
    Translator.run(spark, catalog, "DROP CONNECTOR export")
    assert(!spark.streams.active.exists(_.name.startsWith("connector_")))
  }
}
