package graft

import graft.functions.KsqlFunctions
import graft.ksql.Translator
import org.apache.spark.sql.DataFrame

/** The ksqlDB function table (graft.functions.KsqlFunctions) is the one
  * definition of each function: the dialect, plain `spark.sql` and
  * DESCRIBE/SHOW FUNCTIONS all read it, and registering it leaves
  * Spark's own functions of the same names alone. */
class KsqlFunctionTableSpec extends SparkSpec {

  private lazy val src: DataFrame = spark.sql(
    """SELECT * FROM VALUES
      |  (1L, TIMESTAMP '2024-01-01 00:00:00', 'a.b', 3, 1.5D,
      |   'https://ex.com:8443/a/b?x=1&y=two#frag', '{"a": 1, "b": [2]}',
      |   '[1, 2, "s"]', array(3, 1, 2), map('a', 1, 'bb', 2)),
      |  (2L, TIMESTAMP '2024-01-01 00:00:01', 'Ab1.x', 5, 2.5D,
      |   'http://h.org/p', '{"a": 2}', '[]', array(4), map('c', 3)),
      |  (3L, TIMESTAMP '2024-01-01 00:00:02', 'a.b', 4, 4.0D,
      |   'ftp://x.y:21/', '{}', '[2]', array(), map())
      |  AS t(id, ts, s, n, d, url, js, ja, arr, mp)""".stripMargin)
    .withColumn("rowtime", org.apache.spark.sql.functions.unix_millis(
      org.apache.spark.sql.functions.col("ts")))

  /** Arguments of one sample call per builder row, in dialect syntax;
    * plain SQL reads the same text with Spark's `->` lambda arrow. */
  private val samples: Map[String, String] = Map(
    "SPLIT" -> "s, '.'",
    "REGEXP_SPLIT_TO_ARRAY" -> "s, '[.]'",
    "SPLIT_TO_MAP" -> "'k1=v1;k2=v2', ';', '='",
    "MASK" -> "s", "MASK_LEFT" -> "s, 2", "MASK_RIGHT" -> "s, 2",
    "MASK_KEEP_LEFT" -> "s, 2", "MASK_KEEP_RIGHT" -> "s, 2",
    "FIELD" -> "s, 'x', 'a.b'",
    "URL_EXTRACT_HOST" -> "url", "URL_EXTRACT_PATH" -> "url",
    "URL_EXTRACT_PROTOCOL" -> "url", "URL_EXTRACT_QUERY" -> "url",
    "URL_EXTRACT_FRAGMENT" -> "url", "URL_EXTRACT_PORT" -> "url",
    "URL_EXTRACT_PARAMETER" -> "url, 'y'",
    "URL_ENCODE_PARAM" -> "'a b&c'", "URL_DECODE_PARAM" -> "'a+b%26c'",
    "GEO_DISTANCE" -> "0.0, 0.0, 0.0, d, 'MI'",
    "STRINGTODATE" -> "'2024-03-01', 'yyyy-MM-dd'",
    "DATETOSTRING" -> "ts, 'yyyy-MM-dd'",
    "PARSE_DATE" -> "'2024-03-01', 'yyyy-MM-dd'",
    "FORMAT_DATE" -> "DATE '2024-03-01', 'dd/MM/yyyy'",
    "FROM_DAYS" -> "19783",
    "STRINGTOTIMESTAMP" -> "'2024-01-01 02:00', 'yyyy-MM-dd HH:mm', 'UTC+02:00'",
    "TIMESTAMPTOSTRING" -> "rowtime, 'yyyy-MM-dd HH:mm:ss'",
    "FROM_UNIXTIME" -> "rowtime",
    "UNIX_TIMESTAMP" -> "ts",
    "PARSE_TIMESTAMP" -> "'2024-06-01 12:00', 'yyyy-MM-dd HH:mm', 'Europe/Paris'",
    "FORMAT_TIMESTAMP" -> "ts, 'yyyy-MM-dd HH:mm', 'Europe/Paris'",
    "DATEADD" -> "'DAYS', 10, DATE '2024-03-01'",
    "DATESUB" -> "'DAYS', 1, DATE '2024-01-01'",
    "TIMESTAMPADD" -> "'HOURS', 2, ts",
    "TIMESTAMPSUB" -> "'MINUTES', 30, ts",
    "PARSE_TIME" -> "'09:05:30', 'HH:mm:ss'",
    "FORMAT_TIME" -> "to_time('09:05:30', 'HH:mm:ss'), 'HH:mm'",
    "TIMEADD" -> "'MINUTES', 90, to_time('23:30:00', 'HH:mm:ss')",
    "TIMESUB" -> "'HOURS', 2, to_time('01:00:00', 'HH:mm:ss')",
    "ARRAYCONTAINS" -> "arr, 2", "ARRAY_LENGTH" -> "arr",
    "GENERATE_SERIES" -> "1, n", "MAP_UNION" -> "mp, map('z', 9)",
    "AS_MAP" -> "array('a', 'b'), array(1, 2)",
    "TRANSFORM" -> "arr, x => x + 1",
    "ARRAY_SORT" -> "arr, 'DESC'",
    "ARRAY_CONCAT" -> "arr, CAST(NULL AS ARRAY<INT>)",
    "TOPK" -> "n, 2", "TOPKDISTINCT" -> "n, 2",
    "SLICE" -> "arr, 2, 3",
    "ENTRIES" -> "mp, true",
    "HISTOGRAM" -> "s", "COUNT_DISTINCT" -> "s",
    "LATEST_BY_OFFSET" -> "n", "EARLIEST_BY_OFFSET" -> "n, 2",
    "CORRELATION" -> "d, n",
    "EXTRACTJSONFIELD" -> "js, '$.a'", "JSON_KEYS" -> "js",
    "TO_JSON_STRING" -> "mp", "JSON_CONCAT" -> "js, '{\"c\": 3}'",
    "JSON_RECORDS" -> "js", "JSON_ITEMS" -> "ja",
    "JSON_ARRAY_CONTAINS" -> "ja, 2", "IS_JSON_STRING" -> "js",
    "ENCODE" -> "s, 'utf8', 'hex'", "TO_BYTES" -> "'5A', 'hex'",
    "FROM_BYTES" -> "unhex('5A'), 'hex'", "AS_VALUE" -> "id")

  private def builderRows = KsqlFunctions.table.filter(_.builder.isDefined)

  private def viaDialect(call: String): Seq[String] = {
    val cat: Translator.Catalog = Map("src" -> Translator.Source(src, "ts"))
    val (_, Some(df)) = Translator.run(spark, cat,
      s"SELECT $call AS v FROM src"): @unchecked
    strings(df)
  }
  private def viaSql(call: String): Seq[String] = {
    src.createOrReplaceTempView("ksql_fn_src")
    strings(spark.sql(s"SELECT ${call.replace("=>", "->")} AS v FROM ksql_fn_src"))
  }
  private def strings(df: DataFrame): Seq[String] =
    df.selectExpr("CAST(v AS STRING)").collect()
      .map(r => Option(r.getString(0)).getOrElse("<null>")).toSeq.sorted

  test("every table row is listed by SHOW FUNCTIONS and described by DESCRIBE FUNCTION") {
    val (_, Some(fns)) = Translator.run(spark, Map.empty, "SHOW FUNCTIONS"): @unchecked
    val listed = fns.collect().map(_.getString(0)).toSet
    (GraftExtensions.natives ++ KsqlFunctions.table).foreach { f =>
      assert(listed.contains(f.name.toUpperCase), f.name)
      val (_, Some(d)) = Translator.run(spark, Map.empty,
        s"DESCRIBE FUNCTION ${f.name}"): @unchecked
      val row = d.head
      assert(row.getAs[String]("kind") == f.kind, f.name)
      assert(row.getAs[String]("usage").nonEmpty, f.name)
    }
  }

  test("every builder row evaluates the same through plain spark.sql " +
    "(ksql_<name>, and the bare name where registered) as through the dialect") {
    GraftExtensions.register(spark)
    assert(builderRows.map(_.name).toSet == samples.keySet,
      "one sample call per builder row")
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).toSet
    var bare = 0
    builderRows.foreach { f =>
      val args = samples(f.name)
      val want = viaDialect(s"${f.name}($args)")
      assert(want.nonEmpty, f.name)
      assert(viaSql(s"${KsqlFunctions.sqlName(f)}($args)") == want, f.name)
      val name = f.name.toLowerCase
      if (registered.contains(name) && !org.apache.spark.sql.catalyst.analysis
          .FunctionRegistry.builtin.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier(name))) {
        bare += 1
        assert(viaSql(s"$name($args)") == want, s"bare $name")
      }
    }
    assert(bare > 0)
  }

  test("registering graft leaves Spark's own functions of the same names alone") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT mask('Ab1.') AS m, slice(array(1, 2, 3, 4), 2, 2) AS sl,
        |  split('a.b', '.') AS sp, hex(encode('hi', 'UTF-8')) AS en,
        |  array_sort(array(3, 1, 2)) AS so,
        |  array_sort(array(3, 1, 2), (l, r) -> r - l) AS sd,
        |  unix_timestamp(TIMESTAMP '2024-01-01 00:00:00') AS ut,
        |  from_unixtime(0) AS fu,
        |  transform(array(1, 2), x -> x * 10) AS tr""".stripMargin).head
    assert(r.getAs[String]("m") == "Xxn.")
    assert(r.getSeq[Int](1) == Seq(2, 3))        // (start, length)
    assert(r.getSeq[String](2) == Seq("", "", "", "")) // a regex split
    assert(r.getAs[String]("en") == "6869")
    assert(r.getSeq[Int](4) == Seq(1, 2, 3))
    assert(r.getSeq[Int](5) == Seq(3, 2, 1))
    assert(r.getAs[Long]("ut") == 1704067200L)   // seconds, not millis
    assert(r.getAs[String]("fu") == "1970-01-01 00:00:00")
    assert(r.getSeq[Int](8) == Seq(10, 20))
  }

  test("SPLIT splits on the literal delimiter; REGEXP_SPLIT_TO_ARRAY on a regex") {
    val cat: Translator.Catalog = Map("src" -> Translator.Source(src, "ts"))
    val (_, Some(df)) = Translator.run(spark, cat,
      """SELECT SPLIT('a.b', '.') AS lit, SPLIT('a|b', '|') AS bar,
        |  SPLIT(s, SUBSTRING(s, 2, 1)) AS bycol, SPLIT('ab', '') AS chars,
        |  REGEXP_SPLIT_TO_ARRAY('a1b22c', '[0-9]+') AS re
        |FROM src WHERE id = 1""".stripMargin): @unchecked
    val r = df.head
    assert(r.getSeq[String](0) == Seq("a", "b"))
    assert(r.getSeq[String](1) == Seq("a", "b"))
    assert(r.getSeq[String](2) == Seq("a", "b"))   // the delimiter is a column
    assert(r.getSeq[String](3) == Seq("a", "b"))
    assert(r.getSeq[String](4) == Seq("a", "b", "c"))
  }

  test("COUNT_DISTINCT(x) is count(DISTINCT x)") {
    val cat: Translator.Catalog = Map("events" ->
      Translator.Source(Tables.events(spark, sfDir), "ts"))
    val (_, Some(df)) = Translator.run(spark, cat,
      """SELECT user_id, COUNT_DISTINCT(event_type) AS n FROM events
        |GROUP BY user_id""".stripMargin): @unchecked
    val want = Tables.events(spark, sfDir).groupBy("user_id")
      .agg(org.apache.spark.sql.functions.countDistinct("event_type").as("n"))
    assert(df.count() > 0)
    assert(df.exceptAll(want).count() == 0 && want.exceptAll(df).count() == 0)
  }
}
