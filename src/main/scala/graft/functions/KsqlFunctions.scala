package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, CreateNamedStruct, EqualTo, Expression, LambdaFunction, Literal, TimestampAdd, TransformKeys, TransformValues, UnresolvedNamedLambdaVariable}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{BooleanType, IntegerType, StringType}

/** ksqlDB's function library, defined once: one row per call-shaped
  * ksqlDB function, each a `Seq[Expression] => Expression` builder over
  * built-in Catalyst expressions (no UDF, so whole-stage codegen is
  * what Spark's own functions get).
  *
  * Every reader goes through this table: `GraftExtensions.register`
  * installs the builders as SQL functions (`ksql_<name>`, plus the bare
  * name where Spark has no function of that name), the dialect's
  * rewriter renames `NAME(` to `ksql_<name>(`, DESCRIBE/SHOW FUNCTIONS
  * list the rows, and [[call]] applies a row to DataFrame Columns.
  *
  * Most builders are Spark SQL templates over placeholders `_1`…`_n`,
  * parsed once by Spark's parser; a call substitutes its argument trees
  * for the placeholders. Arguments that pick the form (encodings, sort
  * direction, time units, the N of LATEST_BY_OFFSET) must be literals.
  */
object KsqlFunctions {
  type Builder = Seq[Expression] => Expression

  /** One function of graft's SQL surface. `kind` is what DESCRIBE
    * FUNCTION reports; `builder = None` documents a name Spark already
    * serves with ksqlDB's meaning. `timeUnitArg`: the first argument is
    * a bare ksqlDB TimeUnit (DAYS, HOURS, …), which the dialect quotes. */
  final case class Fn(name: String, kind: String, usage: String,
                      builder: Option[Builder], timeUnitArg: Boolean = false)

  private def fail(msg: String): Nothing = throw new IllegalArgumentException(msg)

  /** A Spark SQL template over `_1`…`_n`, parsed once. (The parser
    * reads every name inside a lambda body as a lambda variable.) */
  private def sql(template: String): Builder = {
    val tree = CatalystSqlParser.parseExpression(template)
    def slot(p: String) = if (p.matches("_\\d+")) Some(p.tail.toInt - 1) else None
    args => tree.transformUp {
      case UnresolvedAttribute(Seq(p)) if slot(p).isDefined => args(slot(p).get)
      case UnresolvedNamedLambdaVariable(Seq(p)) if slot(p).isDefined => args(slot(p).get)
    }
  }

  private def arity(name: String, args: Seq[Expression], ns: Int*): Unit =
    if (!ns.contains(args.length)) fail(
      s"$name expects ${ns.mkString(" or ")} arguments, got ${args.length}")

  /** A fixed-arity template function. */
  private def expansion(name: String, usage: String, template: String): Fn = {
    val b = sql(template)
    val n = "_(\\d+)".r.findAllMatchIn(template).map(_.group(1).toInt).max
    Fn(name, "expansion", usage, Some { args => arity(name, args, n); b(args) })
  }
  /** A function whose form depends on its arguments. */
  private def builder(name: String, usage: String, timeUnitArg: Boolean = false)
                     (b: Builder): Fn =
    Fn(name, "expansion", usage, Some(b), timeUnitArg)
  /** A call of the session's function `name`, resolved by the analyzer. */
  private def spark(name: String, args: Seq[Expression]): Expression =
    UnresolvedFunction(name, args, isDistinct = false)
  /** A ksqlDB name for a Spark function with another name. */
  private def rename(name: String, to: String): Fn =
    Fn(name, "rename", s"maps to Spark `$to`", Some(args => spark(to, args)))
  /** A ksqlDB name Spark already serves under the same or an alias name. */
  private def served(name: String, kind: String, usage: String): Fn =
    Fn(name, kind, usage, None)

  private def stringLit(name: String, e: Expression): String = e match {
    case Literal(v, _: StringType) if v != null => v.toString
    case other => fail(s"$name: ${other.sql} must be a string literal")
  }
  private def encoding(name: String, e: Expression): String = e match {
    case Literal(v, _: StringType) if v != null =>
      v.toString.toLowerCase(java.util.Locale.ROOT)
    case other => fail(s"$name encodings must be string literals, got: ${other.sql}")
  }
  /** Spark's own function `name`, built now: a call with lambda
    * arguments must build a higher-order function. */
  private def builtin(name: String, args: Seq[Expression]): Expression =
    FunctionRegistry.builtin.lookupFunction(FunctionIdentifier(name), args)

  // ---- MASK family: upper→X, lower→x, digit→n, other→- -----------------
  private def maskChain(inner: String): String =
    s"regexp_replace(regexp_replace(regexp_replace(regexp_replace(" +
      s"$inner,'[^A-Za-z0-9]','-'),'[A-Z]','X'),'[a-z]','x'),'[0-9]','n')"

  // ---- bytes: ENCODE, TO_BYTES and FROM_BYTES share one encoding table;
  // hex renders lowercase, ascii replaces non-ASCII chars with '?' ------
  private val toBytes: Map[String, Builder] = Map(
    "utf8" -> sql("encode(_1, 'UTF-8')"), "ascii" -> sql("encode(_1, 'US-ASCII')"),
    "hex" -> sql("unhex(_1)"), "base64" -> sql("unbase64(_1)"))
  private val fromBytes: Map[String, Builder] = Map(
    "utf8" -> sql("decode(_1, 'UTF-8')"), "ascii" -> sql("decode(_1, 'US-ASCII')"),
    "hex" -> sql("lower(hex(_1))"), "base64" -> sql("base64(_1)"))
  private def bytesVia(name: String, table: Map[String, Builder],
                       enc: Expression, x: Expression): Expression = {
    val e = encoding(name, enc)
    table.getOrElse(e, fail(s"$name: unsupported encoding '$e'"))(Seq(x))
  }

  // ---- time: ksqlDB works in epoch millis and plural TimeUnits --------
  // The tz forms go through TIMESTAMP_NTZ + convert_timezone + epoch
  // arithmetic, so the result does not depend on
  // spark.sql.session.timeZone; the no-tz forms use the session zone,
  // which is the server's default zone as in ksqlDB.
  private val ntzEpoch = "timestamp_ntz'1970-01-01 00:00:00'"
  private def timeUnit(name: String, e: Expression): String = {
    val u = stringLit(name, e).toUpperCase(java.util.Locale.ROOT)
    Map("MILLISECONDS" -> "MILLISECOND", "SECONDS" -> "SECOND",
      "MINUTES" -> "MINUTE", "HOURS" -> "HOUR", "DAYS" -> "DAY",
      "WEEKS" -> "WEEK", "MONTHS" -> "MONTH", "YEARS" -> "YEAR").getOrElse(u, u)
  }
  private val negated = sql("-(_1)")
  private val asTimestamp = sql("CAST(_1 AS TIMESTAMP)")
  private val asDate = sql("CAST(_1 AS DATE)")
  /** DATEADD/DATESUB/TIMESTAMPADD/TIMESTAMPSUB(unit, n, x). */
  private def addUnits(name: String, negate: Boolean, date: Boolean): Fn =
    builder(name, s"$name(unit, n, ${if (date) "date" else "ts"}) - " +
      s"${if (negate) "subtract n units from" else "add n units to"} " +
      s"a ${if (date) "date" else "timestamp"}", timeUnitArg = true) { args =>
      arity(name, args, 3)
      val n = if (negate) negated(Seq(args(1))) else args(1)
      if (!date) TimestampAdd(timeUnit(name, args.head), n, args(2))
      else asDate(Seq(TimestampAdd(timeUnit(name, args.head), n,
        asTimestamp(Seq(args(2))))))
    }
  // ksqlDB's TIMEADD is LocalTime.plus, which wraps at midnight. Spark
  // 4.1's TIME + INTERVAL throws past midnight and has no timestamp→TIME
  // cast, so shift an epoch-date NTZ anchor and re-parse the rendered
  // time of day: the date part absorbs the overflow, which is the wrap.
  private val timeAnchor = sql("make_timestamp_ntz(date'1970-01-01', _1)")
  private val timeOfDay =
    sql("to_time(date_format(_1, 'HH:mm:ss.SSSSSS'), 'HH:mm:ss.SSSSSS')")
  private def addTime(name: String, negate: Boolean): Fn =
    builder(name, s"$name(unit, n, time) - " +
      s"${if (negate) "subtract n units from" else "add n units to"} " +
      "a time (wraps at midnight)", timeUnitArg = true) { args =>
      arity(name, args, 3)
      val n = if (negate) negated(Seq(args(1))) else args(1)
      timeOfDay(Seq(TimestampAdd(timeUnit(name, args.head), n,
        timeAnchor(Seq(args(2))))))
    }

  // ---- offset-ordered aggregates ----------------------------------------
  // ROWTIME (source event time, epoch millis) is the offset proxy: the
  // dialect materializes it for statements that call these. The N-form
  // returns the N latest/earliest values in ascending offset order, as
  // indexed filters over one sorted collect_list.
  private val byOffset = "transform(array_sort(collect_list(" +
    "struct(ROWTIME AS o, _1 AS v))), p -> p.v)"
  private def byOffsetFn(name: String, latest: Boolean): Fn = {
    val pick = sql(if (latest) "max_by(_1, _2)" else "min_by(_1, _2)")
    val lastN = sql(
      if (latest) s"filter($byOffset, (x, i) -> i >= size($byOffset) - _2)"
      else s"filter($byOffset, (x, i) -> i < _2)")
    builder(name, s"$name(x[, n]) - the ${if (latest) "latest" else "earliest"} " +
      "value by offset (ROWTIME); with an integer n, the n " +
      s"${if (latest) "latest" else "earliest"} values in offset order") {
      case Seq(x) => pick(Seq(x, UnresolvedAttribute("ROWTIME")))
      case args @ Seq(_, Literal(n: Int, IntegerType)) if n >= 0 => lastN(args)
      case args => arity(name, args, 1, 2); pick(args)
    }
  }

  /** ksqlDB's map TRANSFORM(map, (k, v) => key, (k, v) => value): both
    * lambdas see the ORIGINAL entry. The values pass carries the
    * original value beside the new one, so the keys pass still reads it;
    * a last pass drops it. Every pass is a higher-order function, as the
    * analyzer requires of a call with lambda arguments. */
  private def transformMap(m: Expression, keyFn: Expression,
                           valueFn: Expression): Expression = {
    def lambda2(slot: String, e: Expression): LambdaFunction = e match {
      case l: LambdaFunction if l.arguments.length == 2 => l
      case other => fail(s"TRANSFORM(map, keyLambda, valueLambda): $slot " +
        s"must be a 2-argument lambda `(k, v) => expr`, got: ${other.sql}")
    }
    val kl = lambda2("keyLambda", keyFn)
    val vl = lambda2("valueLambda", valueFn)
    val carried = TransformValues(m, LambdaFunction(CreateNamedStruct(Seq(
      Literal("o"), vl.arguments(1), Literal("n"), vl.function)), vl.arguments))
    val vName = kl.arguments(1).name
    val keyBody = kl.function.transformUp {
      case UnresolvedNamedLambdaVariable(h +: rest) if h.equalsIgnoreCase(vName) =>
        UnresolvedNamedLambdaVariable(h +: "o" +: rest)
    }
    val k = UnresolvedNamedLambdaVariable(Seq("__k"))
    val v = UnresolvedNamedLambdaVariable(Seq("__v"))
    TransformValues(TransformKeys(carried, LambdaFunction(keyBody, kl.arguments)),
      LambdaFunction(UnresolvedNamedLambdaVariable(Seq("__v", "n")), Seq(k, v)))
  }

  /** SPLIT splits on the literal delimiter. A literal without regex
    * metacharacters is already its own pattern (and takes Spark's
    * single-char fast path); others are quoted. */
  private val quoteDelimiter = sql(
    """concat('\\Q', replace(_1, '\\E', '\\E\\\\E\\Q'), '\\E')""")
  private def literalSplit(args: Seq[Expression]): Expression = {
    arity("SPLIT", args, 2)
    val pattern = args(1) match {
      case Literal(v, _: StringType) if v != null =>
        val d = v.toString
        Literal(if (d.exists("\\^$.|?*+()[]{}".contains(_)))
          java.util.regex.Pattern.quote(d) else d)
      case d => quoteDelimiter(Seq(d))
    }
    spark("split", Seq(args.head, pattern))
  }

  val table: Seq[Fn] = Seq(
    // ---- strings -------------------------------------------------------
    served("UCASE", "rename", "maps to Spark `upper`"),
    served("LCASE", "rename", "maps to Spark `lower`"),
    served("LEN", "rename", "maps to Spark `length`"),
    served("IFNULL", "rename", "maps to Spark `coalesce`"),
    builder("SPLIT", "SPLIT(str, delim) - split on the literal delimiter")(literalSplit),
    rename("REGEXP_SPLIT_TO_ARRAY", "split"),
    rename("SPLIT_TO_MAP", "str_to_map"),
    expansion("MASK", "MASK(str) - mask letters/digits (X/x/n, other → -)",
      maskChain("_1")),
    expansion("MASK_LEFT", "MASK_LEFT(str, n) - mask the first n chars",
      s"concat(${maskChain("substring(_1, 1, _2)")}, " +
        "substring(_1, _2 + 1, greatest(length(_1) - _2, 0)))"),
    expansion("MASK_RIGHT", "MASK_RIGHT(str, n) - mask the last n chars",
      s"if(length(_1) <= _2, ${maskChain("_1")}, " +
        "concat(substring(_1, 1, length(_1) - _2), " +
        s"${maskChain("substring(_1, length(_1) - _2 + 1, _2)")}))"),
    expansion("MASK_KEEP_LEFT", "MASK_KEEP_LEFT(str, n) - mask all but the first n",
      "concat(substring(_1, 1, _2), " +
        s"${maskChain("substring(_1, _2 + 1, greatest(length(_1) - _2, 0))")})"),
    expansion("MASK_KEEP_RIGHT", "MASK_KEEP_RIGHT(str, n) - mask all but the last n",
      "if(length(_1) <= _2, _1, " +
        s"concat(${maskChain("substring(_1, 1, length(_1) - _2)")}, " +
        "substring(_1, length(_1) - _2 + 1, _2)))"),
    builder("FIELD", "FIELD(x, v1, ...) - 1-based index of x in the list, 0 if absent") {
      args =>
        if (args.length < 2) fail(
          s"FIELD expects (expr, v1, …), got ${args.length} arguments")
        CaseWhen(args.tail.zipWithIndex.map { case (v, i) =>
          (EqualTo(args.head, v): Expression, Literal(i + 1): Expression) },
          Some(Literal(0)))
    },
    // ---- URLs ------------------------------------------------------------
    expansion("URL_EXTRACT_HOST", "URL_EXTRACT_HOST(url) - host part",
      "parse_url(_1, 'HOST')"),
    expansion("URL_EXTRACT_PATH", "URL_EXTRACT_PATH(url) - path part",
      "parse_url(_1, 'PATH')"),
    expansion("URL_EXTRACT_PROTOCOL", "URL_EXTRACT_PROTOCOL(url) - scheme",
      "parse_url(_1, 'PROTOCOL')"),
    expansion("URL_EXTRACT_QUERY", "URL_EXTRACT_QUERY(url) - query string",
      "parse_url(_1, 'QUERY')"),
    expansion("URL_EXTRACT_FRAGMENT", "URL_EXTRACT_FRAGMENT(url) - fragment",
      "parse_url(_1, 'REF')"),
    // digits after the authority's last ':'; NULL when there is none
    expansion("URL_EXTRACT_PORT", "URL_EXTRACT_PORT(url) - port or NULL",
      "cast(nullif(regexp_extract(parse_url(_1, 'AUTHORITY'), " +
        "':([0-9]+)$', 1), '') as int)"),
    expansion("URL_EXTRACT_PARAMETER",
      "URL_EXTRACT_PARAMETER(url, name) - query param value",
      "parse_url(_1, 'QUERY', _2)"),
    expansion("URL_ENCODE_PARAM", "URL_ENCODE_PARAM(s) - urlencode", "url_encode(_1)"),
    expansion("URL_DECODE_PARAM", "URL_DECODE_PARAM(s) - urldecode", "url_decode(_1)"),
    // ---- math and geo --------------------------------------------------
    served("RANDOM", "rename", "maps to Spark `rand`"),
    served("POWER", "rename", "maps to Spark `pow`"),
    {
      def haversine(r: String) = sql(
        s"(2 * $r * asin(sqrt(least(pow(sin(radians(_3 - _1) / 2), 2) " +
          "+ cos(radians(_1)) * cos(radians(_3)) " +
          "* pow(sin(radians(_4 - _2) / 2), 2), 1.0))))")
      val (km, mi) = (haversine("6371.0"), haversine("3959.0"))
      builder("GEO_DISTANCE",
        "GEO_DISTANCE(lat1, lon1, lat2, lon2[, unit]) - haversine") { args =>
        if (args.length != 4 && args.length != 5) fail(
          s"GEO_DISTANCE expects (lat1, lon1, lat2, lon2[, unit]), got ${args.length} args")
        if (args.length == 5 && stringLit("GEO_DISTANCE", args(4))
            .toUpperCase(java.util.Locale.ROOT).contains("MI")) mi(args)
        else km(args)
      }
    },
    // ---- time ------------------------------------------------------------
    rename("STRINGTODATE", "to_date"),
    rename("DATETOSTRING", "date_format"),
    rename("PARSE_DATE", "to_date"),
    rename("FORMAT_DATE", "date_format"),
    rename("FROM_DAYS", "date_from_unix_date"),
    {
      val plain = sql("unix_millis(to_timestamp(_1))")
      val fmt = sql("unix_millis(to_timestamp(_1, _2))")
      val tz = sql(s"timestampdiff(MILLISECOND, $ntzEpoch, " +
        "convert_timezone(_3, 'UTC', to_timestamp_ntz(_1, _2)))")
      builder("STRINGTOTIMESTAMP",
        "STRINGTOTIMESTAMP(s[, fmt[, tz]]) - parse to epoch millis") { args =>
        if (args.isEmpty || args.length > 3) fail(
          s"STRINGTOTIMESTAMP expects (str[, fmt[, tz]]), got ${args.length} args")
        Seq(plain, fmt, tz)(args.length - 1)(args)
      }
    },
    {
      val plain = sql("date_format(timestamp_millis(_1), _2)")
      val tz = sql("date_format(convert_timezone('UTC', _3, " +
        s"timestampadd(MILLISECOND, _1, $ntzEpoch)), _2)")
      builder("TIMESTAMPTOSTRING",
        "TIMESTAMPTOSTRING(millis, fmt[, tz]) - format an instant") { args =>
        if (args.length < 2 || args.length > 3) fail(
          s"TIMESTAMPTOSTRING expects (millis, fmt[, tz]), got ${args.length} args")
        (if (args.length == 2) plain else tz)(args)
      }
    },
    expansion("FROM_UNIXTIME", "FROM_UNIXTIME(millis) - millis to TIMESTAMP",
      "timestamp_millis(_1)"),
    {
      val now = sql("unix_millis(current_timestamp())")
      val of = sql("unix_millis(_1)")
      builder("UNIX_TIMESTAMP", "UNIX_TIMESTAMP([ts]) - TIMESTAMP to epoch millis") {
        args =>
          if (args.length > 1) fail(
            s"UNIX_TIMESTAMP expects 0 or 1 arguments, got ${args.length}")
          (if (args.isEmpty) now else of)(args)
      }
    },
    {
      val plain = sql("to_timestamp(_1, _2)")
      val tz = sql(s"timestamp_millis(timestampdiff(MILLISECOND, $ntzEpoch, " +
        "convert_timezone(_3, 'UTC', to_timestamp_ntz(_1, _2))))")
      builder("PARSE_TIMESTAMP", "PARSE_TIMESTAMP(s, fmt[, tz]) - parse to TIMESTAMP") {
        args => arity("PARSE_TIMESTAMP", args, 2, 3)
          (if (args.length == 2) plain else tz)(args)
      }
    },
    {
      val plain = sql("date_format(_1, _2)")
      // instant → UTC wall clock (NTZ, via epoch millis: a TIMESTAMP→NTZ
      // cast would consult the session zone) → tz wall clock → format
      val tz = sql("date_format(convert_timezone('UTC', _3, " +
        s"timestampadd(MILLISECOND, unix_millis(_1), $ntzEpoch)), _2)")
      builder("FORMAT_TIMESTAMP", "FORMAT_TIMESTAMP(ts, fmt[, tz]) - render an instant") {
        args => arity("FORMAT_TIMESTAMP", args, 2, 3)
          (if (args.length == 2) plain else tz)(args)
      }
    },
    addUnits("DATEADD", negate = false, date = true),
    addUnits("DATESUB", negate = true, date = true),
    addUnits("TIMESTAMPADD", negate = false, date = false),
    addUnits("TIMESTAMPSUB", negate = true, date = false),
    // ksqlDB 0.20's TIME type on Spark 4.1's TIME (same pattern letters)
    rename("PARSE_TIME", "to_time"),
    expansion("FORMAT_TIME", "FORMAT_TIME(t, fmt) - render a time of day",
      "date_format(make_timestamp_ntz(date'1970-01-01', _1), _2)"),
    addTime("TIMEADD", negate = false),
    addTime("TIMESUB", negate = true),
    // ---- arrays, maps and lambdas ----------------------------------------
    rename("ARRAYCONTAINS", "array_contains"),
    rename("ARRAY_LENGTH", "size"),
    rename("GENERATE_SERIES", "sequence"),
    rename("MAP_UNION", "map_concat"),
    rename("AS_MAP", "map_from_arrays"),
    builder("TRANSFORM", "TRANSFORM(arr, x => e) / TRANSFORM(map, kLambda, vLambda)") {
      case Seq(m, k, v) => transformMap(m, k, v)
      case args => arity("TRANSFORM", args, 2, 3); builtin("transform", args)
    },
    served("FILTER", "spark builtin", "FILTER(arr, x => pred) - keep matching elements"),
    served("REDUCE", "spark builtin", "REDUCE(arr, init, (acc, x) => e) - left fold"),
    served("EXPLODE", "spark builtin", "EXPLODE(arr) - table function: one row per element"),
    // nulls sort last in both directions: sort_array puts them first, so
    // DESC reverses an ascending sort; a non-literal second argument is
    // Spark's own comparator lambda
    {
      val asc = sql("array_sort(_1)")
      val desc = sql("reverse(sort_array(_1))")
      builder("ARRAY_SORT", "ARRAY_SORT(arr[, 'ASC'|'DESC']) - sort, nulls last") {
        case Seq(a) => asc(Seq(a))
        case Seq(a, Literal(d, _: StringType)) if d != null &&
            d.toString.equalsIgnoreCase("DESC") => desc(Seq(a))
        case Seq(a, Literal(d, _: StringType)) if d != null &&
            d.toString.equalsIgnoreCase("ASC") => asc(Seq(a))
        case args => arity("ARRAY_SORT", args, 1, 2); builtin("array_sort", args)
      }
    },
    // ksqlDB's null contract: one NULL side returns the other
    expansion("ARRAY_CONCAT",
      "ARRAY_CONCAT(a, b) - concat; one NULL side returns the other",
      "(CASE WHEN (_1) IS NULL THEN (_2) WHEN (_2) IS NULL THEN (_1) " +
        "ELSE concat(_1, _2) END)"),
    // first-k as an indexed filter over the sorted collection
    expansion("TOPK", "TOPK(col, k) - k largest values per group",
      "filter(sort_array(collect_list(_1), false), (x, i) -> i < _2)"),
    expansion("TOPKDISTINCT", "TOPKDISTINCT(col, k) - k largest distinct values",
      "filter(sort_array(collect_set(_1), false), (x, i) -> i < _2)"),
    // SLICE is 1-based with an inclusive end; Spark's slice takes a length
    expansion("SLICE", "SLICE(arr, from, to) - 1-based inclusive subarray",
      "filter(_1, (x, i) -> i + 1 BETWEEN (_2) AND (_3))"),
    {
      val entries = "transform(map_entries(_1), " +
        "__e -> named_struct('K', __e.key, 'V', __e.value))"
      val (unsorted, sorted) = (sql(entries), sql(s"array_sort($entries)"))
      builder("ENTRIES",
        "ENTRIES(map, sorted) - ARRAY<STRUCT<K, V>>, sorted by K when true") {
        case Seq(m, Literal(s: Boolean, BooleanType)) =>
          (if (s) sorted else unsorted)(Seq(m))
        case args => arity("ENTRIES", args, 2); fail(
          s"ENTRIES(map, sorted): sorted must be a boolean literal, got: ${args(1).sql}")
      }
    },
    // ---- aggregates ------------------------------------------------------
    // HISTOGRAM: run-length encoding of the sorted collect_list — one
    // aggregate buffer, no duplicate-map-key hazard
    expansion("HISTOGRAM", "HISTOGRAM(col) - value → count map aggregate",
      """map_from_entries(aggregate(
        |  sort_array(collect_list(cast(_1 as string))),
        |  cast(array() as array<struct<k: string, v: bigint>>),
        |  (acc, e) -> if(size(acc) > 0 and element_at(acc, -1).k = e,
        |    transform(acc, (x, i) -> if(i = size(acc) - 1,
        |      named_struct('k', e, 'v', element_at(acc, -1).v + 1), x)),
        |    concat(acc, array(named_struct('k', e, 'v', cast(1 as bigint)))))))"""
        .stripMargin),
    builder("COUNT_DISTINCT", "COUNT_DISTINCT(x) - count(DISTINCT x)") { args =>
      arity("COUNT_DISTINCT", args, 1)
      UnresolvedFunction("count", args, isDistinct = true)
    },
    byOffsetFn("LATEST_BY_OFFSET", latest = true),
    byOffsetFn("EARLIEST_BY_OFFSET", latest = false),
    rename("CORRELATION", "corr"),
    // ---- JSON on Spark 4's VARIANT: nested values stay lossless -----------
    rename("EXTRACTJSONFIELD", "get_json_object"),
    rename("JSON_KEYS", "json_object_keys"),
    rename("TO_JSON_STRING", "to_json"),
    {
      val vmap = sql("from_json(_1, 'map<string,variant>')")
      builder("JSON_CONCAT", "JSON_CONCAT(a, b, ...) - merge JSON objects, later keys win") {
        args =>
          if (args.length < 2) fail(
            s"JSON_CONCAT expects at least 2 JSON strings, got ${args.length}")
          spark("to_json", Seq(spark("map_concat", args.map(a => vmap(Seq(a))))))
      }
    },
    expansion("JSON_RECORDS",
      "JSON_RECORDS(s) - top-level keys -> stringified values map",
      "map_from_entries(transform(map_entries(from_json(_1, 'map<string,variant>')), " +
        "e -> struct(e.key, to_json(e.value))))"),
    expansion("JSON_ITEMS",
      "JSON_ITEMS(s) - JSON array -> array of element JSON strings",
      "transform(from_json(_1, 'array<variant>'), x -> to_json(x))"),
    // the needle renders through to_json(array(v)) with the brackets
    // stripped: the serialization to_json(variant) gives the elements
    expansion("JSON_ARRAY_CONTAINS",
      "JSON_ARRAY_CONTAINS(s, v) - membership in a JSON array string",
      "array_contains(transform(from_json(_1, 'array<variant>'), " +
        "x -> to_json(x)), substring(to_json(array(_2)), 2, " +
        "length(to_json(array(_2))) - 2))"),
    expansion("IS_JSON_STRING", "IS_JSON_STRING(s) - true when s parses as JSON",
      "(try_parse_json(_1) IS NOT NULL)"),
    // ---- bytes -------------------------------------------------------------
    builder("ENCODE",
      "ENCODE(str, 'utf8'|'hex'|'base64'|'ascii', out) - re-encode") {
      case Seq(x, in, out) =>
        bytesVia("ENCODE", fromBytes, out, bytesVia("ENCODE", toBytes, in, x))
      case args => arity("ENCODE", args, 2, 3); spark("encode", args)
    },
    builder("TO_BYTES",
      "TO_BYTES(str, 'hex'|'base64'|'utf8'|'ascii') - string to bytes") { args =>
      arity("TO_BYTES", args, 2); bytesVia("TO_BYTES", toBytes, args(1), args.head)
    },
    builder("FROM_BYTES",
      "FROM_BYTES(bytes, 'hex'|'base64'|'utf8'|'ascii') - bytes to string") { args =>
      arity("FROM_BYTES", args, 2); bytesVia("FROM_BYTES", fromBytes, args(1), args.head)
    },
    // the key is a data column in graft's model, so AS_VALUE is identity
    builder("AS_VALUE", "AS_VALUE(keyCol) - copy the key column into the value schema") {
      args => arity("AS_VALUE", args, 1); args.head
    })

  private val byName: Map[String, Fn] = table.map(f => f.name -> f).toMap

  /** The row the dialect rewrites `name(` to: one with a builder. */
  def dialectFunction(name: String): Option[Fn] =
    byName.get(name.toUpperCase(java.util.Locale.ROOT)).filter(_.builder.isDefined)

  /** The SQL name every builder row is registered under. */
  def sqlName(f: Fn): String = "ksql_" + f.name.toLowerCase(java.util.Locale.ROOT)

  /** A table row applied to DataFrame Columns: `call("MASK_LEFT", c, lit(3))`. */
  def call(name: String, args: Column*): Column = {
    val b = dialectFunction(name).flatMap(_.builder).getOrElse(
      fail(s"no ksqlDB function builder named $name"))
    ColumnBridge.column(b(args.map(ColumnBridge.converted)))
  }
}
