package graft.ksql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.KsqlFunctions

/** Translates the KSQL AST onto Spark.
  *
  * Design: expression text passes through Spark SQL's own parser after
  * a syntax-only rewrite (rewriteExpr); ksqlDB functions are Catalyst
  * builders (graft.functions.KsqlFunctions) the analyzer resolves like
  * Spark's own; statement structure (windows,
  * WITHIN joins, PARTITION BY, EMIT CHANGES) is rebuilt as DataFrame
  * algebra — windows become `window()`/`session_window()` groupings, so a
  * translated continuous query plans EXACTLY like the hand-written
  * operators in graft.operators (same Catalyst plan, same scale posture).
  *
  * `Catalog` supplies sources: name → (DataFrame, event-time column).
  * Batch DataFrames give instant materialization (and oracle testing);
  * streaming DataFrames make the same translation a continuous query.
  */
object Translator {

  final case class Source(df: DataFrame, timeColumn: String,
                          watermark: String = "10 minutes",
                          key: Option[String] = None,
                          isTable: Boolean = false,
                          // CTAS-derived tables are table-shaped by
                          // construction (one row per key) — reads skip
                          // the snapshot compaction shuffle
                          compacted: Boolean = false)
  type Catalog = Map[String, Source]

  /** A TABLE read sees the changelog's COMPACTED snapshot — the latest
    * record per key in changelog order. The order column is the
    * declared TIMESTAMP: ksqlDB compacts by offset, and a topic dump's
    * offset order is the order column its file carries. One key-shuffle
    * `max_by` (KsqlTable.fromBatch); derived (CTAS) tables register
    * `compacted = true` and skip it; live changelogs pass through (the
    * caller owns streaming semantics). */
  private def tableSnapshot(src: Source): Source =
    if (!src.isTable || src.compacted || src.df.isStreaming) src
    else src.key.fold(src) { k =>
      val key = src.df.columns.find(_.equalsIgnoreCase(k)).getOrElse(
        throw new IllegalArgumentException(
          s"TABLE key '$k' is not a column of the source"))
      val ord = src.df.columns.find(_.equalsIgnoreCase(src.timeColumn))
        .getOrElse(throw new IllegalArgumentException(
          s"TABLE compaction orders by the TIMESTAMP column " +
            s"'${src.timeColumn}', which the source does not carry — " +
            "declare WITH (TIMESTAMP='col')"))
      src.copy(df = graft.streaming.KsqlTable.fromBatch(src.df, key, ord),
        compacted = true)
    }

  /** `alias.col` / `col` → Some(col); anything else (an expression) →
    * None. Table joins hit key COLUMNS, not expressions. */
  private def plainColumn(e: String): Option[String] = {
    val m = raw"(?i)^(?:[a-z_][a-z0-9_]*\.)?([a-z_][a-z0-9_]*)$$".r
    // the parser's expression scan spaces its tokens ("e . col") —
    // identifiers carry no whitespace, so stripping it is lossless here
    e.replaceAll("\\s", "") match { case m(c) => Some(c); case _ => None }
  }

  // Session-scoped KSQL CLI properties (SET / UNSET / SHOW PROPERTIES).
  // WeakHashMap so a stopped/dropped SparkSession doesn't stay pinned
  // for the JVM lifetime (a ConcurrentHashMap keyed by session would
  // leak every session ever SET against). All access goes through the
  // lock below; the returned TrieMap is itself concurrent.
  // Concurrency caveat: SET 'spark.*' applies to the SHARED session
  // conf, so a concurrent statement on the same session can observe the
  // new value mid-flight — same semantics as the KSQL CLI, where SET is
  // a session-global mutation, but worth knowing when Bench overlaps
  // statements on one session.
  private val sessionProps =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]()
  private def propsFor(spark: SparkSession) =
    sessionProps.synchronized {
      var m = sessionProps.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, String]
        sessionProps.put(spark, m)
      }
      m
    }

  // ksqlDB CLI variables (DEFINE / UNDEFINE / ${name} substitution) and
  // custom type aliases (CREATE TYPE) — same session-scoped weak-keyed
  // lifecycle as sessionProps
  private val sessionVars =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]()
  private def varsFor(spark: SparkSession) =
    sessionVars.synchronized {
      var m = sessionVars.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, String]
        sessionVars.put(spark, m)
      }
      m
    }
  private val sessionTypes =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, String]]()
  private def typesFor(spark: SparkSession) =
    sessionTypes.synchronized {
      var m = sessionTypes.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[String, String]
        sessionTypes.put(spark, m)
      }
      m
    }

  private val varRef = raw"\$$\{([A-Za-z_][A-Za-z0-9_]*)\}".r

  /** `${name}` → the session variable's value, everywhere in the
    * statement (string literals included — paths and topic names are
    * the CLI's primary use). An undefined reference is an error, not a
    * silent pass-through: the un-substituted text would otherwise fail
    * later inside Spark's parser with an opaque message. */
  private def substituteVars(spark: SparkSession, sql: String): String = {
    val vars = varsFor(spark)
    varRef.replaceAllIn(sql, m => {
      val v = vars.getOrElse(m.group(1), throw new IllegalArgumentException(
        s"undefined variable $${${m.group(1)}} — DEFINE it first"))
      java.util.regex.Matcher.quoteReplacement(v)
    })
  }

  /** Expand CREATE TYPE aliases inside a KSQL type string (top level or
    * nested in ARRAY<>/STRUCT<>), textually at word boundaries —
    * iterated so aliases may reference earlier aliases, with a bound
    * that turns definition cycles into a clear error. */
  private def resolveType(spark: SparkSession, t: String): String = {
    val types = typesFor(spark)
    var cur = t
    var rounds = 0
    var changed = true
    while (changed) {
      changed = false
      for ((name, defn) <- types) {
        val next = raw"(?i)\b${java.util.regex.Pattern.quote(name)}\b".r
          .replaceAllIn(cur, java.util.regex.Matcher.quoteReplacement(defn))
        if (next != cur) { cur = next; changed = true }
      }
      rounds += 1
      if (rounds > 16) throw new IllegalArgumentException(
        s"type alias expansion did not terminate for '$t' — cyclic CREATE TYPE definitions?")
    }
    cur
  }

  // Subquery predicates route through Spark's SQL parser with catalog
  // frames bound DIRECTLY into the parsed plan (sqlOverFrames below).
  // The counter keeps the generated outer-frame name unique so it can
  // never shadow a catalog source inside one statement's text.
  private val viewCounter = new java.util.concurrent.atomic.AtomicLong

  /** Parse `sqlText` with Spark's own SQL parser and bind every
    * unresolved relation — subquery-expression plans included — to the
    * given frames by lowercased name, then analyze. This used to route
    * through temp views (createOrReplaceTempView ×|catalog| + spark.sql
    * + dropTempView under a lock): session-global catalog state, and
    * FIVE CacheManager round-trips per translated subquery — each
    * create-or-replace and the drop call uncacheQuery, which serializes
    * against every concurrent persist/unpersist on the session.
    * Measured under the bench's 8-way overlap (graph queries churn
    * cache on the same session), those trips stalled 2-3 s — the whole
    * round-14 q_ksql_exists regression. Binding plans directly is pure
    * tree surgery: no shared state, no lock, no CacheManager, and
    * Catalyst's DeduplicateRelations still handles a frame appearing
    * on both sides of the correlation (same as it does for self-joins).
    */
  private def sqlOverFrames(spark: SparkSession, sqlText: String,
                            frames: Map[String, DataFrame]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias}
    def bind(plan: LogicalPlan): LogicalPlan = {
      val rels = plan.transformUp {
        case u: UnresolvedRelation =>
          frames.get(u.multipartIdentifier.mkString(".")
            .toLowerCase(java.util.Locale.ROOT)) match {
            case Some(f) => SubqueryAlias(u.multipartIdentifier.last,
              f.queryExecution.analyzed)
            case None => u
          }
      }
      rels.transformAllExpressions {
        case se: SubqueryExpression => se.withNewPlan(bind(se.plan))
      }
    }
    org.apache.spark.sql.graftbridge.DatasetBridge.ofRows(spark,
      bind(spark.sessionState.sqlParser.parsePlan(sqlText)))
  }

  // ---- artifact-directory probes, Hadoop FS API ----------------------
  // MV state artifacts live wherever the deployment's STATE_DIR points —
  // at 100 TB that is hdfs:// or s3a://, never the server's local disk.
  // The state build/read was always FS-agnostic Spark parquet, but the
  // round-14 probes (hasData, signature sidecars) went through
  // java.io.File and silently failed on any non-local scheme; these
  // helpers are the Hadoop-FS port (round-14 verdict #3), matching the
  // discipline SchemaRegistry and CommandLog already follow.
  private def fsPath(spark: org.apache.spark.sql.SparkSession,
                     dir: String): (org.apache.hadoop.fs.FileSystem,
                                    org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Does `dir` hold build output (part- files, or partition dirs when
    * `partitioned`)? False for a missing or empty directory. */
  private def dirHasData(spark: org.apache.spark.sql.SparkSession,
                         dir: String, partitioned: Boolean = false): Boolean = {
    val (fs, p) = fsPath(spark, dir)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      n.startsWith("part-") || (partitioned && n.contains("="))
    }
  }

  /** The signature sidecar next to an artifact, if present. */
  private def readSignature(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Option[String] = {
    val (fs, p) = fsPath(spark, dir)
    val sig = new org.apache.hadoop.fs.Path(p, "_graft_mv.signature")
    if (!fs.exists(sig)) None
    else {
      val buf = new Array[Byte](fs.getFileStatus(sig).getLen.toInt)
      val in = fs.open(sig)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  /** Write the signature sidecar: temp name + atomic rename (the
    * CommandLog snapshot discipline) — a reader never sees a torn file,
    * and a crash mid-write leaves only a dot-temp the next writer
    * overwrites. A crash BETWEEN the state build and this write leaves
    * populated-but-unsigned data, which the callers treat as an
    * INCOMPLETE build to redo — not a foreign artifact to refuse. */
  private def writeSignature(spark: org.apache.spark.sql.SparkSession,
                             dir: String, signature: String): Unit = {
    val (fs, p) = fsPath(spark, dir)
    val tmp = new org.apache.hadoop.fs.Path(p, "._graft_mv.signature.tmp")
    val out = fs.create(tmp, true)
    try out.write(signature.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new org.apache.hadoop.fs.Path(p, "_graft_mv.signature")
    if (fs.exists(dest)) fs.delete(dest, false)
    if (!fs.rename(tmp, dest)) throw new java.io.IOException(
      s"could not publish signature sidecar at $dest")
  }

  /** Hex SHA-256 — keeps the defining signature's hash inside a refresh
    * signature one line long whatever the CREATE's size. */
  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** The per-event contribution column for one registered aggregate —
    * what a LIVE stream row feeds the seeded fold: COUNT's non-null
    * witness (a literal for COUNT(*)), the argument expression for
    * SUM/MIN/MAX. Derived from the UNRESOLVED tree (a single aggregate
    * function call over the stream's columns), so the recipe re-resolves
    * against the live frame at query time like every MvView Column. */
  private def contributionOf(spark: SparkSession, aggText: String): Column = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedStar}
    spark.sessionState.sqlParser.parseExpression(aggText) match {
      case f: UnresolvedFunction if f.arguments.size == 1 =>
        f.arguments.head match {
          case _: UnresolvedStar => lit(1L)
          case child =>
            org.apache.spark.sql.graftbridge.ColumnBridge.column(child)
        }
      case other => throw new IllegalArgumentException(
        s"LIVE continuation needs plain single-argument aggregates " +
          s"(COUNT/SUM/MIN/MAX over one expression); '$aggText' " +
          s"(${other.nodeName}) is not")
    }
  }

  /** The dialect's expression syntax → Spark SQL text, in one
    * quote-aware scan. Functions are not expanded here: each ksqlDB
    * function is a Catalyst builder in graft.functions.KsqlFunctions, so
    * the only call rewrite renames a table function `NAME(` to the
    * `ksql_name(` it is registered under. The syntax rewrites:
    *  - lambdas `x => e` / `(a, b) => e` → Spark's `->` (`<=>` stays);
    *  - tight struct dereference `s->f` → `s.f`: an identifier, `]` or
    *    `)` right before the arrow and a field name right after, so a
    *    spaced lambda arrow `x -> e` stays a lambda;
    *  - `ARRAY[a, b]` → `array(a, b)`, `MAP(k := v, …)` → `map(k, v, …)`
    *    and `STRUCT(f := v, …)` → `named_struct('f', v, …)`; calls
    *    without `:=` are Spark's own and pass through;
    *  - subscripts `x[i]` → `try_element_at(x, i)`: ksqlDB indexes from
    *    1, counts a negative index from the end, and yields NULL for a
    *    missing index or map key (Spark's `[ ]` is 0-based and errors);
    *    subscripting a bare CASE…END needs parentheses;
    *  - bare `VARCHAR` → `STRING` (Spark's varchar needs a length);
    *  - the bare TimeUnit first argument of DATEADD & co. is quoted.
    * Single-quoted literals ('' escapes included) pass verbatim. The
    * output holds none of these forms, so a second pass is identity. */
  def rewriteExpr(e: String): String = new ExprScan(e).seq("", assign = false)

  private final class ExprScan(s: String) {
    private var i = 0
    private def at(k: Int, c: Char) = k >= 0 && k < s.length && s.charAt(k) == c
    private def isIdent(k: Int) =
      k >= 0 && k < s.length && (s.charAt(k).isLetterOrDigit || s.charAt(k) == '_')
    private def expect(c: Char): Unit =
      if (at(i, c)) i += 1
      else throw new IllegalArgumentException(s"unbalanced brackets, expected '$c' in: $s")

    /** Rewrite up to a depth-0 char of `stops` (or `:=` when `assign`),
      * which is left unconsumed, or to the end. */
    def seq(stops: String, assign: Boolean): String = {
      val out = new StringBuilder
      // output offset where the expression ending here starts, or -1
      // when no subscript can apply; `dotted`: the same, across a '.'
      var primary = -1
      var dotted = -1
      def atom(start: Int, text: String): Unit = {
        primary = if (dotted >= 0) dotted else start
        dotted = -1
        out.append(text)
      }
      def dot(): Unit = { dotted = primary; primary = -1; out.append('.') }
      def other(text: String): Unit = { primary = -1; dotted = -1; out.append(text) }
      while (i < s.length && !stops.contains(s.charAt(i)) &&
          !(assign && at(i, ':') && at(i + 1, '='))) {
        val c = s.charAt(i)
        val start = out.length
        if (c.isWhitespace) { out.append(c); i += 1 }
        else if (c == '\'') {
          val from = i
          i += 1
          while (i < s.length && !(at(i, '\'') && !at(i + 1, '\'')))
            i += (if (at(i, '\'')) 2 else 1)
          i = math.min(i + 1, s.length)
          other(s.substring(from, i))
        } else if (isIdent(i)) {
          val from = i
          while (isIdent(i)) i += 1
          val word = s.substring(from, i)
          var j = i
          while (j < s.length && s.charAt(j).isWhitespace) j += 1
          if (at(j, '(')) {
            val gap = s.substring(i, j)
            val qualified = dotted >= 0
            i = j + 1
            atom(start, call(word, gap, qualified))
          } else if (at(j, '[') && word.equalsIgnoreCase("ARRAY")) {
            i = j + 1
            val items = seq("]", assign = false)
            expect(']')
            atom(start, s"array($items)")
          } else atom(start, if (word.equalsIgnoreCase("VARCHAR")) "STRING" else word)
        } else if (c == '(') {
          i += 1
          val inner = seq(")", assign = false)
          expect(')')
          atom(start, s"($inner)")
        } else if (c == '[') {
          i += 1
          val inner = seq("]", assign = false)
          expect(']')
          if (primary < 0) other(s"[$inner]")
          else {
            val target = out.substring(primary).trim
            out.setLength(primary)
            // the subscripted call is itself a primary: chains nest
            atom(primary, s"try_element_at($target, ${inner.trim})")
          }
        } else if (c == '=' && at(i + 1, '>') && !at(i - 1, '<')) {
          i += 2; other("->")
        } else if (c == '-' && at(i + 1, '>') &&
            (isIdent(i - 1) || at(i - 1, ']') || at(i - 1, ')')) &&
            i + 2 < s.length && (s.charAt(i + 2).isLetter || s.charAt(i + 2) == '_')) {
          i += 2; dot()
        } else if (c == '.') { i += 1; dot() }
        else { i += 1; other(c.toString) }
      }
      out.toString
    }

    /** After `name(`: the arguments through `)`, and the call's text. */
    private def call(name: String, gap: String, qualified: Boolean): String = {
      val args = Seq.newBuilder[(String, Option[String])] // (arg, value after :=)
      var more = true
      while (more) {
        val key = seq(",)", assign = true)
        val value =
          if (at(i, ':')) { i += 2; Some(seq(",)", assign = false)) } else None
        args += key -> value
        if (at(i, ',')) i += 1 else { expect(')'); more = false }
      }
      val as = args.result()
      val verbatim = as.map { case (k, v) => k + v.fold("")(":=" + _) }
      val up = name.toUpperCase(java.util.Locale.ROOT)
      if ((up == "MAP" || up == "STRUCT") && as.exists(_._2.isDefined)) {
        val kvs = as.filterNot { case (k, v) => k.trim.isEmpty && v.isEmpty }.map {
          case (k, Some(v)) => (k.trim, v.trim)
          case (k, None) => throw new IllegalArgumentException(
            s"$name entry needs key := value, got: ${k.trim}")
        }
        if (up == "MAP") kvs.map { case (k, v) => s"$k, $v" }.mkString("map(", ", ", ")")
        else kvs.map { case (f, v) =>
          val field = if (f.startsWith("'")) f else s"'${f.replace("'", "''")}'"
          s"$field, $v"
        }.mkString("named_struct(", ", ", ")")
      } else KsqlFunctions.dialectFunction(name).filter(_ => !qualified) match {
        case Some(f) =>
          val unitQuoted = verbatim match {
            case u +: rest if f.timeUnitArg && u.trim.matches("[A-Za-z_][A-Za-z0-9_]*") =>
              s"'${u.trim}'" +: rest
            case other => other
          }
          s"${KsqlFunctions.sqlName(f)}$gap(${unitQuoted.mkString(",")})"
        case None => s"$name$gap(${verbatim.mkString(",")})"
      }
    }
  }

  /** The streaming output mode a statement's EMIT clause implies:
    * EMIT FINAL → Append (only closed windows, after the watermark
    * passes), everything else → Update (per-batch changelog). The
    * translator returns frames, not running queries — callers pass
    * this to their writeStream.
    */
  def outputModeFor(s: SelectStmt): org.apache.spark.sql.streaming.OutputMode =
    if (s.emitFinal) org.apache.spark.sql.streaming.OutputMode.Append()
    else org.apache.spark.sql.streaming.OutputMode.Update()

  private def windowStruct(w: WindowSpec, timeCol: Column): Column = w match {
    case Tumbling(ms, _, _) => window(timeCol, s"$ms milliseconds")
    case Hopping(ms, adv, _, _) => window(timeCol, s"$ms milliseconds", s"$adv milliseconds")
    case Session(gap, _, _) => session_window(timeCol, s"$gap milliseconds")
  }

  /** The event-time column of a statement's source chain: the named
    * source's, or (for a derived table) the innermost named source's. */
  def resolveTime(catalog: Catalog, s: SelectStmt): String = s.fromSub match {
    case Some(sub) => resolveTime(catalog, sub)
    case None => catalog.get(s.from.toLowerCase).map(_.timeColumn)
      .getOrElse("ts")
  }

  /** Materialize a SELECT statement as a DataFrame over the catalog. */
  /** Resolve a registered materialized view as a queryable source —
    * the ksqlDB TABLE surface (pull + push) over the MV machinery.
    *
    * PULL (no EMIT CHANGES): the view's own definition aggregate; the
    * transparent rewrite substitutes merge(state ∪ Δ) — an exact-match
    * rewrite by construction, so the pull query costs |state| + the
    * pushed delta scan, never a history rescan.
    *
    * PUSH (EMIT CHANGES): the ksqlDB table push query, closed end to
    * end — the SAME batch-served answer seeds a `transformWithState`
    * continuation of the view's LIVE-bound stream
    * (StreamingIncremental.seededViewAggregate), so a key's latest
    * emission always equals the batch answer over (base ∪ live-so-far)
    * and no topic is ever replayed. Bind-time refusals (loud, with
    * pointers) for the shapes the seeded fold doesn't carry: pair-set
    * DISTINCT views, windowed keys, multi-column keys, non-integral
    * serving columns. */
  private def viewSource(spark: SparkSession, catalog: Catalog,
      s: SelectStmt, v: graft.plans.MaterializedViews.MvView): Source = {
    if (v.sessionGap.isDefined) {
      // SESSION views serve BY NAME only: pull = interval repair of
      // state ∪ sessionized(Δ) (gaps-and-islands, touched-key pruned),
      // surfacing WINDOWSTART/WINDOWEND millis. PUSH (EMIT CHANGES, over
      // a LIVE binding) seeds a per-key INTERVAL store from the same
      // batch-served session set and repairs it per micro-batch — a
      // live event can EXTEND a stored session or BRIDGE two, so
      // emissions carry the key's FULL session set version-stamped
      // (`__ver`); readers keep each key's max-__ver emission.
      if (!s.emitChanges) return Source(
        graft.plans.MaterializedViews.sessionServe(spark, v), "windowstart")
      return sessionPushSource(spark, catalog, v)
    }
    graft.plans.MaterializedViews.install(spark)
    val defFrame = v.base(spark).groupBy(v.groupCols: _*)
      .agg(v.aggCols.head, v.aggCols.tail: _*)
    // a WINDOWED view's group output is the window STRUCT — surface the
    // dialect's WINDOWSTART/WINDOWEND millis pseudo-columns instead
    // (both pull and push; the struct never leaves this method)
    val winField = defFrame.schema.fields.find(f => f.dataType match {
      case st: org.apache.spark.sql.types.StructType =>
        st.fieldNames.sameElements(Array("start", "end"))
      case _ => false
    })
    if (!s.emitChanges) {
      val served = winField match {
        case Some(f) => defFrame
          .withColumn("windowstart", unix_millis(col(s"${f.name}.start")))
          .withColumn("windowend", unix_millis(col(s"${f.name}.end")))
          .drop(f.name)
        case None => defFrame
      }
      return Source(served, v.groupNames.headOption.getOrElse("windowstart"))
    }
    val liveName = v.liveSource.getOrElse(
      throw new IllegalArgumentException(
        s"materialized view ${v.name} has no LIVE stream bound — " +
          "CREATE ... WITH (LIVE='stream') enables the push form " +
          "(EMIT CHANGES); the pull form serves the current answer"))
    val live = catalog.getOrElse(liveName,
      throw new IllegalArgumentException(
        s"LIVE source '$liveName' of view ${v.name} is not in this " +
          "catalog — register the stream before push-querying the view"))
    if (!live.df.isStreaming) throw new IllegalArgumentException(
      s"LIVE source '$liveName' of view ${v.name} must be STREAMING")
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType)
    v.mergeAgg.map(_._1).foreach { n =>
      val dt = defFrame.schema(n).dataType
      if (!integral.contains(dt)) throw new IllegalArgumentException(
        s"view ${v.name}: serving column $n is $dt — the seeded fold " +
          "accumulates exactly in BIGINT; store integral (cents) partials")
    }
    import org.apache.spark.sql.catalyst.expressions.{Alias => CAlias}
    def bare(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      org.apache.spark.sql.graftbridge.ColumnBridge.expression(c) match {
        case CAlias(x, _) =>
          org.apache.spark.sql.graftbridge.ColumnBridge.column(x)
        case _ => c
      }
    // key parts: the (optional) PANE start in epoch millis + the plain
    // group keys. The pane part rides as a LONG column named
    // "windowstart" on the SEED side, and on the live side derives
    // from the stream's event time on the same floor-division grid
    // (negative-millis adjusted) the batch window() and the oracles
    // use; hopping fans each event to its size/advance panes FIRST, so
    // the replication multiplies the delta only.
    val (seed, delta, keyNames, keyExprs) = (winField, v.liveWindow) match {
      case (Some(f), Some((sizeMs, advMs))) =>
        val plainNames = v.groupNames.filterNot(_ == f.name)
        val plainCols = v.groupCols.zip(v.groupNames).collect {
          case (c, n) if n != f.name => bare(c)
        }
        val seed = defFrame
          .withColumn("windowstart", unix_millis(col(s"${f.name}.start")))
          .drop(f.name)
        val tsMs = unix_millis(col(live.timeColumn).cast("timestamp"))
        val panes = (sizeMs / advMs).toInt
        val paneExpr =
          if (panes == 1)
            ((tsMs - ((tsMs % advMs) + advMs) % advMs))
          else col("__graft_ws")
        val deltaBase = live.df.filter(col(live.timeColumn).isNotNull)
        val delta =
          if (panes == 1) deltaBase
          else deltaBase.withColumn("__graft_ws", explode(expr(
            s"transform(sequence(0, ${panes - 1}), i -> " +
              s"((unix_millis(CAST(${live.timeColumn} AS TIMESTAMP)) div $advMs) - " +
              s"(CASE WHEN unix_millis(CAST(${live.timeColumn} AS TIMESTAMP)) % $advMs < 0 " +
              s"THEN 1 ELSE 0 END)) * $advMs - i * $advMs)")))
        (seed, delta, "windowstart" +: plainNames, paneExpr +: plainCols)
      case (None, _) =>
        (defFrame, live.df, v.groupNames, v.groupCols.map(bare))
      case (Some(_), None) =>
        throw new IllegalArgumentException(
          s"view ${v.name} is windowed but carries no LIVE window grid " +
            "— re-CREATE it with the LIVE binding so the pane grid is " +
            "recorded")
    }
    keyNames.foreach { n =>
      val kt = seed.schema(n).dataType
      if (kt != org.apache.spark.sql.types.StringType && !integral(kt))
        throw new IllegalArgumentException(
          s"view ${v.name}: group key $n is $kt — the push form keys " +
            "the state store by string-encoded parts; use string or " +
            "integral keys")
    }
    ensureStatefulStoreProvider(spark)
    val folded = graft.streaming.StreamingIncremental.seededViewAggregate(
      delta, seed, keyNames, keyExprs, v.liveContribs,
      v.mergeAgg.map(_._2))
    val out = winField match {
      case Some(_) =>
        // surface WINDOWEND beside the pane start, like the pull form
        val sizeMs = v.liveWindow.get._1
        folded.select(col("windowstart") +:
          (col("windowstart") + lit(sizeMs)).as("windowend") +:
          folded.columns.filterNot(_ == "windowstart").toSeq.map(col): _*)
      case None => folded
    }
    Source(out, live.timeColumn)
  }

  /** The seeded push continuations run on transformWithState, which
    * needs a multi-column-family store — RocksDB is the in-tree one.
    * The conf is read at query START, so bind time is the right moment;
    * an operator's EXPLICIT non-HDFS provider choice is respected
    * (HDFSBacked cannot run these operators at all, so unset-or-
    * HDFSBacked both switch; get(key, "") yields the USER-SET value
    * only, never the registered HDFSBacked default). ONE shared helper:
    * the flat and session push paths must not drift (round-16 ADVICE —
    * the session copy had re-grown its own mutation). */
  private def ensureStatefulStoreProvider(spark: SparkSession): Unit = {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val current = spark.conf.get(providerKey, "")
    if (current.isEmpty || current.contains("HDFSBackedStateStoreProvider"))
      spark.conf.set(providerKey,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  /** The PUSH form of a SESSION view (EMIT CHANGES over its LIVE
    * binding): seed = the batch-served session set
    * (MaterializedViews.sessionServeIntervals — exactly what the named
    * pull projects), continued by
    * StreamingIncremental.seededSessionView's per-key interval repair.
    * Same bind-time refusals as the flat push (no LIVE binding, batch
    * LIVE source, non-integral serving columns, non-string/integral
    * keys) plus the same RocksDB store-provider selection. */
  private def sessionPushSource(spark: SparkSession, catalog: Catalog,
      v: graft.plans.MaterializedViews.MvView): Source = {
    val liveName = v.liveSource.getOrElse(
      throw new IllegalArgumentException(
        s"materialized view ${v.name} has no LIVE stream bound — " +
          "CREATE ... WITH (LIVE='stream') enables the push form " +
          "(EMIT CHANGES); the pull form serves the current answer"))
    val live = catalog.getOrElse(liveName,
      throw new IllegalArgumentException(
        s"LIVE source '$liveName' of view ${v.name} is not in this " +
          "catalog — register the stream before push-querying the view"))
    if (!live.df.isStreaming) throw new IllegalArgumentException(
      s"LIVE source '$liveName' of view ${v.name} must be STREAMING")
    val integral: Set[org.apache.spark.sql.types.DataType] = Set(
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.ByteType)
    val stateSchema =
      graft.plans.MaterializedViews.stateSchemaOf(spark, v.stateDir)
    v.mergeAgg.map(_._1).foreach { n =>
      val dt = stateSchema(n).dataType
      if (!integral.contains(dt)) throw new IllegalArgumentException(
        s"view ${v.name}: serving column $n is $dt — the seeded fold " +
          "accumulates exactly in BIGINT; store integral (cents) partials")
    }
    v.groupNames.foreach { n =>
      val kt = stateSchema(n).dataType
      if (kt != org.apache.spark.sql.types.StringType && !integral(kt))
        throw new IllegalArgumentException(
          s"view ${v.name}: group key $n is $kt — the push form keys " +
            "the state store by string-encoded parts; use string or " +
            "integral keys")
    }
    ensureStatefulStoreProvider(spark)
    val seed = graft.plans.MaterializedViews
      .sessionServeIntervals(spark, v)
    val tsExpr = unix_millis(col(live.timeColumn).cast("timestamp"))
    val folded = graft.streaming.StreamingIncremental.seededSessionView(
      live.df.filter(col(live.timeColumn).isNotNull), seed,
      v.sessionGap.get, v.groupNames, v.groupCols, tsExpr,
      v.liveContribs, v.mergeAgg.map(_._2))
    Source(folded, live.timeColumn)
  }

  /** CREATE MATERIALIZED VIEW … WINDOW SESSION (round 15): the state
    * artifact is one INTERVAL record per (keys, session) over `base
    * WHERE NOT delta` — keys…, __first_ms, __last_ms, per-aggregate
    * partials — and the view serves BY NAME (pull) via the
    * gaps-and-islands interval repair (MaterializedViews.sessionServe).
    * The transparent rewrite never fires on session views (a session is
    * not a function of one row's timestamp, so per-key partial merge is
    * unsound — buildView refuses session_window keys outright); LIVE
    * push is refused with the seededSessionize pointer. Same
    * single-writer, signed-artifact discipline as the flat CMV. */
  private def createSessionMv(spark: SparkSession, catalog: Catalog,
      mvName: String, sel: SelectStmt, sess: Session, stateDir: String,
      deltaText: String, props: Map[String, String])
    : (Catalog, Option[DataFrame]) = {
    if (sel.groupBy.isEmpty) throw new IllegalArgumentException(
      "a SESSION materialized view needs a plain GROUP BY key (the " +
        "touched-key repair prune is keyed)")
    if (sel.joins.nonEmpty) throw new IllegalArgumentException(
      "a SESSION materialized view registers over a single source — " +
        "enrich upstream (CSAS with a stream-table join) and register " +
        "the enriched stream")
    val src = catalog.getOrElse(sel.from.toLowerCase,
      throw new IllegalArgumentException(s"unknown source ${sel.from}"))
    val base = sel.where.fold(src.df)(w =>
      src.df.filter(expr(rewriteExpr(w))))
    val keyNames = sel.groupBy.map(_.trim)
    val keyTexts = keyNames.map(rewriteExpr).toSet
    val isWinPseudo = (e: String) => {
      val t = e.replaceAll("\\s", "").toLowerCase
      t == "windowstart" || t == "windowstart()" ||
        t == "windowend" || t == "windowend()"
    }
    val aggs = sel.columns.filterNot { case (e, _) =>
      keyTexts.contains(rewriteExpr(e)) || isWinPseudo(e)
    }.map { case (e, alias) =>
      val a = alias.getOrElse(throw new IllegalArgumentException(
        s"materialized-view aggregate '$e' needs an AS alias — the " +
          "state artifact's column names are the serving contract"))
      expr(rewriteExpr(e)).as(a)
    }
    if (aggs.isEmpty) throw new IllegalArgumentException(
      "CREATE MATERIALIZED VIEW needs at least one aggregate column")
    val deltaPred = expr(rewriteExpr(deltaText))
    // validate BEFORE writing, like the flat path: a rejected definition
    // must never leave an artifact in STATE_DIR
    val validated = graft.plans.MaterializedViews.validateSession(spark,
      mvName, _ => base, stateDir, deltaPred, src.timeColumn, sess.gapMs,
      keyNames, aggs)
    val signature = Seq(
      "src=" + sel.from.toLowerCase,
      "where=" + sel.where.map(rewriteExpr).getOrElse(""),
      "session=" + sess.gapMs + "ms@" + src.timeColumn,
      "keys=" + keyNames.mkString("|"),
      "aggs=" + aggs.map(_.toString).mkString("|"),
      "delta=" + rewriteExpr(deltaText)).mkString("\n")
    val onDisk = readSignature(spark, stateDir)
    if (dirHasData(spark, stateDir) && onDisk.isDefined) {
      if (onDisk.get != signature) throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW $mvName: STATE_DIR '$stateDir' " +
          "holds an artifact built under a DIFFERENT definition — " +
          "serving from it would violate state ⊎ delta = base; point " +
          "STATE_DIR at a fresh directory or re-issue the original " +
          "definition")
    } else {
      graft.plans.MaterializedViews.sessionStateFrame(spark, validated)
        .write.mode("overwrite").parquet(stateDir)
      writeSignature(spark, stateDir, signature)
    }
    // WITH (LIVE='stream'): the push form's continuation binding — per
    // live event, each registered aggregate's contribution (COUNT →
    // non-null witness, SUM/MIN/MAX → the argument), folded through the
    // interval repair at query time (sessionPushSource). A serving
    // binding, not a state contract — NOT part of the signature.
    val liveSource = props.get("LIVE").map(_.toLowerCase)
    val liveContribs: Seq[org.apache.spark.sql.Column] =
      if (liveSource.isEmpty) Nil
      else sel.columns.filterNot { case (e, _) =>
        keyTexts.contains(rewriteExpr(e)) || isWinPseudo(e)
      }.map { case (e, _) => contributionOf(spark, rewriteExpr(e)) }
    graft.plans.MaterializedViews.registerValidated(
      validated.copy(defSignature = Some(signature),
        liveSource = liveSource, liveContribs = liveContribs))
    // the transparent session rewrite (tryRewriteSession) serves plain
    // session_window aggregates from this view — install like the flat
    // CMV path does
    graft.plans.MaterializedViews.install(spark)
    (catalog, None)
  }

  /** Streaming TABLE-TABLE join through the dialect (ksqlDB 0.19+):
    * both sides are LIVE changelogs; the ON's right column must be the
    * right table's PRIMARY KEY, the left column is any column (the FK
    * form; the PK-PK form is the special case fk = left key). Routed to
    * StreamingJoins.fkTableJoin — ONE stateful operator keyed by the
    * right key (the subscription store: state is |left rows| + |right
    * keys|, every emission O(affected rows)) — by packing each side's
    * value columns as JSON for the operator's fixed tuple schema and
    * unpacking after (the generic adapter; the hand-shaped tuple form
    * stays the probe/perf path).
    *
    * Changelog contract, spec-pinned (FkDialectSpec):
    *  - offsets: each side's declared TIMESTAMP column cast to BIGINT
    *    (a topic dump's offset order is the order column its file
    *    carries) — last-write-wins per key folds in this order;
    *  - fk moves: the previous fk is read from a `prev_<fkcol>` column
    *    when the changelog carries one (what a compacted-topic consumer
    *    knows from its state store), else NULL — i.e. insert-only /
    *    fk-stable changelogs need no extra column, movers do;
    *  - right tombstones (deletes) are a programmatic-API surface
    *    (StreamingJoins.fkTableJoin directly) — a file-backed dialect
    *    changelog has no null-value record to express them.
    *
    * Output is the join CHANGELOG flattened back to named columns plus
    * `__deleted` / `__off`: materialize per left key by max __off,
    * non-deleted preferred on ties. INNER only; WHERE/HAVING refuse
    * (a retract row carries NULL values — a value filter would drop
    * retractions and resurrect deleted rows downstream). */
  private def streamingTableJoin(spark: SparkSession, catalog: Catalog,
      s: SelectStmt, left: Source): DataFrame = {
    if (s.joins.size > 1) throw new IllegalArgumentException(
      "streaming TABLE-TABLE joins serve one join per statement — " +
        "chain CREATE TABLE … AS statements")
    val j = s.joins.head
    val right = catalog(j.table.toLowerCase)
    if (j.joinType != "inner" && j.joinType != "left")
      throw new IllegalArgumentException(
        s"TABLE-TABLE joins are INNER or LEFT (ksqlDB 0.19) — " +
          s"${j.joinType.toUpperCase} has no subscription-store form")
    if (j.withinMs.isDefined) throw new IllegalArgumentException(
      "WITHIN is a stream-stream interval bound — both sides are TABLEs")
    if (s.where.isDefined || s.having.isDefined)
      throw new IllegalArgumentException(
        "WHERE/HAVING over a TABLE-TABLE join CHANGELOG would drop " +
          "retractions (a retract row carries NULL values) — filter " +
          "the source tables upstream")
    if (s.orderBy.nonEmpty || s.limit.isDefined)
      throw new IllegalArgumentException(
        "ORDER BY / LIMIT do not apply to a join changelog")
    if (s.partitionBy.isDefined) throw new IllegalArgumentException(
      "PARTITION BY cannot re-key a TABLE changelog (ksqlDB: PARTITION " +
        "BY is a STREAM operation — a table's state is keyed by its " +
        "PRIMARY KEY); re-key the STREAM side upstream, or derive a " +
        "new table with CREATE TABLE … AS GROUP BY <new key>")
    def actual(df: DataFrame, c: String, what: String): String =
      df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"$what column '$c' not found"))
    val lKey = actual(left.df, left.key.getOrElse(
      throw new IllegalArgumentException(
        s"TABLE ${s.from} needs WITH (KEY='col')")), "key")
    val fkCol = plainColumn(j.onLeft).map(actual(left.df, _, "join"))
      .getOrElse(throw new IllegalArgumentException(
        s"the FK side of a TABLE-TABLE join is a COLUMN — '${j.onLeft}' " +
          "is an expression; derive it upstream (CREATE TABLE … AS)"))
    val rKeyDecl = right.key.getOrElse(throw new IllegalArgumentException(
      s"TABLE ${j.table} needs WITH (KEY='col')"))
    val rKey = plainColumn(j.onRight).map(actual(right.df, _, "join"))
      .filter(_.equalsIgnoreCase(rKeyDecl))
      .getOrElse(throw new IllegalArgumentException(
        s"joins against TABLE ${j.table} hit its PRIMARY KEY " +
          s"($rKeyDecl) — ON names '${j.onRight}'"))
    // the subscription store keys on the column's STRING form —
    // injective for every atomic type (round 18: string-keyed tables,
    // ksqlDB's common VARCHAR ids, join without a BIGINT bound)
    def atomicKey(df: DataFrame, c: String): Unit =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.StringType => ()
        case t => throw new IllegalArgumentException(
          s"the subscription store keys on the column's string form — " +
            s"'$c' is ${t.simpleString}, which has no injective " +
            "rendering; CAST upstream")
      }
    atomicKey(left.df, lKey); atomicKey(left.df, fkCol)
    atomicKey(right.df, rKey)
    def offExpr(src: Source): Column = {
      val t = actual(src.df, src.timeColumn, "TIMESTAMP")
      src.df.schema(t).dataType match {
        case org.apache.spark.sql.types.TimestampType => unix_millis(col(t))
        case org.apache.spark.sql.types.TimestampNTZType =>
          unix_millis(col(t).cast("timestamp"))
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => col(t).cast("long")
        case dt => throw new IllegalArgumentException(
          s"changelog offset column '$t' must be a timestamp or " +
            s"integer — is ${dt.simpleString}")
      }
    }
    val prevCol = left.df.columns.find(_.equalsIgnoreCase(s"prev_$fkCol"))
    val lVals = left.df.columns.filterNot(c =>
      c.equalsIgnoreCase(lKey) || c.equalsIgnoreCase(fkCol) ||
        prevCol.exists(_.equalsIgnoreCase(c))).toIndexedSeq
    val rVals = right.df.columns.filterNot(_.equalsIgnoreCase(rKey)).toIndexedSeq
    val overlap = (Seq(lKey, fkCol) ++ lVals).map(_.toLowerCase).toSet
      .intersect(rVals.map(_.toLowerCase).toSet)
    if (overlap.nonEmpty) throw new IllegalArgumentException(
      s"both tables carry column(s) ${overlap.mkString(", ")} — alias " +
        "upstream; the flattened join changelog needs distinct names")
    val lStruct = org.apache.spark.sql.types.StructType(
      lVals.map(c => left.df.schema(c)))
    val rStruct = org.apache.spark.sql.types.StructType(
      rVals.map(c => right.df.schema(c)))
    val lChangelog = left.df.select(
      col(lKey).cast("string").as("l_pk"),
      col(fkCol).cast("string").as("fk"),
      prevCol.map(c => col(c).cast("string"))
        .getOrElse(lit(null).cast("string")).as("prev_fk"),
      to_json(struct(lVals.map(col): _*)).as("l_val"),
      offExpr(left).as("off"))
    val rChangelog = right.df.select(
      col(rKey).cast("string").as("pk"),
      to_json(struct(rVals.map(col): _*)).as("r_val"),
      offExpr(right).as("off"))
    val joined = graft.streaming.StreamingJoins
      .fkTableJoin(lChangelog, rChangelog, j.joinType)
    val data = joined.select(
      col("l_pk").cast(left.df.schema(lKey).dataType).as(lKey),
      col("fk").cast(left.df.schema(fkCol).dataType).as(fkCol),
      from_json(col("l_val"), lStruct).as("__l"),
      from_json(col("r_val"), rStruct).as("__r"),
      col("deleted").as("__deleted"), col("off").as("__off"))
      .select(Seq(col(lKey), col(fkCol)) ++
        lVals.map(c => col(s"__l.$c").as(c)) ++
        rVals.map(c => col(s"__r.$c").as(c)) ++
        Seq(col("__deleted"), col("__off")): _*)
    // projection: '*' keeps everything; an explicit list projects data
    // columns (unqualified names — the changelog is flattened) and
    // ALWAYS re-appends the changelog meta
    if (s.columns.forall(_._1.trim == "*")) data
    else data.select(s.columns.map { case (e, a) =>
      val c = expr(rewriteExpr(e)); a.fold(c)(c.as)
    } ++ Seq(col("__deleted"), col("__off")): _*)
  }

  /** Retraction-aware GROUP BY over a LIVE TABLE changelog — ksqlDB's
    * table→table aggregation (`CREATE TABLE agg AS SELECT g, COUNT(*)
    * … FROM a_table GROUP BY g`), round 18; previously refused with a
    * materialized-view pointer.
    *
    * Routed to StreamingTableAgg.changelogDeltas — ONE stateful
    * operator keyed by the table's PRIMARY KEY holding each row's
    * previous image (the state ksqlDB's undo functions consult) — then
    * Spark's BUILT-IN streaming aggregation folds the ±signed images
    * with sign-weighted columns: COUNT(*) = Σ sign, COUNT(x) =
    * Σ [x≠null]·sign, SUM(x) = Σ sign·x served NULL while the group
    * holds no non-null x (per SQL), AVG = that SUM/COUNT pair. Only
    * those SUBTRACTABLE aggregates are legal — MIN, MAX, COLLECT_LIST,
    * COLLECT_SET, LATEST/EARLIEST, TOPK, HISTOGRAM, COUNT(DISTINCT)
    * cannot undo an update and refuse exactly as ksqlDB refuses them
    * on tables.
    *
    * WHERE composes: it filters row IMAGES, and the −1/+1 pair is
    * symmetric under any image predicate — a row UPDATING OUT of the
    * predicate set still retracts its old, matching image. HAVING is a
    * TOMBSTONE, not a filter: a group falling below the bound must
    * emit a retraction (suppressing the update would leave readers
    * serving its last passing value), so the output carries the
    * fk-join changelog convention — `__deleted` (group emptied, or
    * HAVING now fails) and `__off` (latest contributing offset);
    * materialize per group key by max __off, non-deleted preferred.
    * At scale: level-1 state is |table keys| × one row image, level 2
    * shuffles only (group key, partial sums) with map-side combine —
    * the same two stores ksqlDB keeps for this statement. */
  private def streamingTableReaggregate(spark: SparkSession,
      s: SelectStmt, src: Source): DataFrame = {
    import org.apache.spark.sql.types.StructType
    if (s.emitFinal) throw new IllegalArgumentException(
      "EMIT FINAL closes WINDOWS — a table aggregate has none; its " +
        "changelog is continuous (EMIT CHANGES)")
    if (s.orderBy.nonEmpty || s.limit.isDefined)
      throw new IllegalArgumentException(
        "ORDER BY / LIMIT do not apply to a live changelog aggregate")
    if (s.partitionBy.isDefined) throw new IllegalArgumentException(
      "PARTITION BY cannot re-key a TABLE (ksqlDB: PARTITION BY is a " +
        "STREAM operation) — the aggregate table is keyed by its GROUP BY")
    def actual(c: String, what: String): String =
      src.df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"$what column '$c' not found"))
    val pkCol = actual(src.key.getOrElse(throw new IllegalArgumentException(
      s"TABLE ${s.from} needs WITH (KEY='col')")), "key")
    src.df.schema(pkCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.StringType => ()
      case t => throw new IllegalArgumentException(
        s"the previous-image store keys on the PRIMARY KEY's string " +
          s"form — '$pkCol' is ${t.simpleString}, which has no " +
          "injective rendering; CAST upstream")
    }
    // a DERIVED changelog (another GROUP BY's or an FK join's output)
    // carries real tombstones and its own offsets in __deleted/__off —
    // those are authoritative; a plain file/stream source has neither
    // (no tombstone record to express) and offsets come from the
    // declared TIMESTAMP
    val derived = src.df.columns.exists(_.equalsIgnoreCase("__deleted")) &&
      src.df.columns.exists(_.equalsIgnoreCase("__off"))
    // chaining a re-aggregation over ANOTHER aggregate's changelog puts
    // a streaming Aggregate upstream of a stateful operator, which
    // Spark's global-watermark heuristic flags as a possible late-row
    // correctness issue. The heuristic protects EVENT-TIME pipelines;
    // this whole chain runs in TimeMode.None with no watermark — there
    // is no "late" to discard, the delta algebra is order-repaired by
    // offset inside the store — so the check is a false positive here
    // and Spark's documented escape is this conf (set once, like the
    // RocksDB provider selection; windowed queries translated later
    // still do their own watermark validation at build time)
    if (derived) spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false")
    val off: Column =
      if (derived) col(src.df.columns.find(_.equalsIgnoreCase("__off")).get)
        .cast("long")
      else {
        val offc = actual(src.timeColumn, "TIMESTAMP")
        src.df.schema(offc).dataType match {
          case org.apache.spark.sql.types.TimestampType =>
            unix_millis(col(offc))
          case org.apache.spark.sql.types.TimestampNTZType =>
            unix_millis(col(offc).cast("timestamp"))
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType => col(offc).cast("long")
          case dt => throw new IllegalArgumentException(
            s"changelog offset column '$offc' must be a timestamp or " +
              s"integer — is ${dt.simpleString}")
        }
      }
    val del: Column =
      if (derived)
        col(src.df.columns.find(_.equalsIgnoreCase("__deleted")).get)
      else lit(false)
    val valCols = src.df.columns.toIndexedSeq.filterNot(c =>
      derived && (c.equalsIgnoreCase("__deleted") ||
        c.equalsIgnoreCase("__off")))
    val clash = valCols.filter(c => c.equalsIgnoreCase("__sign") ||
      c.equalsIgnoreCase("__delta_off") || c.equalsIgnoreCase("__img"))
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"column(s) ${clash.mkString(", ")} collide with the delta " +
        "adapter's internals — alias upstream")
    val imgStruct = StructType(valCols.map(src.df.schema(_)))
    val changelog = src.df.select(
      col(pkCol).cast("string").as("pk"),
      to_json(struct(valCols.map(col): _*)).as("img"),
      off.as("off"), del.as("del"))
    val unpacked = graft.streaming.StreamingTableAgg
      .changelogDeltas(changelog)
      .select(from_json(col("img"), imgStruct).as("__img"),
        col("__sign"), col("__delta_off"))
      .select(valCols.map(c => col(s"__img.$c").as(c)) ++
        Seq(col("__sign"), col("__delta_off")): _*)
    val filtered = s.where.fold(unpacked)(w =>
      unpacked.filter(expr(rewriteExpr(w))))
    // grouping keys resolve exactly like the batch path (alias-of-select
    // or plain column) but each must carry a NAME — it is the derived
    // table's key
    val aliasMap = s.columns.collect {
      case (e, Some(a)) => a.toLowerCase -> e
    }.toMap
    val keyCols: Seq[(String, Column)] = s.groupBy.map { g =>
      val t = g.trim
      aliasMap.get(t.toLowerCase) match {
        case Some(e) => (t, expr(rewriteExpr(e)).as(t))
        case None => plainColumn(t) match {
          case Some(c0) =>
            val c = valCols.find(_.equalsIgnoreCase(c0)).getOrElse(
              throw new IllegalArgumentException(
                s"grouping column '$c0' not found"))
            (c, col(c))
          case None => throw new IllegalArgumentException(
            s"alias the grouping expression '$t' in the SELECT list — " +
              "the aggregate table's key needs a column name")
        }
      }
    }
    val keyByText: Map[String, String] = s.groupBy.zip(keyCols).map {
      case (g, (n, _)) =>
        rewriteExpr(aliasMap.getOrElse(g.trim.toLowerCase, g)) -> n
    }.toMap
    // each select column is a grouping key or ONE subtractable aggregate
    val subtractable = Set("COUNT", "SUM", "AVG")
    val unsubtractable = Set("MIN", "MAX", "COLLECT_LIST", "COLLECT_SET",
      "LATEST_BY_OFFSET", "EARLIEST_BY_OFFSET", "TOPK", "TOPKDISTINCT",
      "HISTOGRAM", "COUNT_DISTINCT", "STDDEV_SAMP", "VAR_SAMP", "VAR_POP",
      "CORRELATION")
    def singleAgg(e: String): Option[(String, String)] = {
      val m = raw"(?is)^([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)\s*$$".r
      e.trim match {
        case m(f, inner) =>
          // the WHOLE text must be this one call: the inner text has to
          // be paren-balanced outside quotes
          var d = 0; var q = false; var ok = true
          inner.foreach {
            case '\'' => q = !q
            case '(' if !q => d += 1
            case ')' if !q => d -= 1; if (d < 0) ok = false
            case _ => ()
          }
          if (ok && d == 0 && !q) Some((f.toUpperCase, inner.trim))
          else None
        case _ => None
      }
    }
    sealed trait OutCol
    case class KeyOut(keyName: String) extends OutCol
    case class AggOut(fn: String, inner: String) extends OutCol
    val outs: Seq[(OutCol, String)] = s.columns.zipWithIndex.map {
      case ((e, alias), i) =>
        val rw = rewriteExpr(e)
        keyByText.get(rw) match {
          case Some(kn) => (KeyOut(kn), alias.getOrElse(kn))
          case None => singleAgg(e) match {
            case Some((f, inner)) if subtractable.contains(f) =>
              if (f == "COUNT" && raw"(?i)^\s*DISTINCT\b".r
                  .findFirstIn(inner).isDefined)
                throw new IllegalArgumentException(
                  "COUNT(DISTINCT …) cannot subtract without per-value " +
                    "counts — ksqlDB refuses it on tables too; CREATE " +
                    "MATERIALIZED VIEW and query the view")
              (AggOut(f, inner), alias.getOrElse(s"KSQL_COL_$i"))
            case Some((f, _)) if unsubtractable.contains(f) =>
              throw new IllegalArgumentException(
                s"$f cannot subtract an update's previous value — " +
                  "ksqlDB refuses it on tables too; aggregate the " +
                  "underlying STREAM, or CREATE MATERIALIZED VIEW " +
                  "and query the view")
            case _ => throw new IllegalArgumentException(
              s"'$e' is neither a grouping key nor a single " +
                "subtractable aggregate (COUNT/SUM/AVG) — a table " +
                "changelog re-aggregates by folding ±deltas, so each " +
                "output column is one undoable aggregate; compose " +
                "expressions in a second statement over this table")
          }
        }
    }
    val bad = outs.map(_._2).filter(n => n.startsWith("__"))
    if (bad.nonEmpty) throw new IllegalArgumentException(
      s"output name(s) ${bad.mkString(", ")} collide with the " +
        "changelog meta columns (__deleted/__off) — pick other aliases")
    // sign-weighted internal aggregates: one running Σsign for the
    // tombstone, max(offset) for materialization order, and per
    // aggregate the (Σ sign·x, Σ [x≠null]·sign) pair
    val sign = col("__sign").cast("long")
    var internal = Seq[Column](sum(sign).as("__cnt"),
      max(col("__delta_off")).as("__off"))
    outs.zipWithIndex.foreach {
      case ((AggOut(fn, inner), _), i) if !(fn == "COUNT" && inner == "*") =>
        val x = expr(rewriteExpr(inner))
        if (fn == "COUNT")
          internal :+= sum(when(x.isNotNull, sign).otherwise(0L)).as(s"__c$i")
        else {
          internal :+= sum(when(x.isNotNull, sign * x)).as(s"__s$i")
          internal :+= sum(when(x.isNotNull, sign).otherwise(0L)).as(s"__n$i")
        }
      case _ => ()
    }
    val grouped = filtered.groupBy(keyCols.map(_._2): _*)
      .agg(internal.head, internal.tail: _*)
    val finalCols: Seq[Column] = outs.zipWithIndex.map {
      case ((KeyOut(kn), name), _) => col(kn).as(name)
      case ((AggOut("COUNT", "*"), name), _) => col("__cnt").as(name)
      case ((AggOut("COUNT", _), name), i) => col(s"__c$i").as(name)
      case ((AggOut("SUM", _), name), i) =>
        when(col(s"__n$i") > 0, col(s"__s$i")).as(name)
      case ((AggOut(_, _), name), i) => // AVG
        when(col(s"__n$i") > 0,
          col(s"__s$i").cast("double") / col(s"__n$i")).as(name)
    }
    val selected = grouped.select(
      finalCols ++ Seq(col("__cnt"), col("__off")): _*)
    // HAVING → tombstone: substitute each select aggregate's rewritten
    // text (the ksqlDB `HAVING COUNT(*) > 1` idiom) and rely on aliases
    // already BEING output columns; any aggregate call left over cannot
    // be served from the folded state and refuses
    val havingFail: Option[Column] = s.having.map { h =>
      val identRe = raw"[A-Za-z_][A-Za-z0-9_]*".r.pattern
      var t = rewriteExpr(h)
      outs.zipWithIndex.foreach {
        case ((_: AggOut, name), i) =>
          val srcTxt = rewriteExpr(s.columns(i)._1)
          if (srcTxt.nonEmpty && !identRe.matcher(srcTxt).matches())
            t = java.util.regex.Pattern.compile(
              "(?i)(?<![A-Za-z0-9_])" +
                java.util.regex.Pattern.quote(srcTxt) + "(?![A-Za-z0-9_])")
              .matcher(t).replaceAll(
                java.util.regex.Matcher.quoteReplacement(name))
        case _ => ()
      }
      if (raw"(?i)\b(?:ksql_)?(count|sum|avg|min|max|collect_list|collect_set|topk)\s*\("
          .r.findFirstIn(t).isDefined)
        throw new IllegalArgumentException(
          "HAVING over a table-changelog aggregate must reference the " +
            s"SELECT list (an alias or a verbatim select aggregate) — " +
            s"'$h' does not reduce to output columns")
      !coalesce(expr(t), lit(false))
    }
    val tomb = havingFail.fold(col("__cnt") === 0L)(hf =>
      col("__cnt") === 0L || hf)
    selected.withColumn("__deleted", tomb).drop("__cnt")
  }

  /** STREAM ⋈ LIVE-TABLE join through the dialect (ksqlDB's
    * stream-table join with the table still flowing): routed to
    * StreamingJoins.streamTableJoin — one ValueState per table key,
    * stream facts join the state AS OF their fold position (a later
    * table update affects only later facts; nothing retracts), by the
    * same JSON pack/unpack adapter as the TABLE-TABLE form. INNER
    * drops unmatched facts, LEFT emits them with a null right side.
    * WHERE is allowed here (a fact stream carries no retractions to
    * drop); GROUP BY refuses with the ksqlDB idiom's pointer —
    * register the enriched stream (CSAS) and aggregate that. */
  private def streamingStreamTableJoin(spark: SparkSession,
      catalog: Catalog, s: SelectStmt, left: Source): DataFrame = {
    if (s.joins.size > 1) {
      // N-WAY live enrichment (round 17 — ksqlDB 0.24 multi-joins):
      // fold left-to-right, ONE keyed-lookup store per table. Each hop
      // enriches with '*' (flattened, per-hop overlap check inside);
      // the statement's WHERE / projection / aggregate / PARTITION BY
      // apply once, at the LAST hop — Spark chains the TWS operators in
      // one query, so the whole chain is still a single statement. Hop
      // N's join key may be a column TABLE N-1 contributed (snowflake
      // chains: fact → dim → dim-of-dim), because the enriched frame
      // carries every column unqualified.
      val headStmt = s.copy(columns = Seq(("*", None)),
        joins = Seq(s.joins.head), where = None, groupBy = Nil,
        window = None, having = None, orderBy = Nil, limit = None,
        partitionBy = None)
      val enriched = streamingStreamTableJoin(spark, catalog, headStmt, left)
      val hopped = left.copy(df = enriched, key = None)
      return streamingStreamTableJoin(spark,
        catalog + (s.from.toLowerCase -> hopped),
        s.copy(joins = s.joins.tail), hopped)
    }
    val j = s.joins.head
    val right = catalog(j.table.toLowerCase)
    if (j.withinMs.isDefined) throw new IllegalArgumentException(
      s"WITHIN is a stream-stream interval bound — ${j.table} is a TABLE")
    if (s.groupingMode.isDefined) throw new IllegalArgumentException(
      "ROLLUP/CUBE/GROUPING SETS is a batch (pull) construct — a " +
        "streaming grouping-set state would multiply every update")
    // Single-statement aggregation over the live join (round 17 —
    // ksqlDB's `CREATE TABLE … AS SELECT … FROM s JOIN t ON … GROUP BY
    // …`, previously refused with the two-statement pointer): desugared
    // into that very idiom, FUSED — the enrichment (this operator, '*'
    // projection, WHERE applied inside) feeds the standard streaming
    // aggregate in ONE query. Sound because stream facts never retract:
    // each enriched row leaves the keyed-lookup store exactly once, so
    // the downstream fold sees the same rows the CSAS hop would publish
    // (StreamTableAggSpec pins fused ≡ aggregate-of-enriched, flat and
    // windowed).
    if (s.groupBy.nonEmpty || s.window.isDefined) {
      val enrichStmt = s.copy(columns = Seq(("*", None)), groupBy = Nil,
        window = None, having = None, orderBy = Nil, limit = None,
        partitionBy = None)
      val enriched =
        streamingStreamTableJoin(spark, catalog, enrichStmt, left)
      val aggStmt = s.copy(joins = Nil, where = None)
      return select(spark,
        catalog + (s.from.toLowerCase ->
          left.copy(df = enriched, key = None, isTable = false)),
        aggStmt)
    }
    if (s.orderBy.nonEmpty || s.limit.isDefined)
      throw new IllegalArgumentException(
        "ORDER BY / LIMIT do not apply to a live join")
    def actual(df: DataFrame, c: String, what: String): String =
      df.columns.find(_.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(s"$what column '$c' not found"))
    val sKey = plainColumn(j.onLeft).map(actual(left.df, _, "join"))
      .getOrElse(throw new IllegalArgumentException(
        s"the stream side of a live stream-table join is a COLUMN — " +
          s"'${j.onLeft}' is an expression; derive it upstream (CSAS)"))
    val rKeyDecl = right.key.getOrElse(throw new IllegalArgumentException(
      s"TABLE ${j.table} needs WITH (KEY='col')"))
    val rKey = plainColumn(j.onRight).map(actual(right.df, _, "join"))
      .filter(_.equalsIgnoreCase(rKeyDecl))
      .getOrElse(throw new IllegalArgumentException(
        s"joins against TABLE ${j.table} hit its PRIMARY KEY " +
          s"($rKeyDecl) — ON names '${j.onRight}'"))
    // the keyed-lookup store keys on the column's STRING form —
    // injective for every atomic type (round 18, like the
    // subscription store)
    def atomicKey(df: DataFrame, c: String): Unit =
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.StringType => ()
        case t => throw new IllegalArgumentException(
          s"the table state keys on the column's string form — '$c' " +
            s"is ${t.simpleString}, which has no injective rendering; " +
            "CAST upstream")
      }
    atomicKey(left.df, sKey); atomicKey(right.df, rKey)
    def offExpr(src: Source): Column = {
      val t = actual(src.df, src.timeColumn, "TIMESTAMP")
      src.df.schema(t).dataType match {
        case org.apache.spark.sql.types.TimestampType => unix_millis(col(t))
        case org.apache.spark.sql.types.TimestampNTZType =>
          unix_millis(col(t).cast("timestamp"))
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => col(t).cast("long")
        case dt => throw new IllegalArgumentException(
          s"changelog offset column '$t' must be a timestamp or " +
            s"integer — is ${dt.simpleString}")
      }
    }
    val sVals = left.df.columns.filterNot(_.equalsIgnoreCase(sKey))
      .toIndexedSeq
    val rVals = right.df.columns.filterNot(_.equalsIgnoreCase(rKey))
      .toIndexedSeq
    val overlap = (sKey +: sVals).map(_.toLowerCase).toSet
      .intersect(rVals.map(_.toLowerCase).toSet)
    if (overlap.nonEmpty) throw new IllegalArgumentException(
      s"both sides carry column(s) ${overlap.mkString(", ")} — alias " +
        "upstream; the flattened join needs distinct names")
    val sStruct = org.apache.spark.sql.types.StructType(
      sVals.map(c => left.df.schema(c)))
    val rStruct = org.apache.spark.sql.types.StructType(
      rVals.map(c => right.df.schema(c)))
    val sRows = left.df.select(
      col(sKey).cast("string").as("key"),
      to_json(struct(sVals.map(col): _*)).as("s_val"),
      offExpr(left).as("off"))
    val rChangelog = right.df.select(
      col(rKey).cast("string").as("pk"),
      to_json(struct(rVals.map(col): _*)).as("r_val"),
      offExpr(right).as("off"))
    val joined = graft.streaming.StreamingJoins
      .streamTableJoin(sRows, rChangelog, j.joinType)
    val data = joined.select(
      col("key").cast(left.df.schema(sKey).dataType).as(sKey),
      from_json(col("s_val"), sStruct).as("__s"),
      from_json(col("r_val"), rStruct).as("__r"))
      .select(col(sKey) +:
        (sVals.map(c => col(s"__s.$c").as(c)) ++
          rVals.map(c => col(s"__r.$c").as(c))): _*)
    val filtered = s.where.fold(data)(w => data.filter(expr(rewriteExpr(w))))
    val projd =
      if (s.columns.forall(_._1.trim == "*")) filtered
      else filtered.select(s.columns.map { case (e, a) =>
        val c = expr(rewriteExpr(e)); a.fold(c)(c.as)
      }: _*)
    // PARTITION BY re-keys the enriched STREAM (ksqlDB: a stream
    // operation — the join output here IS a stream of facts, so the
    // re-keyed-output-topic analogue is a content-neutral repartition
    // on the new key; the TABLE-TABLE changelog keeps its refusal)
    s.partitionBy.fold(projd)(k => projd.repartition(col(k)))
  }

  def select(spark: SparkSession, catalog: Catalog, s: SelectStmt): DataFrame = {
    // derived table (FROM (SELECT ...)) recurses; a named FROM resolves
    // through the catalog
    val src0: Source = s.fromSub match {
      case Some(sub) =>
        // s.from carries the derived table's alias — apply it so
        // qualified references (a.col) resolve against the subquery
        Source(select(spark, catalog, sub).alias(s.from),
          resolveTime(catalog, sub))
      case None => catalog.get(s.from.toLowerCase).getOrElse {
        // a registered MATERIALIZED VIEW is directly queryable by name —
        // the ksqlDB TABLE surface. Without EMIT CHANGES: the PULL form,
        // the view's own definition aggregate, which the transparent
        // rewrite serves as merge(state ∪ Δ) (an exact-match rewrite by
        // construction). With EMIT CHANGES: the PUSH form — the same
        // batch-served answer seeds a continuous fold of the view's
        // LIVE-bound stream (viewSource below).
        graft.plans.MaterializedViews.view(s.from.toLowerCase) match {
          case Some(v) => viewSource(spark, catalog, s, v)
          case None => throw new IllegalArgumentException(
            s"unknown source ${s.from}")
        }
      }
    }
    // KSQL TABLE semantics (the ksqlDB stream/table duality): a batch
    // TABLE read sees the changelog's COMPACTED snapshot (tableSnapshot
    // below); a LIVE changelog passes through as the table's update
    // stream (push projection/filter — ksqlDB's `SELECT … FROM t EMIT
    // CHANGES`); re-aggregating a live changelog needs retraction-aware
    // aggregates, which is the MATERIALIZED VIEW surface's job; and a
    // live TABLE⋈TABLE join routes to the streaming subscription store
    // (StreamingJoins.fkTableJoin).
    if (src0.isTable && src0.df.isStreaming) {
      if (s.window.isDefined) throw new IllegalArgumentException(
        "windows apply to STREAMS — a TABLE changelog has no event " +
          "stream to window (ksqlDB refuses windowed table " +
          "aggregations too); window the underlying STREAM")
      if (s.groupingMode.isDefined) throw new IllegalArgumentException(
        "ROLLUP/CUBE/GROUPING SETS is a batch (pull) construct — a " +
          "streaming grouping-set state would multiply every update")
      // retraction-aware re-aggregation of the live changelog
      // (ksqlDB's table→table aggregation) — round 18, previously a
      // refusal pointing at MATERIALIZED VIEWs
      if (s.groupBy.nonEmpty) {
        if (s.joins.nonEmpty) throw new IllegalArgumentException(
          "aggregating a live TABLE-TABLE join is two statements — " +
            "CREATE TABLE joined AS SELECT … JOIN …, then " +
            "re-aggregate the joined table")
        return streamingTableReaggregate(spark, s, src0)
      }
      if (s.joins.nonEmpty && s.joins.forall(j =>
          catalog.get(j.table.toLowerCase).exists(r =>
            r.isTable && r.df.isStreaming)))
        return streamingTableJoin(spark, catalog, s, src0)
    }
    // STREAM ⋈ LIVE TABLE (round 16; N-way round 17): a streaming
    // non-table source joining live table changelogs routes to the
    // keyed-lookup stores (one per table, folded left-to-right) —
    // facts join state as of their position, nothing retracts
    if (!src0.isTable && src0.df.isStreaming && s.joins.nonEmpty &&
        s.joins.forall(j =>
          catalog.get(j.table.toLowerCase).exists(r =>
            r.isTable && r.df.isStreaming)))
      return streamingStreamTableJoin(spark, catalog, s, src0)
    val src = tableSnapshot(src0)
    // streaming sources get a watermark so windowed aggs / WITHIN joins
    // keep bounded state; batch frames pass through untouched. GRACE
    // PERIOD is KSQL's per-statement late-arrival bound — exactly
    // Spark's watermark delay — so it overrides the source default.
    val wmDelay = s.window.flatMap(_.graceMs)
      .map(g => s"$g milliseconds").getOrElse(src.watermark)
    val based =
      if (src.df.isStreaming && (s.window.isDefined || s.joins.exists(_.withinMs.isDefined)))
        src.df.withWatermark(src.timeColumn, wmDelay)
      else src.df
    // ROWTIME / ROWKEY pseudo-columns (KSQL 5.x): materialized lazily —
    // only when the statement actually references them — so SELECT *
    // stays the declared schema by default. Strict KSQL 5.x parity
    // (SELECT * printing ROWTIME/ROWKEY first) is opt-in via
    //   SET 'ksql.star.pseudocolumns' = 'true';
    // ROWTIME is the source's event time in epoch millis; ROWKEY is the
    // WITH(KEY='col') column. They resolve on the PRIMARY source (join
    // sides use their own column names). LATEST_BY_OFFSET and
    // EARLIEST_BY_OFFSET order by ROWTIME without naming it, so calling
    // them materializes it too.
    def stmtMentions(name: String): Boolean = {
      val re = ("(?i)\\b(?:" + name + ")\\b").r
      def in(x: String) = re.findFirstIn(x).isDefined
      s.columns.exists(c => in(c._1)) || s.where.exists(in) ||
        s.groupBy.exists(in) || s.having.exists(in) ||
        s.orderBy.exists(o => in(o._1)) || s.partitionBy.exists(in) ||
        s.joins.exists(j => in(j.onLeft) || in(j.onRight))
    }
    val starPseudo =
      propsFor(spark).get("ksql.star.pseudocolumns").exists(_.equalsIgnoreCase("true")) &&
        s.columns.exists(_._1.trim == "*") && s.groupBy.isEmpty && s.window.isEmpty
    val withRowtime =
      if ((stmtMentions("ROWTIME|LATEST_BY_OFFSET|EARLIEST_BY_OFFSET") || starPseudo) &&
          !based.columns.exists(_.equalsIgnoreCase("rowtime")))
        based.withColumn("rowtime", unix_millis(col(src.timeColumn)))
      else based
    val withPseudo =
      if ((stmtMentions("ROWKEY") || (starPseudo && src.key.isDefined)) &&
          !withRowtime.columns.exists(_.equalsIgnoreCase("rowkey"))) {
        val k = src.key.getOrElse(throw new IllegalArgumentException(
          s"ROWKEY referenced but source ${s.from} declares no WITH(KEY='…')"))
        withRowtime.withColumn("rowkey", col(k))
      } else withRowtime
    // strict-parity star: pseudo-columns lead, as the KSQL CLI prints them
    val starOrdered =
      if (!starPseudo) withPseudo
      else {
        val lead = Seq("rowtime", "rowkey")
          .filter(p => withPseudo.columns.exists(_.equalsIgnoreCase(p)))
        val rest = withPseudo.columns.filterNot(c => lead.exists(_.equalsIgnoreCase(c)))
        withPseudo.select((lead ++ rest).map(col): _*)
      }
    // FROM x ≡ FROM x AS x: alias unconditionally so qualified
    // references — the WITHIN bound's own time columns included —
    // resolve without a user-written alias
    var df = starOrdered.alias(s.fromAlias.getOrElse(s.from))

    s.joins.foreach { j =>
      val right0 = catalog.getOrElse(j.table.toLowerCase,
        throw new IllegalArgumentException(s"unknown source ${j.table}"))
      // ksqlDB's join matrix: STREAM⋈STREAM (WITHIN), STREAM⋈TABLE,
      // TABLE⋈TABLE (PK-PK, or FK: a non-key left column = right PK).
      // TABLE⋈STREAM does not exist — refuse like the engine rather
      // than silently joining a snapshot against raw events.
      if (src.isTable && !right0.isTable)
        throw new IllegalArgumentException(
          s"TABLE ${s.from} cannot join STREAM ${j.table} — ksqlDB has " +
            "no TABLE-STREAM join; reverse the sides (STREAM JOIN " +
            "TABLE) or declare both sources as TABLEs")
      if (right0.isTable && j.withinMs.isDefined)
        throw new IllegalArgumentException(
          s"WITHIN is a stream-stream interval bound — ${j.table} is a " +
            "TABLE (its snapshot has no event-time spread to bound)")
      // a LIVE right-side changelog joins through the keyed stores,
      // which serve the single-join forms (the intercepts above:
      // live STREAM ⋈ live TABLE, live TABLE ⋈ live TABLE); what
      // remains here — a batch left side, or a multi-join chain — is
      // refused with the pointer rather than silently joined with
      // stream semantics
      if (right0.isTable && right0.df.isStreaming)
        throw new IllegalArgumentException(
          s"a LIVE TABLE changelog (${j.table}) joins through the " +
            "streaming keyed stores, which serve ONE live join per " +
            "statement (STREAM JOIN TABLE, TABLE JOIN TABLE) — chain " +
            "CREATE STREAM/TABLE … AS statements, or bind the table " +
            "as a batch snapshot here")
      // joins against a TABLE hit its PRIMARY KEY (ksqlDB: the table
      // side of any join is looked up by key; the FK form is the LEFT
      // column being free). CTAS tables whose key could not be derived
      // (composite/expression group keys) skip the check.
      if (right0.isTable && right0.key.isDefined &&
          !plainColumn(j.onRight).exists(c =>
            right0.key.exists(_.equalsIgnoreCase(c))))
        throw new IllegalArgumentException(
          s"joins against TABLE ${j.table} hit its PRIMARY KEY " +
            s"(${right0.key.get}) — ON names '${j.onRight}'")
      val right = tableSnapshot(right0)
      val rbase =
        if (right.df.isStreaming && j.withinMs.isDefined)
          right.df.withWatermark(right.timeColumn, right.watermark)
        else right.df
      val rdf = rbase.alias(j.alias.getOrElse(j.table))
      val cond0 = expr(s"${rewriteExpr(j.onLeft)} = ${rewriteExpr(j.onRight)}")
      // KSQL WITHIN is symmetric (|lt - rt| <= d); WITHIN (b, a) bounds
      // the right event to [lt - b, lt + a]. Both directions bounded →
      // Spark can expire interval-join state on the watermark.
      val cond = j.withinMs match {
        case Some((before, after)) =>
          val lt = col(s"${s.fromAlias.getOrElse(s.from)}.${src.timeColumn}")
          val rt = col(s"${j.alias.getOrElse(j.table)}.${right.timeColumn}")
          cond0 && rt >= lt - expr(s"INTERVAL $before MILLISECONDS") &&
            rt <= lt + expr(s"INTERVAL $after MILLISECONDS")
        case None => cond0
      }
      // stream-table join: broadcast the table side. A RIGHT/FULL outer
      // join preserves the right side, which a broadcast can't — leave
      // those to Catalyst's own strategy choice.
      val rside =
        if (j.withinMs.isEmpty && (j.joinType == "inner" || j.joinType == "left"))
          broadcast(rdf)
        else rdf
      df = df.join(rside, cond, j.joinType)
    }

    s.where.foreach { w =>
      val rw = rewriteExpr(w)
      // subquery predicates (EXISTS / IN (SELECT ...)) can't live in a
      // Column expression — route the filter through Spark's SQL parser
      // over catalog-registered views; Catalyst plans them as semi/anti
      // joins (broadcast when the subquery side is small)
      if (raw"(?i)\(\s*select\b".r.findFirstIn(rw).isDefined) {
        // The outer frame binds under a GENERATED name, then is
        // re-aliased in SQL to the statement's own name: binding it
        // AS s.from would shadow the catalog view of the same name, so a
        // subquery whose FROM references the outer table itself (e.g.
        // ... WHERE x > (SELECT avg(x) FROM orders)) would silently read
        // the partially-built outer frame (join/watermark applied)
        // instead of the base table. The SQL-level alias still lets the
        // outer WHERE qualify columns (o.x / orders.x), while the inner
        // subquery's FROM resolves against the catalog frames.
        val vn = s"__graft_outer_${viewCounter.incrementAndGet()}"
        df = sqlOverFrames(spark,
          s"SELECT * FROM $vn AS ${s.fromAlias.getOrElse(s.from)} WHERE $rw",
          catalog.map { case (n, c) =>
            n.toLowerCase(java.util.Locale.ROOT) ->
              tableSnapshot(c).df } + (vn -> df))
      } else df = df.filter(expr(rw))
    }

    val projected: DataFrame =
      if (s.groupBy.nonEmpty || s.window.isDefined) {
        val winCol = s.window.map(w => windowStruct(w, col(src.timeColumn)))
        // GROUP BY may reference a SELECT alias (the natural KSQL form:
        // SELECT CASE … AS band … GROUP BY band) — substitute the
        // aliased expression as the grouping key and keep the alias as
        // the output column name
        val aliasMap = s.columns.collect {
          case (e, Some(a)) => a.toLowerCase -> e
        }.toMap
        val keys = winCol.toSeq ++ s.groupBy.map { g =>
          aliasMap.get(g.trim.toLowerCase) match {
            case Some(e) => expr(rewriteExpr(e)).as(g.trim)
            case None => expr(rewriteExpr(g))
          }
        }
        val keyTexts = s.groupBy
          .map(g => rewriteExpr(aliasMap.getOrElse(g.trim.toLowerCase, g))).toSet
        // WINDOWSTART/WINDOWEND in the select list are pseudo-columns of
        // the window key — they surface post-agg, not as aggregates.
        // KSQL 5.x also spells them as zero-arg calls WindowStart() /
        // WindowEnd(); both forms normalize to the bare column name.
        val winName = (e: String) => {
          val t = e.replaceAll("\\s", "").toLowerCase
          if (t == "windowstart" || t == "windowstart()") Some("windowstart")
          else if (t == "windowend" || t == "windowend()") Some("windowend")
          else None
        }
        val isWinPseudo = (e: String) => winName(e).isDefined
        val winAliases = s.columns.collect {
          case (e, alias) if isWinPseudo(e) => (winName(e).get, alias)
        }
        val aggs = s.columns.filterNot { case (e, _) =>
          keyTexts.contains(rewriteExpr(e)) || isWinPseudo(e)
        }.map { case (e, alias) =>
          val c = expr(rewriteExpr(e))
          alias.fold(c)(c.as)
        }
        // GROUP BY ROLLUP/CUBE: plan through Spark's grouping-sets
        // surface (an Aggregate over an Expand carrying the grouping
        // id) — when a per-key materialized view covers the keys, the
        // MV rewrite serves every grouping set from merge(state ∪ Δ)
        val grouped = s.groupingMode match {
          case Some(mode) =>
            if (s.window.isDefined) throw new IllegalArgumentException(
              "ROLLUP/CUBE/GROUPING SETS does not compose with WINDOW — " +
                "a pane is already a grouping dimension; roll up " +
                "post-aggregation")
            if (df.isStreaming) throw new IllegalArgumentException(
              "ROLLUP/CUBE/GROUPING SETS is a batch (pull) construct — " +
                "a streaming grouping-set state would multiply every " +
                "update")
            mode match {
              case "rollup" => df.rollup(keys: _*)
              case "cube" => df.cube(keys: _*)
              case _ => // explicit sets: each member resolves with the
                // SAME alias substitution as the key list, so set
                // columns are structurally equal to their key columns
                val resolve = (g: String) =>
                  aliasMap.get(g.trim.toLowerCase) match {
                    case Some(e) => expr(rewriteExpr(e)).as(g.trim)
                    case None => expr(rewriteExpr(g))
                  }
                df.groupingSets(s.groupingSets.map(_.map(resolve)), keys: _*)
            }
          case None => df.groupBy(keys: _*)
        }
        val out =
          if (aggs.nonEmpty) grouped.agg(aggs.head, aggs.tail: _*)
          else grouped.count()
        // RETENTION (ksqlDB windowed-state semantics): on a batch (pull)
        // read, windows whose END sits more than retention behind the
        // source's event-time high-water mark are no longer queryable.
        // The high-water mark is a 1-row broadcast aggregate of the same
        // pre-agg frame (one extra tiny agg, no second source scan
        // semantic — Catalyst reuses the scan under AQE). Streaming
        // frames pass through: state expiry there is the watermark's job
        // (GRACE PERIOD), and Spark owns the store TTL.
        val retained = s.window.flatMap(_.retentionMs) match {
          case Some(ret) if !out.isStreaming =>
            val endCol = s.window.get match {
              case _: Session => col("session_window.end")
              case _ => col("window.end")
            }
            val hw = df.agg(
              max(unix_millis(col(src.timeColumn))).as("__graft_hw"))
            out.crossJoin(broadcast(hw))
              .filter(unix_millis(endCol) >= col("__graft_hw") - ret)
              .drop("__graft_hw")
          case _ => out
        }
        // expose KSQL WINDOWSTART/WINDOWEND pseudo-columns as epoch millis
        val withWin = s.window match {
          case Some(_: Session) => retained
            .withColumn("windowstart", unix_millis(col("session_window.start")))
            .withColumn("windowend", unix_millis(col("session_window.end")))
            .drop("session_window")
          case Some(_) => retained
            .withColumn("windowstart", unix_millis(col("window.start")))
            .withColumn("windowend", unix_millis(col("window.end")))
            .drop("window")
          case None => retained
        }
        // apply user aliases for the pseudo-columns
        winAliases.foldLeft(withWin) {
          case (df0, (name, Some(alias))) => df0.withColumnRenamed(name, alias)
          case (df0, _) => df0
        }
      } else if (s.columns.exists { case (e, _) =>
        raw"(?i)\(\s*select\b".r.findFirstIn(rewriteExpr(e)).isDefined
      }) {
        // scalar subquery in the SELECT list (correlated or not): a
        // Column expr can't hold one — route the projection through
        // Spark's SQL parser exactly like the WHERE-subquery path
        // above, over the catalog views plus the generated outer view
        // re-aliased to the statement's own FROM name so correlation
        // predicates (o.o_custkey = c.c_custkey) resolve. Catalyst
        // plans the correlated scalar as a left outer aggregate join —
        // the same rewrite q_subquery_scalar hand-writes.
        val colTexts = s.columns.map {
          case ("*", _) => "*"
          case (e, alias) =>
            rewriteExpr(e) + alias.fold("")(a => s" AS $a")
        }
        val vn = s"__graft_outer_${viewCounter.incrementAndGet()}"
        sqlOverFrames(spark,
          s"SELECT ${colTexts.mkString(", ")} " +
            s"FROM $vn AS ${s.fromAlias.getOrElse(s.from)}",
          catalog.map { case (n, c) =>
            n.toLowerCase(java.util.Locale.ROOT) ->
              tableSnapshot(c).df } + (vn -> df))
      } else {
        val cols = s.columns.map {
          case ("*", _) => col("*")
          case (e, alias) =>
            val c = expr(rewriteExpr(e))
            alias.fold(c)(c.as)
        }
        df.select(cols: _*)
      }

    // HAVING may repeat an aggregate from the SELECT list verbatim (the
    // ksqlDB idiom: `HAVING COUNT(*) > 1`) — the projected frame
    // carries only the ALIASED outputs, so each aliased non-identifier
    // select expression's rewritten text substitutes to its alias
    // before parsing (the mirror of the GROUP BY alias substitution;
    // whole-token match so a column named like a prefix can't corrupt)
    val withHaving = s.having.fold(projected) { h =>
      val identRe = raw"[A-Za-z_][A-Za-z0-9_]*".r.pattern
      val rewritten = s.columns.foldLeft(rewriteExpr(h)) {
        case (acc, (e, Some(a))) =>
          val t = rewriteExpr(e)
          if (t.isEmpty || identRe.matcher(t).matches()) acc
          else java.util.regex.Pattern.compile(
            "(?i)(?<![A-Za-z0-9_])" + java.util.regex.Pattern.quote(t) +
              "(?![A-Za-z0-9_])").matcher(acc)
            .replaceAll(java.util.regex.Matcher.quoteReplacement(a))
        case (acc, _) => acc
      }
      projected.filter(expr(rewritten))
    }
    val keyed = s.partitionBy.fold(withHaving)(k => withHaving.repartition(col(k)))
    // ORDER BY + LIMIT (KSQL pull-query tail): Catalyst plans the pair
    // as TakeOrderedAndProject — a per-partition top-k then a k-row
    // merge, never a global sort of the full input
    val ordered =
      if (s.orderBy.isEmpty) keyed
      else keyed.orderBy(s.orderBy.map { case (e, desc) =>
        val c = expr(rewriteExpr(e)); if (desc) c.desc else c.asc
      }: _*)
    s.limit.fold(ordered)(ordered.limit)
  }

  /** Execute one statement. CSAS/CTAS register the result back into the
    * returned catalog so later statements can reference it. */
  def run(spark: SparkSession, catalog: Catalog, sql: String): (Catalog, Option[DataFrame]) = {
    // graft's native expressions are part of the dialect surface
    // (stable_hash32, minhash_sig, vec_dot, jaccard_sorted, UCASE, …);
    // registration is idempotent
    graft.GraftExtensions.register(spark)
    Parser.parse(substituteVars(spark, sql)) match {
      case CreateSource(isTable, name, cols, props, ifNotExists, orReplace) =>
        // Physical binding, in order of preference:
        //  1. catalog already provides the frame (driver/tests) → rebind time col
        //  2. WITH (PATH='...', VALUE_FORMAT=PARQUET|JSON|DELIMITED) → file read
        //     (KAFKA_TOPIC would bind through Sources.kafka — connector jar
        //      not present in this image)
        //  3. otherwise an empty-schema placeholder
        // IF NOT EXISTS: an existing binding survives UNTOUCHED (no
        // timeColumn rebind). OR REPLACE: the existing binding is
        // ignored and the source re-binds fresh from WITH/PATH.
        if (ifNotExists && catalog.contains(name.toLowerCase))
          return (catalog, None)
        val ts = props.getOrElse("TIMESTAMP", "ts")
        val schema = org.apache.spark.sql.types.StructType(cols.map { case (n, t) =>
          org.apache.spark.sql.types.StructField(n, sparkType(resolveType(spark, t)))
        })
        // WITH (KEY='col') declares which value column mirrors the
        // record key — the column ROWKEY resolves to (KSQL 5.x model)
        val keyCol = props.get("KEY")
        // a TABLE is a changelog compacted per key (ksqlDB's PRIMARY
        // KEY requirement in the 5.x WITH(KEY=…) spelling): without a
        // key there is nothing to compact on, so the declaration
        // refuses rather than silently behaving as a stream
        if (isTable && keyCol.isEmpty &&
            catalog.get(name.toLowerCase).forall(_.key.isEmpty))
          throw new IllegalArgumentException(
            s"CREATE TABLE $name needs WITH (KEY='col') — a table is a " +
              "changelog compacted to the latest record per key")
        val bound: Source = catalog.get(name.toLowerCase).filter(_ => !orReplace) match {
          case Some(src) => src.copy(timeColumn = ts,
            key = keyCol.orElse(src.key), isTable = isTable)
          case None => props.get("PATH") match {
            case Some(path) =>
              val fmt = props.getOrElse("VALUE_FORMAT", "PARQUET").toUpperCase
              // tolerate TIMESTAMP(NANOS) parquet (see Tables.events)
              spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
              val df = fmt match {
                case "JSON" => spark.read.schema(schema).json(path)
                case "DELIMITED" => spark.read.schema(schema)
                  .option("header", "true").csv(path)
                case "WIRE" =>
                  // Confluent wire format: the PATH is a "topic dump" —
                  // a parquet of binary `value` records, each magic 0 +
                  // global schema id + avro body. Registry + subject
                  // are REQUIRED (the wire format is meaningless
                  // without id resolution); every record decodes
                  // through the subject's latest schema.
                  (props.get("SCHEMA_REGISTRY"), props.get("SUBJECT")) match {
                    case (Some(reg), Some(subj)) =>
                      graft.sources.WireFormat.decode(spark,
                        spark.read.parquet(path), reg, subj)
                    case _ => throw new IllegalArgumentException(
                      "VALUE_FORMAT='WIRE' needs WITH (SCHEMA_REGISTRY=…, SUBJECT=…)")
                  }
                case "AVRO" =>
                  // WITH (SCHEMA_REGISTRY='dir', SUBJECT='s'): registry
                  // consumer posture — decode every writer version in
                  // the dir through the subject's LATEST registered
                  // schema (defaults / drops / promotions), exactly a
                  // Confluent-Registry-backed KSQL stream. Without a
                  // registry, avro stays self-describing: infer when
                  // the statement declares no columns.
                  (props.get("SCHEMA_REGISTRY"), props.get("SUBJECT")) match {
                    case (Some(reg), Some(subj)) =>
                      graft.sources.SchemaRegistry(spark, reg)
                        .read(spark, path, subj)
                    case _ =>
                      val sch = if (schema.isEmpty)
                        graft.sources.Sources.avroInferSchema(spark, path)
                      else schema
                      graft.sources.Sources.avro(spark, path, sch)
                  }
                case _ =>
                  // TIMESTAMP(NANOS) comes back as a raw nanos long
                  // under the legacy conf — rebuild a real timestamp
                  // (micros, integer div: nanos exceed double's
                  // mantissa) so windows/ROWTIME work on PATH sources,
                  // same normalization as Tables.events
                  val raw = spark.read.parquet(path)
                  if (raw.schema.fields.exists(f => f.name == ts &&
                      f.dataType == org.apache.spark.sql.types.LongType))
                    raw.withColumn(ts, timestamp_micros(expr(s"`$ts` div 1000")))
                  else if (raw.schema.fields.exists(f => f.name == ts &&
                      f.dataType == org.apache.spark.sql.types.TimestampNTZType))
                    // timestamp[us] isAdjustedToUTC=false infers NTZ on
                    // Spark 4 — cast to the instant type (sessions run
                    // UTC) so ROWTIME/windows/unix_millis resolve
                    raw.withColumn(ts, col(ts).cast("timestamp"))
                  else raw
              }
              // WITH (PARTITIONS=n): KSQL's topic partition count maps
              // to the frame's parallelism — the declared intent is "n
              // units of parallel work downstream"
              val parted = props.get("PARTITIONS")
                .map(n => df.repartition(n.toInt)).getOrElse(df)
              Source(parted, ts, key = keyCol, isTable = isTable)
            case None =>
              Source(spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
                ts, key = keyCol, isTable = isTable)
          }
        }
        // ksqlDB's PROCESSING LOG (ksql.logging.processing.* — the
        // deployment charm's error-routing contract): with
        // SET 'ksql.logging.processing.enabled'='true', records a JSON
        // source cannot deserialize surface as rows of the queryable
        // `ksql_processing_log` stream instead of disappearing as
        // all-null rows. Detection is a second pass over the SAME files
        // as text — a line is a failure when it is non-blank and
        // `from_json` cannot parse it — so the data path stays the
        // plain schema'd read (no corrupt-column cache workaround, no
        // per-row penalty when logging is off). Multiple logged sources
        // union into one log, like the real server's single log topic.
        val procLog: Option[(String, Source)] =
          if (propsFor(spark).get("ksql.logging.processing.enabled")
              .contains("true"))
            props.get("PATH").filter(_ =>
              props.getOrElse("VALUE_FORMAT", "PARQUET")
                .toUpperCase == "JSON").map { path =>
              // from_json under PERMISSIVE yields an all-null struct for
              // a malformed line (never NULL) — the corrupt-record
              // column inside the probe schema is the reliable signal
              val probe = from_json(col("value"),
                schema.add("_corrupt", org.apache.spark.sql.types.StringType),
                java.util.Map.of("columnNameOfCorruptRecord", "_corrupt"))
              val failed = spark.read.text(path)
                .filter(length(trim(col("value"))) > 0 &&
                  probe.getField("_corrupt").isNotNull)
                .select(
                  lit(s"processing.${name.toLowerCase}.source").as("logger"),
                  lit("ERROR").as("level"),
                  lit("DESERIALIZATION_FAILURE").as("message"),
                  col("value").as("record"),
                  current_timestamp().as("log_time"))
              val merged = catalog.get("ksql_processing_log")
                .map(_.df.unionByName(failed)).getOrElse(failed)
              "ksql_processing_log" -> Source(merged, "log_time")
            }
          else None
        (catalog + (name.toLowerCase -> bound) ++ procLog, None)
      case CreateAsSelect(isTable, name, sel, props, ifNotExists) =>
        // IF NOT EXISTS: an existing binding wins; the SELECT does not run
        if (ifNotExists && catalog.contains(name.toLowerCase))
          return (catalog, None)
        // stream/table result-shape rules (ksqlDB): a SELECT over a
        // TABLE is a table, and an aggregation produces a table — CSAS
        // refuses both rather than registering table-shaped data under
        // stream semantics. (CTAS stays lenient the other way — the
        // dialect has historically accepted CREATE TABLE as a naming
        // convenience for derived frames; SURVEY §8 records it.)
        val fromTable = sel.fromSub.isEmpty &&
          catalog.get(sel.from.toLowerCase).exists(_.isTable)
        if (!isTable && fromTable) throw new IllegalArgumentException(
          s"CREATE STREAM $name: a SELECT over TABLE ${sel.from} " +
            "produces a TABLE — use CREATE TABLE … AS SELECT")
        if (!isTable && (sel.groupBy.nonEmpty || sel.groupingMode.isDefined))
          throw new IllegalArgumentException(
            s"CREATE STREAM $name: an aggregation produces a TABLE — " +
              "use CREATE TABLE … AS SELECT")
        val df = select(spark, catalog, sel)
        val srcTime = resolveTime(catalog, sel)
        val tc = if (df.columns.contains(srcTime)) srcTime
          else if (df.columns.contains("windowstart")) "windowstart" else df.columns.head
        // WITH (PATH=...) on a batch CSAS materializes immediately; a
        // streaming CSAS returns the frame for the caller to start
        // (KsqlStream.createStreamAs wires path + checkpoint + trigger).
        // PARTITION BY k persists a hive-partitioned layout on k — the
        // file analogue of KSQL's re-keyed output topic: downstream
        // scans partition-prune on the key instead of reading the full
        // materialization.
        props.get("PATH").filter(_ => !df.isStreaming).foreach { path =>
          // WITH (PARTITIONS=n) on CSAS: output "topic" partition count
          // → n output files/splits
          val sized = props.get("PARTITIONS")
            .map(n => df.repartition(n.toInt)).getOrElse(df)
          val fmt = props.getOrElse("VALUE_FORMAT", "PARQUET").toUpperCase
          if (fmt == "WIRE") {
            // wire-format producer: register (compatibility-checked),
            // stamp the global id, land a binary-value "topic dump"
            (props.get("SCHEMA_REGISTRY"), props.get("SUBJECT")) match {
              case (Some(reg), Some(subj)) =>
                graft.sources.WireFormat.encode(sized, reg, subj)
                  .write.mode("overwrite").parquet(path)
              case _ => throw new IllegalArgumentException(
                "VALUE_FORMAT='WIRE' needs WITH (SCHEMA_REGISTRY=…, SUBJECT=…)")
            }
          } else if (fmt == "AVRO") {
            // avroSink manages the directory itself (FS-API writes);
            // PARTITION BY layout is parquet/json/csv-only for now.
            // WITH (SCHEMA_REGISTRY, SUBJECT): producer posture —
            // register-on-write under BACKWARD compatibility; a
            // rejected schema throws BEFORE any data lands.
            (props.get("SCHEMA_REGISTRY"), props.get("SUBJECT")) match {
              case (Some(reg), Some(subj)) =>
                graft.sources.SchemaRegistry(spark, reg)
                  .write(sized, path, subj)
              // sized (not df): WITH (PARTITIONS=n) sizes avro output
              // files like every other format's writer above
              case _ => graft.sources.Sources.avroSink(sized, path)
            }
          } else {
            def emit(
                w: org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row])
            : Unit =
              fmt match {
                case "JSON" => w.json(path)
                case "DELIMITED" => w.option("header", "true").csv(path)
                case _ => w.parquet(path)
              }
            emit(sel.partitionBy.fold(sized.write.mode("overwrite"))(k =>
              sized.write.mode("overwrite").partitionBy(k)))
            // a zero-row frame + partitionBy writes NO part files (there
            // is nothing to bucket into directories), leaving a dir whose
            // schema can't be inferred on re-bind — rewrite empty output
            // FLAT so one schema-carrying file exists (the parquet
            // analogue of the empty-CSAS avro header-only container; the
            // partition column stays present as a data column either
            // way). Detected AFTER the write by a directory listing
            // (Hadoop FS — PATH may be any scheme): the former pre-write
            // isEmpty probe was an extra Spark action re-evaluating the
            // frame on EVERY partitioned write (round-9 ADVICE); a
            // listing costs nothing and only the rare genuinely-empty
            // case pays a second write.
            sel.partitionBy.foreach { _ =>
              if (!dirHasData(spark, path, partitioned = true))
                emit(sized.limit(0).write.mode("overwrite"))
            }
          }
        }
        // a CTAS table's PRIMARY KEY, when derivable: a single plain
        // GROUP BY column (by alias or name), or — for a projection of
        // a table — the source table's key if it survives projection.
        // Composite / expression keys register keyless: reads are
        // already table-shaped (compacted = true), joins against the
        // table just skip the PK check.
        val ident = raw"[A-Za-z_][A-Za-z0-9_]*".r.pattern
        val ctasKey: Option[String] =
          // PARTITION BY re-keys a STREAM (ksqlDB): the output's ROWKEY
          // is the partitioning column when it is a plain identifier
          // surviving the projection; expression re-keys register keyless
          if (!isTable) sel.partitionBy.map(_.trim)
            .filter(k => ident.matcher(k).matches() &&
              df.columns.exists(_.equalsIgnoreCase(k)))
          else if (sel.groupBy.size == 1 && sel.groupingMode.isEmpty) {
            val gt = sel.groupBy.head.trim
            sel.columns.collectFirst {
              case (e, Some(a)) if e.trim.equalsIgnoreCase(gt) => a
              case (e, None) if e.trim.equalsIgnoreCase(gt) &&
                ident.matcher(gt).matches() => gt
            }.filter(a => df.columns.exists(_.equalsIgnoreCase(a)))
          } else if (sel.groupBy.isEmpty && fromTable)
            catalog.get(sel.from.toLowerCase).flatMap(_.key)
              .filter(k => df.columns.exists(_.equalsIgnoreCase(k)))
          else None
        (catalog + (name.toLowerCase -> Source(df, tc, key = ctasKey,
          isTable = isTable, compacted = isTable)), Some(df))
      case InsertInto(target, sel) =>
        val df = select(spark, catalog, sel)
        val tgt = catalog.getOrElse(target.toLowerCase,
          throw new IllegalArgumentException(s"unknown target $target"))
        // ksqlDB: INSERT INTO <query> appends to STREAMS only — a
        // table changes through its changelog (INSERT VALUES upserts)
        if (tgt.isTable) throw new IllegalArgumentException(
          s"INSERT INTO targets a STREAM — $target is a TABLE (use " +
            "INSERT VALUES for a changelog upsert)")
        val merged = tgt.copy(df = tgt.df.unionByName(df, allowMissingColumns = true))
        (catalog + (target.toLowerCase -> merged), Some(merged.df))
      case InsertValues(target, colsSpec, values) =>
        val tgt = catalog.getOrElse(target.toLowerCase,
          throw new IllegalArgumentException(s"unknown target $target"))
        if (tgt.df.isStreaming) throw new IllegalArgumentException(
          s"INSERT VALUES into streaming source $target is not supported")
        val names = if (colsSpec.nonEmpty) colsSpec else tgt.df.columns.toSeq
        if (names.length != values.length) throw new IllegalArgumentException(
          s"INSERT VALUES: ${names.length} columns but ${values.length} values")
        // names must be real, distinct target columns — a typo must not
        // silently become an all-NULL row
        val schemaNames = tgt.df.columns.map(_.toLowerCase).toSet
        val unknown = names.filterNot(n => schemaNames.contains(n.toLowerCase))
        if (unknown.nonEmpty) throw new IllegalArgumentException(
          s"INSERT VALUES: unknown column(s) ${unknown.mkString(", ")} in $target")
        val lower = names.map(_.toLowerCase)
        if (lower.distinct.length != lower.length)
          throw new IllegalArgumentException(
            s"INSERT VALUES: duplicate column in (${names.mkString(", ")})")
        val given = lower.zip(values).toMap
        // one literal row shaped and typed exactly like the target —
        // unlisted columns become typed NULLs
        val projected = tgt.df.schema.map { f =>
          val sql = given.get(f.name.toLowerCase)
            .map(v => s"CAST(${rewriteExpr(v)} AS ${f.dataType.sql})")
            .getOrElse(s"CAST(NULL AS ${f.dataType.sql})")
          s"$sql AS ${f.name}"
        }
        val row = spark.sql(s"SELECT ${projected.mkString(", ")}")
        // INSERT VALUES into a TABLE is a changelog upsert: the new
        // record appends and the next read's snapshot compaction keeps
        // the latest per key (compacted resets so a derived table
        // recompacts too)
        val merged = tgt.copy(df = tgt.df.unionByName(row),
          compacted = tgt.compacted && tgt.key.isEmpty)
        (catalog + (target.toLowerCase -> merged), Some(merged.df))
      case PrintRows(name, limit, interval, _) =>
        // FROM BEGINNING is accepted for syntax parity and is the only
        // behavior a file-backed source has (there is no "latest"
        // offset to tail without a running consumer).
        val src = catalog.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"unknown source $name"))
        if (src.df.isStreaming) throw new IllegalArgumentException(
          s"PRINT on streaming source $name needs a running sink — " +
            "use SELECT ... EMIT CHANGES with a writer instead")
        val sampled = if (interval <= 1) src.df else {
          // INTERVAL n: every nth record in the source's time order —
          // a debug peek over a bounded prefix, NOT a distributed
          // operator (the row_number window reads limit·n rows, never
          // the corpus; reproducible-at-scale sampling is
          // q_sample_stratified's hash-based op)
          import org.apache.spark.sql.expressions.Window
          val ordCol = if (src.df.columns.contains(src.timeColumn))
            col(src.timeColumn) else col(src.df.columns.head)
          // ordered take (TakeOrderedAndProject): the prefix is the
          // limit·n EARLIEST records, deterministically, not an
          // arbitrary split's first rows
          val prefix = src.df.orderBy(ordCol).limit(limit * interval)
          prefix
            .withColumn("__rn", row_number().over(Window.orderBy(ordCol)))
            .filter((col("__rn") - 1) % interval === 0)
            .drop("__rn")
        }
        (catalog, Some(sampled.limit(limit)))
      case Query(sel) => (catalog, Some(select(spark, catalog, sel)))
      case ShowSources(_) =>
        import spark.implicits._
        val rows = catalog.toSeq.map { case (n, src) =>
          (n, src.timeColumn, src.df.isStreaming)
        }.sortBy(_._1)
        (catalog, Some(rows.toDF("name", "time_column", "is_streaming")))
      case Describe(name, extended) =>
        import spark.implicits._
        // a registered MATERIALIZED VIEW describes like any other
        // catalog object (the TABLE surface again): its keys, aggregate
        // kinds, state artifact, cutoff, and bindings — metadata only,
        // no scan. Catalog sources shadow views of the same name, like
        // the query-time resolution order in select().
        if (!catalog.contains(name.toLowerCase) &&
          graft.plans.MaterializedViews.view(name.toLowerCase).isDefined) {
          val v = graft.plans.MaterializedViews.view(name.toLowerCase).get
          val rows = Seq(
            "(materialized view)" -> v.name,
            "(group keys)" -> v.groupNames.mkString(", "),
            "(aggregates)" -> v.mergeAgg.map { case (n, k) => s"$n:$k" }
              .mkString(", "),
            "(state dir)" -> v.stateDir,
            "(delta)" -> v.deltaPred.toString,
            "(base paths)" -> v.basePaths.toSeq.sorted.mkString(","),
            "(retracted)" -> v.retracted.toString) ++
            v.sessionGap.map(g => "(session gap ms)" -> g.toString).toSeq ++
            v.sessionTimeCol.map(c => "(session time column)" -> c).toSeq ++
            v.liveSource.map(l => "(live source)" -> l).toSeq ++
            v.distinctOf.map(_ =>
              "(distinct pair-set)" -> v.pairCounts.toString).toSeq
          return (catalog, Some(rows.toDF("column", "type")))
        }
        val src = catalog.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"unknown source $name"))
        val rows = src.df.schema.map(f => (f.name, f.dataType.simpleString))
        if (!extended) (catalog, Some(rows.toDF("column", "type")))
        else {
          // EXTENDED: the schema plus source metadata rows, same
          // 2-column shape so the frame stays uniform (KSQL prints a
          // similar mixed listing). Size comes from optimizer STATS
          // (file-size metadata, plus the exact row count when the plan
          // carries one) — never a count() scan: DESCRIBE is a metadata
          // command, and a full re-execution of a CSAS-derived frame at
          // 100 TB as a side effect of describing it would be absurd.
          val meta = Seq(
            "(time column)" -> src.timeColumn,
            "(key column)" -> src.key.getOrElse("<none>"),
            "(watermark)" -> src.watermark,
            "(streaming)" -> src.df.isStreaming.toString) ++
            (if (src.df.isStreaming) Nil
             else {
               val stats = src.df.queryExecution.optimizedPlan.stats
               Seq("(size bytes est)" -> stats.sizeInBytes.toString) ++
                 stats.rowCount.map(c => "(row count est)" -> c.toString)
             })
          (catalog, Some((rows ++ meta).toDF("column", "type")))
        }
      case DropSource(name, ifExists) =>
        if (!ifExists && !catalog.contains(name.toLowerCase))
          throw new IllegalArgumentException(s"unknown source $name")
        (catalog - name.toLowerCase, None)
      case ExplainStmt(sel) =>
        import spark.implicits._
        val df = select(spark, catalog, sel)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        (catalog, Some(Seq(plan).toDF("plan")))
      case ExplainQuery(id) =>
        import spark.implicits._
        // ksqlDB's running-query form: EXPLAIN <queryId> answers status +
        // runtime metrics + the live physical plan of one persistent
        // query (matched by UUID or name, like TERMINATE). PAUSED
        // registry entries explain as their state (no live plan — the
        // checkpoint holds it); unknown ids are a statement error.
        spark.streams.active.toSeq.find(q =>
          q.id.toString == id || Option(q.name).contains(id)) match {
          case Some(q) =>
            val prog = Option(q.lastProgress)
            // the public StreamingQuery API only PRINTS its plan;
            // capture stdout (serialized with statement execution —
            // RestServer runs statements under one lock). Before the
            // first batch Spark reports no-physical-plan prose; that
            // text is the honest answer there.
            val plan = {
              val buf = new java.io.ByteArrayOutputStream()
              val ps = new java.io.PrintStream(buf, true, "UTF-8")
              // the wrapper prints via Scala's Predef.println → Console.out
              scala.Console.withOut(ps) { q.explain() }
              buf.toString("UTF-8").trim
            }
            val rows = Seq(
              "query_id" -> q.id.toString,
              "run_id" -> q.runId.toString,
              "name" -> Option(q.name).getOrElse(""),
              "state" -> "RUNNING",
              "status" -> q.status.message,
              "batch_id" -> prog.map(_.batchId.toString).getOrElse(""),
              "input_rows_per_sec" ->
                prog.map(p => f"${p.inputRowsPerSecond}%.1f").getOrElse(""),
              "state_rows" -> prog.flatMap(_.stateOperators.headOption)
                .map(_.numRowsTotal.toString).getOrElse(""),
              "plan" -> plan)
            (catalog, Some(rows.toDF("property", "value")))
          case None if QueryControl.pausedNames(spark).contains(id) =>
            (catalog, Some(Seq("name" -> id, "state" -> "PAUSED")
              .toDF("property", "value")))
          case None => throw new IllegalArgumentException(
            s"no running or paused query $id")
        }
      case ShowQueries =>
        import spark.implicits._
        // state column (ksqlDB model): RUNNING for live queries, PAUSED
        // for registry entries suspended by PAUSE — those are no longer
        // in spark.streams.active but remain listed and resumable
        val active = spark.streams.active.toSeq.map(q =>
          (q.id.toString, Option(q.name).getOrElse(""), q.isActive, "RUNNING"))
        val paused = QueryControl.pausedNames(spark).toSeq.sorted
          .map(n => ("", n, false, "PAUSED"))
        (catalog,
          Some((active ++ paused).toDF("query_id", "name", "is_active", "state")))
      case CreateConnector(isSource, name, props, ifNotExists) =>
        Connectors.create(spark, isSource, name, props, ifNotExists)
        (catalog, None)
      case ShowConnectors =>
        import spark.implicits._
        (catalog,
          Some(Connectors.list(spark).toDF("connector", "type", "state")))
      case DescribeConnector(name) =>
        import spark.implicits._
        (catalog,
          Some(Connectors.describe(spark, name).toDF("property", "value")))
      case DropConnector(name, ifExists) =>
        Connectors.drop(spark, name, ifExists)
        (catalog, None)
      case SetProp(k, v) =>
        // session-scoped property map (KSQL CLI SET). Keys that name
        // Spark confs apply directly — the practical bridge for e.g.
        // SET 'spark.sql.shuffle.partitions' = '64'; everything else is
        // recorded and visible via SHOW PROPERTIES.
        propsFor(spark).put(k, v)
        if (k.startsWith("spark.")) spark.conf.set(k, v)
        (catalog, None)
      case UnsetProp(k) =>
        propsFor(spark).remove(k)
        if (k.startsWith("spark.")) spark.conf.unset(k)
        (catalog, None)
      case ShowProperties =>
        import spark.implicits._
        val rows = propsFor(spark).toSeq.sortBy(_._1)
        (catalog, Some(rows.toDF("property", "value")))
      case DescribeFunction(name) =>
        import spark.implicits._
        val f = graft.GraftExtensions.functions.find(_.name.equalsIgnoreCase(name))
          .getOrElse(throw new IllegalArgumentException(s"unknown function $name"))
        (catalog, Some(Seq((name.toUpperCase, f.kind, f.usage))
          .toDF("function", "kind", "usage")))
      case ShowFunctions =>
        import spark.implicits._
        val rows = graft.GraftExtensions.functions
          .map(f => (f.name.toUpperCase, f.kind, f.usage)).sortBy(_._1)
        (catalog, Some(rows.toDF("function", "kind", "usage")))
      case Terminate(id) =>
        val targets =
          if (id.equalsIgnoreCase("ALL")) spark.streams.active.toSeq
          else spark.streams.active.toSeq.filter(q =>
            q.id.toString == id || Option(q.name).contains(id))
        if (targets.isEmpty && !id.equalsIgnoreCase("ALL"))
          throw new IllegalArgumentException(s"no active query $id")
        targets.foreach { q =>
          q.stop()
          // a terminated query must not linger as PAUSE/RESUME-able
          Option(q.name).foreach(QueryControl.forget(spark, _))
        }
        (catalog, None)
      case AssertExists(kind, name, registry, notExists, timeoutMs) =>
        import spark.implicits._
        // the condition is re-checked every 50 ms until it holds or the
        // timeout lapses (ksqlDB's contract: materialization is async
        // in a real cluster; with graft's synchronous translator the
        // poll usually resolves on the first probe, but the timeout
        // semantics are preserved for REST/multi-server use)
        def exists(): Boolean = kind match {
          case "SCHEMA" =>
            val reg = registry
              .orElse(propsFor(spark).get("ksql.schema.registry"))
              .getOrElse(throw new IllegalArgumentException(
                "ASSERT SCHEMA needs REGISTRY 'dir' or SET " +
                  "'ksql.schema.registry'='dir'"))
            try graft.sources.SchemaRegistry(spark, reg).versions(name).nonEmpty
            catch { case scala.util.control.NonFatal(_) => false }
          case _ => catalog.contains(name.toLowerCase)
        }
        val deadline = System.nanoTime() + timeoutMs * 1000000L
        var ok = exists() == !notExists
        while (!ok && System.nanoTime() < deadline) {
          Thread.sleep(50)
          ok = exists() == !notExists
        }
        if (!ok) throw new IllegalArgumentException(
          s"Assertion failed: $kind $name " +
            (if (notExists) "still exists" else "does not exist") +
            (if (timeoutMs > 0) s" after ${timeoutMs / 1000} s" else ""))
        (catalog, Some(Seq((kind, name,
          if (notExists) "ABSENT" else "EXISTS"))
          .toDF("kind", "name", "state")))
      case Pause(id) =>
        import spark.implicits._
        val names = QueryControl.pause(spark, id)
        (catalog, Some(names.map(n => (n, "PAUSED")).toDF("name", "state")))
      case Resume(id) =>
        import spark.implicits._
        val names = QueryControl.resume(spark, id)
        (catalog, Some(names.map(n => (n, "RUNNING")).toDF("name", "state")))
      case RunScript(path) =>
        val script = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
          java.nio.charset.StandardCharsets.UTF_8)
        runScript(spark, catalog, script)
      case DefineVar(n, v) =>
        varsFor(spark).put(n, v)
        (catalog, None)
      case UndefineVar(n) =>
        varsFor(spark).remove(n)
        (catalog, None)
      case ShowVariables =>
        import spark.implicits._
        val rows = varsFor(spark).toSeq.sortBy(_._1)
        (catalog, Some(rows.toDF("variable", "value")))
      case CreateType(n, t) =>
        // eager validation: resolve + parse NOW so a bad definition
        // fails at CREATE TYPE, not at first use inside a schema
        sparkType(resolveType(spark, t))
        typesFor(spark).put(n.toUpperCase, t)
        (catalog, None)
      case DropType(n, ifExists) =>
        val removed = typesFor(spark).remove(n.toUpperCase)
        if (removed.isEmpty && !ifExists)
          throw new IllegalArgumentException(s"unknown type $n")
        (catalog, None)
      case ShowTypes =>
        import spark.implicits._
        val rows = typesFor(spark).toSeq.sortBy(_._1)
        (catalog, Some(rows.toDF("type_name", "definition")))
      case ShowMaterializedViews =>
        // the MV-rewrite catalog (graft.plans.MaterializedViews): the
        // views whose plain aggregates the optimizer rule serves from
        // state ∪ delta — surfaced in the dialect like every other
        // catalog listing
        import spark.implicits._
        (catalog, Some(graft.plans.MaterializedViews.describeAll
          .toDF("name", "base", "group_keys", "aggregates")))

      case CreateMaterializedView(name, props, sel, ifNotExists) =>
        // ksqlDB's whole TABLE contract is that a CTAS *is* a
        // materialized view; this DDL makes that explicit for the
        // batch/pull engine: register the SELECT's aggregate shape with
        // the optimizer rewrite, so every PLAIN user aggregate matching
        // it — posted over REST, typed in the REPL, or written as raw
        // Spark — silently serves from merge(state ⊎ delta) instead of
        // rescanning history.
        //
        // WITH (STATE_DIR='dir')  — where the pre-delta partials live.
        //   SINGLE-WRITER: built here only when the directory holds no
        //   data; a replaying server (command-log late joiner, restart)
        //   registers against the already-built artifact and never
        //   rewrites it — the same posture as connector tasks.
        // WITH (DELTA='<pred>') — the serving-time rescan region;
        //   everything OUTSIDE it must be covered by the state artifact.
        //   Both registration guards (non-group conjunct, NULL-coverage
        //   probe) apply exactly as in the programmatic API.
        //
        // Scope: plain GROUP BY over one PATH-bound source (expressions
        // allowed as keys), optional WHERE folded into the base on BOTH
        // branches. Windowed shapes stay programmatic
        // (Incremental.mvWindowPrepare) until a WINDOW mapping lands.
        val mvName = name.toLowerCase
        if (graft.plans.MaterializedViews.registered.contains(mvName)) {
          // idempotent like every CREATE here: command-log replay
          // re-executes DDL on servers that already applied it
          (catalog, None)
        } else {
          def need(k: String): String = props.getOrElse(k,
            throw new IllegalArgumentException(
              s"CREATE MATERIALIZED VIEW needs WITH ($k='…')"))
          val stateDir = need("STATE_DIR")
          val deltaText = need("DELTA")
          if (sel.having.isDefined ||
            sel.orderBy.nonEmpty || sel.limit.isDefined ||
            sel.fromSub.isDefined || sel.groupingMode.isDefined)
            throw new IllegalArgumentException(
              "CREATE MATERIALIZED VIEW supports a " +
                "SELECT … FROM src [JOIN dim ON …]* [WHERE …] " +
                "[WINDOW TUMBLING|HOPPING|SESSION …] GROUP BY … " +
                "definition (a ROLLUP/CUBE view is redundant — register " +
                "the per-key view and the grouping-sets rewrite serves " +
                "every set)")
          sel.window match {
            case Some(sess: Session) =>
              // SESSION CMV (round 15): per-row partials can't carry a
              // session (not a function of one row's timestamp), so the
              // transparent rewrite never serves these — but the TABLE
              // surface can: the state artifact stores one INTERVAL
              // record per (keys, session), and a pull BY NAME repairs
              // state ∪ sessionized(Δ) with the q_incr_session
              // gaps-and-islands merge, pruned to delta-touched keys.
              return createSessionMv(spark, catalog, mvName, sel, sess,
                stateDir, deltaText, props)
            case _ => ()
          }
          if (sel.groupBy.isEmpty && sel.window.isEmpty)
            throw new IllegalArgumentException(
              "CREATE MATERIALIZED VIEW needs a GROUP BY (the view state " +
                "is per-group partials)")
          val src = catalog.getOrElse(sel.from.toLowerCase,
            throw new IllegalArgumentException(s"unknown source ${sel.from}"))
          // JOIN-VIEW DDL (round 15): the definition may join dims —
          // INNER equi-joins only, the exact shape the rewrite's unwrap
          // crosses (outer joins null-extend, making partial(Δ ⋈ dim)
          // unsound; WITHIN is a streaming interval contract). The
          // joined base registers exactly as the programmatic join
          // views do: the join condition becomes a structural shape
          // key, and a user's plain join-aggregate over the same
          // relations serves from merge(state ∪ partial(Δfact ⋈ dim)).
          // NO broadcast hint here — a ResolvedHint node in the
          // DEFINITION would stop it unwrapping at registration (user
          // plans are safe either way: the optimizer folds hints into
          // the Join node before the rule runs); the serving plan's own
          // delta branch still broadcasts small dims by size.
          val joined = sel.joins.foldLeft(
            sel.fromAlias.fold(src.df)(a => src.df.alias(a))) { (acc, j) =>
            if (j.joinType != "inner") throw new IllegalArgumentException(
              s"CREATE MATERIALIZED VIEW: ${j.joinType.toUpperCase} JOIN " +
                "does not register — only INNER equi-joins unwrap (an " +
                "outer join's null-extension makes the delta partial " +
                "unsound)")
            if (j.withinMs.isDefined) throw new IllegalArgumentException(
              "CREATE MATERIALIZED VIEW: WITHIN joins are a streaming " +
                "interval contract, not a materializable view shape")
            if (j.table.toLowerCase == sel.from.toLowerCase ||
              sel.joins.count(_.table.toLowerCase == j.table.toLowerCase) > 1)
              throw new IllegalArgumentException(
                "CREATE MATERIALIZED VIEW: self-joins do not register " +
                  "— two sides sharing a relation make name-based " +
                  "expression matching ambiguous")
            val right = catalog.getOrElse(j.table.toLowerCase,
              throw new IllegalArgumentException(
                s"unknown source ${j.table}"))
            val rdf = j.alias.fold(right.df)(a => right.df.alias(a))
            acc.join(rdf,
              expr(s"${rewriteExpr(j.onLeft)} = ${rewriteExpr(j.onRight)}"),
              "inner")
          }
          val base = sel.where.fold(joined)(w =>
            joined.filter(expr(rewriteExpr(w))))
          // group keys / aggregates: the same alias resolution (and the
          // same windowStruct construction) as the grouped SELECT path,
          // so the registered definition is exactly what the equivalent
          // pull query plans — tumbling registers the window struct as
          // an expression key, hopping through its Expand shape key
          val winCol = sel.window.map(w =>
            windowStruct(w, col(src.timeColumn)))
          val aliasMap = sel.columns.collect {
            case (e, Some(a)) => a.toLowerCase -> e
          }.toMap
          val keys = winCol.toSeq ++ sel.groupBy.map { g =>
            aliasMap.get(g.trim.toLowerCase) match {
              case Some(e) => expr(rewriteExpr(e)).as(g.trim)
              case None => expr(rewriteExpr(g))
            }
          }
          val keyTexts = sel.groupBy
            .map(g => rewriteExpr(aliasMap.getOrElse(g.trim.toLowerCase, g)))
            .toSet
          // WINDOWSTART/WINDOWEND are pseudo-columns of the window key —
          // they surface post-agg at query time, not as registered aggs
          val isWinPseudo = (e: String) => {
            val t = e.replaceAll("\\s", "").toLowerCase
            t == "windowstart" || t == "windowstart()" ||
              t == "windowend" || t == "windowend()"
          }
          val aggs = sel.columns.filterNot { case (e, _) =>
            keyTexts.contains(rewriteExpr(e)) || isWinPseudo(e)
          }.map { case (e, alias) =>
            val a = alias.getOrElse(throw new IllegalArgumentException(
              s"materialized-view aggregate '$e' needs an AS alias — the " +
                "state artifact's column names are the serving contract"))
            expr(rewriteExpr(e)).as(a)
          }
          if (aggs.isEmpty) throw new IllegalArgumentException(
            "CREATE MATERIALIZED VIEW needs at least one aggregate column")
          val deltaPred = expr(rewriteExpr(deltaText))
          // VALIDATE BEFORE WRITING (round-13 ADVICE): every register-
          // side guard — definition shape, unsupported aggregates, the
          // non-group-conjunct recursion guard, the NULL-coverage
          // probe — runs FIRST, so a rejected DELTA can never leave an
          // artifact built under its complement in STATE_DIR for a
          // corrected re-issue to silently register against.
          val validated = graft.plans.MaterializedViews.validate(spark,
            mvName, base = _ => base, stateDir = stateDir,
            deltaPred = deltaPred, groupCols = keys, aggCols = aggs)
          // a sole COUNT(DISTINCT) registers as a PAIR-SET view, whose
          // state artifact is the distinct (group, value) pair set — NOT
          // the aggregated counts this DDL's state build writes. Rather
          // than build an artifact the serving plan would reject on its
          // first union (loud, but a bricked STATE_DIR), refuse at
          // statement time with the pointer.
          if (validated.distinctOf.isDefined)
            throw new IllegalArgumentException(
              "CREATE MATERIALIZED VIEW: COUNT(DISTINCT) views need a " +
                "PAIR-SET state artifact (the distinct (group, value) " +
                "pairs), which this DDL's aggregate build does not " +
                "write — register programmatically against a pair " +
                "artifact (MaterializedViews.register over a prepared " +
                "pair state, as q_mv_distinct does via " +
                "Incremental.mvDistinctPrepare)")
          // the defining signature persists NEXT TO the artifact and is
          // verified on the registration-from-existing-artifact path:
          // the contract state ⊎ delta = base only holds when the
          // artifact was built under THIS definition's complement — a
          // dir reused with a different WHERE/keys/aggs/DELTA would
          // otherwise serve silently wrong answers
          val signature = Seq(
            "src=" + sel.from.toLowerCase,
            "joins=" + sel.joins.map(j => s"${j.joinType}:" +
              s"${j.table.toLowerCase}:${rewriteExpr(j.onLeft)}=" +
              rewriteExpr(j.onRight)).mkString("|"),
            "where=" + sel.where.map(rewriteExpr).getOrElse(""),
            "keys=" + keys.map(_.toString).mkString("|"),
            "aggs=" + aggs.map(_.toString).mkString("|"),
            "delta=" + rewriteExpr(deltaText)).mkString("\n")
          // single-writer state build: only when the dir holds a SIGNED
          // artifact. Data without a signature is an INCOMPLETE build (a
          // crash between the parquet write and the sidecar publish) —
          // permanently refusing it would brick the directory for the
          // identical re-issued statement; rebuilding under the incoming
          // definition is always self-consistent (the overwrite replaces
          // whatever partial state the crash left).
          val onDisk = readSignature(spark, stateDir)
          if (dirHasData(spark, stateDir) && onDisk.isDefined) {
            if (onDisk.get != signature) throw new IllegalArgumentException(
              s"CREATE MATERIALIZED VIEW $mvName: STATE_DIR '$stateDir' " +
                "holds an artifact built under a DIFFERENT definition — " +
                "serving from it would violate state ⊎ delta = base; " +
                "point STATE_DIR at a fresh directory or re-issue the " +
                "original definition")
          } else {
            base.filter(!deltaPred)
              .groupBy(keys: _*)
              .agg(aggs.head, aggs.tail: _*)
              .write.mode("overwrite").parquet(stateDir)
            writeSignature(spark, stateDir, signature)
          }
          // WITH (LIVE='stream'): bind the named streaming source as the
          // view's continuation — a push query `SELECT … FROM <view>
          // EMIT CHANGES` then folds that stream's events into the
          // batch-served answer (the ksqlDB table push query) instead
          // of replaying any topic. The name resolves at QUERY time
          // against the querying catalog; here we only derive the
          // per-event contribution recipe for each registered aggregate
          // and enforce the shape the seeded fold supports. LIVE is a
          // serving binding, not a state contract, so it is NOT part of
          // the artifact signature.
          val liveSource = props.get("LIVE").map(_.toLowerCase)
          val liveContribs: Seq[org.apache.spark.sql.Column] =
            liveSource match {
              case None => Nil
              case Some(_) =>
                if (sel.joins.nonEmpty)
                  throw new IllegalArgumentException(
                    "LIVE does not compose with a JOIN view — the push " +
                      "continuation folds RAW stream events, which lack " +
                      "the joined dim columns; enrich the stream with a " +
                      "stream-table join upstream and bind THAT source, " +
                      "or serve the join view by pull")
                if (validated.distinctOf.isDefined)
                  throw new IllegalArgumentException(
                    "LIVE does not compose with a COUNT(DISTINCT) pair-" +
                      "set view — the streaming continuation of distinct " +
                      "counts is the counted-pair handoff " +
                      "(StreamingIncremental.seededDistinctCount)")
                sel.columns.filterNot { case (e, _) =>
                  keyTexts.contains(rewriteExpr(e)) || isWinPseudo(e)
                }.map { case (e, _) => contributionOf(spark, rewriteExpr(e)) }
            }
          // windowed LIVE continuation: tumbling is one pane per event,
          // hopping fans each event to size/advance panes — both on the
          // epoch-millis grid the batch window() uses (UTC sessions)
          val liveWindow: Option[(Long, Long)] =
            if (liveSource.isEmpty) None
            else sel.window.map {
              case t: Tumbling => (t.sizeMs, t.sizeMs)
              case h: Hopping => (h.sizeMs, h.advanceMs)
              case _: Session => throw new IllegalArgumentException(
                "LIVE does not compose with SESSION windows (a session " +
                  "is not a function of one row's timestamp) — the " +
                  "session continuation is the interval-repair handoff " +
                  "(StreamingIncremental.seededSessionize)")
            }
          // register the view validate() already built — the probes ran
          // once; the defining signature rides along so REFRESH can bind
          // its artifact to THIS definition (a DROP + re-CREATE under
          // the same name but different semantics must not re-pin onto
          // the old definition's refresh artifacts)
          graft.plans.MaterializedViews.registerValidated(
            validated.copy(defSignature = Some(signature),
              liveSource = liveSource, liveContribs = liveContribs,
              liveWindow = liveWindow))
          graft.plans.MaterializedViews.install(spark)
          (catalog, None)
        }

      case DropMaterializedView(name, ifExists) =>
        val had = graft.plans.MaterializedViews.drop(name.toLowerCase)
        if (!had && !ifExists) throw new IllegalArgumentException(
          s"unknown materialized view $name")
        (catalog, None)

      case RefreshMaterializedView(name, props) =>
        // the maintenance half of the MV lifecycle (the create is
        // CreateMaterializedView above): fold the rows that LEAVE the
        // delta — plus, with DELETED, upstream retractions — into a
        // FRESH artifact at the new STATE_DIR and advance the cutoff.
        // SINGLE-WRITER like the create's state build: the server that
        // receives the statement folds; a replaying server (command-log
        // late joiner, restart) finds the artifact already built and
        // re-pins its registration — registration only, never a second
        // fold. The statement replicates through the command log as an
        // `#mv:name#refresh` binding, so every server serves the new
        // artifact (the round-13 lifecycle asymmetry, closed).
        val mvName = name.toLowerCase
        def needR(k: String): String = props.getOrElse(k,
          throw new IllegalArgumentException(
            s"REFRESH MATERIALIZED VIEW needs WITH ($k='…')"))
        val newDir = needR("STATE_DIR")
        val deltaText = needR("DELTA")
        if (!graft.plans.MaterializedViews.registered.contains(mvName))
          throw new IllegalArgumentException(
            s"unknown materialized view $name")
        val newPred = expr(rewriteExpr(deltaText))
        val deletedText = props.get("DELETED")
        // the refresh contract baked next to the artifact: a replaying
        // server re-pins ONLY against an artifact the exact same
        // statement built over the SAME view definition — the owning
        // view's defining signature is part of the refresh signature, so
        // a DROP + re-CREATE under the same name with different
        // semantics (a different WHERE, say) can never re-pin onto an
        // artifact folded from the old definition, even when the
        // key/agg column names line up (round-14 ADVICE).
        val owner = graft.plans.MaterializedViews.view(mvName)
        val signature = Seq(
          "view=" + mvName,
          "delta=" + rewriteExpr(deltaText),
          "deleted=" + deletedText.map(rewriteExpr).getOrElse(""),
          "def.sha=" + owner.flatMap(_.defSignature).map(sha256Hex)
            .getOrElse(""))
          .mkString("\n")
        val onDisk = readSignature(spark, newDir)
        // signed data = a completed refresh; unsigned data = a build
        // that crashed between the fold and the sidecar publish, re-run
        // the fold (overwrite replaces the partial output)
        if (dirHasData(spark, newDir) && onDisk.isDefined) {
          if (onDisk.get != signature) throw new IllegalArgumentException(
            s"REFRESH MATERIALIZED VIEW $mvName: STATE_DIR '$newDir' " +
              "holds an artifact a DIFFERENT refresh built (or the same " +
              "refresh over a DIFFERENT definition of the view) — " +
              "re-pinning against it would serve a cutoff or contract " +
              "the artifact doesn't cover; use a fresh directory")
          graft.plans.MaterializedViews.repin(mvName, newDir, newPred,
            retracted = deletedText.isDefined,
            deletedPred = deletedText.map(dt => expr(rewriteExpr(dt))))
        } else {
          val session = owner.exists(_.sessionGap.isDefined)
          deletedText match {
            case Some(dt) if session =>
              // touched-key recompute: a deleted event can SPLIT a
              // session, so keys with deletes rescan their surviving
              // rows; everyone else takes the interval repair
              graft.plans.MaterializedViews.refreshSessionWithDeletes(
                spark, mvName, newPred, expr(rewriteExpr(dt)), newDir)
            case Some(dt) =>
              graft.plans.MaterializedViews.refreshWithDeletes(spark,
                mvName, newPred, expr(rewriteExpr(dt)), newDir)
            case None if session =>
              graft.plans.MaterializedViews.refreshSession(spark, mvName,
                newPred, newDir)
            case None =>
              graft.plans.MaterializedViews.refresh(spark, mvName,
                newPred, newDir)
          }
          writeSignature(spark, newDir, signature)
        }
        (catalog, None)
    }
  }

  /** Split a script on ';' at quote-depth 0 only — a ';' inside a
    * 'string literal' must not tear the statement ('' escapes toggle
    * twice, leaving the state consistent). Shared by runScript and the
    * REPL's buffer flush.
    */
  def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var inStr = false; var start = 0
    for (i <- script.indices) script.charAt(i) match {
      case '\'' => inStr = !inStr
      case ';' if !inStr => out += script.substring(start, i); start = i + 1
      case _ =>
    }
    out += script.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Run a multi-statement KSQL script (';'-separated), threading the
    * catalog through; returns the final catalog and the last statement's
    * result. The whole reference workflow — declare sources, build
    * derived streams/tables, query — in one call.
    */
  def runScript(spark: SparkSession, catalog: Catalog, script: String)
  : (Catalog, Option[DataFrame]) =
    splitStatements(script)
      .foldLeft((catalog, Option.empty[DataFrame])) {
        case ((cat, _), stmt) => run(spark, cat, stmt)
      }

  /** Split a composite type body on top-level commas only. */
  private def topLevelSplit(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var start = 0
    for (i <- s.indices) s.charAt(i) match {
      case '<' | '(' => depth += 1
      case '>' | ')' => depth -= 1
      case ',' if depth == 0 => out += s.substring(start, i); start = i + 1
      case _ =>
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** Parse a KSQL column list ("a INT, b VARCHAR, s STRUCT<x INT>")
    * into a Spark schema — the connector runtime's 'schema' property
    * uses the same type names as CREATE STREAM columns. */
  private[ksql] def parseSchema(spark: SparkSession,
      cols: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(topLevelSplit(cols).map { f =>
      val i = f.indexOf(' ')
      if (i < 0) throw new IllegalArgumentException(
        s"schema entry needs 'name TYPE', got '$f'")
      org.apache.spark.sql.types.StructField(f.substring(0, i),
        sparkType(resolveType(spark, f.substring(i + 1))))
    })

  private def sparkType(t: String): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    t.trim.toUpperCase match {
      case "VARCHAR" | "STRING" => StringType
      case "INT" | "INTEGER" => IntegerType
      case "BIGINT" => LongType
      case "DOUBLE" => DoubleType
      case "BOOLEAN" => BooleanType
      case "TIMESTAMP" => TimestampType
      // ksqlDB 0.20/0.21 column types (round 18): TIME rides Spark
      // 4.1's TIME (micros precision — parquet TIME_MICROS, what
      // to_time returns); DATE and BYTES previously fell through to
      // the VARCHAR default silently
      case "DATE" => DateType
      case "TIME" => TimeType(6)
      case "BYTES" => BinaryType
      case a if a.startsWith("ARRAY") =>
        // recurse on the ORIGINAL-case text: the uppercased match
        // string would destroy nested STRUCT field-name case
        val raw = t.trim
        ArrayType(sparkType(
          raw.substring(raw.indexOf('<') + 1, raw.lastIndexOf('>'))))
      case st if st.startsWith("STRUCT") =>
        // extract the original-case body between the outer <...>
        val raw = t.trim
        val body = raw.substring(raw.indexOf('<') + 1, raw.lastIndexOf('>'))
        StructType(topLevelSplit(body).map { f =>
          val i = f.indexOf(' ')
          if (i < 0) throw new IllegalArgumentException(
            s"STRUCT field needs 'name TYPE', got '$f'")
          StructField(f.substring(0, i), sparkType(f.substring(i + 1)))
        })
      case d if d.startsWith("DECIMAL") =>
        val body = d.stripPrefix("DECIMAL").stripPrefix("(").stripSuffix(")").trim
        topLevelSplit(body).map(_.toInt) match {
          case Seq(p, s) => DecimalType(p, s)
          case Seq(p) => DecimalType(p, 0)
          case _ => DecimalType(10, 0)
        }
      case m if m.startsWith("MAP") => MapType(StringType, StringType)
      case _ => StringType
    }
  }
}
