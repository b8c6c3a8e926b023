package perfbench

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.ksql.Translator
import graft.ksql.Translator.Source

/** Event stream row (event time in whole milliseconds). */
final case class PbEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, amount: Long)

/** Account changelog row: `off` is its offset, in the events' millisecond
  * domain. */
final case class PbAcct(id: Long, seg: String, bal: Long, off: Long)

/** stream_push: four persistent queries, each submitted as a ksqlDB
  * statement through graft's dialect, over generated MemoryStreams:
  *
  *  - tumbling: windowed count/sum per user (HDFS state store);
  *  - session: session windows per user (HDFS state store);
  *  - join_agg: events ⋈ live accounts table → GROUP BY segment (RocksDB);
  *  - table_reagg: re-aggregation of the accounts changelog (RocksDB).
  *
  * The timed region is a closed loop: append a chunk to every stream,
  * wait until all four queries drained it, repeat for `--seconds`. The
  * traced run adds an open loop: a chunk every `TickMs` on a fixed
  * schedule for `--seconds`, whatever the engine does. Every row is
  * generated from the seed before either loop starts. */
object StreamPush {
  val Users = 40000           // account key space; state of the RocksDB queries
  val ZipfS = 1.1             // skew of event keys
  val Segments = 50
  val SetupReps = 3          // set-ups per run, each in a fresh session
  val WarmChunks = 2          // untimed, after set-up: JIT and caches (after one, the first timed chunks still sped up)
  val MinChunks = 3           // closed loop: chunks until --seconds, at least ...
  val MaxChunks = 24          // ... and at most, ...
  val CapEvents = 8000        // ... of this many events
  val CapUpdates = 1000       // ... and account updates (fewer after dedup)
  val TracedChunks = 3        // traced run: closed-loop chunks with the job listener
  val EventMs = 2             // event time advanced per event
  val GraceMs = 30000         // watermark delay (GRACE PERIOD)
  val TickMs = 50             // open loop: one chunk per tick
  val OpenRate = 1000         // open loop: events per second (a quarter of capacity)
  val OpenUpdates = 10        // open loop: account updates per tick
  val LateShare = 0.10        // events up to GraceMs/2 out of order
  val VeryLateShare = 0.01    // events VeryLateMs late (dropped by windows)
  // far beyond the grace period plus any event-time gap left by chunks
  // generated but not fed (at most MaxChunks · CapEvents · EventMs)
  val VeryLateMs = 1800000
  val SessionGapMs = 2000
  // One state partition per stateful operator: the four queries share
  // the cores, and at one partition per core each batch paid four
  // state-store commits per operator (capacity 4.9k rows/s there, 11.5k
  // rows/s here, on 4 cores)
  val StatePartitions = 1
  val Names = Seq("tumbling", "session", "join_agg", "table_reagg")
  private val T0 = 1704067200000L // 2024-01-01T00:00:00Z

  final case class Chunk(events: Seq[PbEvent], accts: Seq[PbAcct]) {
    /** The join's stream. The as-of join folds facts and account updates
      * in event-time order, so an out-of-order event would meet a
      * different account version depending on where batch boundaries
      * fall; the join therefore sees every event at its generation
      * time, in order. */
    lazy val joinEvents: Seq[PbEvent] =
      events.map(e => e.copy(ts = new java.sql.Timestamp(clockOf(e))))
  }

  private def clockOf(e: PbEvent): Long = T0 + e.event_id * EventMs

  /** An event VeryLateMs behind the generator's clock; every windowed
    * query drops it as late. The clock of event k is T0 + k·EventMs. */
  def veryLate(e: PbEvent): Boolean = clockOf(e) - e.ts.getTime > VeryLateMs / 2

  /** Deterministic inputs for one run, in the order they are fed. */
  final class Inputs(seed: Long, openTicks: Int) {
    private val rng = new scala.util.Random(seed)
    private val cdf = {
      val w = (1 to Users).map(k => 1.0 / math.pow(k, ZipfS))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    private val perm = rng.shuffle((0 until Users).toVector)
    private def user(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      perm(math.min(Users - 1, if (i >= 0) i else -i - 1)).toLong
    }
    private val types = Array("click", "view", "purchase", "signup", "error")
    private var nextId = 0L
    private var clock = T0
    private var off = 0L

    val preload: Seq[PbAcct] =
      (0 until Users).map(i => PbAcct(i, s"seg${rng.nextInt(Segments)}", 1 + rng.nextInt(10000), 0L))

    private def chunk(events: Int, updates: Int, allowVeryLate: Boolean): Chunk = {
      val base = clock
      // account updates carry an odd offset between the previous chunk's
      // events and this chunk's (event clocks are even), so the as-of
      // join folds them in feed order whatever the batch split
      off = base + 1
      val accts = (0 until updates).map { _ =>
        PbAcct(rng.nextInt(Users), s"seg${rng.nextInt(Segments)}", 1 + rng.nextInt(10000), off)
      }.groupBy(_.id).values.map(_.last).toSeq.sortBy(_.id)
      val evs = (0 until events).map { _ =>
        clock += EventMs
        val r = rng.nextDouble()
        val t =
          if (allowVeryLate && r < VeryLateShare) clock - VeryLateMs
          else if (r < VeryLateShare + LateShare) clock - rng.nextInt(GraceMs / 2)
          else clock
        nextId += 1
        PbEvent(nextId, new java.sql.Timestamp(t), user(), types(rng.nextInt(types.length)),
          1 + rng.nextInt(1000))
      }
      Chunk(evs, accts)
    }

    val warmup: Seq[Chunk] = (0 until WarmChunks).map(i => chunk(CapEvents, CapUpdates, i > 0))
    val capacity: Seq[Chunk] = (0 until MaxChunks).map(_ => chunk(CapEvents, CapUpdates, allowVeryLate = true))
    val tracedCapacity: Seq[Chunk] =
      if (openTicks > 0) (0 until TracedChunks).map(_ => chunk(CapEvents, CapUpdates, allowVeryLate = true)) else Nil
    val open: Seq[Chunk] =
      (0 until openTicks).map(_ => chunk(OpenRate * TickMs / 1000, OpenUpdates, allowVeryLate = true))
    /** Far-future events that close every window and session. */
    def flush(k: Int): Seq[PbEvent] =
      Seq(PbEvent(-k, new java.sql.Timestamp(clock + 86400000L * k), -1L, "flush", 1L))
  }

  /** One persistent query with its own sources and the table its sink
    * keeps. */
  final class Running(val name: String, df: DataFrame, checkpoint: String,
                      val events: Option[MemoryStream[PbEvent]],
                      val accts: Option[MemoryStream[PbAcct]]) {
    val table: mutable.Map[String, Row] = mutable.Map.empty
    @volatile var evOff = -1L
    @volatile var acOff = -1L
    val q: StreamingQuery = launch()

    private def launch(): StreamingQuery = {
      val spark = df.sparkSession
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        if (accts.isDefined) rocks else hdfs)
      try df.writeStream
        .queryName(name)
        .option("checkpointLocation", checkpoint)
        .outputMode(if (name == "session") "append" else "update")
        .foreachBatch { (b: DataFrame, _: Long) => upsert(name, b.collect(), table) }
        .start()
      finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }

    def add(c: Chunk): Unit = {
      accts.foreach(m => if (c.accts.nonEmpty) acOff = offsetOf(m.addData(c.accts)))
      val evs = if (name == "join_agg") c.joinEvents else c.events
      events.foreach(m => if (evs.nonEmpty) evOff = offsetOf(m.addData(evs)))
    }
    /** The offset this query's latency is tracked on. */
    def tracked: Long = if (events.isDefined) evOff else acOff
  }

  private def offsetOf(o: Any): Long = o.toString.trim.toLong

  private val statements = Map(
    "tumbling" ->
      s"""CREATE TABLE tumbling AS SELECT user_id, WINDOWSTART AS ws,
         |  COUNT(*) AS cnt, SUM(amount) AS total FROM events
         |WINDOW TUMBLING (SIZE 10 SECONDS, GRACE PERIOD ${GraceMs / 1000} SECONDS)
         |GROUP BY user_id EMIT CHANGES;""".stripMargin,
    "session" ->
      s"""CREATE TABLE sessions AS SELECT user_id, WINDOWSTART AS ws,
         |  COUNT(*) AS cnt, SUM(amount) AS total FROM events
         |WINDOW SESSION (${SessionGapMs / 1000} SECONDS, GRACE PERIOD ${GraceMs / 1000} SECONDS)
         |GROUP BY user_id EMIT CHANGES;""".stripMargin,
    "join_agg" ->
      """CREATE TABLE seg_activity AS SELECT seg, COUNT(*) AS cnt, SUM(amount) AS total
        |FROM events JOIN accounts ON user_id = id
        |GROUP BY seg EMIT CHANGES;""".stripMargin,
    "table_reagg" ->
      """CREATE TABLE seg_balances AS SELECT seg, COUNT(*) AS n, SUM(bal) AS bal_sum
        |FROM accounts GROUP BY seg;""".stripMargin)
  private val keyCols = Map("tumbling" -> Seq("user_id", "ws"), "session" -> Seq("user_id", "ws"),
    "join_agg" -> Seq("seg"), "table_reagg" -> Seq("seg"))
  private val valCols = Map("tumbling" -> Seq("cnt", "total"), "session" -> Seq("cnt", "total"),
    "join_agg" -> Seq("cnt", "total"), "table_reagg" -> Seq("n", "bal_sum"))

  private val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  /** Submits the four statements, starts them and feeds the accounts
    * preload through before returning. */
  def start(spark: SparkSession, in: Inputs, checkpoints: String): Seq[Running] = {
    import spark.implicits._
    val running = Names.map { name =>
      val ev = if (name == "table_reagg") None else Some(MemoryStream[PbEvent](spark))
      val ac = if (name == "join_agg" || name == "table_reagg") Some(MemoryStream[PbAcct](spark)) else None
      val catalog: Translator.Catalog =
        ev.map(m => "events" -> Source(m.toDF(), "ts", s"${GraceMs / 1000} seconds")).toMap ++
          ac.map(m => "accounts" -> Source(m.toDF(), "off", key = Some("id"), isTable = true))
      val (_, Some(df)) = Translator.run(spark, catalog, statements(name)): @unchecked
      val r = new Running(name, df, s"$checkpoints/$name", ev, ac)
      r.accts.foreach(m => r.acOff = offsetOf(m.addData(in.preload)))
      r
    }
    running.foreach(_.q.processAllAvailable())
    running
  }

  private def upsert(name: String, rows: Array[Row], table: mutable.Map[String, Row]): Unit =
    table.synchronized {
      rows.foreach { r =>
        val k = keyCols(name).map(c => norm(r.getAs[Any](c))).mkString("|")
        val deleted = r.schema.fieldNames.contains("__deleted") && r.getAs[Boolean]("__deleted")
        if (deleted) table.remove(k) else table(k) = r
      }
    }

  private def norm(v: Any): String = v match {
    case t: java.sql.Timestamp => t.getTime.toString
    case t: java.time.Instant => t.toEpochMilli.toString
    case x => String.valueOf(x)
  }

  /** Progress of every query, kept in arrival order. */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def forName(n: String): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.name == n).toSeq
  }

  def run(o: Main.Opts): Outcome = {
    val in = new Inputs(o.seed, if (o.trace) o.seconds * 1000 / TickMs else 0)

    // set-up, SetupReps times: a fresh session; submit, start and
    // preload the four queries from fresh checkpoints. The first is the
    // cold start; setup_s is the median. The run goes on with the last.
    var spark: SparkSession = null
    var running: Seq[Running] = Nil
    val setups = (1 to SetupReps).map { i =>
      running.foreach(_.q.stop())
      if (spark != null) spark.stop()
      val s0 = Main.now
      spark = Main.session(o, o.cores, "spark.sql.shuffle.partitions" -> StatePartitions.toString)
      running = start(spark, in, s"${o.work}/stream-checkpoints/$i")
      Main.now - s0
    }
    val progress = new Progress
    spark.streams.addListener(progress)
    val fed = mutable.ArrayBuffer.empty[Chunk]
    fed ++= capacity(running, in.warmup, Double.PositiveInfinity).map(_.chunk)
    val seen = running.map(r => r.name -> progress.forName(r.q.name).size).toMap
    val heap = new LiveHeap
    val cpu0 = Main.cpuSeconds

    // the timed region: the closed loop
    val cap = capacity(running, in.capacity, o.seconds)
    fed ++= cap.map(_.chunk)
    val cpu = Main.cpuSeconds - cpu0
    val heapMb = heap.stopMb()
    val rowsPerS = rate(cap)
    val perQuery = Names.indices.map(i => Main.median(cap.map(_.drained(i))))
    val metrics = Map(
      "setup_s" -> Main.median(setups),
      "throughput" -> rowsPerS,
      "latency_p50_ms" -> Main.geomean(perQuery) * 1e3,
      "cpu_ms_per_op" -> cpu * 1e3 / cap.map(c => rowsOf(c.chunk)).sum,
      "heap_live_mb" -> heapMb)
    val info = Map(
      "chunks" -> cap.size.toDouble,
      "chunk_median_ms" -> Main.median(cap.map(_.wall)) * 1e3,
      "setup_first_s" -> setups.head,
      "timed_cpu_s" -> cpu) ++
      Names.zip(perQuery).map { case (n, v) => s"drain_p50_ms.$n" -> v * 1e3 }

    // traced run: TracedChunks more closed-loop chunks with the job
    // listener on (the tracing overhead and the operators layer), the
    // open loop, then TracedChunks at one core in a fresh session
    var failed = 0
    val layers = if (!o.trace) Map.empty[String, Double] else {
      val listener = new JobListener(() => "stream")
      spark.sparkContext.addSparkListener(listener)
      val tcap = try capacity(running, in.tracedCapacity, Double.PositiveInfinity)
      finally spark.sparkContext.removeSparkListener(listener)
      fed ++= tcap.map(_.chunk)
      val closed = running.map(r => r.name -> progress.forName(r.q.name).size).toMap
      val open = openLoop(running, in.open, progress)
      fed ++= in.open
      if (open.backlogGrew) failed += 1
      failed += in.open.size - open.latencies.size
      // per-batch figures come from the closed loop's fixed chunks
      val tracer = new Tracer(true)
      val phases = running.flatMap { r =>
        val ps = progress.forName(r.q.name).slice(seen(r.name), closed(r.name))
        ps.filter(_.numInputRows > 0).foreach { p =>
          val t = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
          tracer.add("batch", s"${r.name}#${p.batchId}", 0, t, t + p.durationMs.get("triggerExecution") / 1e3)
        }
        phaseMetrics(r.name, ps)
      }
      tracer.dump(s"${o.work}/spans.jsonl")
      val tracedRate = rate(tcap)
      phases.toMap ++ listener.total().layers("operators", tcap.size) ++
        open.perQueryP50.map { case (n, v) => s"streaming.$n.open_p50_ms" -> v } ++ Map(
        "sources.input_mb" -> 0.0,
        "streaming.open_p50_ms" -> Main.pct(open.latencies, 0.5),
        "streaming.open_p95_ms" -> Main.pct(open.latencies, 0.95),
        "streaming.open_samples" -> open.latencies.size.toDouble,
        "streaming.open_batches" -> open.batches.toDouble,
        "streaming.generator_late_p95_ms" -> Main.pct(open.lateness, 0.95),
        "streaming.backlog_end_rows" -> open.backlogEnd.toDouble,
        "trace.overhead_pct" -> (rowsPerS / tracedRate - 1) * 100)
    }
    val mismatches = check(running, in.preload, fed.toSeq, in.flush)
    running.foreach(_.q.stop())
    spark.stop()
    val reference = if (!o.trace) Map.empty[String, Double] else {
      val one = Main.session(o.copy(work = s"${o.work}/one"), 1,
        "spark.sql.shuffle.partitions" -> StatePartitions.toString)
      val in1 = new Inputs(o.seed, 0)
      val r1 = start(one, in1, s"${o.work}/one/checkpoints")
      val c1 = capacity(r1, in1.capacity.take(TracedChunks), Double.PositiveInfinity)
      r1.foreach(_.q.stop())
      one.stop()
      Map("streaming.single_thread_rows_per_s" -> rate(c1))
    }
    Outcome(cap.size + in.open.size.toLong, failed + mismatches.size, mismatches, metrics,
      layers ++ reference, info)
  }

  /** One closed-loop chunk: its wall time, from the first append to
    * the last query having drained it, and each query's drain time,
    * from the append to its own sources to its last batch committing. */
  final case class Fed(chunk: Chunk, wall: Double, drained: Seq[Double])

  /** Closed loop: appends a chunk to every query's sources and waits
    * for all four to drain it, until `seconds` have gone by (at least
    * MinChunks, at most all `chunks`). */
  private def capacity(running: Seq[Running], chunks: Seq[Chunk], seconds: Double): Seq[Fed] = {
    val pool = Executors.newFixedThreadPool(running.size)
    try {
      val t0 = Main.now
      chunks.iterator.zipWithIndex
        .takeWhile { case (_, i) => i < MinChunks || Main.now - t0 < seconds }
        .map { case (c, _) =>
          val c0 = Main.now
          val added = running.map { r => r.add(c); Main.now }
          val done = running.map(r => pool.submit(new Callable[Double] {
            def call(): Double = { r.q.processAllAvailable(); Main.now }
          })).map(_.get())
          Fed(c, done.max - c0, done.zip(added).map { case (d, a) => d - a })
        }.toVector
    } finally pool.shutdown()
  }

  /** Source rows per second at the median chunk wall time. */
  private def rate(fed: Seq[Fed]): Double =
    fed.map(f => rowsOf(f.chunk)).sum / (Main.median(fed.map(_.wall)) * fed.size)

  /** Source rows a chunk gives the four queries together. */
  private def rowsOf(c: Chunk): Long = 3L * c.events.size + 2L * c.accts.size

  final case class Open(latencies: Seq[Double], perQueryP50: Map[String, Double],
                        lateness: Seq[Double], backlogEnd: Long, backlogGrew: Boolean,
                        batches: Int)

  /** Open loop: chunk k is due at start + k·TickMs; the generator never
    * waits for the engine. A chunk's latency runs from its due time to
    * the end of the batch that covers it in the last of the four queries. */
  private def openLoop(running: Seq[Running], chunks: Seq[Chunk], progress: Progress): Open = {
    val firstProgress = running.map(r => r.name -> progress.forName(r.q.name).size).toMap
    val sent = new ConcurrentLinkedQueue[(Int, Long, Seq[(String, Long)])]
    val lateness = mutable.ArrayBuffer.empty[Double]
    val backlog = mutable.ArrayBuffer.empty[(Double, Long)]
    val start = System.currentTimeMillis() + 20
    def consumed(r: Running): Long = Option(r.q.lastProgress)
      .flatMap(p => p.sources.find(s => s.description.contains(if (r.events.isDefined) "event_id" else "bal")))
      .flatMap(s => Option(s.endOffset)).map(offsetOf).getOrElse(-1L)
    chunks.zipWithIndex.foreach { case (c, k) =>
      val due = start + k.toLong * TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      lateness += (System.currentTimeMillis() - due).toDouble
      running.foreach(_.add(c))
      sent.add((k, due, running.map(r => r.name -> r.tracked)))
      if (k % (1000 / TickMs) == 0) backlog += ((Main.now, running.map(r => r.tracked - consumed(r)).sum))
    }
    val backlogEnd = running.map(r => r.tracked - consumed(r)).sum
    running.foreach(_.q.processAllAvailable())
    // batch completions per query: (end offset, completion wall time)
    val done = running.map { r =>
      val ps = progress.forName(r.q.name).drop(firstProgress(r.name)).filter(_.numInputRows > 0)
      r.name -> ps.flatMap { p =>
        val src = p.sources.find(s => s.description.contains(if (r.events.isDefined) "event_id" else "bal"))
        src.flatMap(s => Option(s.endOffset)).map { e =>
          (offsetOf(e), java.time.Instant.parse(p.timestamp).toEpochMilli +
            p.durationMs.get("triggerExecution").longValue())
        }
      }.sortBy(_._1).toVector
    }.toMap
    // a chunk is done when the last of the four queries has committed a
    // batch covering it (per-query latencies are four different
    // distributions, and the median of their mixture jumps between them)
    val perQuery = sent.asScala.toSeq.map { case (_, due, offs) =>
      offs.map { case (n, off) => n -> done(n).find(_._1 >= off).map(_._2 - due).map(_.toDouble) }
    }
    val lat = perQuery.flatMap(qs => if (qs.forall(_._2.isDefined)) Some(qs.map(_._2.get).max) else None)
    val mid = backlog.take(backlog.size / 2).map(_._2).maxOption.getOrElse(0L)
    val perTick = OpenRate * TickMs / 1000 * 3 + OpenUpdates * 2
    val p50s = Names.map(n => n -> Main.median(perQuery.flatMap(_.find(_._1 == n).flatMap(_._2)))).toMap
    Open(lat, p50s, lateness.toSeq, backlogEnd,
      backlogEnd > mid + perTick * (1000 / TickMs), done.values.map(_.size).sum)
  }

  /** Compares each query's table with a batch recomputation of every
    * row fed to it; returns one line per mismatch. Rows are either within
    * GraceMs/2 of the clock (never late) or 5 minutes behind it (always
    * late after the first chunk), so the expected tables do not depend
    * on where batch boundaries fell. */
  private def check(running: Seq[Running], preload: Seq[PbAcct], chunks: Seq[Chunk],
                    flush: Int => Seq[PbEvent]): Seq[String] = {
    // close every window and session: two far-future events, so the
    // second batch runs under a watermark past all real data
    Seq(1, 2).foreach { k =>
      running.filter(_.events.isDefined).foreach { r => r.events.get.addData(flush(k)); r.q.processAllAvailable() }
    }
    val kept = chunks.flatMap(_.events).filterNot(veryLate)
    // the windowed queries drop the 5-minute-late events
    def agg(rows: Seq[(String, Long)]): Map[String, Seq[Long]] =
      rows.groupBy(_._1).map { case (k, vs) => k -> Seq(vs.size.toLong, vs.map(_._2).sum) }
    val tumbling = agg(kept.map(e => s"${e.user_id}|${e.ts.getTime / 10000 * 10000}" -> e.amount))
    val session = agg(kept.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
      var start = Long.MinValue
      var end = Long.MinValue
      es.sortBy(_.ts.getTime).map { e =>
        val t = e.ts.getTime
        if (t > end) start = t
        end = math.max(end, t + SessionGapMs)
        s"$u|$start" -> e.amount
      }
    })
    val accts = mutable.Map.empty[Long, PbAcct]
    preload.foreach(a => accts(a.id) = a)
    val joined = chunks.flatMap { c =>
      c.accts.foreach(a => accts(a.id) = a)
      c.joinEvents.map(e => accts(e.user_id).seg -> e.amount)
    }
    val joinAgg = agg(joined)
    val reagg = accts.values.groupBy(_.seg).map { case (s, as) =>
      s -> Seq(as.size.toLong, as.map(_.bal).sum)
    }
    val want = Map("tumbling" -> tumbling, "session" -> session, "join_agg" -> joinAgg,
      "table_reagg" -> reagg)
    running.flatMap { r =>
      val got = r.table.synchronized {
        r.table.toMap.filterNot(_._1.startsWith("-1|")).map { case (k, row) =>
          k -> valCols(r.name).map(c => row.getAs[Any](c).toString.toLong)
        }
      }
      val w = want(r.name)
      val bad = (got.keySet ++ w.keySet).filter(k => got.get(k) != w.get(k))
      if (bad.isEmpty) Nil
      else Seq(s"stream ${r.name}: ${bad.size} of ${w.size} keys differ, e.g. " +
        bad.take(3).map(k => s"$k got ${got.get(k)} want ${w.get(k)}").mkString("; "))
    }
  }

  /** Per-query phase and state figures from Spark's progress events. */
  private def phaseMetrics(n: String, ps: Seq[StreamingQueryProgress]): Seq[(String, Double)] = {
    val data = ps.filter(_.numInputRows > 0)
    def mean(f: StreamingQueryProgress => Double) =
      if (data.isEmpty) 0.0 else data.map(f).sum / data.size
    def dur(k: String)(p: StreamingQueryProgress) =
      Option(p.durationMs.get(k)).map(_.doubleValue()).getOrElse(0.0)
    val last = data.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    Seq(
      s"streaming.$n.batches" -> data.size.toDouble,
      s"streaming.$n.trigger_ms" -> mean(dur("triggerExecution")),
      s"streaming.$n.addBatch_ms" -> mean(dur("addBatch")),
      s"streaming.$n.queryPlanning_ms" -> mean(dur("queryPlanning")),
      s"streaming.$n.walCommit_ms" -> mean(dur("walCommit")),
      s"streaming.$n.commitOffsets_ms" -> mean(dur("commitOffsets")),
      s"state.$n.rows" -> last.map(_.numRowsTotal).sum.toDouble,
      s"state.$n.bytes" -> last.map { s =>
        Option(s.customMetrics.get("rocksdbSstFileSize")).map(_.longValue())
          .getOrElse(s.memoryUsedBytes)
      }.sum.toDouble,
      s"state.$n.commit_ms" -> mean(_.stateOperators.map(_.commitTimeMs).sum.toDouble),
      s"state.$n.instances" -> last.map(_.numStateStoreInstances).sum.toDouble,
      s"state.$n.dropped_late_rows" -> data.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum.toDouble)
  }
}
