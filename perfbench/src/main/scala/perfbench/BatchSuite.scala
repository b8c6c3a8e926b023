package perfbench

import java.util.concurrent.{Callable, ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry
import graft.operators._

/** batch_suite: a fixed list of 18 SparkEntry queries from all 18
  * registries, run as a closed loop — `cores` submitting threads take the queries in the
  * listed order and write each to the noop sink. A pass is the whole
  * list; passes repeat until `--seconds` have gone by. */
object BatchSuite {
  val SetupReps = 5
  /** Registry name → its queries, as SparkEntry merges them. */
  val registries: Seq[(String, Set[String])] = Seq(
    "CoreQueries" -> CoreQueries.entries, "WindowQueries" -> WindowQueries.entries,
    "JoinQueries" -> JoinQueries.entries, "TpchQueries" -> TpchQueries.entries,
    "Dedup" -> Dedup.entries, "Similarity" -> Similarity.entries,
    "TextAnalysis" -> TextAnalysis.entries, "Multimodal" -> Multimodal.entries,
    "AnalyticsQueries" -> AnalyticsQueries.entries,
    "EventAnalytics" -> EventAnalytics.entries,
    "WarehouseQueries" -> WarehouseQueries.entries, "Search" -> Search.entries,
    "Regression" -> Regression.entries, "DataQuality" -> DataQuality.entries,
    "Incremental" -> Incremental.entries, "Pca" -> Pca.entries,
    "Graph" -> Graph.entries, "KsqlQueries" -> graft.ksql.KsqlQueries.entries,
  ).map { case (r, m) => r -> m.keySet }

  /** The submission order: one query from each registry. Where a
    * registry's queries materialize shared frames eagerly, the list
    * takes one that does (jaccard dedup, triangles, RRF fusion, TPC-H
    * Q21); elsewhere a light one, so that a run holds at least two
    * passes. Heavy multi-job queries come first so that a pass does not
    * end on one straggler. */
  val queries: Seq[String] = Seq(
    "q_dedup_jaccard", "q_triangles", "q_rrf_fusion", "q_mv_rollup",
    "q_dq_checks", "q_pca_cov", "q_tpch_q21", "q_bloom_semijoin",
    "q_window_session", "q_ann_brute", "q_percentiles", "q_mv_ddl",
    "q_agg_core", "q_media_dedup", "q_window_rank", "q_linreg_stats",
    "q_funnel", "q_text_tokens")

  private val familyOf: Map[String, String] =
    registries.flatMap { case (r, qs) => qs.map(_ -> r) }.toMap

  def run(o: Main.Opts): Outcome = {
    val fns = SparkEntry.queries
    val missing = queries.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val preps = SparkEntry.prepares.toSeq.filter(p => queries.contains(p._1)).sortBy(_._1)
    // failures of the set-up and correctness pass, by name; each counts
    // once. Failures in the timed passes are counted per execution.
    val failures = new ConcurrentHashMap[String, String]
    val passErrors = new ConcurrentHashMap[String, String]

    // set-up, SetupReps times: a fresh session, then the prepares the
    // list needs over a fresh hard-linked copy of the tables (prepares
    // are write-once per table directory). The first is the cold start;
    // setup_s is the median. The timed region uses the last session and
    // table copy.
    var sp: SparkSession = null
    val setups = (1 to SetupReps).map { i =>
      if (sp != null) sp.stop()
      val s0 = Main.now
      sp = Main.session(o, o.cores)
      val sessionS = Main.now - s0
      val d = linkCopy(o.data, s"${o.work}/tables$i")
      preps.foreach { case (n, prep) =>
        try prep(sp, d)
        catch { case e: Throwable => failures.put(s"prepare_$n", String.valueOf(e.getMessage)) }
      }
      (sessionS, Main.now - s0 - sessionS)
    }
    val data = s"${o.work}/tables$SetupReps"

    // correctness pass, outside the timed region: every result to
    // parquet for scripts/compare.py, which run.py runs (it also warms up)
    val outDir = s"${o.work}/verify"
    val v0 = Main.now
    pooled(o.cores, queries) { n =>
      try fns(n)(sp, data).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$n")
      catch { case e: Throwable => failures.put(n, s"correctness pass: ${e.getMessage}") }
    }
    writeOracles(s"$outDir/oracle_sql.json")
    val verifyS = Main.now - v0

    // timed region; the traced run alternates untraced and traced passes
    val tracer = new Tracer(o.trace)
    val listener = new JobListener(() => "untagged")
    val catalyst = new ConcurrentHashMap[String, Double]
    val byPlan = new java.util.IdentityHashMap[LogicalPlan, String]
    if (o.trace) {
      sp.sparkContext.addSparkListener(listener)
      sp.listenerManager.register(new QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
          val key = byPlan.synchronized {
            qe.logical.collectFirst { case p if byPlan.containsKey(p) => byPlan.get(p) }
          }
          key.foreach { k =>
            val ph = qe.tracker.phases
            val ms = Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
            catalyst.put(k, ms / 1e3)
          }
        }
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    }
    final case class Pass(traced: Boolean, wall: Double, lat: Seq[(String, Double)], failed: Int)
    def pass(idx: Int, traced: Boolean): Pass = {
      val tr = if (traced) tracer else Tracer.off
      val t0 = Main.now
      val res = pooled(o.cores, queries) { n =>
        val key = s"$n#$idx"
        sp.sparkContext.setJobGroup(key, key)
        val q0 = Main.now
        val ok =
          try {
            tr.span("query", key) {
              val df = tr.span("build", key)(fns(n)(sp, data))
              if (traced) byPlan.synchronized {
                byPlan.put(df.queryExecution.logical, key)
                byPlan.put(df.queryExecution.analyzed, key)
              }
              tr.span("write", key)(df.write.format("noop").mode("overwrite").save())
            }
            true
          } catch { case e: Throwable => passErrors.put(n, s"pass $idx: ${e.getMessage}"); false }
          finally sp.sparkContext.clearJobGroup()
        (n -> (Main.now - q0), ok)
      }
      Pass(traced, Main.now - t0, res.map(_._1), res.count(!_._2))
    }
    val heap = new LiveHeap
    val cpu0 = Main.cpuSeconds
    val r0 = Main.now
    val passes = scala.collection.mutable.ArrayBuffer.empty[Pass]
    while (passes.isEmpty || Main.now - r0 < o.seconds || (o.trace && passes.size < 2)) {
      val i = passes.size + 1
      passes += pass(i, o.trace && i % 2 == 0)
    }
    val cpu = Main.cpuSeconds - cpu0
    val heapMb = heap.stopMb()

    // throughput counts whole passes (the suite's wall time); latency is
    // per query: each query's median over the passes, and the geometric
    // mean of those over the list, so that every query weighs the same
    // (the median of all executions jumps between very different queries)
    val untraced = passes.filterNot(_.traced)
    val walls = untraced.map(_.wall)
    val ops = untraced.map(_.lat.size).sum
    val perQuery = untraced.flatMap(_.lat).groupBy(_._1).map { case (n, ls) => n -> Main.median(ls.map(_._2)) }
    val metrics = Map(
      "setup_s" -> Main.median(setups.map(s => s._1 + s._2)),
      "throughput" -> queries.size / Main.median(walls),
      "latency_p50_ms" -> Main.geomean(perQuery.values) * 1e3,
      "cpu_ms_per_op" -> cpu * 1e3 / passes.map(_.lat.size).sum,
      "heap_live_mb" -> heapMb)
    val info = Map(
      "passes" -> untraced.size.toDouble,
      "pass_wall_median_s" -> Main.median(walls),
      "pass_wall_min_s" -> walls.min,
      "pass_wall_max_s" -> walls.max,
      "timed_cpu_s" -> cpu,
      "session_cold_s" -> setups.head._1,
      "session_warm_median_s" -> Main.median(setups.tail.map(_._1)),
      "prepare_median_s" -> Main.median(setups.map(_._2)),
      "verify_pass_s" -> verifyS)

    val layers =
      if (!o.trace) Map.empty[String, Double]
      else {
        waitForBus(catalyst, passes.filter(_.traced).map(_.lat.size).sum)
        val tracedPasses = passes.filter(_.traced)
        layerMetrics(tracer, listener, catalyst.asScala.toMap, tracedPasses.size) ++ Map(
          "setup.prepare_s" -> Main.median(setups.map(_._2)),
          "trace.overhead_pct" ->
            (Main.median(tracedPasses.map(_.wall)) / Main.median(untraced.map(_.wall)) - 1) * 100)
      }
    tracer.dump(s"${o.work}/spans.jsonl")
    sp.stop()
    // attempted: the timed executions, the correctness pass and the
    // prepares (their failures count once each)
    Outcome(ops + queries.size + preps.size, untraced.map(_.failed).sum + failures.size,
      (failures.asScala.toSeq ++ passErrors.asScala).sorted.map { case (k, v) => s"$k: $v" },
      metrics, layers, info)
  }

  private def linkCopy(from: String, to: String): String = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.list(java.nio.file.Paths.get(from)).forEach(f =>
      java.nio.file.Files.createLink(dst.resolve(f.getFileName), f))
    to
  }

  /** Runs `f` over `names` on `threads` threads, in order. */
  private def pooled[A](threads: Int, names: Seq[String])(f: String => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(threads)
    try names.map(n => pool.submit(new Callable[A] { def call(): A = f(n) })).map(_.get())
    finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  private def waitForBus(catalyst: ConcurrentHashMap[String, Double], expected: Int): Unit = {
    val deadline = Main.now + 10
    while (catalyst.size < expected && Main.now < deadline) Thread.sleep(50)
    Thread.sleep(300)
  }

  /** Per-layer figures of the traced passes, summed over them and
    * divided by their number (so they read per pass). */
  private def layerMetrics(tracer: Tracer, listener: JobListener,
                           catalyst: Map[String, Double], n: Int): Map[String, Double] = {
    val (work, jobs) = listener.snapshot()
    val builds = tracer.all.filter(_.name == "build")
    // jobs that started inside a query's build span are its eager
    // materializations (graft.Materialize): they become its child spans
    val eager = builds.flatMap { b =>
      jobs.filter(j => j.key == b.id && j.start >= b.start && j.start <= b.end).map { j =>
        tracer.add("eager_job", b.id, b.sid, j.start, math.min(j.end, b.end))
        j.end - j.start
      }
    }
    val spans = tracer.all
    val self = tracer.selfTimes
    val tracedKeys = spans.map(_.id).toSet
    def buildSelf(dialect: Boolean) = builds
      .filter(b => (familyOf(b.id.takeWhile(_ != '#')) == "KsqlQueries") == dialect)
      .map(b => self(b.sid)).sum
    val writes = spans.filter(_.name == "write")
    val catalystS = catalyst.filter { case (k, _) => tracedKeys(k) }.values.sum
    val total = new Work
    work.foreach { case (k, w) => if (tracedKeys(k)) total += w }
    val families = spans.filter(_.name == "query")
      .groupBy(s => familyOf(s.id.takeWhile(_ != '#')))
      .map { case (f, ss) => s"family.$f.wall_s" -> ss.map(_.dur).sum / n }
    val zeroFamilies = registries.map(r => s"family.${r._1}.wall_s" -> 0.0).toMap
    Map(
      "Materialize.eager_jobs" -> eager.size.toDouble / n,
      "Materialize.eager_job_s" -> eager.sum / n,
      "ksql.build_s" -> buildSelf(dialect = true) / n,
      "operators.build_s" -> buildSelf(dialect = false) / n,
      "catalyst.optimize_s" -> catalystS / n,
      "operators.execute_s" -> (writes.map(_.dur).sum - catalystS) / n,
      "sources.input_mb" -> total.input / 1048576.0 / n,
    ) ++ total.layers("operators", n) ++ zeroFamilies ++ families
  }

  private def writeOracles(path: String): Unit = {
    val json = SparkEntry.oracleSql.filter(e => queries.contains(e._1)).toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Main.str(k)}: ${Main.str(v)}" }.mkString("{", ",\n", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }
}
