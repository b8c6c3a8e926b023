package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One traced interval: `id` is the query or request it belongs to,
  * `parent` the span that caused it (0 = root). Times are seconds on
  * the JVM's monotonic clock. */
final case class Span(sid: Long, name: String, id: String, parent: Long,
                      start: Double, end: Double) {
  def dur: Double = end - start
}

object Tracer {
  val off = new Tracer(false)
}

/** In-memory span recorder. Spans are recorded only while `on`; they
  * are written out when the run ends (`dump`). */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids = new AtomicLong
  private val current = new ThreadLocal[Long] { override def initialValue = 0L }

  def span[A](name: String, id: String)(body: => A): A =
    if (!on) body
    else {
      val sid = ids.incrementAndGet()
      val parent = current.get
      current.set(sid)
      val t0 = Main.now
      try body
      finally {
        spans.add(Span(sid, name, id, parent, t0, Main.now))
        current.set(parent)
      }
    }

  /** Adds a span measured elsewhere (jobs from the listener). */
  def add(name: String, id: String, parent: Long, start: Double, end: Double): Unit =
    if (on) spans.add(Span(ids.incrementAndGet(), name, id, parent, start, end))

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span: its duration minus the part of it that its
    * children cover. */
  def selfTimes: Map[Long, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.sid, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var reach = s.start
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      s.sid -> (s.dur - covered)
    }.toMap
  }

  def dump(path: String): Unit = if (on) {
    val lines = all.sortBy(_.start).map { s =>
      f"""{"sid": ${s.sid}, "name": "${s.name}", "id": "${s.id}", "parent": ${s.parent}, "start": ${s.start}%.6f, "end": ${s.end}%.6f}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

/** Totals of the Spark work one key caused (see [[JobListener]]). */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  val skews: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty

  def +=(w: Work): Unit = {
    jobs += w.jobs; stages += w.stages; tasks += w.tasks; cpuNs += w.cpuNs
    gcMs += w.gcMs; shuffleWrite += w.shuffleWrite
    shuffleRead += w.shuffleRead; spill += w.spill; input += w.input
    skews ++= w.skews
  }

  /** The totals divided by `per` (passes, chunks or requests), under
    * `prefix`; task skew is a ratio and is not divided. */
  def layers(prefix: String, per: Int): Map[String, Double] = Map(
    s"$prefix.jobs" -> jobs.toDouble / per,
    s"$prefix.stages" -> stages.toDouble / per,
    s"$prefix.tasks" -> tasks.toDouble / per,
    s"$prefix.executor_cpu_s" -> cpuNs / 1e9 / per,
    s"$prefix.gc_s" -> gcMs / 1e3 / per,
    s"$prefix.shuffle_write_mb" -> shuffleWrite / 1048576.0 / per,
    s"$prefix.shuffle_read_mb" -> shuffleRead / 1048576.0 / per,
    s"$prefix.spill_mb" -> spill / 1048576.0 / per,
    s"$prefix.task_skew" -> (if (skews.isEmpty) 1.0 else Main.median(skews.toSeq)))
}

final case class JobRecord(key: String, start: Double, end: Double)

/** Spark work per key, from Spark's public listener events. A job's key
  * is the job group of the thread that submitted it, or `fallbackKey()`
  * when it has none. */
final class JobListener(fallbackKey: () => String) extends SparkListener {
  private val lock = new Object
  private val stageKey = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, (String, Double)]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val byKey = mutable.Map.empty[String, Work]
  private val jobRecords = mutable.ArrayBuffer.empty[JobRecord]
  // listener-bus time is wall-clock millis; spans use the monotonic
  // clock, so jobs are placed on it through the offset between the two
  private val offset = Main.now - System.currentTimeMillis() / 1e3

  private def work(k: String) = byKey.getOrElseUpdate(k, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val k = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(fallbackKey())
    jobStart(e.jobId) = (k, e.time / 1e3 + offset)
    e.stageIds.foreach(stageKey(_) = k)
    work(k).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (k, t0) =>
      jobRecords += JobRecord(k, t0, e.time / 1e3 + offset)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val w = work(stageKey.getOrElse(e.stageId, fallbackKey()))
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      w.input += m.inputMetrics.bytesRead
    }
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    val id = e.stageInfo.stageId
    val w = work(stageKey.getOrElse(id, fallbackKey()))
    w.stages += 1
    taskTimes.remove(id).filter(_.size >= 2).foreach { ts =>
      val med = Main.median(ts.map(_.toDouble).toSeq)
      if (med > 0) w.skews += ts.max / med
    }
  }

  def snapshot(): (Map[String, Work], Seq[JobRecord]) = lock.synchronized {
    (byKey.toMap, jobRecords.toSeq)
  }

  def total(): Work = lock.synchronized {
    val t = new Work
    byKey.values.foreach(t += _)
    t
  }
}
