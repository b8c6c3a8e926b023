package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What one workload run hands back to `run.py`: operation counts,
  * mismatches found by name, end-to-end metrics (untraced) and per-layer
  * metrics (traced run only), plus the host record. */
final case class Outcome(attempted: Long, failed: Long,
                         mismatches: Seq[String],
                         metrics: Map[String, Double],
                         layers: Map[String, Double],
                         info: Map[String, Double])

/** Harness entry point, launched by run.py once the inputs exist:
  * `--workload <name> --data <dir> --work <dir> --seconds <n>
  *  --trace <0|1> --seed <n> --out <file>`. */
object Main {
  final case class Opts(workload: String, data: String, work: String,
                        seconds: Int, trace: Boolean, seed: Long,
                        out: String) {
    val cores: Int = Runtime.getRuntime.availableProcessors()
  }

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("data"), m("work"), m("seconds").toInt,
      m("trace") == "1", m("seed").toLong, m("out"))
    val load0 = loadAvg
    val outcome = o.workload match {
      case "batch_suite" => BatchSuite.run(o)
      case "stream_push" => StreamPush.run(o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val host = Map(
      "nproc" -> o.cores.toDouble,
      "load1_before" -> load0,
      "load1_after" -> loadAvg,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
    Files.write(Paths.get(o.out), toJson(outcome, host).getBytes(UTF_8))
    // Spark leaves non-daemon threads behind after stop()
    sys.exit(0)
  }

  /** One session per run, configured like graft.Bench, with every file
    * Spark writes kept under the run's work directory. */
  def session(o: Opts, cores: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${o.work}/stream-checkpoints")
      // small RocksDB block cache, so the accounts state outgrows it;
      // per-batch RocksDB commits write a changelog, not a snapshot
      .config("spark.sql.streaming.stateStore.rocksdb.blockCacheSizeMB", "1")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"${o.work}/checkpoints")
    graft.GraftExtensions.register(spark)
    spark
  }

  def loadAvg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** CPU-seconds this process has used so far. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def now: Double = System.nanoTime() / 1e9

  /** Nearest-rank percentile of an unsorted sample. */
  def pct(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toVector.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(s.size * p).toInt - 1)))
    }

  /** The median: the mean of the two middle values of an even sample. */
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toVector.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  def geomean(xs: Iterable[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)

  /** A JSON string literal. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def toJson(r: Outcome, host: Map[String, Double]): String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def obj(m: Map[String, Double]) =
      m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}: ${num(v)}" }
        .mkString("{", ", ", "}")
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed},
       | "mismatches": ${r.mismatches.map(str).mkString("[", ", ", "]")},
       | "metrics": ${obj(r.metrics)},
       | "layers": ${obj(r.layers)},
       | "info": ${obj(r.info ++ host)}}""".stripMargin
  }
}

/** Old-generation occupancy after a full collection at the end of the
  * timed region: the heap the workload still holds. (The peak after
  * young collections depends on where they happen to fall and spread
  * 35 % between runs.) */
final class LiveHeap {
  def stopMb(): Double = {
    // the first collection lets Spark's ContextCleaner drop the blocks of
    // unreferenced RDDs (eager checkpoints), the second frees them
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).fold(p.getUsage.getUsed)(_.getUsed)).sum / 1048576.0
  }
}
