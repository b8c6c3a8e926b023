package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** KSQL STREAM semantics over Structured Streaming (SURVEY.md §2.6).
  *
  * A KSQL `CREATE STREAM s (...) WITH (kafka_topic=..., value_format=...)`
  * maps to a watermarked streaming DataFrame; every continuous-query verb
  * (filter/project/window/join/aggregate) maps to the same Column algebra
  * the batch path uses — one operator implementation, two execution modes.
  *
  * Scale: state stores are bounded by watermarks everywhere state exists
  * (windowed aggs, stream-stream joins, dedup). Stateful ops partition
  * their state by spark.sql.shuffle.partitions as set when the query
  * FIRST starts: that count is written into the checkpoint, and a
  * restart from the checkpoint keeps it whatever the conf says later.
  * Size it to the cluster before the first start.
  */
final case class KsqlStream(df: DataFrame, timeColumn: String = "ts",
                            watermark: String = "10 minutes") {

  private def wm: DataFrame = df.withWatermark(timeColumn, watermark)

  /** SELECT ... WHERE ... (continuous filter/projection). */
  def select(cols: Column*): KsqlStream = copy(df = df.select(cols: _*))
  def where(cond: Column): KsqlStream = copy(df = df.filter(cond))

  /** PARTITION BY — repartition the stream by a new key. */
  def partitionBy(key: Column): KsqlStream = copy(df = df.repartition(key))

  /** WINDOW TUMBLING (SIZE ...) GROUP BY keys → continuous aggregate. */
  def tumblingAgg(size: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    wm.groupBy(window(col(timeColumn), size) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** WINDOW HOPPING (SIZE ..., ADVANCE BY ...). */
  def hoppingAgg(size: String, slide: String, keys: Seq[Column],
                 aggs: Seq[Column]): DataFrame =
    wm.groupBy(window(col(timeColumn), size, slide) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** WINDOW SESSION (gap). */
  def sessionAgg(gap: String, keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    wm.groupBy(session_window(col(timeColumn), gap) +: keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Un-windowed GROUP BY (update-mode continuous aggregate). */
  def groupByAgg(keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)

  /** Stream-stream JOIN ... WITHIN interval: equi-key + time-bound, both
    * sides watermarked so join state is GC'd past the bound. */
  def joinWithin(other: KsqlStream, key: String, within: String): DataFrame = {
    val l = wm.alias("l")
    val r = other.df.withWatermark(other.timeColumn, other.watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key")
        && col(s"r.${other.timeColumn}") >= col(s"l.$timeColumn")
        && col(s"r.${other.timeColumn}") < col(s"l.$timeColumn") + expr(s"INTERVAL $within"))
  }

  /** LEFT / FULL OUTER stream-stream JOIN ... WITHIN: KSQL's outer
    * stream joins. Spark requires BOTH directions time-bounded for
    * outer interval joins (the unmatched side can only emit once the
    * watermark proves no match can still arrive), so the bound is
    * symmetric: |r.time - l.time| <= within. Unmatched rows emit with
    * NULLs after the watermark passes their window — the same "late
    * result, correct result" contract as KSQL's grace period.
    */
  def outerJoinWithin(other: KsqlStream, key: String, within: String,
                      joinType: String = "left_outer"): DataFrame = {
    require(Set("left_outer", "full_outer", "right_outer")
      .contains(joinType.toLowerCase),
      s"outerJoinWithin is for outer joins, got $joinType")
    val l = wm.alias("l")
    val r = other.df.withWatermark(other.timeColumn, other.watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key")
        && col(s"r.${other.timeColumn}") >= col(s"l.$timeColumn") - expr(s"INTERVAL $within")
        && col(s"r.${other.timeColumn}") <= col(s"l.$timeColumn") + expr(s"INTERVAL $within"),
      joinType)
  }

  /** Stream-table join: table side is a (small) static/changelog snapshot
    * → broadcast, no stream shuffle. */
  def joinTable(table: DataFrame, cond: Column, joinType: String = "inner"): KsqlStream =
    copy(df = df.join(broadcast(table), cond, joinType))

  /** INSERT INTO — union this stream into another (schemas by name). */
  def insertInto(other: KsqlStream): KsqlStream =
    copy(df = df.unionByName(other.df))

  /** Per-key streaming dedup on a column (exact, state-backed): emits
    * only the first record per (key, dedupCol) value. State is
    * UNBOUNDED — Spark only evicts dropDuplicates state when the
    * event-time column is part of the subset, and it isn't here (adding
    * it would change dedup identity to per-timestamp). Right for
    * bounded key spaces; for unbounded ones (content hashes) use
    * `dedupWithinWatermark`, which trades re-emission after the
    * horizon for bounded state.
    */
  def dedupByKey(keyCol: String, dedupCol: String): DataFrame =
    wm.dropDuplicates(Seq(keyCol, dedupCol))

  /** Watermark-bounded dedup: like dedupByKey but state for a key is
    * DROPPED once the watermark passes it — the unbounded-state fix for
    * high-cardinality keys. Duplicates arriving within the watermark
    * window dedup exactly; older re-arrivals are late data (already
    * beyond the correctness horizon). THE streaming dedup for document
    * pipelines, where the key space (content hashes) never stops
    * growing but duplicates cluster in time.
    */
  def dedupWithinWatermark(cols: String*): DataFrame =
    wm.dropDuplicatesWithinWatermark(cols)

  /** CSAS: CREATE STREAM AS SELECT → append-mode writer. */
  def createStreamAs(format: String, path: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream.format(format).option("path", path)
      .option("checkpointLocation", checkpoint).outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())

  /** Streaming CSAS with VALUE_FORMAT='AVRO': no avro streaming
    * datasource exists here, so each micro-batch appends container
    * files via Sources.avroAppend — batch-id-named files make replays
    * overwrite themselves (idempotent), the file-sink half of
    * exactly-once. */
  def createStreamAsAvro(path: String, checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        graft.sources.Sources.avroAppend(batch, path, batchId))
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())

  /** CTAS: CREATE TABLE AS SELECT <agg> → update/complete-mode writer. */
  def createTableAs(aggregated: DataFrame, queryName: String): DataStreamWriter[Row] =
    aggregated.writeStream.format("memory").queryName(queryName)
      .outputMode(OutputMode.Complete)
}

object KsqlStream {
  /** CREATE STREAM from a streaming source (file dir, rate, or a
    * MemoryStream-backed DataFrame in tests). */
  def apply(df: DataFrame, timeColumn: String, watermark: String): KsqlStream =
    new KsqlStream(df, timeColumn, watermark)
}
