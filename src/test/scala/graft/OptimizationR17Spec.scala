package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Round-17 optimization invariants:
  *  - partition sizing stays in the guide's band at every input size
  *    (the r16 hard 4096 cap put ~24 GB in a partition at 100 TB);
  *  - the native SimHash32 expression is value-identical to the HOF
  *    formulation it replaced;
  *  - the array-form percentile rewrite is value-identical to the
  *    scalar calls it replaced.
  */
class OptimizationR17Spec extends SparkSpec {

  test("partitionsFor: ~32 MiB targets below the cap, <= ~1 GiB above") {
    val MiB = 1L << 20
    val GiB = 1L << 30
    assert(Tables.partitionsFor(0L) === 1)
    assert(Tables.partitionsFor(1L) === 1)
    assert(Tables.partitionsFor(10 * MiB) === 1) // sf0.1 lineitem scale
    assert(Tables.partitionsFor(33 * MiB) === 2)
    assert(Tables.partitionsFor(1 * GiB) === 32)
    // at the old cap boundary (128 GiB) behavior is unchanged
    assert(Tables.partitionsFor(128 * GiB) === 4096)
    // beyond it the ceiling grows: partitions never exceed ~1 GiB
    val tb = 1L << 40
    for (bytes <- Seq(1 * tb, 10 * tb, 100 * tb)) {
      val n = Tables.partitionsFor(bytes)
      val per = bytes.toDouble / n
      assert(per <= 1.01 * GiB,
        s"$bytes bytes -> $n partitions = $per bytes each (> 1 GiB)")
    }
    // 100 TB: 102400 partitions of exactly 1 GiB
    assert(Tables.partitionsFor(100 * tb) === 102400)
  }

  test("Materialize.eager reliable mode returns identical results") {
    // spark.graft.materialize.reliable=true routes every shared-frame
    // materialization through reliable checkpoint() (executor-loss-safe
    // cluster posture, VERDICT r16 item 8) — results must be identical
    // to the localCheckpoint default. Exercised through a real operator
    // that materializes shared frames (the jaccard prefix dedup).
    val docs = Tables.documents(spark, sfDir)
    def run(): Map[(Long, Long), Double] =
      operators.Dedup.jaccardPairsPrefix(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val base = run()
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set("spark.graft.materialize.reliable", "true")
    try {
      val reliable = run()
      assert(reliable === base)
      assert(base.nonEmpty)
    } finally spark.conf.unset("spark.graft.materialize.reliable")
  }

  test("native SimHash32 equals the HOF formulation") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e f g h i j k l m n o p",
      "one", "", "repeated repeated repeated word word"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val whash = docs.select(col("doc_id"),
      transform(TextFunctions.distinctWords(col("text")),
        w => TextFunctions.stableHash32(w)).as("whash"))
    val native = whash.select(col("doc_id"),
      TextFunctions.simhash32("whash").as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference HOF formulation: 32 interpreted passes over the array
    val simhash32Hof = expr(
      """aggregate(
        |  transform(sequence(0, 31), i ->
        |    IF(aggregate(whash, CAST(0 AS BIGINT),
        |         (acc, h) -> acc + IF(shiftright(h, i) % 2 = 1, 1, -1)) > 0,
        |       shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
        |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)
    val hof = whash.select(col("doc_id"), simhash32Hof.as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native === hof)
  }

  test("native word-gram hashes equal the HOF formulations") {
    import spark.implicits._
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(3 + i % 40)(s"w${i % 7}").zipWithIndex
        .map { case (w, j) => s"$w$j" }.mkString(" "))).toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    // xx64, full windows (n=5, the q_novelty/q_span_strip shape)
    val hofXx = collect(base.filter(size(col("w")) >= 5)
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(w) - 4), i -> xxhash64(slice(w, i, 5)))")
        .as("g")))
    val natXx = collect(base.filter(size(col("w")) >= 5)
      .select(col("doc_id"), TextFunctions.wordGramXx64(col("w"), 5).as("g")))
    assert(natXx === hofXx)
    // xx64 minOne (the q_contamination bound incl. short docs)
    val hofC = collect(base.select(col("doc_id"), expr(
      "transform(sequence(1, greatest(size(w) - 6, 2) - 1), " +
        "i -> xxhash64(slice(w, i, 8)))").as("g")))
    val natC = collect(base.select(col("doc_id"),
      TextFunctions.wordGramXx64(col("w"), 8, minOne = true).as("g")))
    assert(natC === hofC)
    // md5 hex digests (the q_span_dedup contract)
    val hofM = collect(base.filter(size(col("w")) >= 20)
      .select(col("doc_id"), expr(
        "transform(sequence(1, size(w) - 19), " +
          "i -> md5(concat_ws(' ', slice(w, i, 20))))").as("g")))
    val natM = collect(base.filter(size(col("w")) >= 20)
      .select(col("doc_id"), TextFunctions.wordGramMd5(col("w"), 20).as("g")))
    assert(natM === hofM)
  }

  test("native md5-prefix word grams equal the HOF formulation") {
    import spark.implicits._
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, Seq.fill(1 + i % 40)(s"w${i % 7}").zipWithIndex
        .map { case (w, j) => s"$w$j" }.mkString(" "))).toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 4)
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    // the q_cdc_chunks / q_winnowing hash: first 8 md5 hex digits of the
    // space-joined 4-gram, parsed base 16
    val hof = collect(base.select(col("doc_id"), expr(
      "transform(sequence(1, size(w) - 3), i -> " +
        "cast(conv(substring(md5(concat_ws(' ', slice(w, i, 4))), 1, 8), " +
        "16, 10) as bigint))").as("g")))
    val nat = collect(base.select(col("doc_id"),
      TextFunctions.wordGramMd5Prefix(col("w"), 4).as("g")))
    assert(nat === hof)
    // the winnowing form concatenates with explicit spaces (concat, not
    // concat_ws) — identical on the null-free split() arrays both call
    // sites feed
    val hofConcat = collect(base.select(col("doc_id"), expr(
      "transform(sequence(1, size(w) - 3), i -> " +
        "cast(conv(substring(md5(concat(w[i-1], ' ', w[i], ' ', w[i+1], " +
        "' ', w[i+2])), 1, 8), 16, 10) as bigint))").as("g")))
    assert(nat === hofConcat)
  }

  test("cdc boundary rewrite equals the trailing-window filter") {
    import spark.implicits._
    // enough rows that some 4-gram hash ≡ 0 (mod 16) — both shapes must
    // agree on every boundary index, not just on empty boundary sets
    val docs = Seq.tabulate(200)(i =>
      (i.toLong, Seq.tabulate(4 + i % 60)(j => s"t${(i * 31 + j * 7) % 97}")
        .mkString(" "))).toDF("doc_id", "text")
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 4)
    val old = base.select(col("doc_id"), expr(
      "filter(sequence(4, size(w)), i -> " +
        "cast(conv(substring(md5(concat_ws(' ', slice(w, i - 3, 4))), 1, 8), " +
        "16, 10) as bigint) % 16 = 0)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val neu = base
      .select(col("doc_id"), col("w"),
        TextFunctions.wordGramMd5Prefix(col("w"), 4).as("hs"))
      .select(col("doc_id"), expr(
        "filter(zip_with(hs, sequence(1, size(w) - 3), " +
          "(h, j) -> if(h % 16 = 0, j + 3, -1)), x -> x > 0)").as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(neu === old)
    assert(old.values.exists(_.nonEmpty), "test data produced no boundaries")
  }

  test("corr_matrix long products equal decimal products") {
    // per-row products computed in LONG then cast to decimal sum exactly
    // like products computed in decimal — both are exact integer paths
    import spark.implicits._
    val rows = Seq.tabulate(1000)(i =>
      (i.toLong % 50, (i.toLong * 10499) % 10494950)).toDF("a", "b")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(20,0)")
    val viaDec = rows.agg(
      sum(dec(col("a")) * dec(col("b"))).cast("decimal(38,0)").as("sp"),
      sum(dec(col("b")) * dec(col("b"))).cast("decimal(38,0)").as("ss"))
      .collect()(0)
    val viaLong = rows.agg(
      sum(dec(col("a") * col("b"))).cast("decimal(38,0)").as("sp"),
      sum(dec(col("b") * col("b"))).cast("decimal(38,0)").as("ss"))
      .collect()(0)
    assert(viaLong === viaDec)
  }

  test("HOF segment build equals the per-row slice build (line_dedup)") {
    import spark.implicits._
    val docs = Seq.tabulate(30)(i =>
      (i.toLong, Seq.fill(1 + i)(s"t${i % 5}").zipWithIndex
        .map { case (w, j) => s"$w$j" }.mkString(" "))).toDF("doc_id", "text")
    val old = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("seg_id", expr("pos DIV 8"))
      .groupBy(col("doc_id"), col("seg_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("seg"))
      .select(col("doc_id"), col("seg_id").cast("int").as("seg_id"), col("seg"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    val neu = docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, cast(ceil(size(w) / 8.0) as int) - 1),
          |  i -> concat_ws(' ', slice(w, i * 8 + 1, 8)))""".stripMargin))
        .as(Seq("seg_id", "seg")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(neu === old)
  }

  test("array-form percentile equals the scalar calls") {
    val li = Tables.lineitem(spark, sfDir)
    val scalar = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, 0.9)").as("p90"),
        expr("percentile(l_extendedprice, 0.99)").as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val arr = li.groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.9D, 0.99D))").as("pp"))
      .select(col("l_returnflag"),
        element_at(col("pp"), 1).as("p90"), element_at(col("pp"), 2).as("p99"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(arr === scalar)
  }

  test("lsh candidate exchange keeps an explicit machine-wide width under AQE") {
    // Round 17: a bare repartition(col) made the few-hundred-KiB band-
    // index exchange an AQE coalescing target — it collapsed to ONE
    // partition, and the fused downstream candidate expansion (probe
    // explode -> collision join -> both pair-dedup aggregates) ran
    // single-threaded (stage trace at sf0.1: 1 task, ~3.0 s cpu). The
    // explicit count plans as REPARTITION_BY_NUM, which AQE never
    // coalesces, with a defaultParallelism floor.
    val emb = Tables.embeddings(spark, sfDir)
    val idx = operators.Dedup.lshBandIndex(emb, bitsPerBand = 6)
    val cand = operators.Dedup.lshCandidatePairs(idx, 6)
    cand.collect() // force AQE to finalize the plan it would really run
    val p = cand.queryExecution.executedPlan.toString
    assert(p.contains("REPARTITION_BY_NUM"), p.take(1500))
    val dp = spark.sparkContext.defaultParallelism
    val widths = raw"hashpartitioning\(vec_id#\d+L?, (\d+)\), REPARTITION_BY_NUM"
      .r.findAllMatchIn(p).map(_.group(1).toInt).toList
    assert(widths.nonEmpty && widths.forall(_ >= dp),
      s"exchange widths=$widths defaultParallelism=$dp\n${p.take(1500)}")
  }
}
