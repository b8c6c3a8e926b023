package graft

import graft.functions.TextFunctions
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

/** Hardening against degenerate inputs the synthetic tables don't
  * contain: empty strings, single-word docs, unicode, shared prefixes. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private lazy val weird = Seq(
    (1L, "", "en", "src0", 0L),
    (2L, "word", "en", "src0", 4L),
    (3L, "a b", "es", "src0", 3L),
    (4L, "héllo wörld ünïcode tëxt hére tödäy", "fr", "src1", 35L),
    (5L, "héllo wörld ünïcode tëxt hére tödäy", "fr", "src1", 35L),
    (6L, "x y z x y z x y z", "en", "src2", 17L)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("native wordShingleHashes equals the HOF shingle+hash chain") {
    val hof = weird.select(col("doc_id"), expr(
      """array_sort(array_distinct(transform(
        |  transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
        |    i -> concat_ws(' ', slice(split(text, ' '), i, 3))),
        |  s -> cast(conv(substring(md5(s), 1, 8), 16, 10) as bigint))))"""
        .stripMargin).as("h"))
    val native = weird.select(col("doc_id"),
      sort_array(TextFunctions.wordShingleHashes(col("text"))).as("h"))
    val joined = hof.as("a").join(native.as("b"), col("a.doc_id") === col("b.doc_id"))
    assert(joined.filter(col("a.h") =!= col("b.h")).count() == 0)
  }

  test("fuzzy pairs find the unicode exact-dup, skip the rest") {
    val p = Dedup.fuzzyPairs(weird).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == Set((4L, 5L)))
  }

  test("connected components of an empty pair set is empty") {
    val none = weird.filter(col("doc_id") < 0)
      .select(col("doc_id").as("id_a"), col("doc_id").as("id_b"))
    assert(Dedup.connectedComponents(none).count() == 0)
  }

  test("tfidf/domain-mix survive empty and single-word docs") {
    import graft.operators.Search
    val tfidf = Search.tfIdfTopK(weird, k = 2)
    assert(tfidf.filter(col("doc_id") === 2L).count() >= 1)
    val mix = TextAnalysis.domainMix(weird)
    assert(mix.agg(sum("n_docs")).head.getLong(0) == 6L)
  }

  test("chunking covers every word once per stride and survives degenerate docs") {
    val chunks = TextAnalysis.chunkDocs(weird, chunk = 4, overlap = 1)
    // every doc (even the empty one) yields at least one chunk
    assert(chunks.select("doc_id").distinct().count() == weird.count())
    // short docs yield exactly one chunk equal to the full text
    val short = chunks.filter(col("doc_id") === 2L).collect()
    assert(short.length == 1 && short.head.getAs[String]("chunk_text") == "word")
    // a 9-word doc with chunk=4, step=3: starts 0,3,6 → 3 chunks,
    // adjacent chunks overlap by exactly one word
    val c6 = chunks.filter(col("doc_id") === 6L)
      .orderBy("chunk_idx").collect().map(_.getAs[String]("chunk_text"))
    assert(c6.length == 3, c6.mkString("|"))
    assert(c6(0) == "x y z x" && c6(1) == "x y z x" && c6(2) == "x y z")
    // reconstruction: dropping each chunk's overlap prefix re-yields the doc
    val rebuilt = (c6.head +: c6.tail.map(_.split(" ").drop(1).mkString(" ")))
      .mkString(" ")
    assert(rebuilt == "x y z x y z x y z")
    // invalid config is rejected up front
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkDocs(weird, chunk = 4, overlap = 4)
    }
  }

  test("native stableHash32 equals the SQL formulation (incl. unicode)") {
    // the SQL formulation: the first 8 md5 hex digits as a number
    val d = weird.select(
      TextFunctions.stableHash32(col("text")).as("native"),
      conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long").as("sql"))
    assert(d.filter(col("native") =!= col("sql")).count() == 0)
  }

  test("native nfcNormalize composes decomposed accents (eval + codegen paths)") {
    import spark.implicits._
    val composed = "caf\u00e9"              // é as U+00E9
    val decomposed = "cafe\u0301"           // e + combining acute
    val df = Seq((1, composed), (2, decomposed), (3, "plain ascii"), (4, ""))
      .toDF("id", "s")
      .select(col("id"), TextFunctions.nfcNormalize(col("s")).as("n"),
        md5(TextFunctions.nfcNormalize(col("s"))).as("h"))
    val m = df.collect().map(r => r.getAs[Int]("id") -> r.getAs[String]("n")).toMap
    assert(m(1) == composed && m(2) == composed)  // both normalize to NFC
    val hashes = df.filter(col("id") <= 2).select("h").collect().map(_.getString(0))
    assert(hashes.distinct.length == 1)           // identical post-NFC md5
    assert(m(3) == "plain ascii" && m(4) == "")
    // interpreted (non-codegen) path agrees
    val expr = org.apache.spark.sql.graftbridge.NfcNormalize(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(decomposed)))
    assert(expr.eval(null).toString == composed)
    // null in, null out
    assert(Seq(Tuple1(null: String)).toDF("s")
      .select(TextFunctions.nfcNormalize(col("s"))).head.isNullAt(0))
  }

  test("pack_sequences bins are contiguous and respect the token budget") {
    val df = SparkEntry.queries("q_pack_sequences")(spark, sfDir)
    val rows = df.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("toks"), r.getAs[Long]("bin"))).sortBy(_._1)
    assert(rows.nonEmpty)
    // bins are non-decreasing in doc_id order and start at 0
    assert(rows.head._3 == 0L)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3, s"bin order broke at ${b._1}")
    }
    // straddle-fill invariant: every bin's UNSTRADDLED token mass is
    // under budget + its first doc (prefix cumsum ÷ budget definition)
    val cum = rows.scanLeft(0L)(_ + _._2).tail
    rows.zip(cum).foreach { case ((id, toks, bin), c) =>
      assert(bin == math.floor((c - toks) / 8192.0).toLong, s"doc $id")
    }
  }

  test("minhash pipeline survives empty and single-word docs") {
    val pairs = Dedup.minhashPairs(weird)
    // docs 4 and 5 are identical -> must be found
    assert(pairs.filter(col("doc_a") === 4 && col("doc_b") === 5).count() == 1)
  }

  test("simhash fingerprints defined for all docs including empty") {
    val fp = Dedup.simhashFingerprints(weird)
    assert(fp.count() == 6)
    assert(fp.filter(col("simhash").isNull).count() == 0)
  }

  test("jaccard pairs handles degenerate docs without dividing by zero") {
    val pairs = Dedup.jaccardPairs(weird, threshold = 0.0)
    assert(pairs.filter(col("jaccard").isNull).count() == 0)
  }

  test("quality/tokens/fingerprint projections never null out") {
    val nonEmpty = weird.filter(length(col("text")) > 0)
    val q = TextAnalysis.qualityScores(nonEmpty)
    assert(q.filter(col("quality").isNull).count() == 0)
    val t = TextAnalysis.tokenCounts(nonEmpty)
    assert(t.filter(col("ws_tokens").isNull || col("est_bpe_tokens").isNull).count() == 0)
    val f = TextAnalysis.fingerprints(weird)
    assert(f.filter(col("fp_md5").isNull).count() == 0)
  }

  test("char entropy: analytic values on degenerate and uniform texts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa"),            // one symbol → 0 bits
      (2L, "abab"),            // two equiprobable → exactly 1 bit
      (3L, "abcd"),            // four equiprobable → exactly 2 bits
      (4L, "aa bb aa"),        // ttr: {aa, bb} distinct of 3 tokens
      (5L, "")                 // empty text: excluded on BOTH engines
                               // (Spark split(''," ") = [""], DuckDB
                               // string_split = [] — the shared filter
                               // keeps the oracles aligned)
    ).toDF("doc_id", "text")
    val r = TextAnalysis.charEntropy(docs).collect()
      .map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(!r.contains(5L))
    assert(r.size == 4)
    assert(r(1L)._1 == 0.0)
    assert(r(2L)._1 == 1.0)
    assert(r(3L)._1 == 2.0)
    assert(math.abs(r(4L)._2 - 2.0 / 3) < 1e-3)   // ttr rounded to 4dp
    assert(r(1L)._2 == 1.0)                       // one token, one type
  }

  test("dsir weights separate target-domain docs from the rest") {
    val docs = Tables.documents(spark, sfDir)
    val w = TextAnalysis.dsirWeights(docs, targetLang = "en")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
    val Seq(enAvg, restAvg) = Seq(col("lang") === "en", col("lang") =!= "en")
      .map(p => w.filter(p).agg(avg(col("dsir_w"))).head().getDouble(0))
    // the target slice must score higher under its own LM ratio, and the
    // signs must separate (en-looking text is target-like, zh/de/... not)
    assert(enAvg > restAvg, s"en=$enAvg rest=$restAvg")
    assert(enAvg > 0 && restAvg < 0, s"en=$enAvg rest=$restAvg")
  }

  test("greedy sequence packing: packs respect the budget, no doc lost") {
    val docs = Tables.documents(spark, sfDir)
    val packed = TextAnalysis.packSequences(docs, budget = 200, buckets = 8)
    assert(packed.count() == docs.count())
    val packTotals = packed.groupBy("pack_id")
      .agg(sum("tokens").as("total"), count(lit(1)).as("n"))
    // a pack may only exceed the budget when it holds a single oversized doc
    assert(packTotals.filter(col("total") > 200 && col("n") > 1).count() == 0)
    // packing is reasonably tight: average pack fill > 50% of budget
    val avg = packTotals.agg(org.apache.spark.sql.functions.avg("total")).head.getDouble(0)
    assert(avg > 100, s"avg pack fill $avg")
  }

  test("exact dedup collapses the identical pair") {
    val kept = Dedup.exact(weird)
    assert(kept.count() == 5) // 6 docs, one exact dup
    assert(kept.agg(sum("n_copies")).head.getLong(0) == 6)
  }

  test("sessionize: a lone event starts session 1; a 31-min gap starts session 2") {
    import java.sql.Timestamp
    val t0 = 1700000000000L
    val ev = Seq(
      (1L, new Timestamp(t0), 7L),                    // user 7: lone event
      (2L, new Timestamp(t0), 8L),                    // user 8: two sessions
      (3L, new Timestamp(t0 + 31 * 60000L), 8L),
      (4L, new Timestamp(t0 + 32 * 60000L), 8L)       // same session as 3
    ).toDF("event_id", "ts", "user_id")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val out = ev.withColumn("ms", unix_millis(col("ts")))
      .withColumn("new_sess",
        when(col("ms") - lag(col("ms"), 1).over(w) > 1800000L
          || lag(col("ms"), 1).over(w).isNull, 1L).otherwise(0L))
      .select(col("event_id"),
        sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).as("session_seq"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("winnowing emits nothing for docs under 7 tokens and one fp at exactly 7") {
    val docs = Seq(
      (1L, "a b c", "en", "s", 5L),                 // 3 toks < k+w-1
      (2L, "a b c d e f g", "en", "s", 13L)         // exactly one full window
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    // replicate the q_winnowing shape over the synthetic frame
    val toks = filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val fp = docs.select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= 4)
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(1, size(toks) - 3),
          |  i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1], ' ', toks[i+2]))"""
          .stripMargin)).as(Seq("i", "gram")))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long").as("h"))
      .withColumn("fp", min(col("h")).over(w.rowsBetween(0, 3)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .filter(col("i") <= col("n") - 4)
      .select(col("doc_id"), col("fp")).distinct()
      .collect().map(_.getLong(0))
    // doc 1: no 4-token shingle window → nothing; doc 2: 4 shingles =
    // exactly one window of 4 → exactly one fingerprint
    assert(fp.toSeq == Seq(2L))
  }

  test("semantic dedup handles a corpus smaller than the cluster count") {
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.001f)), (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDedupPairs(tiny, nClusters = 8, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L))) // near-identical pair found, opposite vector not
  }

  test("cdc chunks tile every word exactly once; <4-word docs drop out") {
    val long = (1 to 100).map(i => s"t$i").mkString(" ")
    val docs = Seq((1L, "a b c"), (2L, ""), (3L, long))
      .toDF("doc_id", "text")
    val out = Dedup.cdcChunks(docs).collect()
    assert(out.forall(_.getLong(0) == 3L), "short docs must emit nothing")
    val chunks = out.sortBy(_.getInt(1))
    assert(chunks.head.getInt(2) == 1, "first chunk starts at word 1")
    assert(chunks.map(_.getInt(3)).sum == 100, "chunks must tile all words")
    chunks.sliding(2).foreach {
      case Array(x, y) =>
        assert(y.getInt(2) == x.getInt(2) + x.getInt(3), "contiguous chunks")
      case _ => ()
    }
  }

  test("media content dedup keeps the min-id copy and drops its twin") {
    import graft.operators.Multimodal
    // docs 4 and 5 carry identical text → identical payload bytes
    val kept = Multimodal.dedupByContent(Multimodal.asMedia(weird))
      .select(col("media_id")).collect().map(_.getLong(0)).toSet
    assert(kept.contains(4L) && !kept.contains(5L))
    assert(kept == Set(1L, 2L, 3L, 4L, 6L))
  }

  test("quality logit is a defined probability for degenerate docs") {
    val out = TextAnalysis.qualityLogit(weird.select(col("doc_id"), col("text")))
      .collect()
    assert(out.length == weird.count())
    out.foreach { r =>
      assert(!r.isNullAt(1) && !r.isNullAt(2), s"row $r")
      val p = r.getDouble(1)
      assert(p >= 0.0 && p <= 1.0, s"p=$p out of range")
    }
  }

  test("CMS state: unseen terms get one-sided (>= 0) estimates, empty state gives 0") {
    val st = new graft.streaming.StreamingSketches.CmsState(3, 2000)
    assert(st.estimate("never-seen") == 0L) // empty sketch: all counters 0
    st.counters.foreach(row => java.util.Arrays.fill(row, 5L))
    st.n = 5L
    // any term hashes into SOME bucket of each row — estimate is the
    // min across rows, never negative, never below a true count of 0
    assert(st.estimate("still-never-seen") == 5L)
  }

  test("dp counts: Laplace noise from a 32-bit uniform is bounded by ln(2^32)/eps") {
    // u ∈ ((0.5)/2^32, 1 - 0.5/2^32] → |noise| <= ln(2^33) ≈ 22.9 at ε=1;
    // every released count stays within that envelope of the true count
    val noisy = SparkEntry.queries("q_dp_counts")(spark, sfDir).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val truth = Tables.documents(spark, sfDir)
      .groupBy(col("lang"), col("source")).count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(noisy.keySet == truth.keySet)
    noisy.foreach { case (k, v) =>
      assert(math.abs(v - truth(k)) <= 23.0, s"$k: |${v - truth(k)}| > 23")
    }
  }

  test("weighted sample: ranks are 1..k per group and heavier docs win expectation") {
    val rows = SparkEntry.queries("q_weighted_sample")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"$lang ranks")
    }
    // weight-proportional without replacement: the SAMPLED docs' mean
    // length should not be below the corpus mean (statistical, but the
    // hash is fixed so this is a deterministic regression check)
    val sampledMean = rows.map(_._4.toDouble).sum / rows.length
    val corpusMean = Tables.documents(spark, sfDir)
      .agg(avg(col("n_chars"))).head.getDouble(0)
    assert(sampledMean > corpusMean * 0.9,
      f"sampled mean $sampledMean%.0f vs corpus $corpusMean%.0f")
  }

  test("boilerplate strip removes cross-doc segments, keeps unique content, drops empty docs") {
    // 4-word segments; 'the same footer here' is shared by docs 1+2 →
    // removed from BOTH; doc 3 is nothing but the footer → drops out;
    // doc 4 shares nothing → untouched.
    val docs = Seq(
      (1L, "alpha beta gamma delta the same footer here"),
      (2L, "epsilon zeta eta theta the same footer here"),
      (3L, "the same footer here"),
      (4L, "iota kappa lambda mu")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.boilerplateStrip(docs, segWords = 4, minDf = 2)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_kept"), r.getAs[String]("cleaned"))).toMap
    assert(out == Map(
      1L -> (1L, "alpha beta gamma delta"),
      2L -> (1L, "epsilon zeta eta theta"),
      4L -> (1L, "iota kappa lambda mu")))
  }

  test("jaro_winkler matches the published reference values + DuckDB conventions") {
    import org.apache.spark.sql.graftbridge.JaroWinklerImpl.{similarity => jw}
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    // the canonical textbook pairs
    assert(close(jw(u("MARTHA"), u("MARHTA")), 0.9611111111111111))
    assert(close(jw(u("DWAYNE"), u("DUANE")), 0.8400000000000001))
    assert(close(jw(u("DIXON"), u("DICKSONX")), 0.8133333333333332))
    // DuckDB conventions (each probed against jaro_winkler_similarity):
    // empty side → 0, even both-empty; identical → 1
    assert(jw(u(""), u("")) == 0.0)
    assert(jw(u("a"), u("")) == 0.0)
    assert(jw(u("abc"), u("abc")) == 1.0)
    // boost only above jaro 0.7: common 2-prefix but jaro 0.5 stays 0.5
    assert(close(jw(u("ABCDEFGH"), u("ABXXXXXX")), 0.5))
    // prefix cap 4: 6 common chars boost like 4
    assert(close(jw(u("PREFIX123"), u("PREFIXXYZ")), 0.8666666666666666))
    // no matches within the window → 0
    assert(jw(u("ab"), u("ba")) == 0.0)
    // ODD half-transposition count floors (the long-string divergence
    // that a naive halves/2.0 gets wrong — caught against DuckDB)
    assert(close(jw(
      u("merge key part vector data order window spark row table cust"),
      u("merge fast part customer spark slow big stream order stream ")),
      0.861360544217687))
    // null in, null out through the Column path; codegen == interpreted
    val df = Seq(("martha", "marhta"), (null, "x"), ("x", null))
      .toDF("a", "b")
      .select(TextFunctions.jaroWinkler(col("a"), col("b")).as("s"))
    val rows = df.collect()
    assert(math.abs(rows(0).getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }
}
