package graft

import graft.operators.{Dedup, Similarity, Multimodal}
import org.apache.spark.sql.functions._

/** Specs for the approximate operators whose driver check is rows-only:
  * LSH recall vs brute force, MinHash candidate recall vs exact Jaccard,
  * SimHash hamming-pair soundness, multimodal decode plumbing. */
class DedupSimilaritySpec extends SparkSpec {

  lazy val docs = Tables.documents(spark, sfDir)
  lazy val emb = Tables.embeddings(spark, sfDir)

  test("minhash candidates achieve full recall of exact near-dup pairs") {
    // exact ground truth: word-trigram jaccard >= 0.8 over all pairs
    val pairs = Dedup.minhashPairs(docs, threshold = 0.8)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force: same jaccard over the full cross product (500 docs OK)
    val sh = docs.select(col("doc_id"),
      array_distinct(expr(
        """transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
          |  i -> concat_ws(' ', slice(split(text, ' '), i, 3)))""".stripMargin)).as("s"))
    val exact = sh.as("a").join(sh.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("j", size(array_intersect(col("a.s"), col("b.s"))).cast("double")
        / size(array_union(col("a.s"), col("b.s"))))
      .filter(col("j") >= 0.8)
      .select(col("a.doc_id"), col("b.doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain near-dups")
    // MinHash banding is probabilistic but at j>=0.8, 4 bands of 4 give
    // ~99.7% per-pair recall; on this corpus expect full recall
    val missed = exact -- pairs
    assert(missed.size <= math.max(1, exact.size / 10), s"missed: $missed")
  }

  test("incremental dedup equals the cross-split subset of self-join pairs") {
    val oldSide = docs.filter(col("doc_id") % 10 =!= 0)
    val newSide = docs.filter(col("doc_id") % 10 === 0)
    val inc = Dedup.incrementalDedup(oldSide, newSide)
      .select("old_id", "new_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // self-join over the whole corpus, restricted to pairs that cross
    // the split (unordered → normalize to (old, new))
    val cross = Dedup.minhashPairs(docs)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }
      .map { case (a, b) => if (a % 10 == 0) (b, a) else (a, b) }.toSet
    assert(inc == cross)
    // no within-side pair can appear by construction
    assert(inc.forall { case (o, n) => o % 10 != 0 && n % 10 == 0 })
  }

  test("ANN operators over an all-NULL-embedding corpus return empty, never throw") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    val nullCorpus = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 8L).map(i =>
        org.apache.spark.sql.Row(i, null, 0))), schema)
    val probes = emb.filter(col("vec_id") < 3)
    assert(Similarity.bruteForceTopK(nullCorpus, probes).count() == 0)
    assert(Similarity.lshTopK(nullCorpus, probes, dim = 64).count() == 0)
    assert(Similarity.ivfTopK(nullCorpus, probes).count() == 0)
    assert(Similarity.pqTopK(nullCorpus, probes).count() == 0)
  }

  test("simhash: near-identical docs have small hamming distance") {
    val fp = Dedup.simhashFingerprints(docs)
    // doc pairs that are exact-jaccard near-dups should collide closely
    val nearDups = Dedup.jaccardPairs(docs, threshold = 0.9)
    val joined = nearDups
      .join(fp.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), "doc_a")
      .join(fp.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), "doc_b")
      .withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
    val avgNear = joined.agg(avg("dist")).head.getDouble(0)
    // random 32-bit pairs average distance 16
    assert(avgNear < 8, s"near-dup avg hamming $avgNear should be << 16")
  }

  test("simhashPairs finds only pairs within the hamming bound") {
    val p = Dedup.simhashPairs(docs, maxDist = 3)
    assert(p.filter(col("dist") > 3).count() == 0)
  }

  test("multi-probe LSH ANN recall vs brute force top-3 (4-bit buckets)") {
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(emb, probes, k = 3)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, probes, dim = 64, nBits = 4, k = 3)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    // near-random vectors are LSH's worst case; multi-probe recovers
    // moderate recall while cutting candidates ~2^bits/(bits+1) fold
    assert(recall >= 0.3, s"recall $recall")
  }

  test("graph ANN: beam search over the kNN graph finds brute-force neighbors") {
    val probes = emb.filter(col("vec_id") % 250 === 0)
    val brute = Similarity.bruteForceTopK(emb, probes, k = 5)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = Similarity.graphSearchTopK(emb, probes, dim = 64, k = 5)
    val graph = g.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // beam is bounded: at most k rows per probe, ranks 1..k
    val perProbe = g.groupBy("probe_id").count()
      .filter(col("count") > 5).count()
    assert(perProbe == 0)
    val recall = (brute & graph).size.toDouble / brute.size
    // near-random vectors are the hostile case for graph navigation
    // (no hub structure); beam+entry sampling still recovers a solid
    // fraction of the exact top-5
    assert(recall >= 0.3, s"recall $recall")
    // determinism: hash-sampled entries + lexicographic tiebreaks
    val again = Similarity.graphSearchTopK(emb, probes, dim = 64, k = 5)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(graph == again)
  }

  test("LSH-banded embedding dedup: >=0.85 recall of exact pairs, banded plan") {
    val exact = Dedup.embeddingPairs(emb)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshDf = Dedup.embeddingPairsLsh(emb)
    val lsh = lshDf.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain cos>=0.35 pairs")
    // no false positives: every emitted pair passed the EXACT rescore
    assert((lsh -- exact).isEmpty, s"LSH emitted non-pairs: ${lsh -- exact}")
    // 16 bands x 8 bits with hamming-1 probes measure ~0.90 on every SF
    // (0.9027/0.9041/0.9021 at sf0.001/0.01/0.1); 0.85 leaves margin
    // for a data refresh without hiding a real recall regression
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.85, s"recall $recall")
    // the point of the operator: candidate generation is an equi-join —
    // the exact baseline's BroadcastNestedLoop must NOT appear
    val plan = lshDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("sized-bits LSH dedup: linear-regime banding stays sound, equi-join plan") {
    // the q_dedup_embed_lsh_scaled configuration: bits = ceil(log2(n/40))
    // clamped [4,16] — pinned values so a formula drift is loud
    assert(Dedup.sizedBits(500) == 4)
    assert(Dedup.sizedBits(5000) == 7)
    assert(Dedup.sizedBits(50000) == 11)
    assert(Dedup.sizedBits(1) == 4)             // clamp floor
    assert(Dedup.sizedBits(100000000L) == 16)   // clamp ceiling
    // SemDeDup's k follows the same sizing discipline — pinned values
    // so a formula drift is loud (floor keeps driver SFs at k=8, the
    // IVF-shared quantizer)
    assert(Dedup.sizedClusters(500) == 8)
    assert(Dedup.sizedClusters(2000) == 8)
    assert(Dedup.sizedClusters(20000) == 80)
    assert(Dedup.sizedClusters(10000000L) == 4096)
    val n = emb.count()
    val bits = Dedup.sizedBits(n)
    val sized = Dedup.embeddingPairsLsh(emb, threshold = 0.5,
      bitsPerBand = bits)
    val got = sized.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.embeddingPairs(emb, threshold = 0.5)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction (exact rescore); the synthetic corpus
    // has at most a handful of cos>=0.5 pairs, so assert soundness, not
    // a recall ratio over a near-empty denominator
    assert((got -- exact).isEmpty, s"sized LSH emitted non-pairs: ${got -- exact}")
    // candidate generation stays an equi-join at every bit width
    val plan = sized.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("IVF-PQ finds exact-L2 neighbors within its top-10 and stays deterministic") {
    val probes = emb.filter(col("vec_id") % 250 === 0)
    val exact = Similarity.bruteForceTopK(emb, probes, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Similarity.ivfpqTopK(emb, probes, nProbe = 3, k = 10)
    val got = ivfpq.select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq.groupBy("probe_id").count()
      .filter(col("count") > 10).count() == 0)
    val recall = (exact & got).size.toDouble / exact.size
    // coarse pruning (3/8 cells) + residual PQ on near-random vectors:
    // a lenient floor, same spirit as the PQ and IVF specs
    assert(recall >= 0.2, s"recall $recall")
    val again = Similarity.ivfpqTopK(emb, probes, nProbe = 3, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == again)
  }

  test("graph ANN still seeds beams on a corpus smaller than the entry-sample stride") {
    val tiny = emb.filter(col("vec_id") < 20)  // < 64, hash-sample may be empty
    val probes = tiny.filter(col("vec_id") < 2)
    val r = Similarity.graphSearchTopK(tiny, probes, dim = 64, k = 3,
      beam = 8, rounds = 2)
    assert(r.count() > 0, "min-id fallback entry must seed the beam")
    assert(r.groupBy("probe_id").count().filter(col("count") > 3).count() == 0)
  }

  test("prefix-filtered Jaccard join equals the all-pairs baseline exactly") {
    // the AllPairs/PPJoin completeness theorem, checked end-to-end:
    // pruned candidates + exact verify must reproduce the all-pairs
    // result bit-for-bit (pairs AND scores) — at the gate's threshold
    // and at a looser one where prefixes are longer
    for (t <- Seq(0.7, 0.5)) {
      val exact = Dedup.jaccardPairs(docs, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val pref = Dedup.jaccardPairsPrefix(docs, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(pref == exact,
        s"t=$t missed=${(exact -- pref).take(5)} extra=${(pref -- exact).take(5)}")
      assert(exact.nonEmpty || t > 0.5, s"t=$t: expected some pairs")
    }
    // candidate generation is equi-join only — no all-pairs shape
    val plan = Dedup.jaccardPairsPrefix(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("connected components resolve transitive chains to the min label") {
    import spark.implicits._
    val pairs = Seq((1L, 5L), (5L, 9L), (9L, 12L), (2L, 3L), (20L, 7L))
      .toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 5L -> 1L, 9L -> 1L, 12L -> 1L,
      2L -> 2L, 3L -> 2L, 7L -> 7L, 20L -> 7L))
  }

  test("connected components converge on a chain longer than the round count") {
    import spark.implicits._
    // a 40-node path with ids ordered AGAINST the propagation direction:
    // 1-hop-per-round would need 39 rounds; path halving covers 2^8
    val chain = (1 to 39).map(i => (i.toLong, i.toLong + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(chain, iters = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 40 && comp.values.forall(_ == 1L), s"got $comp")
  }

  test("k-means iterations reduce (never increase) within-cluster distortion") {
    val vecs = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    def distortion(iters: Int): Double = {
      val cents = Similarity.kMeansCentroids(vecs, nCells = 4, iters = iters)
      vecs.crossJoin(broadcast(cents))
        .withColumn("d", graft.functions.VectorFunctions.l2Distance(col("v"), col("centroid")))
        .groupBy(col("vec_id")).agg(min(col("d")).as("dmin"))
        .agg(avg("dmin")).head.getDouble(0)
    }
    val d0 = distortion(0)
    val d3 = distortion(3)
    assert(d3 <= d0 + 1e-9, s"distortion rose: $d0 -> $d3")
  }

  test("IVF ANN recall vs brute force with Lloyd-iterated centroids") {
    val probes = emb.filter(col("vec_id") % 100 === 0)
    val brute = Similarity.bruteForceTopK(emb, probes, k = 3)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, probes, nCells = 4, nProbe = 2, k = 3)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // nProbe=2 of 4 cells searches ~half the corpus; on near-random
    // vectors expect recall well above that floor for top-3
    assert(recall >= 0.3, s"recall $recall")
  }

  test("PQ ADC finds exact-L2 neighbors within its top-10 (recall@10)") {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.expressions.Window
    val probes = emb.filter(col("vec_id") % 100 === 0)
    // exact squared-L2 top-3 (PQ approximates L2, so L2 is the right
    // ground truth — cosine would conflate metric and quantization error)
    val c = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").cast("array<double>").as("cv"))
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").cast("array<double>").as("pv"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("d").asc, col("neighbor_id").asc)
    val exact = broadcast(p).join(c, col("probe_id") =!= col("neighbor_id"))
      .withColumn("d", VectorFunctions.l2Sq(col("pv"), col("cv")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, probes, m = 8, ksub = 32, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.3, s"recall@10 $recall")
    // per-probe cap and determinism (crc32-seeded codebooks, no RNG)
    val again = Similarity.pqTopK(emb, probes, m = 8, ksub = 32, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == again)
  }

  test("PQ subvector split covers every dimension when dim is not divisible by m") {
    import spark.implicits._
    val vecs = Seq((1L, (1 to 10).map(_.toDouble)))
      .toDF("vec_id", "v")
    val subs = Similarity.pqSubvecs(vecs, m = 4)
      .orderBy("sub").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("sv")))
    // 10 dims over 4 subspaces: first 10%4=2 absorb one extra → 3,3,2,2
    assert(subs.map(_.length).toSeq == Seq(3, 3, 2, 2))
    assert(subs.flatten.toSeq == (1 to 10).map(_.toDouble))
    // divisible case unchanged: 8 dims over 4 → 2,2,2,2
    val even = Similarity.pqSubvecs(
      Seq((1L, (1 to 8).map(_.toDouble))).toDF("vec_id", "v"), m = 4)
      .orderBy("sub").collect().map(r => r.getSeq[Double](r.fieldIndex("sv")))
    assert(even.map(_.length).toSeq == Seq(2, 2, 2, 2))
    assert(even.flatten.toSeq == (1 to 8).map(_.toDouble))
  }

  test("semantic dedup: cluster-pruned pairs are a subset of exact pairs with good recall") {
    val exact = Dedup.embeddingPairs(emb)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.semanticDedupPairs(emb)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same threshold + scoring → precision is 1.0 by construction
    assert((sem -- exact).isEmpty, s"false pairs: ${sem -- exact}")
    // near-dup pairs cluster together; most survive the pruning
    assert(exact.nonEmpty)
    val recall = (exact & sem).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall $recall")
  }

  test("IVF ANN returns k neighbors per probe with nProbe cells") {
    val probes = emb.filter(col("vec_id") % 250 === 0)
    val r = Similarity.ivfTopK(emb, probes, nCells = 4, nProbe = 2, k = 3)
    assert(r.count() > 0)
    assert(r.groupBy("probe_id").count().filter(col("count") > 3).count() == 0)
  }

  test("native minhash signature equals the HOF formulation") {
    import graft.functions.TextFunctions
    val sh = docs.select(col("doc_id"),
      array_distinct(expr(
        """transform(sequence(1, greatest(size(split(text, ' ')) - 2, 1)),
          |  i -> concat_ws(' ', slice(split(text, ' '), i, 3)))""".stripMargin)).as("s"))
    // reference HOF formulation: k folds over the hashed shingles
    val hashes = transform(col("s"), s => TextFunctions.stableHash32(s))
    val minhashSignatureHof = transform(sequence(lit(0), lit(15)), j =>
      aggregate(hashes, lit(Long.MaxValue),
        (acc, x) => least(acc, ((lit(2L) * j + 1L) * x + j * 12345L + 7L) % 2147483647L)))
    val both = sh.select(
      TextFunctions.minhashSignature(col("s")).as("native"),
      minhashSignatureHof.as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() == 0)
  }

  test("sorted-merge jaccard equals hash-set jaccard") {
    import graft.functions.TextFunctions
    val d = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    val h = d.select(col("doc_id"),
      TextFunctions.sortedHashes(col("w")).as("sw"),
      array_distinct(expr("transform(w, x -> xxhash64(x))")).as("hw"))
    val pairs = h.as("a").join(h.as("b"), col("a.doc_id") === col("b.doc_id") - 7)
    val diff = pairs.select(
      (TextFunctions.jaccardSorted(col("a.sw"), col("b.sw"))
        - TextFunctions.jaccard(col("a.hw"), col("b.hw"))).as("d"))
      .filter(abs(col("d")) > 1e-12).count()
    assert(diff == 0)
  }

  test("native codegen dot product is bit-identical to the HOF formulation") {
    import graft.functions.VectorFunctions
    val v = emb.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val paired = v.as("a").join(v.as("b"), col("a.vec_id") === col("b.vec_id") - 1)
    // reference HOF formulation: a left fold over the pairwise products
    val dotHof = aggregate(zip_with(col("a.v"), col("b.v"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diff = paired.select(
      (VectorFunctions.dot(col("a.v"), col("b.v")) - dotHof).as("d"))
      .filter(col("d") =!= 0.0).count()
    assert(diff == 0)
  }

  test("multimodal features feed similarity search (media -> ANN flow)") {
    val feats = Multimodal.decode(Multimodal.asMedia(docs))
      .select(col("media_id").as("vec_id"),
        col("features").cast("array<float>").as("embedding"))
    val probes = feats.filter(col("vec_id") % 100 === 0)
    val nn = Similarity.bruteForceTopK(feats, probes, k = 3)
    assert(nn.groupBy("probe_id").count().filter(col("count") =!= 3).count() == 0)
  }

  test("multimodal resize + frame-sample stages keep contract schemas") {
    val decoded = Multimodal.decode(Multimodal.asMedia(docs))
    val resized = Multimodal.resize(decoded, 224, 224)
    assert(resized.count() == decoded.count())
    assert(resized.select("width").distinct().head.getInt(0) == 224)
    assert(resized.schema == Multimodal.decodedSchema)
    val frames = Multimodal.frameSample(decoded, 5)
    // every media row contributes ceil(n_frames/5) sampled frames
    val expectedN = decoded.select(ceil(col("n_frames") / 5.0).cast("long").as("k"))
      .agg(sum("k")).head.getLong(0)
    assert(frames.count() == expectedN)
    assert(frames.filter(col("frame_idx") >= col("n_frames")).count() == 0)
  }

  test("multimodal decode preserves rows, drops payload, emits features") {
    val media = Multimodal.asMedia(docs)
    val decoded = Multimodal.decode(media)
    assert(decoded.count() == docs.count())
    assert(!decoded.columns.contains("media"))
    val row = decoded.head
    assert(row.getAs[scala.collection.Seq[Float]]("features").length == 8)
    assert(row.getAs[Int]("width") >= 64)
  }

  test("content-defined chunking re-keys only around an insertion") {
    import spark.implicits._
    import graft.operators.Dedup
    // deterministic 400-word doc; its twin has one word inserted early
    val words = (0 until 400).map(i => s"w$i")
    val original = words.mkString(" ")
    val edited = (words.take(5) ++ Seq("INSERTED") ++ words.drop(5)).mkString(" ")
    val docs = Seq((1L, original), (2L, edited)).toDF("doc_id", "text")
    def hashes(id: Long, df: org.apache.spark.sql.DataFrame) =
      df.filter(col("doc_id") === id).select(col("chunk_hash"))
        .collect().map(_.getString(0)).toSet
    val cdc = Dedup.cdcChunks(docs)
    val a = hashes(1, cdc); val b = hashes(2, cdc)
    // all chunks after the insertion point re-align → high overlap
    val overlap = a.intersect(b).size.toDouble / a.size
    assert(overlap >= 0.7, s"cdc overlap $overlap")
    // fixed-width chunking re-keys every chunk after the edit
    def fixed(text: String) = text.split(" ").grouped(8)
      .map(_.mkString(" ")).toSet
    val fa = fixed(original); val fb = fixed(edited)
    val fixedOverlap = fa.intersect(fb).size.toDouble / fa.size
    assert(overlap > fixedOverlap + 0.3,
      s"cdc $overlap should beat fixed $fixedOverlap decisively")
  }
}
