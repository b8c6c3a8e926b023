package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-pipeline primitives: tokenization, shingling, stable hashing,
  * MinHash signatures, SimHash fingerprints — all Column algebra.
  *
  * Hashing is md5-based (not xxhash64) on purpose: md5 is bit-identical in
  * every engine, so the driver's DuckDB oracle can replay MinHash/SimHash
  * exactly. The first 8 hex chars → a 32-bit value; plenty for sketching.
  */
object TextFunctions {

  /** Whitespace tokens (documents are space-separated). */
  def words(text: Column): Column = split(text, " ")

  def distinctWords(text: Column): Column = array_distinct(words(text))

  /** Distinct character n-gram shingles of lower(text). */
  def charShingles(text: Column, n: Int = 3): Column = {
    val t = lower(text)
    array_distinct(
      transform(sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
        i => t.substr(i, lit(n))))
  }

  /** Stable 32-bit hash: first 4 md5 bytes as a long in [0, 2^32) —
    * native expression, no hex-string round-trip (see graftbridge.
    * StableHash32). Oracle-equivalent to
    * ('0x'||substr(md5(s),1,8))::BIGINT. */
  def stableHash32(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, StableHash32}
    ColumnBridge.column(StableHash32(ColumnBridge.expression(c)))
  }

  /** Unicode NFC canonical composition — native codegen expression
    * (graftbridge.NfcNormalize); DuckDB-compatible semantics
    * (nfc_normalize). The required first step before hashing text for
    * dedup: composed vs decomposed accents md5 differently. */
  def nfcNormalize(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, NfcNormalize}
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(c)))
  }

  /** Jaro-Winkler similarity (DuckDB-identical semantics) — native
    * codegen scorer for blocked record-linkage joins; see
    * graftbridge.JaroWinkler. */
  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, JaroWinkler}
    ColumnBridge.column(JaroWinkler(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Driver-side twin of [[stableHash32]] for baking constants into plans. */
  def stableHash32Static(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  /** MinHash signature: `k` permutations h_j(x) = ((2j+1)*x + 12345j + 7)
    * mod p over the shingle set's stable hashes. Returns array<long>[k].
    * Pure projection — signatures cost O(k * |shingles|) per row, no
    * shuffle; the LSH banding afterwards is what bounds pair generation.
    * Computed by the native one-pass codegen expression (a HOF version
    * is interpreted per-lambda and ~50x slower at scale).
    */
  def minhashSignature(shingles: Column, k: Int = 16): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, MinHashSignature}
    ColumnBridge.column(MinHashSignature(
      ColumnBridge.expression(transform(shingles, s => stableHash32(s))), k))
  }

  /** Distinct word n-gram shingle hashes in one native pass (split →
    * n-gram → md5-hash → distinct); see graftbridge.WordShingleHashes. */
  def wordShingleHashes(text: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordShingleHashes}
    ColumnBridge.column(WordShingleHashes(ColumnBridge.expression(text), n))
  }

  /** MinHash signature over an already-hashed shingle array. */
  def minhashSignatureFromHashes(hashes: Column, k: Int = 16): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, MinHashSignature}
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), k))
  }

  /** 32-bit SimHash over the distinct-word set: bit i is set when the sum
    * of ±1 votes from word-hash bit i is positive. Native one-pass
    * codegen expression (graftbridge.SimHash32) — a HOF form walks the
    * array 32 times with interpreted lambda dispatch and was
    * the dominant cost of q_dedup_simhash. */
  def simhash32(wordHashesCol: String): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, SimHash32}
    ColumnBridge.column(SimHash32(ColumnBridge.expression(col(wordHashesCol))))
  }

  /** Sliding word-n-gram xxhash64 keys in one native pass — value-
    * identical to `transform(sequence(1, size(w)-(n-1)), i ->
    * xxhash64(slice(w, i, n)))`; `minOne` adds the single short
    * trailing window q_contamination's greatest(...)-bound produces
    * for docs shorter than n. See graftbridge.GramHashes. */
  def wordGramXx64(words: Column, n: Int, minOne: Boolean = false): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordGramXx64}
    ColumnBridge.column(WordGramXx64(ColumnBridge.expression(words), n, minOne))
  }

  /** Sliding word-n-gram md5 hex digests in one native pass — value-
    * identical to `transform(sequence(1, size(w)-(n-1)), i ->
    * md5(concat_ws(' ', slice(w, i, n))))`. */
  def wordGramMd5(words: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordGramMd5}
    ColumnBridge.column(WordGramMd5(ColumnBridge.expression(words), n))
  }

  /** Sliding word-n-gram md5-PREFIX hashes as longs in one native pass —
    * value-identical to `transform(sequence(1, size(w)-(n-1)), i ->
    * cast(conv(substring(md5(concat_ws(' ', slice(w, i, n))), 1, 8),
    * 16, 10) as bigint))`. The content-defined-chunking / winnowing
    * hash family (q_cdc_chunks boundaries, q_winnowing shingles). */
  def wordGramMd5Prefix(words: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, WordGramMd5Prefix}
    ColumnBridge.column(WordGramMd5Prefix(ColumnBridge.expression(words), n))
  }

  /** Hamming distance between two packed-bit longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Word-set Jaccard similarity of two array columns (hash-set based;
    * works on any element type). Two empty sets score 0.0 — matching
    * jaccardSorted's contract, and avoiding an ANSI DIVIDE_BY_ZERO. */
  def jaccard(a: Column, b: Column): Column = {
    val union = size(array_union(a, b))
    when(union === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") / union)
  }

  /** Jaccard over pre-sorted distinct long arrays — native merge-walk
    * expression, zero allocation per pair. Sort once per row with
    * [[sortedHashes]] BEFORE the pair join. */
  def jaccardSorted(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, JaccardSorted}
    ColumnBridge.column(JaccardSorted(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Distinct xxhash64 values of an array's elements, sorted — the
    * per-row preparation for [[jaccardSorted]] pair scoring. */
  def sortedHashes(arr: Column): Column =
    sort_array(array_distinct(transform(arr, e => xxhash64(e))))

  /** Canonical normalization for fingerprinting: lowercase, strip
    * non-alphanumerics, collapse whitespace. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))
}
