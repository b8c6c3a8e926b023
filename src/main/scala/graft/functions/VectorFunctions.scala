package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector ops over `array<double>` columns as pure Column algebra
  * (higher-order functions → codegen'd, no UDFs, no driver collects).
  *
  * At 100 TB these run as per-row projections inside whole-stage codegen;
  * the only data movement similarity queries need is the join strategy
  * around them (broadcast probes / LSH bucket equi-joins).
  */
object VectorFunctions {

  /** Left-fold dot product via the native codegen expression — identical
    * sequential summation order to the HOF formulation (so results stay
    * reproducible and oracle-comparable), without the per-row intermediate
    * array or lambda dispatch. See expressions.DotProduct. */
  def dot(a: Column, b: Column): Column = expressions.VectorExpressions.dot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; a zero vector has no direction, so any pair
    * involving one scores 0.0 — dividing instead would abort the whole
    * job under Spark 4's default ANSI mode (DIVIDE_BY_ZERO). */
  def cosine(a: Column, b: Column): Column =
    cosinePrenormed(dot(a, b), l2Norm(a), l2Norm(b))

  /** Cosine with a precomputed norm on each side — at scale, norms are
    * computed once per row before a join, not once per candidate pair. */
  def cosinePrenormed(dotAb: Column, normA: Column, normB: Column): Column =
    when(normA * normB === 0, 0.0).otherwise(dotAb / (normA * normB))

  def l2Distance(a: Column, b: Column): Column =
    sqrt(expressions.VectorExpressions.l2sq(a, b))

  /** Squared L2 — monotone in true distance, so rankers skip the sqrt. */
  def l2Sq(a: Column, b: Column): Column =
    expressions.VectorExpressions.l2sq(a, b)

  /** Random-hyperplane LSH signature: `nBits` sign bits packed into a long.
    * Hyperplane j's i-th component is ±1, derived deterministically from
    * md5(j:i) — reproducible across executors with zero state shipping.
    * Signs are packed into bitmasks and evaluated by the native
    * RhpSignature codegen loop (an expression-tree formulation needs
    * nBits*dim terms — slow to plan, codegen-hostile at high dims).
    *
    * `offset` shifts the hyperplane index range to [offset, offset+nBits):
    * callers needing several INDEPENDENT signatures over one vector
    * (multi-band near-dup LSH) draw each band from a disjoint slice of
    * the same md5 hyperplane family instead of re-using (and thereby
    * correlating) planes 0..nBits. offset=0 is byte-identical to the
    * pre-offset behavior, so every existing bucket/oracle is unchanged.
    */
  def rhpSignature(v: Column, dim: Int, nBits: Int, offset: Int = 0): Column = {
    import org.apache.spark.sql.graftbridge.{ColumnBridge, RhpSignature}
    // 1L << j wraps mod 64: hyperplane 64 would silently collide with
    // hyperplane 0, corrupting every bucket
    require(nBits >= 1 && nBits <= 64, s"nBits must be in [1, 64], got $nBits")
    require(dim >= 1, s"dim must be positive, got $dim")
    require(offset >= 0, s"offset must be non-negative, got $offset")
    val masks: Seq[Seq[Long]] = (0 until nBits).map { j =>
      val words = new Array[Long]((dim + 63) / 64)
      (0 until dim).foreach { i =>
        if (TextFunctions.stableHash32Static(s"${offset + j}:$i") % 2 == 0)
          words(i / 64) |= (1L << (i % 64))
      }
      words.toSeq
    }
    ColumnBridge.column(RhpSignature(ColumnBridge.expression(v), masks))
  }
}
