package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{FunctionRegistry, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.graftbridge.{DotProduct, JaccardSorted, JaroWinkler, MinHashSignature, NfcNormalize, SquaredL2Distance, StableHash32, WordShingleHashes}
import graft.functions.KsqlFunctions
import graft.functions.KsqlFunctions.Fn

/** SparkSessionExtensions entry point: registers graft's SQL functions,
  * so pure-SQL users (spark.sql, JDBC, ksql-translated text) get them
  * too:
  *
  *   spark.sql.extensions=graft.GraftExtensions       // at session build
  *   GraftExtensions.register(spark)                  // or at runtime
  *
  * SQL surface: the native codegen expressions (vec_dot(a,b),
  * vec_l2sq(a,b), jaccard_sorted(a,b), minhash_sig(hashes, k), …) under
  * their own names, and every ksqlDB function of [[KsqlFunctions.table]]
  * as `ksql_<name>`, plus its bare name where Spark has no function of
  * that name (Spark's own MASK, SLICE, SPLIT, … keep their meaning).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach(ext.injectFunction)
    // materialized-view rewrite (§2.15): config-built sessions serve
    // registered rollups from state + delta without the runtime install
    ext.injectOptimizerRule(_ => graft.plans.MaterializedViewRewrite)
  }
}

object GraftExtensions {
  private def native(name: String, usage: String)(b: Seq[Expression] => Expression): Fn =
    Fn(name, "native codegen", usage, Some(b))

  val natives: Seq[Fn] = Seq(
    native("vec_dot", "vec_dot(a, b) - dot product of two double arrays")(
      args => DotProduct(args(0), args(1))),
    native("vec_l2sq", "vec_l2sq(a, b) - squared L2 distance of two double arrays")(
      args => SquaredL2Distance(args(0), args(1))),
    native("jaccard_sorted",
      "jaccard_sorted(a, b) - Jaccard of two sorted distinct long arrays")(
      args => JaccardSorted(args(0), args(1))),
    native("minhash_sig",
      "minhash_sig(hashes, k) - k-permutation MinHash signature of a long array")(
      args => MinHashSignature(args(0), args(1).eval().asInstanceOf[Int])),
    native("stable_hash32",
      "stable_hash32(s) - first 4 md5 bytes as unsigned 32-bit long")(
      args => StableHash32(args(0))),
    native("jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-identical semantics)")(
      args => JaroWinkler(args(0), args(1))),
    native("nfc_normalize",
      "nfc_normalize(s) - Unicode NFC canonical composition (DuckDB-compatible name)")(
      args => NfcNormalize(args(0))),
    native("word_shingle_hashes",
      "word_shingle_hashes(text, n) - distinct word n-gram shingle hashes")(
      args => WordShingleHashes(args(0), args(1).eval().asInstanceOf[Int])))

  /** Every SQL function graft serves: what DESCRIBE and SHOW FUNCTIONS list. */
  val functions: Seq[Fn] = natives ++ KsqlFunctions.table

  /** A bare ksqlDB name is registered only where plain SQL would reach
    * it: Spark has no function of that name, and Spark's parser reads
    * `name(DAY, 1, x)` as an ordinary call, not a grammar form such as
    * TIMESTAMPADD. */
  private def bareNameFree(name: String): Boolean =
    !FunctionRegistry.builtin.functionExists(FunctionIdentifier(name)) &&
      scala.util.Try(CatalystSqlParser.parseExpression(s"$name(DAY, 1, x)"))
        .toOption.exists {
          case f: UnresolvedFunction => f.nameParts == Seq(name)
          case _ => false
        }

  private lazy val registrations
  : Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    functions.flatMap { f =>
      val names =
        if (f.kind == "native codegen") Seq(f.name)
        else {
          val bare = f.name.toLowerCase(java.util.Locale.ROOT)
          KsqlFunctions.sqlName(f) +: Seq(bare).filter(bareNameFree)
        }
      for (b <- f.builder.toSeq; n <- names) yield (FunctionIdentifier(n),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, n, f.usage, ""), b)
    }

  /** Runtime registration into an existing session. */
  def register(spark: SparkSession): Unit = {
    // Spark 4.1 gates its TIME type behind a flag; the dialect's
    // PARSE_TIME/FORMAT_TIME/TIMEADD family and the avro time logicals
    // need it on. Runtime-settable, idempotent, and register() is the
    // engine's session front door (Translator.run calls it), so every
    // graft path gets the type without user configuration.
    spark.conf.set("spark.sql.timeType.enabled", "true")
    registrations.foreach { case (id, info, b) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, b)
    }
  }
}
