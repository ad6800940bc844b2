package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{DotProduct, DuplicateNgramFraction, FastCharLength, MinHashSignature, NearestCellsDyn, NfcNormalize, SimHash64, SrpBucket, WordShingleHashes}

/** SQL registration for graft's custom Catalyst expressions, so the sketch
  * functions are usable from `spark.sql(...)` and `expr(...)` strings:
  *
  *   word_shingle_hashes(text, k)       → array<bigint>
  *   minhash_signature(hashes, n)       → array<bigint>
  *   simhash64(hashes)                  → bigint
  *   srp_bucket(vec, planes, seed)      → bigint
  *   dot_product(a, b)                  → double
  *   dup_ngram_fraction(text, n)        → double
  *   nfc_normalize(text)                → string
  *   nearest_cells_dyn(vec, matrix, n)  → array<int>
  *
  * Two entry points: `GraftFunctions.register(spark)` for an existing
  * session, or `--conf spark.sql.extensions=graft.GraftExtensions` at
  * spark-submit time (the standard extension hook). The extension also
  * injects the [[FastCharLength]] optimizer rule, which the engine's entry
  * points otherwise install on their session themselves.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctions.registrations.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => FastCharLength)
  }
}

object GraftFunctions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal int, got $other")
  }
  private def longArg(e: Expression, fn: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$fn expects a literal long, got $other")
  }

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("word_shingle_hashes",
      new ExpressionInfo(classOf[WordShingleHashes].getName, "word_shingle_hashes"),
      (args: Seq[Expression]) =>
        WordShingleHashes(args.head, intArg(args(1), "word_shingle_hashes"))),
    ("minhash_signature",
      new ExpressionInfo(classOf[MinHashSignature].getName, "minhash_signature"),
      (args: Seq[Expression]) =>
        MinHashSignature(args.head, intArg(args(1), "minhash_signature"))),
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    ("srp_bucket",
      new ExpressionInfo(classOf[SrpBucket].getName, "srp_bucket"),
      (args: Seq[Expression]) => SrpBucket(args.head,
        intArg(args(1), "srp_bucket"), longArg(args(2), "srp_bucket"))),
    ("dot_product",
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args.head, args(1))),
    // the fixed-matrix NearestCells can't be SQL-registered (its centroid
    // matrix is a constructor value, not an expression); the dynamic
    // per-row-matrix form covers the SQL surface
    ("nearest_cells_dyn",
      new ExpressionInfo(classOf[NearestCellsDyn].getName, "nearest_cells_dyn"),
      (args: Seq[Expression]) => NearestCellsDyn(args.head, args(1),
        intArg(args(2), "nearest_cells_dyn"))),
    ("dup_ngram_fraction",
      new ExpressionInfo(classOf[DuplicateNgramFraction].getName, "dup_ngram_fraction"),
      (args: Seq[Expression]) => DuplicateNgramFraction(args.head,
        intArg(args(1), "dup_ngram_fraction"))),
    ("nfc_normalize",
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => NfcNormalize(args.head))
  )

  /** Register on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    registrations.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), info, builder)
    }
}
