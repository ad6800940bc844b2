package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._
import graft.functions.FastCharLength

class GraftExtensionsSpec extends SparkSuite {
  import spark.implicits._

  test("sketch functions are SQL-callable after registration") {
    GraftFunctions.register(spark)
    Seq(("a b c d e f", 1L), ("a b c d e g", 2L), ("zz yy xx ww vv", 3L))
      .toDF("text", "id").createOrReplaceTempView("t")
    val rows = spark.sql("""
      SELECT id,
             size(word_shingle_hashes(text, 3)) AS n_sh,
             size(minhash_signature(word_shingle_hashes(text, 3), 16)) AS n_sig,
             simhash64(word_shingle_hashes(text, 3)) AS sh
      FROM t ORDER BY id""").as[(Long, Int, Int, Long)].collect()
    assert(rows.map(_._2).toSeq === Seq(4, 4, 3))
    assert(rows.forall(_._3 == 16))
    // near-identical docs have closer simhash than unrelated ones
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(rows(0)._4, rows(1)._4) < ham(rows(0)._4, rows(2)._4))

    val b = spark.sql(
      "SELECT srp_bucket(array(1.0d, 2.0d, 3.0d), 8, 42L) AS b").as[Long].head()
    assert(b >= 0 && b < 256)
  }

  test("dot_product is SQL-callable with DotProduct's exact null semantics") {
    GraftFunctions.register(spark)
    val d = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(d === 11.0)
    // length mismatch and null elements return NULL, like zip_with
    val nulls = spark.sql("""
      SELECT dot_product(array(1.0d), array(1.0d, 2.0d)) AS a,
             dot_product(array(1.0d, cast(null as double)), array(1.0d, 2.0d)) AS b""")
      .collect().head
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("nearest_cells_dyn is SQL-callable (per-row matrix, literal nProbe)") {
    GraftFunctions.register(spark)
    val cells = spark.sql("""
      SELECT nearest_cells_dyn(array(0.9d, 0.1d),
               array(array(1.0d, 0.0d), array(0.0d, 1.0d)), 2) AS c""")
      .as[Seq[Int]].head()
    assert(cells === Seq(0, 1)) // nearest fine centroid first
  }

  test("the extension injects the FastCharLength optimizer rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    // buildOptimizerRules is private[sql] in Scala but public in bytecode
    val build = ext.getClass.getMethods.find(_.getName == "buildOptimizerRules").get
    val rules = build.invoke(ext, spark).asInstanceOf[Seq[AnyRef]]
    assert(rules === Seq(FastCharLength))
  }
}
