package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.engine.{EngineConfig, Uniqueness, ValidationEngine}
import graft.rules._

/** Property tests (fixed seeds → deterministic): the Catalyst-compiled
  * rule pass must agree with an INDEPENDENT plain-Scala evaluator on
  * randomized data, and uniqueness must be invariant to both partitioning
  * and row order on randomized key multisets. The fixture suites pin the
  * reference corpus; these pin the SQL three-valued-logic corners
  * (null-skipping validators, rlike's find-not-match semantics, dependency
  * coalescing) across inputs nobody hand-picked.
  */
class RulePropertySpec extends SparkSuite {
  import spark.implicits._

  private type RowT = (Long, Option[String], Option[String], Option[Long],
    Option[String], Option[Long])

  private val urlGen: Gen[Option[String]] = Gen.frequency(
    2 -> Gen.const(None),
    5 -> (for {
      scheme <- Gen.oneOf("http", "https", "ftp")
      host <- Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)
      path <- Gen.listOf(Gen.alphaNumChar).map(_.mkString)
    } yield Some(s"$scheme://$host.com/$path")),
    3 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(cs => Some(cs.mkString)))

  private val rowGen: Gen[RowT] = for {
    url <- urlGen
    lang <- Gen.frequency(2 -> Gen.const(None),
      8 -> Gen.oneOf("en", "de", "fr", "xx", "yy").map(Some(_)))
    n <- Gen.frequency(2 -> Gen.const(None),
      8 -> Gen.chooseNum(-50L, 1100L).map(Some(_)))
    state <- Gen.frequency(2 -> Gen.const(None),
      8 -> Gen.oneOf("canceled", "confirmed", "draft").map(Some(_)))
    slot <- Gen.frequency(4 -> Gen.const(None),
      6 -> Gen.chooseNum(1L, 9L).map(Some(_)))
  } yield (0L, url, lang, n, state, slot)

  private def sample[A](g: Gen[A], n: Int, seed0: Long): Seq[A] =
    (0 until n).map(i => g.apply(Gen.Parameters.default, Seed(seed0 + i))
      .getOrElse(sys.error("gen failed")))

  private val UrlPat = "^https?://[a-z]+\\.com/"
  private val catalog: Seq[RowRule] = Seq(
    Required("url_req", "url"),
    Regex("url_re", "url", UrlPat),
    Allowed("lang_ok", "lang", Seq("en", "de", "fr")),
    MinMax("n_rng", "n", Some("0"), Some("1000")),
    MaxLength("url_len", "url", 40),
    Dependency("dep_cancel", "slot", "state = 'canceled'", "slot IS NULL"))

  /** Independent evaluator: plain Scala, written from the RULE DEFINITIONS
    * (reference semantics: only Required fires on NULL; rlike = Java regex
    * find; dependency clauses coalesce NULL→false) — not from the compiled
    * Column expressions.
    */
  private def expectedRuleIds(r: RowT): Set[String] = {
    val (_, url, lang, n, state, slot) = r
    val find = java.util.regex.Pattern.compile(UrlPat)
    Set(
      Option.when(url.isEmpty)("url_req"),
      url.collect { case u if !find.matcher(u).find() => "url_re" },
      lang.collect { case l if !Set("en", "de", "fr")(l) => "lang_ok" },
      n.collect { case v if v < 0L || v > 1000L => "n_rng" },
      url.collect { case u if u.length > 40 => "url_len" },
      Option.when(state.contains("canceled") && slot.isDefined)("dep_cancel")
    ).flatten
  }

  test("compiled rule pass ≡ independent evaluator on 400 random rows") {
    val rows = sample(rowGen, 400, seed0 = 1000L)
      .zipWithIndex.map { case (r, i) => r.copy(_1 = i.toLong) }
    val df = rows.toDF("id", "url", "lang", "n", "state", "slot")
    // the reference array<struct> form and the engine's bitmask row pass
    val passes = Seq(
      "withViolations" -> RuleCompiler.withViolations(df, catalog)
        .select($"id", explode($"_violations.rule_id").as("rule_id")),
      "rowPass" -> ValidationEngine.rowPass(df, catalog, Map.empty,
          EngineConfig(keyExpr = "id", partExpr = "'all'"))
        .select($"key".cast("long").as("id"), $"rule_id"))
    for ((name, vios) <- passes) {
      val got = vios.as[(Long, String)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        .withDefaultValue(Set.empty[String])
      rows.foreach { r =>
        assert(got(r._1) === expectedRuleIds(r),
          s"$name row $r: engine=${got(r._1)} expected=${expectedRuleIds(r)}")
      }
    }
    // the corpus actually exercised every rule (else the property is weak)
    val fired = rows.flatMap(expectedRuleIds).toSet
    assert(fired === catalog.map(_.ruleId).toSet, s"unexercised: $fired")
  }

  test("uniqueness: randomized key multisets, invariant to partitioning and row order") {
    val keyGen: Gen[Option[String]] = Gen.frequency(
      1 -> Gen.const(None), // NULLs never collide
      4 -> Gen.oneOf("k1", "k2", "k3", "hot").map(Some(_)), // forced dups
      5 -> Gen.listOfN(12, Gen.alphaNumChar).map(cs => Some(cs.mkString)))
    (0 until 3).foreach { round =>
      val keys = sample(keyGen, 500, seed0 = 7000L + round * 1000L)
      val brute = keys.flatten.groupBy(identity).filter(_._2.size > 1)
        .map { case (k, v) => k -> v.size.toLong }
      def run(numParts: Int, shuffled: Seq[Option[String]]): Map[String, Long] =
        Uniqueness.duplicateKeyViolations(
          shuffled.toDF("url").repartition(numParts),
          Unique("u", Seq("url")))
          .select($"key", $"message").as[(String, String)].collect()
          .map { case (k, m) => k -> m.split("n=").last.toLong }.toMap
      val base = run(1, keys)
      assert(base === brute, s"round $round vs brute")
      assert(run(13, scala.util.Random.javaRandomToRandom(
        new java.util.Random(round)).shuffle(keys)) === brute,
        s"round $round: partitioning/order changed the verdict")
    }
  }
}
