package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.engine._
import graft.fixtures.{PagesGen, PagesRules}
import graft.rules.{Unique, ValidationRule}

/** Empty inputs and degenerate rule sets through every engine entry point
  * (`rowPass`, `run`, `runToSink`): no row violations, the six-string
  * violation schema, and verdicts for exactly the configured rules — one
  * per (part, partition rule) plus one "(global)" row per uniqueness rule,
  * whose checked count is the input's row count (0 on an empty input).
  */
class EngineEdgeCaseSpec extends SparkSuite {
  import spark.implicits._

  private lazy val data = PagesGen.generate(spark, nRows = 300L, nDays = 2)
  private val cfg = EngineConfig(keyExpr = "url",
    partExpr = "date_format(warc_ts, 'yyyy-MM-dd')",
    statsExprs = PagesRules.statsExprs)
  // a primary-key rule and a composite one: runToSink verifies them on
  // different paths (staged key vs source re-read)
  private val uniqueOnly: Seq[ValidationRule] = Seq(
    Unique(PagesRules.UniqueUrl, Seq("url")),
    Unique("unique_url_lang", Seq("url", "lang")))

  private def assertViolationSchema(df: DataFrame, what: String): Unit =
    assert(df.schema.map(f => f.name -> f.dataType) ===
      ValidationEngine.violationCols.map(_ -> StringType), what)

  private def check(inputName: String, input: => DataFrame,
      rulesName: String, rules: Seq[ValidationRule]): Unit =
    test(s"$inputName × $rulesName: no row violations, verdicts for exactly the rules") {
      val df = input
      val dims = Map("hosts" -> data.hosts)
      val rows = df.count()
      val parts = df.select(date_format($"warc_ts", "yyyy-MM-dd")).distinct().count()
      val uniqueIds = rules.collect { case u: Unique => u.ruleId }.toSet
      val partIds = rules.map(_.ruleId).toSet -- uniqueIds

      val rowVios = ValidationEngine.rowPass(df, rules, dims, cfg)
      assertViolationSchema(rowVios, "rowPass")
      assert(rowVios.count() === 0L, "rowPass")

      val sink = Files.createTempDirectory("edge_sink").toString
      val results = Seq(
        "run" -> ValidationEngine.run(df, rules, dims, cfg),
        "runToSink" -> ValidationEngine.runToSink(df, rules, dims, cfg, sink))
      results.foreach { case (entry, res) =>
        assertViolationSchema(res.violations, entry)
        assert(res.violations
          .where($"part" =!= ValidationEngine.GlobalPart).count() === 0L, entry)
        assert(res.violations.as[(String, String, String, String, String, String)]
          .collect().forall(v => uniqueIds(v._3)), entry)

        val verdicts = res.verdicts
          .select("part", "rule_id", "checked").as[(String, String, Long)].collect()
        val (global, perPart) =
          verdicts.partition(_._1 == ValidationEngine.GlobalPart)
        assert(global.map(_._2).toSet === uniqueIds, entry)
        assert(global.length === uniqueIds.size, entry)
        assert(global.forall(_._3 == rows), s"$entry: ${global.toSeq}")
        assert(perPart.map(_._2).toSet === (if (rows == 0) Set.empty else partIds),
          entry)
        assert(perPart.length === parts * partIds.size, entry)
      }
      val Seq(a, b) = results.map(_._2.verdicts
        .select("part", "rule_id", "checked", "violations", "pass")
        .as[(String, String, Long, Long, Boolean)].collect().toSet)
      assert(a === b, "run and runToSink verdicts differ")
    }

  private def empty = data.pages.where(lit(false))

  check("empty input", empty, "full catalog", PagesRules.catalog)
  check("empty input", empty, "no rules", Nil)
  check("empty input", empty, "unique-only catalog", uniqueOnly)
  check("pages", data.pages, "no rules", Nil)
  check("pages", data.pages, "unique-only catalog", uniqueOnly)
}
