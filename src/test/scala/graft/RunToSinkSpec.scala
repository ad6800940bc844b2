package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.engine._
import graft.fixtures.{PagesGen, PagesRules}

/** The production sink path (single-decode projection) must produce exactly
  * the same violations/verdicts/profiles as the composable [[ValidationEngine.run]].
  */
class RunToSinkSpec extends SparkSuite {
  import spark.implicits._

  test("runToSink == run (violations, verdicts, profile counts, histograms)") {
    val data = PagesGen.generate(spark, nRows = 8000L, nDays = 4)
    val cfg = EngineConfig(
      keyExpr = "url", partExpr = "date_format(warc_ts, 'yyyy-MM-dd')",
      statsExprs = PagesRules.statsExprs,
      histograms = Seq(("text_len", "length(text)", 25.0)))
    val sink = Files.createTempDirectory("sink").toString

    val a = ValidationEngine.run(data.pages, PagesRules.catalog,
      Map("hosts" -> data.hosts), cfg)
    val b = ValidationEngine.runToSink(data.pages, PagesRules.catalog,
      Map("hosts" -> data.hosts), cfg, sink)

    def vioSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "part", "rule_id").as[(String, String, String)]
        .collect().toSet
    assert(vioSet(a.violations) === vioSet(b.violations))

    def verdictMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Long, Boolean)].collect()
        .map(v => (v._1, v._2) -> (v._3, v._4, v._5)).toMap
    assert(verdictMap(a.verdicts) === verdictMap(b.verdicts))

    // profiles agree on counts/null-rates for the shared column set
    def profMap(df: org.apache.spark.sql.DataFrame) =
      df.select("part", "column", "rowCount", "nullCount")
        .as[(String, String, Long, Long)].collect()
        .map(p => (p._1, p._2) -> (p._3, p._4)).toMap
    assert(profMap(a.profiles) === profMap(b.profiles))

    // histogram sink matches a direct histogram pass
    val direct = StatsPass.histogram(data.pages, cfg, "length(text)", 25.0)
      .as[(String, Long, Long)].collect().toSet
    val sunk = spark.read.parquet(s"$sink/hist_text_len")
      .as[(String, Long, Long)].collect().toSet
    assert(sunk === direct)

    // bitmask spans MULTIPLE words past 64 rules: plant one catalog of 70
    // rules where exactly rules #3, #63, #64 and #69 fire on known rows —
    // word-boundary bits (63, 64) are the off-by-one hot spots
    val bigCatalog: Seq[graft.rules.ValidationRule] =
      (0 until 70).map { i =>
        val fires = Set(3, 63, 64, 69)
        if (fires(i))
          graft.rules.ExprRule(f"r$i%02d", "url",
            s"NOT (url IS NOT NULL AND pmod(xxhash64(url), 10) = ${i % 10})")
        else graft.rules.ExprRule(f"r$i%02d", "url", "true")
      }
    val sinkB = Files.createTempDirectory("sink_bits").toString
    val big = ValidationEngine.runToSink(data.pages, bigCatalog,
      Map.empty, cfg, sinkB)
    val byRule = big.violations.groupBy("rule_id").count()
      .as[(String, Long)].collect().toMap
    assert(byRule.keySet === Set("r03", "r63", "r64", "r69"), byRule.keySet)
    // counts must equal the direct predicate evaluation on the source
    Seq(3, 63, 64, 69).foreach { i =>
      val want = data.pages.where(
        expr(s"url IS NOT NULL AND pmod(xxhash64(url), 10) = ${i % 10}")).count()
      assert(byRule(f"r$i%02d") === want, s"rule r$i")
    }
  }
}
