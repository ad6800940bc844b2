package enginebench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Audit, Drift, EngineConfig, ValidationEngine}
import graft.fixtures.{PagesGen, PagesRules}
import graft.rules.Unique
import graft.sources.PagesTable
import graft.streaming.StreamingValidation
import graft.text.CorpusPipeline

/** What one closed-loop iteration did: rows it processed, its wall time,
  * and the latency samples it contributes (one per unit of work a user
  * waits for).
  */
final case class OpResult(rows: Long, wallS: Double, samples: Seq[Double])

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
    val tracer: Tracer) {
  /** failed output checks */
  val errors = ArrayBuffer.empty[String]

  def expect(ok: Boolean, msg: => String): Unit = if (!ok) errors += msg

  /** Time one call the user waits for, as a top-level span; returns its
    * result and seconds.
    */
  def call[T](span: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(span)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One benchmark workload. `prepare` generates and writes the inputs,
  * `warmup` does the untimed rest of set-up, `op` is one closed-loop
  * iteration and `check` verifies the outputs once the loop is over.
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def seed: Long = ctx.seed

  /** The program's input: (rows, on-disk bytes, schema) of what `prepare`
    * wrote, for the input fingerprint.
    */
  def prepare(dir: String): (Long, Long, String)
  def warmup(): Unit
  def op(i: Int): OpResult
  def check(): Unit
}

object Workload {
  val Names: Seq[String] = Seq("validate_wide", "daily_resume", "corpus_funnel")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "validate_wide" => new ValidateWide(ctx)
    case "daily_resume" => new DailyResume(ctx)
    case "corpus_funnel" => new CorpusFunnel(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  val pagesCfg: EngineConfig = EngineConfig(keyExpr = "url",
    partExpr = "date_format(warc_ts, 'yyyy-MM-dd')",
    statsExprs = PagesRules.statsExprs)

  def dirBytes(dir: String): Long = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
  }

  def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val dst: Path = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def fingerprint(df: DataFrame, dir: String): (Long, Long, String) =
    (df.count(), dirBytes(dir), f"${df.schema.json.hashCode}%08x")

  /** Distinct rows found in only one of `a` and `b` (one Spark job). */
  def symmetricDiff(a: DataFrame, b: DataFrame): Long = {
    val cols = a.columns.toSeq.map(col)
    a.select(cols :+ lit(1).as("_side"): _*)
      .unionByName(b.select(cols :+ lit(2).as("_side"): _*))
      .groupBy(cols: _*).agg(bit_or(col("_side")).as("_sides"))
      .where(col("_sides") =!= 3).count()
  }
}

/** The north-metric job at realistic row width: the full rule-set pass
  * through the staged single-decode sink, then the drift checks.
  */
final class ValidateWide(ctx: Ctx) extends Workload(ctx) {
  val Rows = 6000L
  val Days = 10
  val PadTo = 16384
  private val cfg = Workload.pagesCfg.copy(
    histograms = Seq(("text_len", "length(text)", 25.0)),
    quantilesFor = Seq("text_len"))
  private var in = ""
  private var drift = Seq.empty[graft.model.DriftReport]
  private def sink = s"${ctx.work}/validate_sink"

  def prepare(dir: String): (Long, Long, String) = {
    in = dir
    val d = PagesGen.generate(spark, Rows, Days, seed, padTextTo = PadTo)
    d.pages.repartition(16).write.parquet(s"$dir/pages")
    d.hosts.write.parquet(s"$dir/hosts")
    Workload.fingerprint(spark.read.parquet(s"$dir/pages"), s"$dir/pages")
  }

  /** One untimed pass. The reported figure is the median pass, which
    * leaves out the first timed pass, still slow while the JIT compiler
    * catches up.
    */
  def warmup(): Unit = op(-1)

  def op(i: Int): OpResult = {
    val pages = spark.read.parquet(s"$in/pages")
    val hosts = spark.read.parquet(s"$in/hosts")
    val (_, dt) = ctx.call("validate.pass") {
      ctx.span("engine.runToSink") {
        ValidationEngine.runToSink(pages, PagesRules.catalog,
          Map("hosts" -> hosts), cfg, sink)
      }
      drift = ctx.span("engine.drift") {
        Drift.againstPrevious(spark.read.parquet(s"$sink/hist_text_len")
            .where(col("part").startsWith("2024")), "text_len") ++
          Drift.nullRateDrift(spark.read.parquet(s"$sink/profiles")
            .where(col("part").startsWith("2024")), "lang")
      }
    }
    OpResult(Rows, dt, Seq(dt))
  }

  def check(): Unit = {
    val got = spark.read.parquet(s"$sink/violations")
      .select("key", "rule_id").distinct()
    val expected = PagesGen.generate(spark, Rows, Days, seed, padTextTo = PadTo)
      .expected
    val diff = Workload.symmetricDiff(got, expected)
    ctx.expect(diff == 0, s"validate_wide: $diff violation (key, rule_id) " +
      "rows differ from PagesGen.expected")
    val driftDay = spark.read.parquet(s"$sink/profiles")
      .where(col("part").startsWith("2024")).select(max("part")).head().getString(0)
    val flagged = drift.filter(r => r.metric == "null_rate_delta" && !r.pass)
      .map(_.part).toSet
    ctx.expect(flagged == Set(driftDay),
      s"validate_wide: null-rate drift flagged $flagged, expected only $driftDay")
  }
}


/** The daily ingest job through the `_validation_audit` table. A round
  * streams one day's arrival through `validateStream` in micro-batches,
  * appends it and resumes, upserts a re-crawl that must be detected as
  * drift and resumes, then resumes once more with nothing to do. The table
  * and audit are restored to the same bootstrapped state before every
  * round, so every round does the same work.
  */
final class DailyResume(ctx: Ctx) extends Workload(ctx) {
  val RowsPerDay = 2000L
  val BootDays = 8
  val Days = BootDays + 1
  /** Rows of the last generated day that arrive, and rows of a validated
    * day that are re-crawled: the bootstrapped table is 32 times the
    * arrival.
    */
  val ArrivalRows = 500
  val RecrawlRows = 200
  /** Files the arrival is staged as: one micro-batch each. */
  val ArrivalFiles = 4
  private val cfg = Workload.pagesCfg
  private var in = ""
  private var arrivalDay = ""
  private var recrawlDay = ""
  private var arrivalRows = 0L
  private var recrawlRows = 0L
  private def table = s"${ctx.work}/resume_table"
  private def audit = s"${ctx.work}/resume_audit"
  private def streamSink = s"${ctx.work}/stream_sink"
  private def streamCkpt = s"${ctx.work}/stream_checkpoint"
  private val dayOf = date_format(col("warc_ts"), "yyyy-MM-dd")

  def prepare(dir: String): (Long, Long, String) = {
    in = dir
    val d = PagesGen.generate(spark, RowsPerDay * Days, Days, seed)
    // the generator spreads rows over consecutive days from its window start
    val days = (0 until Days).map(k => java.time.LocalDate
      .ofEpochDay(PagesGen.WindowStartSec / 86400 + k).toString)
    arrivalDay = days.last
    recrawlDay = days(BootDays / 2)
    PagesTable.write(d.pages.where(dayOf =!= arrivalDay), s"$dir/table")
    d.pages.where(dayOf === arrivalDay)
      .orderBy(xxhash64(col("url"), col("warc_ts"), lit(seed)), col("url"))
      .limit(ArrivalRows)
      .repartition(ArrivalFiles).write.parquet(s"$dir/arrival")
    // a re-crawl of part of one validated day: mutated text and a newer
    // warc_ts, so the upsert replaces those rows and resume sees drift
    val base = d.pages.where(dayOf === recrawlDay && col("url").isNotNull)
      .orderBy(xxhash64(col("url"), lit(seed)), col("url"), col("warc_ts"))
      .limit(RecrawlRows)
    PagesGen.mutateSnapshot(base, seed)._1
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 MINUTE"))
      .write.parquet(s"$dir/recrawl")
    d.hosts.write.parquet(s"$dir/hosts")
    arrivalRows = spark.read.parquet(s"$dir/arrival").count()
    recrawlRows = spark.read.parquet(s"$dir/recrawl").count()
    Workload.fingerprint(readTable(s"$dir/table"), s"$dir/table")
  }

  /** Validates the bootstrapped days once; every round starts from that
    * state. A warm-up round would not fit the run's time budget, so the
    * timed round is the first; its runIncremental paths are warm from
    * the bootstrap.
    */
  def warmup(): Unit =
    Audit.runIncremental(readTable(s"$in/table"), PagesRules.catalog,
      dims(), cfg, s"$in/audit", "bootstrap")

  private def readTable(dir: String): DataFrame =
    PagesTable.read(spark, dir).drop(PagesTable.PartitionCol)

  private def dims() = Map("hosts" -> spark.read.parquet(s"$in/hosts"))

  private def resume(runId: String) = Audit.runIncremental(readTable(table),
    PagesRules.catalog, dims(), cfg, audit, runId)

  /** Data partitions a resume wrote verdicts for, read back from the audit
    * (re-reading the returned verdicts would re-run the validation).
    */
  private def validatedBy(runId: String): Set[String] =
    spark.read.option("mergeSchema", "true").parquet(s"$audit/verdicts")
      .where(col("run_id") === runId).select("part").distinct().collect()
      .map(_.getString(0)).toSet - ValidationEngine.GlobalPart

  def op(i: Int): OpResult = {
    Seq(table, audit, streamSink, streamCkpt).foreach(Workload.deleteTree)
    Workload.copyTree(s"$in/table", table)
    Workload.copyTree(s"$in/audit", audit)
    val arrivalStream = spark.readStream
      .schema(spark.read.parquet(s"$in/arrival").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$in/arrival")
    val (_, dtStream) = ctx.call("ingest.stream") {
      ctx.span("streaming.validate") {
        StreamingValidation.validateStream(arrivalStream, PagesRules.catalog,
          dims(), cfg, streamSink, streamCkpt).start().awaitTermination()
      }
    }
    val streamed = Files.list(Paths.get(streamSink))
    val nBatches = try streamed.iterator().asScala
      .count(_.getFileName.toString.startsWith("batch_id=")) finally streamed.close()
    ctx.expect(nBatches == ArrivalFiles, s"daily_resume: the stream ran " +
      s"$nBatches micro-batches over $ArrivalFiles arrival files")
    val arrival = spark.read.parquet(s"$in/arrival")
    val (_, dtAppend) = ctx.call("resume.append") {
      ctx.span("sources.write") {
        PagesTable.write(arrival, table, SaveMode.Append)
      }
      ctx.span("engine.audit.append") { resume(s"op${i}_append") }
    }
    ctx.expect(validatedBy(s"op${i}_append") == Set(arrivalDay),
      s"daily_resume: append of $arrivalDay validated ${validatedBy(s"op${i}_append")}")
    val updates = spark.read.parquet(s"$in/recrawl")
    val (_, dtRecrawl) = ctx.call("resume.recrawl") {
      ctx.span("sources.upsert") { PagesTable.upsert(spark, table, updates) }
      ctx.span("engine.audit.recrawl") { resume(s"op${i}_recrawl") }
    }
    ctx.expect(validatedBy(s"op${i}_recrawl").contains(recrawlDay),
      s"daily_resume: re-crawl of $recrawlDay not re-validated")
    val (noop, dtNoop) = ctx.call("resume.noop") {
      ctx.span("engine.audit.noop") { resume(s"op${i}_noop") }
    }
    ctx.expect(noop.isEmpty, "daily_resume: no-op resume validated something")
    val samples = Seq(dtStream, dtAppend, dtRecrawl, dtNoop)
    OpResult(arrivalRows + recrawlRows, samples.sum, samples)
  }

  /** The last round's streamed violations, less the within-batch
    * uniqueness ones, equal a batch row pass over the arrival files; and
    * the audit's latest verdict per (part, rule) equals a from-scratch
    * validation of the final table.
    */
  def check(): Unit = {
    val uniqueIds = PagesRules.catalog.collect { case u: Unique => u.ruleId }
    val batch = ValidationEngine.rowPass(spark.read.parquet(s"$in/arrival"),
      PagesRules.catalog.filterNot(_.isInstanceOf[Unique]), dims(), cfg)
    val streamed = spark.read.parquet(streamSink)
      .where(!col("rule_id").isin(uniqueIds: _*))
      .select(batch.columns.toSeq.map(col): _*)
    val streamDiff = Workload.symmetricDiff(streamed, batch)
    ctx.expect(streamDiff == 0 && batch.count() > 0, s"daily_resume: " +
      s"$streamDiff streamed violation rows differ from a batch row pass")

    val fresh = ValidationEngine.run(readTable(table), PagesRules.catalog,
      dims(), cfg).verdicts.select("part", "rule_id", "checked", "violations")
    val latest = spark.read.option("mergeSchema", "true")
      .parquet(s"$audit/verdicts")
      .groupBy("part", "rule_id")
      .agg(max(struct(col("audit_ts"), col("checked"), col("violations")))
        .as("l"))
      .select(col("part"), col("rule_id"), col("l.checked").as("checked"),
        col("l.violations").as("violations"))
    val diff = Workload.symmetricDiff(latest, fresh)
    ctx.expect(diff == 0 && fresh.count() > 0, s"daily_resume: $diff latest " +
      "audit verdicts differ from a from-scratch run over the final table")
  }
}

/** Training-corpus construction: `CorpusPipeline.build` over a seeded docs
  * corpus with planted exact duplicates, near duplicates and error-severity
  * quality failures, then the stage report and a write of the kept set.
  * The only workload where `dedup` and `text` do the work.
  */
final class CorpusFunnel(ctx: Ctx) extends Workload(ctx) {
  val BaseDocs = 6000L
  /** Planted docs of each kind: exact duplicate, near duplicate, quality
    * failure.
    */
  val Planted = 400L
  val Docs = BaseDocs + 3 * Planted
  val Words = 60
  val Vocab = 20000L
  private var in = ""
  private var keptSig: Option[Row] = None
  private def out = s"${ctx.work}/funnel_kept"

  /** Word `j` of the text generated for content id `cid`. */
  private def word(cid: Column, j: Column): Column = concat(lit("w"),
    pmod(xxhash64(lit(seed), cid, j), lit(Vocab)).cast("string"))

  private def words(n: Int)(w: Column => Column): Column =
    array_join(transform(sequence(lit(0), lit(n - 1)), w), " ")

  /** Doc ids below `BaseDocs` are distinct texts; then come exact copies
    * and near copies (one word in 20 replaced) of random base docs, then
    * quality failures of three kinds, each with its own words so exact
    * dedup cannot remove them first: under 5 tokens, a language outside
    * the allowed set, and three lines repeated three times.
    */
  private def corpus(): DataFrame = {
    val id = col("id")
    def h(salt: Int) = xxhash64(lit(seed), id, lit(salt))
    val src = pmod(h(1), lit(BaseDocs))
    val own = words(Words)(j => word(id, j))
    val near = words(Words)(j => when(
      pmod(xxhash64(lit(seed), id, j), lit(20L)) === 0,
      concat(lit("v"), xxhash64(lit(seed), id, j).cast("string")))
      .otherwise(word(src, j)))
    val short = array_join(transform(sequence(lit(0), pmod(h(4), lit(4L))),
      j => word(id, j)), " ")
    val repeated = array_join(transform(sequence(lit(0), lit(8)),
      k => array_join(transform(sequence(lit(0), lit(7)),
        j => word(id, pmod(k, lit(3)) * 8 + j)), " ")), "\n")
    val kind = pmod(h(3), lit(3L))
    val lo = BaseDocs + 2 * Planted
    spark.range(Docs).select(
      id.as("doc_id"),
      when(id < BaseDocs, own)
        .when(id < BaseDocs + Planted, words(Words)(j => word(src, j)))
        .when(id < lo, near)
        .when(kind === 0, short)
        .when(kind === 1, own)
        .otherwise(repeated).as("text"),
      when(id >= lo && kind === 1, lit("xx"))
        .otherwise(element_at(array(Seq("en", "de", "fr", "es").map(lit): _*),
          (pmod(h(5), lit(4L)) + 1).cast("int"))).as("lang"),
      concat(lit("s"), pmod(h(6), lit(4L)).cast("string")).as("source"))
  }

  def prepare(dir: String): (Long, Long, String) = {
    in = dir
    corpus().repartition(8).write.parquet(s"$dir/docs")
    Workload.fingerprint(spark.read.parquet(s"$dir/docs"), s"$dir/docs")
  }

  /** Two untimed builds: the second still runs faster than the first. */
  def warmup(): Unit = (1 to 2).foreach(k => op(-k))

  def op(i: Int): OpResult = {
    val docs = spark.read.parquet(s"$in/docs")
    val (report, dt) = ctx.call("funnel.run") {
      val (kept, report) = ctx.span("text.funnel.build") {
        CorpusPipeline.build(docs, "doc_id", "text", "lang", "source")
      }
      val r = ctx.span("text.funnel.report") {
        report.orderBy("ord").collect().map(r => (r.getString(1), r.getLong(2)))
      }
      ctx.span("text.funnel.write") {
        kept.write.mode(SaveMode.Overwrite).parquet(out)
      }
      r.toSeq
    }
    if (keptSig.isEmpty) System.err.println("[enginebench] corpus_funnel " +
      s"stages ${report.map { case (s, n) => s"$s=$n" }.mkString(" ")}")
    val counts = report.map(_._2)
    ctx.expect(counts.headOption.contains(Docs) &&
      counts.zip(counts.drop(1)).forall { case (a, b) => b < a },
      s"corpus_funnel: stage counts $report do not fall at every stage from $Docs")
    val sig = spark.read.parquet(out)
      .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("shard")))).head()
    ctx.expect(sig.getLong(0) == counts.last,
      s"corpus_funnel: wrote ${sig.getLong(0)} docs, report says ${counts.last}")
    ctx.expect(keptSig.forall(_ == sig),
      s"corpus_funnel: kept set $sig differs from an earlier build's ${keptSig.get}")
    keptSig = Some(sig)
    OpResult(Docs, dt, Seq(dt))
  }

  /** Every build was checked as it finished. */
  def check(): Unit = ()
}
