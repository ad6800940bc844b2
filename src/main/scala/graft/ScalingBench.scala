package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.engine._
import graft.fixtures.{PagesGen, PagesRules}

/** The north-metric benchmark: validated rows/sec for the FULL rule-set
  * pass (row rules + referential + hash-candidate uniqueness + stats/histograms +
  * drift) over a pages table read from parquet.
  *
  * Run via spark-submit at two parallelism levels on the SAME input
  * (BASELINE.md sandbox scaling protocol — stands in for N vs 4N
  * executors):
  *
  *   sbt package
  *   /opt/spark/bin/spark-submit --master local[8]  \
  *     --conf spark.sql.shuffle.partitions=8  --driver-memory 24g \
  *     --class graft.ScalingBench <jar> <rows> /tmp/scaling_8.json
  *   /opt/spark/bin/spark-submit --master local[32] \
  *     --conf spark.sql.shuffle.partitions=32 --driver-memory 24g \
  *     --class graft.ScalingBench <jar> <rows> /tmp/scaling_32.json
  *
  * Determinism: the input parquet is generated once (seeded, hash-derived,
  * no RNG) and reused by both runs; every aggregation is exact, so
  * violation/verdict counts are identical at both levels — the runs differ
  * only in wall-clock.
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val nRows = if (args.length > 0) args(0).toLong else 8000000L
    val outPath = if (args.length > 1) args(1) else ""
    // row width: 0 = narrow generator default (~400 B); e.g. 16384 pads
    // text to ~16 KB (+html copy) for Common-Crawl-realistic rows
    val padTo = if (args.length > 2) args(2).toInt else 0

    // Wide rows blow up the vectorized reader's on-heap batches: the
    // default 4096-row batch at ~33 KB/row is ~135 MB PER TASK — at 4
    // concurrent tasks that is >0.5 GB of humongous allocations per batch
    // wave, and GC cost is what made cpu/row DOUBLE from local[1] to
    // local[4] in round 1. Cap batches near ~16 MB instead.
    val batchRows = if (padTo > 0)
      math.max(256, (16 << 20) / (2 * padTo + 256)) else 4096

    val spark = SparkSession.builder()
      .appName("graft-scaling-bench")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.columnarReaderBatchSize", batchRows.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val master = spark.sparkContext.master
    val parallelism = spark.sparkContext.defaultParallelism

    // task-metric accumulation: executor CPU time is the hypervisor-noise-
    // reduced scaling signal — constant cpu-time/row across parallelism
    // levels means the engine adds no coordination overhead as it widens
    val metrics = new graft.tools.Profile.Recorder(spark)

    // ---- setup (untimed): materialize the input once, reuse across runs
    val inputDir = s"/tmp/graft_bench_pages_${nRows}_w${padTo}_seed42"
    if (!Files.exists(Paths.get(inputDir, "_SUCCESS"))) {
      PagesGen.generate(spark, nRows, nDays = 10, padTextTo = padTo)
        .pages.repartition(64).write.mode("overwrite").parquet(inputDir)
    }
    val hostsDir = s"/tmp/graft_bench_hosts_seed42"
    if (!Files.exists(Paths.get(hostsDir, "_SUCCESS"))) {
      PagesGen.generate(spark, 1L, nDays = 1)
        .hosts.write.mode("overwrite").parquet(hostsDir)
    }

    val pages = spark.read.parquet(inputDir)
    val hosts = spark.read.parquet(hostsDir)
    val cfg = EngineConfig(keyExpr = "url",
      partExpr = "date_format(warc_ts, 'yyyy-MM-dd')",
      statsExprs = PagesRules.statsExprs,
      histograms = Seq(("text_len", "length(text)", 25.0)),
      quantilesFor = Seq("text_len"))

    // ---- timed: the full validation job, ONE decode of the source
    val sink = s"/tmp/graft_bench_out_$parallelism"
    metrics.reset() // exclude setup/generation CPU
    val t0 = System.nanoTime()
    ValidationEngine.runToSink(pages, PagesRules.catalog,
      dims = Map("hosts" -> hosts), cfg = cfg, sinkDir = sink)
    val drift = Drift.againstPrevious(
      spark.read.parquet(s"$sink/hist_text_len")
        .where(col("part").startsWith("2024")), "text_len")
    val elapsed = (System.nanoTime() - t0) / 1e9
    metrics.settle(1500) // listener events drain asynchronously

    val nViolations = spark.read.parquet(s"$sink/violations").count()
    val nVerdicts = spark.read.parquet(s"$sink/verdicts").count()
    val rate = nRows / elapsed
    val cpuSec = metrics.cpuSec
    val json =
      s"""{"master":"$master","parallelism":$parallelism,"rows":$nRows,"pad_to":$padTo,"batch_rows":$batchRows,""" +
      s""""elapsed_sec":$elapsed,"rows_per_sec":$rate,""" +
      s""""cpu_sec":$cpuSec,"cpu_us_per_row":${cpuSec * 1e6 / nRows},""" +
      s""""executor_run_sec":${metrics.runSec},"gc_sec":${metrics.gcSec},""" +
      s""""violations":$nViolations,"verdicts":$nVerdicts,""" +
      s""""drift_reports":${drift.size},"seed":42}"""
    println(json)
    if (outPath.nonEmpty) Files.writeString(Paths.get(outPath), json)
    spark.stop()
  }
}
