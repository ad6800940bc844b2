package enginebench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Engine benchmark: runs one workload as a closed loop with one caller
  * for `--seconds`, checks its outputs, and prints one JSON result line.
  *
  *   --workload validate_wide|daily_resume|corpus_funnel
  *   --seed N      inputs are generated from this seed only
  *   --seconds S   length of the timed loop
  *   --trace 0|1   0: end-to-end metrics; 1: per-layer metrics from spans
  *   --work DIR    scratch directory for inputs and outputs
  *   --trace-out F where a traced run writes its spans as JSON
  *
  * Exits 1 when an output check fails or a timed call throws.
  */
object Main {

  /** Spans recorded around the public calls, in report order. */
  val SpanNames: Seq[String] = Seq(
    "engine.runToSink", "engine.drift", "sources.write", "sources.upsert",
    "engine.audit.append", "engine.audit.recrawl", "engine.audit.noop",
    "streaming.validate", "text.funnel.build", "text.funnel.report",
    "text.funnel.write")

  /** Micro-batch phases (`StreamingQueryProgress.durationMs` keys) reported
    * as per-batch medians, under the metric name `streaming.<name>_s`.
    */
  val BatchPhases: Seq[(String, String)] = Seq("addBatch" -> "addBatch",
    "walCommit" -> "walCommit", "commitOffsets" -> "commitOffsets",
    "queryPlanning" -> "planning")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    Files.createDirectories(Paths.get(work))

    val tStart = System.nanoTime()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("enginebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val recorder = new Recorder(spark.sparkContext)
    spark.sparkContext.addSparkListener(recorder)
    val batches = new BatchRecorder
    spark.streams.addListener(batches)
    val sessionS = (System.nanoTime() - tStart) / 1e9

    val tracer = new Tracer
    val ctx = new Ctx(spark, seed, work, tracer)
    val wl = Workload(workload, ctx)

    val tPrep = System.nanoTime()
    val (inRows, inBytes, schemaHash) = wl.prepare(s"$work/input")
    val prepS = (System.nanoTime() - tPrep) / 1e9
    log(s"$workload input seed=$seed rows=$inRows bytes=$inBytes schema=$schemaHash")
    val tWarm = System.nanoTime()
    wl.warmup()
    graft.Bench.capacityProbeSec() // its own first call runs cold
    val warmS = (System.nanoTime() - tWarm) / 1e9
    val setupS = sessionS + prepS + warmS
    log(f"$workload setup session=$sessionS%.3fs prepare=$prepS%.3fs " +
      f"warmup=$warmS%.3fs")
    // the warm-up pass is set-up, not measurement
    recorder.settle()
    tracer.spans.clear()
    batches.batches.clear()

    val results = ArrayBuffer.empty[OpResult]
    val cpuPerRow = ArrayBuffer.empty[Double]
    val probes = ArrayBuffer.empty[Double]
    var failed = 0
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      val probe = graft.Bench.capacityProbeSec()
      probes += probe
      try {
        val opStart = System.currentTimeMillis()
        val r = wl.op(i)
        results += r
        recorder.settle()
        val cpuS = tracer.calls.filter(_.start >= opStart)
          .map(s => recorder.counters(s.start, s.end).cpuS).sum
        cpuPerRow += cpuS / r.rows
        log(f"$workload op=$i rows=${r.rows} wall=${r.wallS}%.3fs " +
          f"cpu=$cpuS%.3fs " +
          s"samples=${r.samples.map(s => f"$s%.3f").mkString(",")} " +
          f"capacity_probe=$probe%.4fs")
      } catch { case e: Exception =>
        failed += 1
        log(s"$workload op=$i FAILED: $e")
        e.printStackTrace()
      }
      i += 1
    }
    val tCheck = System.nanoTime()
    try wl.check()
    catch { case e: Exception =>
      ctx.errors += s"$workload: output check threw $e"
      e.printStackTrace()
    }
    recorder.settle()
    log(f"$workload check=${(System.nanoTime() - tCheck) / 1e9}%.3fs")
    ctx.errors.foreach(e => log(s"CHECK FAILED: $e"))

    val samples = results.flatMap(_.samples).toSeq
    val rows = results.map(_.rows).sum
    val wall = results.map(_.wallS).sum
    // wall-clock figures follow the hypervisor's grant of cores, which on a
    // shared host moves them by a third between runs minutes apart; they
    // are logged here and are per-layer metrics of the traced run
    val wallMetrics = if (samples.isEmpty) Nil else Seq(
      ("wall.rows_per_s", rows / wall, "rows/s"),
      ("wall.latency_p50_s", Stats.median(samples), "s"))
    val metrics: Seq[(String, Double, String)] =
      if (samples.isEmpty) Nil
      else if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("cpu_us_per_row", Stats.median(cpuPerRow.toSeq) * 1e6, "us/row"))
      else perLayer(recorder, tracer, batches, probes.toSeq) ++ wallMetrics
    if (traced) opts.get("trace-out").foreach(f =>
      writeTrace(f, workload, seed, (inRows, inBytes, schemaHash), recorder,
        tracer, batches, probes.toSeq))
    log(f"$workload calls=${samples.size} rows=$rows wall=$wall%.3fs " +
      wallMetrics.map { case (n, v, _) => f"$n=$v%.4f" }.mkString(" ") +
      f" capacity_probe_p50=${Stats.median(probes.toSeq)}%.4fs")

    val correct = ctx.errors.isEmpty && samples.nonEmpty
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${samples.size + failed}, """ +
      s""""failed": $failed, "metrics": {$metricJson}}""")
    spark.stop()
    sys.exit(if (correct && failed == 0) 0 else 1)
  }

  /** Per-layer metrics of a traced run. `call.*` are means over the timed
    * calls; per-span counts are means per occurrence of the span, and its
    * `cpu_share`/`wall_share` the percentage of all calls' executor CPU and
    * wall time spent inside it. A span the workload never enters reads 0.
    */
  private def perLayer(rec: Recorder, tracer: Tracer, batches: BatchRecorder,
      probes: Seq[Double]): Seq[(String, Double, String)] = {
    val callC = tracer.calls.map(s => rec.counters(s.start, s.end))
    val callCpu = callC.map(_.cpuS).sum
    val callWall = callC.map(_.wallS).sum
    val units = Map("wall_s" -> "s", "cpu_s" -> "s", "offcpu_s" -> "s",
      "gc_s" -> "s", "coord_s" -> "s", "jobs" -> "count", "tasks" -> "count",
      "task_skew" -> "ratio").withDefaultValue("bytes")
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size

    val callMetrics = callC.head.fields.map(_._1).map { f =>
      (s"call.$f", mean(callC.map(_.fields.toMap.apply(f))), units(f)) }
    val spanMetrics = SpanNames.flatMap { name =>
      val c = tracer.spans.filter(_.name == name).toSeq
        .map(s => rec.counters(s.start, s.end))
      Seq(
        (s"$name.jobs", mean(c.map(_.jobs.toDouble)), "count"),
        (s"$name.tasks", mean(c.map(_.tasks.toDouble)), "count"),
        (s"$name.cpu_share", pct(c.map(_.cpuS).sum, callCpu), "%"),
        (s"$name.wall_share", pct(c.map(_.wallS).sum, callWall), "%"),
        (s"$name.input_bytes", mean(c.map(_.inputBytes.toDouble)), "bytes"),
        (s"$name.output_bytes", mean(c.map(_.outputBytes.toDouble)), "bytes"),
        (s"$name.shuffle_write_bytes",
          mean(c.map(_.shuffleWriteBytes.toDouble)), "bytes"),
        (s"$name.task_skew", mean(c.map(_.taskSkew)), "ratio"))
    }
    def bytesOf(name: String, f: Counters => Long): Double =
      tracer.spans.filter(_.name == name).map(s => f(rec.counters(s.start, s.end)).toDouble).sum
    val readAmp = {
      val arrived = bytesOf("sources.write", _.outputBytes)
      if (arrived > 0) bytesOf("engine.audit.append", _.inputBytes) / arrived
      else 0.0
    }
    val batchMetrics = BatchPhases.map { case (phase, name) =>
      (s"streaming.${name}_s", batches.p50(phase), "s") }
    callMetrics ++ spanMetrics ++ batchMetrics ++
      Seq(("engine.audit.append.read_amp", readAmp, "ratio")) ++
      Seq(("host.capacity_probe_s", Stats.median(probes), "s"),
        ("jvm.peak_rss_mb", peakRssMb(), "MB"))
  }

  private def pct(part: Double, whole: Double): Double =
    if (whole > 0) 100.0 * part / whole else 0.0

  private def writeTrace(file: String, workload: String, seed: Long,
      input: (Long, Long, String), rec: Recorder, tracer: Tracer,
      batches: BatchRecorder, probes: Seq[Double]): Unit = {
    val spans = tracer.spans.map { s =>
      val c = rec.counters(s.start, s.end).fields
        .map { case (k, v) => s""""$k": ${num(v)}""" }.mkString(", ")
      s"""{"name": "${s.name}", "parent": "${s.parent}", "start_ms": ${s.start}, "end_ms": ${s.end}, $c}"""
    }
    val json =
      s"""{"workload": "$workload", "input": {"seed": $seed, "rows": ${input._1}, """ +
      s""""bytes": ${input._2}, "schema_hash": "${input._3}"},\n""" +
      s""" "capacity_probe_s": [${probes.map(num).mkString(", ")}],\n""" +
      s""" "batches_ms": [${batches.batches.asScala.map(b => b.toSeq.sorted
        .map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}"))
        .mkString(", ")}],\n""" +
      s""" "spans": [\n  ${spans.mkString(",\n  ")}]}\n"""
    val p = Paths.get(file)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, json)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def log(msg: String): Unit = System.err.println(s"[enginebench] $msg")
}
