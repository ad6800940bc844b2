package enginebench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished Spark task. Times are epoch milliseconds. */
final case class TaskRec(stage: String, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, spill: Long,
    input: Long, output: Long)

/** Counters of the Spark work that finished inside one time window. */
final case class Counters(wallS: Double, cpuS: Double, offcpuS: Double,
    gcS: Double, coordS: Double, jobs: Long, tasks: Long,
    shuffleWriteBytes: Long, spillBytes: Long, inputBytes: Long,
    outputBytes: Long, taskSkew: Double) {

  def fields: Seq[(String, Double)] = Seq(
    "wall_s" -> wallS, "cpu_s" -> cpuS, "offcpu_s" -> offcpuS, "gc_s" -> gcS,
    "coord_s" -> coordS, "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "input_bytes" -> inputBytes.toDouble,
    "output_bytes" -> outputBytes.toDouble, "task_skew" -> taskSkew)
}

/** A timed region around one public call the benchmark makes. */
final case class Span(name: String, parent: String, start: Long, end: Long)

/** Listens to every Spark job and task event of the session. Work is
  * attributed to a span by time window, never by job group: the engine
  * submits some phase jobs from a reused thread pool, whose thread-local
  * job group is stale. The benchmark has one caller, so
  * windows of sibling spans never overlap.
  */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add(e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null)
      tasks.add(TaskRec(s"${e.stageId}.${e.stageAttemptId}", i.launchTime,
        i.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
  }

  /** Drain the asynchronous listener bus, so every event of work that has
    * already finished is counted. `waitUntilEmpty` is `private[spark]`
    * (public in bytecode), hence the reflection.
    */
  def settle(): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(60000L))
  }

  def counters(start: Long, end: Long): Counters = {
    val ts = tasks.asScala.filter(t => t.finish >= start && t.finish <= end).toSeq
    val jobs = jobStarts.asScala.count(t => t >= start && t <= end)
    val wall = math.max(end - start, 0L) / 1e3
    val runS = ts.map(_.runMs).sum / 1e3
    val cpuS = ts.map(_.cpuNs).sum / 1e9
    Counters(wall, cpuS, math.max(runS - cpuS, 0.0), ts.map(_.gcMs).sum / 1e3,
      math.max(wall - busySeconds(ts, start, end), 0.0), jobs, ts.size,
      ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum, ts.map(_.input).sum,
      ts.map(_.output).sum, skew(ts))
  }

  /** Seconds of the window in which at least one task was running; the
    * rest is coordination time (planning, listing, commits, scheduling).
    */
  private def busySeconds(ts: Seq[TaskRec], start: Long, end: Long): Double = {
    val iv = ts.map(t => (math.max(t.launch, start), math.min(t.finish, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    (busy + (curE - curS)) / 1e3
  }

  /** Largest over median task duration in the stage that took the most
    * task time (stages of one task have no skew); 1.0 when no stage ran
    * two or more tasks.
    */
  private def skew(ts: Seq[TaskRec]): Double = {
    val stages = ts.groupBy(_.stage).values.filter(_.size >= 2)
    if (stages.isEmpty) 1.0
    else {
      val heavy = stages.maxBy(_.map(t => t.finish - t.launch).sum)
      val d = heavy.map(t => (t.finish - t.launch).toDouble).sorted
      d.last / math.max(Stats.median(d), 1.0)
    }
  }
}

/** Durations (ms) of each phase of every finished micro-batch, as
  * `StreamingQueryProgress.durationMs` reports them (`addBatch`,
  * `walCommit`, `commitOffsets`, `queryPlanning`, ...).
  */
final class BatchRecorder extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Map[String, Long]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0)
      batches.add(e.progress.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap)

  /** Median seconds of one phase over the recorded batches; 0 if none. */
  def p50(phase: String): Double = {
    val xs = batches.asScala.toSeq.map(_.getOrElse(phase, 0L) / 1e3)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
}

/** Records nested spans around the benchmark's calls. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(name, parent, t0, System.currentTimeMillis())
      stack = stack.tail
    }
  }

  /** The spans of the timed calls themselves (no parent). */
  def calls: Seq[Span] = spans.filter(_.parent.isEmpty).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
