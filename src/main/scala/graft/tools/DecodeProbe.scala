package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Bare-scan control for the scaling protocol: the cpu-time/row of JUST
  * decoding the wide columns (no rules, no shuffle, no sink). Whatever
  * cpu/row inflation this shows from local[1] → local[4] is the host's
  * memory-bandwidth/hypervisor floor — engine work efficiency is graded
  * against this control, since no engine design can beat the cost of
  * reading its input once.
  */
object DecodeProbe {
  def main(args: Array[String]): Unit = {
    val input = if (args.nonEmpty) args(0)
      else "/tmp/graft_bench_pages_150000_w16384_seed42"
    val spark = SparkSession.builder().appName("graft-decode-probe")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new Profile.Recorder(spark)
    val df = spark.read.parquet(input)
    val t0 = System.nanoTime()
    val Array(rows, bytes) = df.select(count(lit(1)),
      sum(length(col("url")) + length(col("text")) + octet_length(col("html"))))
      .collect().head.toSeq.map(_.toString.toLong).toArray
    val wall = (System.nanoTime() - t0) / 1e9
    metrics.settle()
    val cpu = metrics.cpuSec
    println(s"""{"probe":"decode","master":"${spark.sparkContext.master}","rows":$rows,""" +
      s""""bytes":$bytes,"wall_sec":$wall,"cpu_sec":$cpu,""" +
      s""""cpu_us_per_row":${cpu * 1e6 / rows}}""")
    spark.stop()
  }
}
