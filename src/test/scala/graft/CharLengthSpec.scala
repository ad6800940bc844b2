package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Length}
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.{EngineConfig, ValidationEngine}
import graft.fixtures.{PagesGen, PagesRules}
import graft.functions.{CharLength, FastCharLength, FastLength}

class CharLengthSpec extends SparkSuite {
  import spark.implicits._

  /** Spark's own count, on a fresh UTF8String (numChars caches its result). */
  private def sparkCount(bytes: Array[Byte], off: Int, len: Int): Int =
    UTF8String.fromBytes(bytes, off, len).numChars

  /** One byte of a random string. `ascii` is the chance of an ASCII byte;
    * the rest spreads over stray continuation bytes, 2/3/4-byte leads and
    * the disallowed leads (C0, C1, F5-FF), each lead followed by zero to
    * three continuation bytes, so valid, truncated and over-long sequences
    * all occur.
    */
  private def randomBytes(rnd: scala.util.Random, len: Int, ascii: Double): Array[Byte] = {
    val out = new Array[Byte](len)
    var i = 0
    while (i < len) {
      if (rnd.nextDouble() < ascii) {
        out(i) = rnd.nextInt(0x80).toByte
        i += 1
      } else {
        out(i) = (rnd.nextInt(6) match {
          case 0 => 0x80 + rnd.nextInt(0x40)             // continuation
          case 1 => 0xC2 + rnd.nextInt(0x1E)             // 2-byte lead
          case 2 => 0xE0 + rnd.nextInt(0x10)             // 3-byte lead
          case 3 => 0xF0 + rnd.nextInt(0x05)             // 4-byte lead
          case 4 => Seq(0xC0, 0xC1)(rnd.nextInt(2))      // disallowed
          case _ => 0xF5 + rnd.nextInt(0x0B)             // disallowed
        }).toByte
        i += 1
        var k = rnd.nextInt(4)
        while (k > 0 && i < len) {
          out(i) = (0x80 + rnd.nextInt(0x40)).toByte
          i += 1
          k -= 1
        }
      }
    }
    out
  }

  test("kernel = UTF8String.numChars on 120k seeded random strings, sliced at offsets") {
    val rnd = new scala.util.Random(20261017L)
    val asciiShares = Array(1.0, 0.97, 0.8, 0.5, 0.1, 0.0)
    var checked = 0
    for (n <- 0 until 120000) {
      val len = if (n % 4 == 0) rnd.nextInt(17) else rnd.nextInt(65)
      val body = randomBytes(rnd, len, asciiShares(n % asciiShares.length))
      // slice out of a larger buffer: junk on both sides must not count
      val off = rnd.nextInt(9)
      val buf = randomBytes(rnd, off + len + rnd.nextInt(9), 0.5)
      System.arraycopy(body, 0, buf, off, len)
      val u = UTF8String.fromBytes(buf, off, len)
      val got = CharLength.of(u)
      val want = sparkCount(buf, off, len)
      assert(got === want, s"bytes=${body.map(b => f"$b%02x").mkString(" ")} off=$off")
      checked += 1
    }
    assert(checked === 120000)
  }

  test("kernel = numChars for every byte value at every position around the 8-byte window") {
    for (b <- 0 until 256; len <- 1 to 24; pos <- 0 until len) {
      val bytes = Array.fill[Byte](len)('a'.toByte)
      bytes(pos) = b.toByte
      assert(CharLength.of(UTF8String.fromBytes(bytes)) === sparkCount(bytes, 0, len),
        f"byte=$b%02x len=$len pos=$pos")
    }
  }

  test("kernel = numChars on an off-heap UTF8String") {
    val rnd = new scala.util.Random(7L)
    for (len <- Seq(0, 1, 7, 8, 9, 63, 16384)) {
      val bytes = randomBytes(rnd, len, 0.9)
      val addr = Platform.allocateMemory(math.max(len, 1).toLong)
      try {
        Platform.copyMemory(bytes, Platform.BYTE_ARRAY_OFFSET, null, addr, len.toLong)
        val u = UTF8String.fromAddress(null, addr, len)
        assert(CharLength.of(u) === sparkCount(bytes, 0, len), s"len=$len")
      } finally Platform.freeMemory(addr)
    }
  }

  private def lengthExprs(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: Length => e
      case e: FastLength => e
    }))

  test("FastCharLength rewrites length, char_length and len over strings, not over binary") {
    FastCharLength.install(spark)
    // a range-based frame, so the optimizer cannot fold it to a local relation
    val texts = Seq("", "plain ascii text", "héllo wörld", "日本語のテキスト", "Привет, мир")
    val df = spark.range(texts.size).select(
      element_at(typedLit(texts), (col("id") + 1).cast("int")).as("s"))
    val want = texts.map(t => UTF8String.fromString(t).numChars)
    for (fn <- Seq("length", "char_length", "character_length", "len")) {
      val q = df.selectExpr(s"$fn(s) AS n")
      val exprs = lengthExprs(q)
      assert(exprs.nonEmpty && exprs.forall(_.isInstanceOf[FastLength]), fn)
      assert(q.queryExecution.optimizedPlan.treeString.contains("fast_char_length("), fn)
      assert(q.as[Int].collect().toSeq === want, fn)
    }
    val bin = df.select(length(col("s").cast("binary")).as("n"))
    val binExprs = lengthExprs(bin)
    assert(binExprs.nonEmpty && binExprs.forall(_.isInstanceOf[Length]))
    assert(bin.as[Int].collect().toSeq === texts.map(_.getBytes("UTF-8").length))
  }

  test("engine entry points install the rule once, however often they run") {
    def installed = spark.experimental.extraOptimizations.count(_ == FastCharLength)
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_ == FastCharLength)
    assert(installed === 0)
    val data = PagesGen.generate(spark, nRows = 50L, nDays = 1)
    val cfg = EngineConfig(keyExpr = "url",
      partExpr = "date_format(warc_ts, 'yyyy-MM-dd')")
    ValidationEngine.rowPass(data.pages, PagesRules.catalog,
      Map("hosts" -> data.hosts), cfg)
    assert(installed === 1)
    FastCharLength.install(spark)
    ValidationEngine.run(data.pages, PagesRules.catalog,
      Map("hosts" -> data.hosts), cfg)
    assert(installed === 1)
  }

  test("runToSink's stage projection makes one kernel call per row for text") {
    // url_max_length is the only other length(); without it every
    // length() in the projection is over text: the text_len stat, the
    // text_len histogram and the html_when_text rule share one call
    val rules = PagesRules.catalog.filterNot(_.ruleId == PagesRules.UrlMaxLen)
    val data = PagesGen.generate(spark, nRows = 200L, nDays = 2)
    val cfg = EngineConfig(keyExpr = "url",
      partExpr = "date_format(warc_ts, 'yyyy-MM-dd')",
      statsExprs = PagesRules.statsExprs,
      histograms = Seq(("text_len", "length(text)", 25.0)))
    FastCharLength.install(spark)
    val proj = ValidationEngine.buildProjection(data.pages, rules,
      Map("hosts" -> data.hosts), cfg)
    proj.collect()
    val code = codegenString(proj.queryExecution.executedPlan)
    assert("CharLength\\.of\\(".r.findAllMatchIn(code).size === 1, code)
    assert(!code.contains("numChars()"), code)
  }
}
