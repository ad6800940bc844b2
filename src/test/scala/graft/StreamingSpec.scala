package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.engine.EngineConfig
import graft.fixtures.{PagesGen, PagesRules}
import graft.streaming.StreamingValidation

class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("foreachBatch streaming pass emits the same violations as batch") {
    val data = PagesGen.generate(spark, nRows = 3000L, nDays = 3)
    val cfg = EngineConfig(keyExpr = "url",
      partExpr = "date_format(warc_ts, 'yyyy-MM-dd')")
    val rules = PagesRules.catalog.filterNot(_.isInstanceOf[graft.rules.Unique])

    // batch truth
    val batchVios = graft.engine.ValidationEngine
      .run(data.pages, rules, Map("hosts" -> data.hosts), cfg)
      .violations.select("key", "rule_id").as[(String, String)].collect().toSet

    // stream the same rows through a MemoryStream in 3 chunks
    implicit val sqlCtx = spark.sqlContext
    val rows = data.pages.collect().map(r => (
      if (r.isNullAt(0)) null else r.getString(0),
      r.getTimestamp(1),
      if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2),
      if (r.isNullAt(3)) null else r.getString(3),
      if (r.isNullAt(4)) null else r.getString(4)))
    val stream = MemoryStream[(String, java.sql.Timestamp, Array[Byte], String, String)]
    val sink = Files.createTempDirectory("stream_sink").toString + "/v"
    val ckpt = Files.createTempDirectory("stream_ckpt").toString

    val sdf = stream.toDF().toDF("url", "warc_ts", "html", "text", "lang")
    val writer = StreamingValidation.validateStream(sdf, rules,
      Map("hosts" -> data.hosts), cfg, sink, ckpt)

    rows.grouped(1000).foreach(chunk => stream.addData(chunk.toSeq))
    val q = writer.start()
    q.awaitTermination(120000)

    val streamVios = spark.read.parquet(sink)
      .select("key", "rule_id").as[(String, String)].collect().toSet
    assert(streamVios === batchVios)
    // lineage: batch ids recorded
    assert(spark.read.parquet(sink).select("batch_id").distinct().count() >= 1)
  }

  test("streaming corpus filter: QualityRules through foreachBatch equals batch") {
    // the quality gates are ordinary row rules over pure projections, so
    // the SAME catalog + signal projection runs unchanged on a stream —
    // filtering a live crawl is the batch filter in foreachBatch
    import graft.text.QualityRules
    implicit val sqlCtx = spark.sqlContext
    val docRows: Seq[(Long, String, String, String)] = (0L until 900L).map { i =>
      val src = s"s${i % 3}"
      val text = (i % 6) match {
        case 0 => "the quick brown fox jumps over the lazy dog and then it was done for all of us today ok"
        case 1 => null
        case 2 => "too short"
        case 3 => "menu home\nmenu home\nmenu home\nmenu home\nabout page here now"
        case 4 => s"buy cheap buy cheap buy cheap buy cheap buy cheap now $i"
        case 5 => "@@@ ### !!! $$$ %%% ^^^ &&& *** ((( ))) ~~~ ``` ||| ;;; :::"
      }
      (i, text, if (i % 7 == 0) "zh" else "en", src)
    }
    val cfg = EngineConfig(keyExpr = "cast(doc_id as string)",
      partExpr = "source")
    val docsDf = docRows.toDF("doc_id", "text", "lang", "source")
    val batchVios = graft.engine.ValidationEngine
      .run(QualityRules.withSignals(docsDf), QualityRules.catalog(),
        Map.empty, cfg)
      .violations.select("key", "rule_id").as[(String, String)].collect().toSet
    assert(batchVios.nonEmpty)

    val stream = MemoryStream[(Long, String, String, String)]
    val sink = Files.createTempDirectory("qstream_sink").toString + "/v"
    val ckpt = Files.createTempDirectory("qstream_ckpt").toString
    val sdf = QualityRules.withSignals(
      stream.toDF().toDF("doc_id", "text", "lang", "source"))
    val writer = StreamingValidation.validateStream(sdf,
      QualityRules.catalog(), Map.empty, cfg, sink, ckpt)
    docRows.grouped(300).foreach(chunk => stream.addData(chunk))
    val q = writer.start()
    q.awaitTermination(120000)

    val streamVios = spark.read.parquet(sink)
      .select("key", "rule_id").as[(String, String)].collect().toSet
    assert(streamVios === batchVios)
  }

  test("fresh checkpoint pointed at another lineage's sink fails loudly, not clobbers") {
    // per-batch overwrite makes retries idempotent WITHIN one checkpoint
    // lineage; a fresh checkpoint restarts batch ids at 0, so reusing a
    // populated sink would silently overwrite the earlier run dir by dir.
    // The guard must refuse before writing anything.
    implicit val sqlCtx = spark.sqlContext
    val sink = Files.createTempDirectory("clobber_sink").toString + "/v"
    val cfg = EngineConfig(keyExpr = "cast(doc_id as string)",
      partExpr = "source")
    def run(ckpt: String): Unit = {
      val stream = MemoryStream[(Long, String, String, String)]
      val writer = StreamingValidation.validateStream(
        graft.text.QualityRules.withSignals(
          stream.toDF().toDF("doc_id", "text", "lang", "source")),
        graft.text.QualityRules.catalog(), Map.empty, cfg, sink, ckpt)
      stream.addData(Seq((1L, "some text", "en", "s0")))
      val q = writer.start()
      q.awaitTermination(120000)
      q.stop()
    }
    // lineage A writes batch 0 (even a single-batch predecessor must be
    // protected — the batch-id-comparison approach misses it)
    run(Files.createTempDirectory("clobber_ckpt_a").toString)
    val before = spark.read.parquet(s"$sink/batch_id=0").count()
    // a FRESH lineage against the same sink must fail loudly pre-write
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Files.createTempDirectory("clobber_ckpt_b").toString)
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("owned by checkpoint lineage")),
      messages(e).mkString(" | "))
    // lineage A's batch 0 output survives byte-for-byte (not clobbered)
    assert(spark.read.parquet(s"$sink/batch_id=0").count() === before)
  }

  test("legitimate resume: same checkpoint continues past prior batches; verdicts equal an uninterrupted run") {
    // the clobber guard's complement: the marker must stay QUIET on a real
    // resume — same checkpoint, same sink — and the resumed lineage must
    // append batches past the prior run's ids without rewriting them
    implicit val sqlCtx = spark.sqlContext
    val cfg = EngineConfig(keyExpr = "cast(doc_id as string)",
      partExpr = "source")
    val rules = graft.text.QualityRules.catalog()
    val chunkA = Seq(
      (1L, "short", "en", "s0"),
      (2L, "a perfectly fine document with many whitespace tokens inside", "en", "s0"))
    val chunkB = Seq(
      (11L, "tiny", "en", "s1"),
      (12L, "another perfectly fine document with many whitespace tokens", "en", "s1"))

    def violations(path: String) = spark.read.parquet(path)
      .select("key", "rule_id").as[(String, String)].collect().toSet

    val sink = Files.createTempDirectory("resume_sink").toString + "/v"
    val ckpt = Files.createTempDirectory("resume_ckpt").toString
    val stream = MemoryStream[(Long, String, String, String)]
    def writer = StreamingValidation.validateStream(
      graft.text.QualityRules.withSignals(
        stream.toDF().toDF("doc_id", "text", "lang", "source")),
      rules, Map.empty, cfg, sink, ckpt)

    stream.addData(chunkA)
    val q1 = writer.start(); q1.awaitTermination(120000); q1.stop()
    val afterA = violations(sink)
    val batch0 = spark.read.parquet(s"$sink/batch_id=0").collect().toSet
    assert(afterA.nonEmpty)

    // restart from the SAME checkpoint with new data queued: the lineage
    // marker matches, so the run proceeds and processes ONLY chunk B
    stream.addData(chunkB)
    val q2 = writer.start(); q2.awaitTermination(120000); q2.stop()
    val resumed = spark.read.parquet(sink)
    val ids = resumed.select(col("batch_id").cast("long"))
      .distinct().as[Long].collect().toSet
    assert(ids.size > 1 && ids.max > 0, s"batch ids after resume: $ids")
    // batch 0's files were not rewritten — the resume appended, row-exact
    assert(spark.read.parquet(s"$sink/batch_id=0").collect().toSet === batch0)

    // uninterrupted control: both chunks in one lineage → same verdicts
    val sink2 = Files.createTempDirectory("resume_sink_ctl").toString + "/v"
    val ckpt2 = Files.createTempDirectory("resume_ckpt_ctl").toString
    val stream2 = MemoryStream[(Long, String, String, String)]
    val w2 = StreamingValidation.validateStream(
      graft.text.QualityRules.withSignals(
        stream2.toDF().toDF("doc_id", "text", "lang", "source")),
      rules, Map.empty, cfg, sink2, ckpt2)
    stream2.addData(chunkA); stream2.addData(chunkB)
    val q3 = w2.start(); q3.awaitTermination(120000); q3.stop()
    assert(violations(sink) === violations(sink2))
  }

  test("stateful FSM stream: state store catches cross-batch source mismatches") {
    import graft.streaming.StreamingValidation.{TransitionEvent, FsmStreamViolation}
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[TransitionEvent]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2017-05-21 10:$m%02d:00")
    val vios = StreamingValidation.fsmLegalityStream(
      stream.toDS(), graft.crm.CrmCatalog.BookingTransitions, "preliminary")
    val q = vios.writeStream.outputMode("append")
      .format("memory").queryName("fsm_stream").start()

    // batch 1: booking 1 goes preliminary→confirmed (legal);
    //          booking 2 claims enquiry→canceled but starts preliminary
    stream.addData(Seq(
      TransitionEvent("booking", 1L, ts(1), "preliminary", "confirmed"),
      TransitionEvent("booking", 2L, ts(2), "enquiry", "canceled")))
    q.processAllAvailable()
    // batch 2 (state crosses the batch boundary):
    //   booking 1 confirmed→completed (legal edge, matching stored state);
    //   booking 1 then completed→confirmed (illegal edge);
    //   booking 2 canceled→enquiry (legal, stored state advanced to canceled)
    stream.addData(Seq(
      TransitionEvent("booking", 1L, ts(10), "confirmed", "completed"),
      TransitionEvent("booking", 1L, ts(11), "completed", "confirmed"),
      TransitionEvent("booking", 2L, ts(12), "canceled", "enquiry")))
    q.processAllAvailable()
    // batch 3: a LATE event for booking 1 (ts before the stored lastTs) —
    // flagged as late, judged only against the matrix, state NOT rewound
    stream.addData(Seq(
      TransitionEvent("booking", 1L, ts(5), "enquiry", "preliminary")))
    q.processAllAvailable()
    // batch 4: proves the state was not rewound by the late event —
    // confirmed (current after ts(11)) -> canceled is legal and silent
    stream.addData(Seq(
      TransitionEvent("booking", 1L, ts(20), "confirmed", "canceled")))
    q.processAllAvailable()
    val got = spark.sql("SELECT key, ruleId FROM fsm_stream")
      .as[(String, String)].collect().toSet
    q.stop()
    assert(got === Set(
      ("booking:2", "fsm_source_mismatch"), // claimed enquiry, was preliminary
      ("booking:1", "fsm_legal"),           // completed -> confirmed not in matrix
      ("booking:1", "fsm_late_event")))     // ts(5) after state advanced to ts(11)
  }

  test("watermarked windowed violation counts run and aggregate") {
    // events-shaped stream with a planted bad enum value
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val df = stream.toDF().toDF("ts", "event_type")
    val rules: Seq[graft.rules.ValidationRule] = Seq(
      graft.rules.Allowed("valid_type", "event_type",
        Seq("click", "view", "purchase", "signup")))
    val counts = StreamingValidation.windowedViolationCounts(
      df, rules, "ts",
      windowLength = "10 minutes", lateness = "1 minute")

    val q = counts.writeStream.outputMode("append")
      .format("memory").queryName("wvc").start()
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    stream.addData(Seq((ts(1), "click"), (ts(2), "error"), (ts(3), "error")))
    q.processAllAvailable()
    // advance watermark far enough to close the first window
    stream.addData(Seq((ts(30), "click")))
    q.processAllAvailable()
    stream.addData(Seq((ts(45), "view")))
    q.processAllAvailable()
    stream.addData(Seq((ts(59), "view"))) // one more batch to flush state
    q.processAllAvailable()
    val out = spark.sql("SELECT rule_id, violations FROM wvc")
      .as[(String, Long)].collect().toSet
    q.stop()
    assert(out === Set(("valid_type", 2L)))
  }

  test("q_stream_windowed skips null-ts events instead of failing") {
    // an events table with null timestamps, one of them on a bad enum
    // value: it has no window to count in, so it is not counted anywhere
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val dir = Files.createTempDirectory("windowed_null_ts").toString
    Seq[(java.sql.Timestamp, String)](
      (ts(1), "bogus"), (ts(2), "click"), (ts(15), "bogus"), (ts(16), "bogus"),
      (ts(40), "view"), (null, "bogus"), (null, "click"))
      .toDF("ts", "event_type").write.parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("q_stream_windowed")(spark, dir)
      .as[(java.sql.Timestamp, java.sql.Timestamp, String, Long)].collect().toSeq
    assert(out === Seq(
      (ts(0), ts(10), "valid_type", 1L),
      (ts(10), ts(20), "valid_type", 2L)))
  }

  test("streaming dedup drops cross-batch re-crawls within the watermark, state stays 8-byte keys") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val deduped = StreamingValidation.dedupStream(
      stream.toDF().toDF("doc_id", "text", "ts"), "text", "ts",
      lateness = "10 minutes")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("sdd").start()
    // batch 1: two distinct docs, an in-batch duplicate of doc 1's text,
    // and a null-text row (no content → must pass through)
    stream.addData(Seq((1L, "alpha body", ts(1)), (2L, "beta body", ts(2)),
      (3L, "alpha body", ts(3)), (6L, null, ts(4))))
    q.processAllAvailable()
    // batch 2: a CROSS-batch duplicate (state store catches it), a new doc,
    // and a SECOND null-text row — nulls never collide with each other
    stream.addData(Seq((4L, "beta body", ts(5)), (5L, "gamma body", ts(6)),
      (7L, null, ts(7))))
    q.processAllAvailable()
    val got = spark.sql("SELECT doc_id FROM sdd").as[Long].collect().toSet
    q.stop()
    assert(got === Set(1L, 2L, 5L, 6L, 7L), s"got $got")
    // the dedup operator must KEY on the 8-byte fingerprint, not the text
    // column: state-store rows carry a LongType key (bounded, content-free
    // state). Assert on the Deduplicate node's key list itself.
    val dedupNode = deduped.queryExecution.analyzed.toString.split("\n")
      .find(_.contains("Deduplicate"))
    assert(dedupNode.nonEmpty, "no Deduplicate node in the plan")
    assert(dedupNode.get.contains("_fp") && !dedupNode.get.contains("text"),
      dedupNode.get)
  }
}
