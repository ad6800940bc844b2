package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row
import graft.engine._
import graft.rules.ValidationRule

/** Streaming face of the engine (SURVEY.md §2.8).
  *
  * The reference is batch-only; its closest streaming analogs are the
  * `InvoiceOpen` append-only event feed and the `StateLog` audit trail. The
  * engine is therefore batch-first, and the streaming path is exactly the
  * per-partition batch pass ported to `foreachBatch` — same rules, same
  * violation schema, same audit sink — so semantics cannot drift between
  * the two modes.
  */
object StreamingValidation {

  /** Validate a stream micro-batch-wise: every trigger runs the SAME
    * row-rule + referential pass used in batch and appends violations to
    * the sink. Uniqueness/stats stay in the daily batch job (cross-batch
    * global state for 10^12 keys does not belong in a stream's state
    * store); within-batch duplicates are still caught when `withinBatchUnique`
    * is set.
    */
  def validateStream(stream: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig,
      violationsSink: String, checkpoint: String,
      withinBatchUnique: Boolean = true): DataStreamWriter[Row] = {
    graft.functions.FastCharLength.install(stream.sparkSession)
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val effective =
          if (withinBatchUnique) rules
          else rules.filterNot(_.isInstanceOf[graft.rules.Unique])
        // The sink is OWNED BY ONE CHECKPOINT LINEAGE: a `_sink_lineage`
        // marker records the owning checkpoint location. A fresh
        // checkpoint pointed at a populated sink would otherwise restart
        // batch ids at 0 and silently overwrite the earlier run's output
        // dir by dir (batch-id comparison alone misses the case where the
        // previous lineage never got past the current batch id). Marker
        // mismatch fails loudly BEFORE anything is written; writing the
        // marker is idempotent, so retries of any batch pass. Limit: a
        // new lineage created at the SAME checkpoint path as a wiped old
        // one is indistinguishable by design — the checkpoint path IS the
        // lineage identity here.
        val sinkPath = new org.apache.hadoop.fs.Path(violationsSink)
        val fs = sinkPath.getFileSystem(
          batch.sparkSession.sparkContext.hadoopConfiguration)
        val marker = new org.apache.hadoop.fs.Path(sinkPath, "_sink_lineage")
        if (fs.exists(marker)) {
          val owner = {
            val in = fs.open(marker)
            try new String(
              org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
              java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          }
          require(owner == checkpoint,
            s"violations sink $violationsSink is owned by checkpoint lineage " +
              s"'$owner' but this stream runs from '$checkpoint' — refusing " +
              "to clobber (resume from the original checkpoint or use a fresh sink)")
        } else {
          val out = fs.create(marker, true)
          try out.write(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        }
        val res = ValidationEngine.run(batch, effective, dims, cfg)
        // foreachBatch is AT-LEAST-ONCE: a retry re-runs a batchId whose
        // files may already be in the sink (write succeeded, checkpoint
        // commit didn't). Appending would double-count that batch's
        // violations forever. Writing each batch to its own hive-style
        // batch_id=N directory with overwrite makes the retry replace its
        // own output — exactly-once sink contents; readers see batch_id
        // as an ordinary partition column.
        res.violations
          .write.mode("overwrite")
          .parquet(s"$violationsSink/batch_id=$batchId")
      }
  }

  /** One FSM transition event (the StateLog row shape, streamed). */
  final case class TransitionEvent(entity: String, entityId: Long,
      ts: java.sql.Timestamp, sourceState: String, state: String)

  /** Per-entity FSM state kept in the state store. */
  final case class FsmGroupState(current: String, lastTs: java.sql.Timestamp)

  final case class FsmStreamViolation(key: String, ruleId: String,
      message: String, ts: java.sql.Timestamp)

  /** R12 as a STATEFUL stream (`flatMapGroupsWithState`): the state store
    * carries each entity's current FSM state, so — unlike the windowed
    * batch check, which can only judge the edge an event CLAIMS — this
    * validates each arriving transition against the state the entity is
    * actually in (django-fsm's source-state check,
    * `cerberus/models/booking.py:434-437`: a transition is legal iff the
    * row's current state is in the decorator's source set). Two rule
    * species per event: `fsm_source_mismatch` (the event claims a source
    * that is not the stored current state — an audit gap or forged edge)
    * and `fsm_legal` (the edge is not in the transition matrix). State
    * advances to the event's target either way, mirroring the audit log.
    * A LATE event (event time behind the stored state's timestamp — it
    * arrived in a later micro-batch than a newer event) cannot be judged
    * against the current state and must not rewind it: it gets a
    * warn-severity `fsm_late_event` plus the stateless matrix check, and
    * the stored state is left untouched.
    *
    * Scale: state is one (string, timestamp) per live entity, partitioned
    * by the group key across executors — the state-store shape Structured
    * Streaming is built for. Events within a micro-batch are applied in
    * event-time order (deterministic replay).
    */
  def fsmLegalityStream(events: org.apache.spark.sql.Dataset[TransitionEvent],
      legal: Set[(String, String)], initialState: String)
      : org.apache.spark.sql.Dataset[FsmStreamViolation] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events
      .groupByKey(e => (e.entity, e.entityId))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (String, Long), it: Iterator[TransitionEvent],
         gs: GroupState[FsmGroupState]) => {
          val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.state))
          var cur = gs.getOption.map(_.current).getOrElse(initialState)
          var lastTs = gs.getOption.map(_.lastTs).orNull
          val out = Seq.newBuilder[FsmStreamViolation]
          sorted.foreach { e =>
            val k = s"${key._1}:${key._2}"
            val late = lastTs != null && e.ts.getTime < lastTs.getTime
            if (late)
              out += FsmStreamViolation(k, "fsm_late_event",
                s"event at ${e.ts} arrived after state advanced at $lastTs", e.ts)
            else if (e.sourceState != cur)
              out += FsmStreamViolation(k, "fsm_source_mismatch",
                s"event claims source ${e.sourceState} but entity is in $cur", e.ts)
            if (!legal.contains((e.sourceState, e.state)))
              out += FsmStreamViolation(k, "fsm_legal",
                s"illegal transition ${e.sourceState} -> ${e.state}", e.ts)
            if (!late) { // never rewind the stored state behind newer events
              cur = e.state
              lastTs = e.ts
            }
          }
          if (lastTs != null) gs.update(FsmGroupState(cur, lastTs))
          out.result().iterator
        })
  }

  /** Streaming EXACT dedup at ingest (the training-pipeline front door):
    * keep the first arrival of each content fingerprint, drop re-crawls /
    * re-sends that arrive within the watermark horizon. State is ONE
    * 8-byte xxhash64 key per distinct document — never the text — and
    * `dropDuplicatesWithinWatermark` expires state once the watermark
    * passes, so the state store is bounded by (arrival rate × lateness),
    * not by corpus size. That bound is the whole design: UNBOUNDED global
    * dedup over 10^12 keys stays in the daily batch job
    * ([[graft.dedup.Dedup.exactDuplicates]] / uniqueness). NULL-text rows
    * have no content to compare and pass through UNTOUCHED on a separate
    * branch (same "NULLs never collide" discipline as batch uniqueness —
    * xxhash64(NULL) would otherwise collapse every null-text document into
    * one fingerprint). A 64-bit fingerprint can collide at billions of
    * in-horizon keys — at that rate a colliding pair within one watermark
    * window drops a genuine document; acceptable at ingest (the batch pass
    * re-derives exact keys), switch to a 128-bit fingerprint column if it
    * isn't.
    */
  def dedupStream(stream: DataFrame, textCol: String, tsCol: String,
      lateness: String = "10 minutes"): DataFrame = {
    require(!stream.columns.contains("_fp"),
      "dedupStream reserves the _fp column name")
    val wm = stream.withWatermark(tsCol, lateness)
    val deduped = wm.where(col(textCol).isNotNull)
      .withColumn("_fp", xxhash64(col(textCol)))
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")
    deduped.unionByName(wm.where(col(textCol).isNull))
  }

  /** Watermarked windowed violation counts — the streaming verdict feed:
    * (window, rule_id) → violations, emitted once the watermark passes.
    * Late events beyond `lateness` are dropped, matching the batch job's
    * daily-partition finality.
    */
  def windowedViolationCounts(stream: DataFrame, rules: Seq[ValidationRule],
      tsCol: String,
      windowLength: String = "10 minutes",
      lateness: String = "5 minutes"): DataFrame = {
    val rowRules = rules.collect { case r: graft.rules.RowRule => r }
    // explode_outer, NOT explode: clean rows must still flow through the
    // event-time watermark operator or the watermark never advances on
    // violation-free batches (their max event time would be lost). The
    // null-rule group is filtered after aggregation (a group-key filter,
    // legal in append mode).
    graft.rules.RuleCompiler.withViolations(stream, rowRules)
      .withWatermark(tsCol, lateness)
      .select(col(tsCol), explode_outer(col("_violations")).as("v"))
      .groupBy(window(col(tsCol), windowLength), col("v.rule_id").as("rule_id"))
      .agg(count(lit(1)).as("violations"))
      .where(col("rule_id").isNotNull)
  }
}
