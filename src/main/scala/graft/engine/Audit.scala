package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.rules.ValidationRule

/** The `_validation_audit` table: per-partition lineage + metrics rows, and
  * the resume watermark (north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics").
  *
  * Reference analog: the `StateLog` audit trail + `MonitorField`s
  * (`cerberus/models/invoice.py:70-71,138-151`) — an append-only history
  * from which "what already happened" is reconstructed. Here: a run is
  * resumable because each (partition, rule) verdict is an idempotent row;
  * on restart we diff the input's partitions against the audit and validate
  * only the new ones (batch incrementality per SURVEY.md §2.8 — with Iceberg
  * this would key on snapshot-id; on plain parquet we key on the partition
  * value, which is the same unit the daily crawl appends by).
  */
final class AuditLog(dir: String, spark: SparkSession) {

  private val verdictsDir = s"$dir/verdicts"
  private val runsDir = s"$dir/runs"

  private def exists(p: String): Boolean = {
    // Hadoop FileSystem, not java.io.File: the audit table lives next to the
    // data (hdfs:// or s3a:// in production), where a local-FS check would
    // always say "missing" and silently restart validation from scratch
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Append verdict rows stamped with run lineage. */
  def append(verdicts: DataFrame, runId: String): Unit = {
    verdicts
      .withColumn("run_id", lit(runId))
      .withColumn("audit_ts", current_timestamp())
      .write.mode(SaveMode.Append).parquet(verdictsDir)
    spark.createDataFrame(Seq((runId, java.time.Instant.now.toString)))
      .toDF("run_id", "started").write.mode(SaveMode.Append).parquet(runsDir)
  }

  /** Every read of the verdicts dir MERGES footers: the audit schema has
    * grown over time (content_fp), appends are per-run files, and plain
    * schema inference samples ONE footer — a mixed pre/post-upgrade dir
    * would then expose (or hide) content_fp nondeterministically by file
    * listing order, and a supersede rewrite under the sampled schema
    * could permanently strip the newer columns. The dir is tiny
    * (per-(part, rule) rows), so the merge cost is nil.
    */
  private def readVerdicts(): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(verdictsDir)

  def verdicts(): DataFrame =
    if (exists(verdictsDir)) readVerdicts()
    else spark.emptyDataFrame

  /** Data partitions that already have verdict rows — the resume watermark.
    * The "(global)" scope row (uniqueness verdicts) is not a data partition
    * and never gates a resume.
    */
  def validatedParts(): Set[String] =
    if (!exists(verdictsDir)) Set.empty
    else readVerdicts().select("part").distinct()
      .collect().map(_.getString(0)).toSet - ValidationEngine.GlobalPart

  /** The `checked` row count and content fingerprint each data partition
    * had when it was LAST validated (latest audit_ts wins — a re-validated
    * partition's fresh rows supersede history). The drift detector
    * compares these against live values. The fingerprint is None for
    * audit rows written before the content_fp column existed, or by runs
    * with content drift disabled — those partitions fall back to
    * count-only drift detection.
    */
  def latestCheckedByPart(): Map[String, (Long, Option[String])] =
    if (!exists(verdictsDir)) Map.empty
    else {
      val v = readVerdicts()
      val withFp =
        if (v.columns.contains("content_fp")) v
        else v.withColumn("content_fp", lit(null).cast("string"))
      withFp
        .where(col("part") =!= ValidationEngine.GlobalPart)
        .groupBy(col("part"))
        .agg(max(struct(col("audit_ts"), col("checked"), col("content_fp")))
          .as("latest"))
        .select(col("part"), col("latest.checked").as("checked"),
          col("latest.content_fp").as("content_fp"))
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), Option(r.getString(2))))
        .toMap
    }

  /** Physically drop all verdict rows for the given partitions — the plain-
    * parquet analog of an Iceberg row-level DELETE, used when a validated
    * partition drifted (was compacted / re-grown / deleted) and its stale
    * verdicts must not survive alongside the re-validation's fresh rows.
    *
    * Crash-safe by construction: the filtered copy is fully materialized to
    * a temp dir BEFORE the live dir is swapped, and a crash between delete
    * and rename leaves no verdicts dir — which the resume logic reads as
    * "validate everything", never as stale success.
    */
  def supersede(parts: Set[String]): Unit = {
    if (parts.nonEmpty && exists(verdictsDir)) {
      val tmp = s"$verdictsDir-rewrite"
      // a stale -rewrite dir from a crashed earlier supersede would
      // otherwise merge into this rewrite via mode(Overwrite)'s dynamic
      // semantics or confuse the rename below — clear it first
      val conf = spark.sparkContext.hadoopConfiguration
      val live = new org.apache.hadoop.fs.Path(verdictsDir)
      val tmpPath = new org.apache.hadoop.fs.Path(tmp)
      val fs = live.getFileSystem(conf)
      if (fs.exists(tmpPath)) fs.delete(tmpPath, true)
      readVerdicts()
        .where(!col("part").isin(parts.toSeq: _*))
        .write.mode(SaveMode.Overwrite).parquet(tmp)
      fs.delete(live, true)
      // rename can fail NON-exceptionally (object stores, cross-device):
      // swallowing it would silently discard the whole audit history and
      // leak the rewrite dir — fail loudly instead (the deleted live dir
      // is still fail-SAFE: the next resume re-validates everything)
      if (!fs.rename(tmpPath, live))
        sys.error(s"audit supersede: rename $tmp -> $verdictsDir failed; " +
          "verdict history is at the -rewrite path, resume will re-validate")
    }
  }
}

object Audit {

  /** Order-independent per-partition content fingerprint: the exact SUM
    * (decimal(38,0) — no overflow below ~10^18 rows/partition, no
    * order-dependence, map-side partial aggregation) of xxhash64 over
    * every column of the row, rendered as a string for stable parquet
    * round-trips. Two partitions with equal fingerprints hold the same
    * multiset of row hashes up to negligible 64-bit collision odds.
    */
  private def contentFp(df: DataFrame): Column =
    sum(xxhash64(df.columns.map(col).toSeq: _*).cast("decimal(38,0)"))
      .cast("string")

  /** Incremental (resumable) validation: validate only partitions not yet
    * in the audit, append their verdicts, return the result for the NEW
    * partitions only. Re-running after success is a no-op; re-running after
    * a mid-run failure re-validates only what never got verdict rows —
    * per-partition verdicts are the unit of idempotent re-execution.
    *
    * Uniqueness rules are GLOBAL (cross-partition): a key duplicated across
    * an already-validated partition and a newly-arrived one must still flag,
    * so the uniqueness pass scans the FULL table — keys-only, column-pruned
    * passes over the unique-key columns, never the document bodies.
    * Row/referential/stats passes stay pending-only.
    *
    * Resume is DRIFT-SAFE: validated partitions are trusted only while
    * their live row count still matches the audit's — a compacted, re-grown
    * or deleted partition is detected on every resume (count-only pass),
    * re-validated, and its stale verdict rows superseded. The global
    * uniqueness verdict's `checked` count comes from those live counts (or,
    * on a first run, from this run's own profiles), so it always describes
    * the table the uniqueness pass actually scanned.
    *
    * With `contentDrift` (the default), drift compares (row count, content
    * fingerprint) per partition — an order-independent sum of full-row
    * xxhash64 — so even a same-cardinality in-place UPDATE (same count,
    * new bytes) is caught, superseded and re-validated; count-based
    * detection alone is blind to exactly that rewrite. COST MODEL: the
    * fingerprint turns the resume's drift pass from a narrow
    * partition-column scan into one full-row scan of the live table (all
    * columns decode, but pure scan+tiny agg — no shuffle beyond one row
    * per partition). At 10^12-row scale prefer keying drift on Iceberg
    * snapshot/sequence ids (every rewrite visible for free) and set
    * `contentDrift = false`; on plain parquet the fingerprint is the only
    * guarantee, and `contentDrift = false` reverts to count-only
    * detection with the documented UPDATE blind spot.
    */
  def runIncremental(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig,
      auditDir: String, runId: String,
      contentDrift: Boolean = true): Option[ValidationResult] = {
    val spark = df.sparkSession
    graft.functions.FastCharLength.install(spark)
    val audit = new AuditLog(auditDir, spark)
    val done0 = audit.validatedParts()

    val partKey = coalesce(expr(cfg.partExpr).cast("string"), lit("(null)"))

    // Drift detection: a crawl table is compacted, re-written and pruned
    // routinely, so "this partition has verdict rows" is not proof the rows
    // it described still exist. Compare the audit's latest per-partition
    // (checked count, content fingerprint) against LIVE values in a single
    // aggregate pass (count-only — one narrow partition-expression column
    // — when contentDrift is off; full-row when on, see the scaladoc cost
    // model). Any validated partition whose count or content changed is
    // re-validated this run and its stale audit rows are physically
    // superseded; a validated partition that vanished from the table has
    // its rows dropped outright. The live totals also become the global
    // uniqueness verdict's `checked` figure, so it always describes
    // exactly the rows the full-table uniqueness pass scanned — never a
    // stale audit reconstruction.
    val (done, liveParts, liveTotal, drifted, liveFp): (Set[String],
        Option[Set[String]], Option[Long], Set[String], Map[String, String]) =
      if (done0.isEmpty)
        (done0, None, None, Set.empty[String], Map.empty[String, String])
      else {
        val fpCol =
          if (contentDrift) contentFp(df) else lit(null).cast("string")
        val live = df.groupBy(partKey.as("part"))
          .agg(count(lit(1)).as("n"), fpCol.as("fp"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), Option(r.getString(2))))
          .toMap
        val auditCounts = audit.latestCheckedByPart()
        // drift = count changed, or (when BOTH sides carry a fingerprint)
        // content changed under a preserved count. A missing side (legacy
        // audit rows, contentDrift off) degrades to count-only — never a
        // spurious full re-validation after an upgrade.
        val dr = done0.filter { p =>
          (live.get(p), auditCounts.get(p)) match {
            case (Some((ln, lf)), Some((sn, sf))) =>
              ln != sn || (lf.isDefined && sf.isDefined && lf != sf)
            case (lv, st) => lv.map(_._1) != st.map(_._1)
          }
        }
        audit.supersede(dr)
        (done0 -- dr, Some(live.keySet), Some(live.valuesIterator.map(_._1).sum),
          dr, live.collect { case (p, (_, Some(f))) => p -> f })
      }

    // The pending filter skips already-validated partitions. It prunes
    // files at the scan only when partExpr is the table's partition
    // (directory) column; over a derived expression such as
    // date_format(warc_ts, ...) every file is still read and validated
    // rows are dropped after decode. NULL-part rows key as "(null)" — the
    // same keying every pass uses — so they are validated exactly once and
    // a NULL never poisons the isin (whose SQL semantics would otherwise
    // drop every non-matching row).
    val pending =
      if (done.isEmpty) df
      else df.where(!partKey.isin(done.toSeq: _*))
    // A resume's drift pass has already collected every live partition
    // under the same partKey, so whether anything is pending is a set
    // difference, not another scan of the table. A first run asks the
    // source.
    val nothingPending = liveParts match {
      case Some(parts) => (parts -- done).isEmpty
      case None => pending.isEmpty
    }

    val uniqueRules = rules.collect { case r: graft.rules.Unique => r }
    // A DELETE-only drift leaves no pending rows yet still invalidates the
    // GLOBAL uniqueness verdict (a duplicate whose twin vanished is a
    // duplicate no more) — the uniqueness pass must re-run over the live
    // table so the latest "(global)" row describes what was actually
    // scanned. Only when nothing drifted AND nothing is pending is the
    // resume a true no-op.
    val globalRefreshNeeded = drifted.nonEmpty && uniqueRules.nonEmpty

    if (nothingPending && !globalRefreshNeeded) None
    else {
      // the full-table uniqueness pass's checked count
      val globalChecked =
        if (uniqueRules.isEmpty) None
        else liveTotal.orElse {
          // first run (no audit yet): pending IS the full table the
          // uniqueness pass scanned. Count it DIRECTLY — pending.count()
          // on a partition-pruned parquet read resolves from row-group
          // metadata; summing this run's `checked` instead would eagerly
          // execute the whole stats aggregation (HLL + quantiles over
          // every column) here and then AGAIN when the verdicts/profiles
          // materialize, doubling the most expensive phase. On resumes
          // the drift pass above has already paid for live counts and
          // liveTotal is authoritative.
          Some(pending.count())
        }
      // row, referential and stats passes over pending; uniqueness over
      // the full table
      val res = ValidationEngine.runPass(pending, df, globalChecked,
        rules, dims, cfg)
      // Stamp each data partition's verdict rows with its content
      // fingerprint — the resume's drift compare reads it back. Resumes
      // already paid for the fingerprints in the drift pass above; only a
      // FIRST run (no audit yet) computes them here, over pending (= the
      // whole table on that run). The "(global)" row carries NULL: it
      // describes a cross-partition scan, not a partition's bytes.
      val fpByPart: Map[String, String] =
        if (!contentDrift) Map.empty
        else if (liveFp.nonEmpty) liveFp
        else pending.groupBy(partKey.as("part"))
          .agg(contentFp(pending).as("fp"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val verdicts =
        if (fpByPart.isEmpty)
          res.verdicts.withColumn("content_fp", lit(null).cast("string"))
        else {
          val fpDf = spark.createDataFrame(fpByPart.toSeq)
            .toDF("part", "content_fp")
          res.verdicts.join(broadcast(fpDf), Seq("part"), "left")
        }
      audit.append(verdicts, runId)
      Some(res.copy(verdicts = verdicts))
    }
  }
}
