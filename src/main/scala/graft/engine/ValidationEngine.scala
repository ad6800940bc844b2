package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.FastCharLength
import graft.rules._

/** Orchestrates a full validation run (SURVEY.md §7 pillars 2-3):
  * "one scan, many answers" — the row-rule pass, referential checks
  * (broadcast-joined into the same scan) and the violations sink share a
  * single source scan; uniqueness and the stats/drift profile are the only
  * additional passes, each reading a pruned column subset so the parquet /
  * Iceberg reader never materializes `html` bytes unless a rule needs them.
  *
  * Scale notes (100 TB / 1000 executors):
  *  - row rules + referential: map-side only, zero shuffle (dims broadcast);
  *  - uniqueness: partial+final hash aggregation over 8-byte key hashes
  *    (see [[Uniqueness]]) — the only full shuffle, map-side combine
  *    pre-collapses hot keys;
  *  - stats/drift: partial aggregation (map-side combine) then a tiny
  *    shuffle of per-(partition, column) aggregates;
  *  - verdicts/violations are tiny relative to input; they shuffle freely.
  *
  * Profiles: with `statsExprs` set, `run` and `runToSink` both profile
  * exactly those expressions. With none set, `run` profiles every source
  * column and `runToSink` profiles only the engine key — staging every
  * column (document bodies included) for default stats would defeat its
  * compact single-decode stage.
  */
final case class EngineConfig(
    keyExpr: String,            // SQL expr for the natural key (e.g. "url")
    partExpr: String,           // SQL expr for the partition bucket
                                // (e.g. "date_format(warc_ts, 'yyyy-MM-dd')")
    broadcastDims: Boolean = true,
    // (name, sql) pairs to profile in the stats pass; empty = the entry
    // point's default (see above). Pass derived exprs (e.g.
    // "length(text)") instead of megabyte string bodies — min/max/HLL
    // over full documents is wasted IO+CPU.
    statsExprs: Seq[(String, String)] = Nil,
    // (name, sql, binWidth) fixed-width histograms for the drift checks,
    // computed from the same single scan in runToSink
    histograms: Seq[(String, String, Double)] = Nil,
    // statsExprs NAMES that also get approximate quantiles in the profile
    // (percentile_approx = mergeable KLL-role sketch, same aggregation —
    // no extra scan); e.g. Seq("text_len")
    quantilesFor: Seq[String] = Nil,
    quantileProbs: Seq[Double] = Seq(0.01, 0.25, 0.5, 0.75, 0.99),
    quantileAccuracy: Int = 10000)

final case class ValidationResult(
    violations: DataFrame,      // graft.model.Violation shape
    verdicts: DataFrame,        // graft.model.Verdict shape
    profiles: DataFrame)        // graft.model.ColumnProfile shape

object ValidationEngine {

  /** Scope label for cross-partition (global) rules like uniqueness. */
  val GlobalPart = "(global)"

  /** Small daemon pool for submitting independent phase jobs concurrently
    * (Spark schedules concurrent jobs fine; the pool only parks on
    * write() actions).
    */
  private lazy val phaseEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-phase")
        t.setDaemon(true)
        t
      }))

  val violationCols: Seq[String] =
    Seq("key", "part", "rule_id", "path", "message", "severity")

  /** Row-rule + referential violations in ONE scan: the bitmask
    * projection's key, part and `_vb*` words, exploded back into violation
    * rows (see [[buildProjection]] and [[bitsToViolations]]).
    */
  def rowPass(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig): DataFrame = {
    FastCharLength.install(df.sparkSession)
    // bitsToViolations reads only _key, _part and the _vb* words: the
    // optimizer prunes the uniqueness hashes and stats inputs away
    bitsToViolations(buildProjection(df, rules, dims, cfg), bitOrderedMeta(rules))
  }

  /** Full run: row+referential pass, uniqueness pass, stats profile,
    * verdict assembly. Violations from all passes share one schema and are
    * unioned (SURVEY.md §2.6 — the engine's only row-level set op).
    */
  def run(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame] = Map.empty,
      cfg: EngineConfig): ValidationResult =
    runPass(df, df, None, rules, dims, cfg)

  /** [[run]] with the uniqueness pass on its own source: row rules,
    * referential rules and the profile read `rows`; uniqueness rules read
    * `uniqueRows`. Incremental resume passes the pending partitions as
    * `rows` and the full table as `uniqueRows`, with `globalChecked` the
    * full table's row count (see [[assembleVerdicts]]).
    */
  private[engine] def runPass(rows: DataFrame, uniqueRows: DataFrame,
      globalChecked: Option[Long], rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig): ValidationResult = {
    val rowVios = rowPass(rows, rules, dims, cfg)
    val uniqVios = rules.collect { case r: Unique =>
      Uniqueness.duplicateKeyViolations(uniqueRows, r) }
    val violations = (rowVios +: uniqVios).reduce(_.unionByName(_))
    // the stats pass doubles as the per-part checked counts: no extra scan
    val profiles = StatsPass.profile(rows, cfg)
    ValidationResult(violations, assembleVerdicts(rows.sparkSession, rules,
      violations, profiles, globalChecked), profiles)
  }

  /** Rule metadata (all literals) in BIT ORDER: row rules first, then
    * referential — the contract between [[buildProjection]]'s bitmask and
    * [[bitsToViolations]]'s reconstruction.
    */
  private def bitOrderedMeta(
      rules: Seq[ValidationRule]): Seq[(String, String, String, String)] =
    (rules.collect { case r: RowRule => r } ++
      rules.collect { case r: Referential => r })
      .map(r => (r.ruleId, r.path, RuleCompiler.message(r), r.severity))

  /** The compact per-row projection everything derives from: key, part,
    * per-rule violation BITMASK (one long per 64 rules — all
    * the struct fields are rule-literal, so only the fired/not-fired bit is
    * per-row information), uniqueness key columns, stat/histogram inputs.
    * One decode of the (wide) source; the projection carries ~tens of
    * fixed-width bytes per row — no document bodies, no nested types.
    *
    * Referential rules (SURVEY.md §2.3 J5/J6) are folded into the same
    * projection as a broadcast LEFT join + null-marker test — the Spark
    * analog of the reference's `fix_nested_object` FK resolution
    * (`cerberus/api/serializers.py:53-72`), done set-at-a-time.
    */
  private[graft] def buildProjection(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig): DataFrame = {
    val rowRules = rules.collect { case r: RowRule => r }
    val refRules = rules.collect { case r: Referential => r }
    val uniqueRules = rules.collect { case r: Unique => r }

    var joined = df
    val refConds: Seq[Column] = refRules.zipWithIndex.map { case (r, i) =>
      val dim = dims.getOrElse(r.dim,
        throw new IllegalArgumentException(s"missing dim table '${r.dim}' for rule ${r.ruleId}"))
      val marker = s"_ref_ok_$i"
      val keyC = r.keyExprSql.map(expr).getOrElse(col(r.path))
      val d = dim.select(col(r.dimColumn).as(s"_ref_key_$i")).distinct()
        .withColumn(marker, lit(true))
      val dimSide = if (cfg.broadcastDims) broadcast(d) else d
      joined = joined.join(dimSide, keyC === col(s"_ref_key_$i"), "left")
      keyC.isNotNull && col(marker).isNull
    }
    // violation bitmask words: bit i of word i/64 set ⇔ rule i fired
    // (a NULL condition takes otherwise(0): not fired)
    val conds = rowRules.map(RuleCompiler.violated) ++ refConds
    val bitCols = conds.zipWithIndex
      .groupBy(_._2 / 64).toSeq.sortBy(_._1)
      .map { case (w, cs) =>
        cs.map { case (c, i) =>
          when(c, lit(1L << (i % 64))).otherwise(lit(0L))
        }.reduce((a, b) => a.bitwiseOR(b)).as(s"_vb$w")
      }
    val vbCols = if (bitCols.isEmpty) Seq(lit(0L).as("_vb0")) else bitCols

    val statsCols = cfg.statsExprs.map { case (n, e) => expr(e).as(s"_s_$n") }
    val histCols = cfg.histograms.map { case (n, e, _) => expr(e).as(s"_h_$n") }
    // per-unique-rule 64-bit KEY HASH (null when any key column is null —
    // SQL unique semantics), NOT the key values: the counting phases only
    // ever need the hash, so the stage stays free of key strings and the
    // phase-1 aggregation reads 16 fixed bytes per row. The exact verify
    // pass re-derives real key values from the source for candidates only.
    val uniqCols = uniqueRules.zipWithIndex.map { case (r, i) =>
      val nonNull = r.columns.map(col(_).isNotNull).reduce(_ && _)
      when(nonNull, Uniqueness.keyHash(r.columns)).as(s"_uh_$i")
    }

    joined.select(Seq(
      coalesce(expr(cfg.keyExpr).cast("string"), lit("(null)")).as("_key"),
      coalesce(expr(cfg.partExpr).cast("string"), lit("(null)")).as("_part")) ++
      vbCols ++ uniqCols ++ statsCols ++ histCols: _*)
  }

  /** Reconstruct violation rows from the projection's bitmask: the struct
    * payloads are pure rule literals, so this is a codegen'd
    * when(bit, struct-of-literals) array + explode over the tiny stage —
    * the wide source is never touched again.
    */
  private def bitsToViolations(proj: DataFrame,
      meta: Seq[(String, String, String, String)]): DataFrame = {
    val structs = meta.zipWithIndex.map { case ((id, p, m, sev), i) =>
      when(shiftright(col(s"_vb${i / 64}"), i % 64).bitwiseAND(lit(1L)) === 1L,
        struct(lit(id).as("rule_id"), lit(p).as("path"),
          lit(m).as("message"), lit(sev).as("severity")))
    }
    if (structs.isEmpty)
      return proj.sparkSession.emptyDataFrame
        .select(violationCols.map(c => lit("").as(c)): _*).limit(0)
    proj
      .select(col("_key"), col("_part"), explode(array(structs: _*)).as("v"))
      .where(col("v").isNotNull)
      .select(col("_key").as("key"), col("_part").as("part"),
        col("v.rule_id").as("rule_id"), col("v.path").as("path"),
        col("v.message").as("message"), col("v.severity").as("severity"))
  }

  /** Production entry point: run the full pass writing each output to a
    * parquet sink. The wide source (document bodies) is decoded EXACTLY
    * ONCE into the compact all-scalar [[buildProjection]], staged as
    * parquet under `sinkDir/_stage`; violations, hash-candidate
    * uniqueness, column stats, drift histograms and verdicts all derive
    * from it. Verdicts are assembled from the WRITTEN violations (tiny) —
    * never by re-executing the scan. The stage is deleted once every
    * output is written, unless `spark.graft.keepStage` is "true".
    *
    * Profiles cover exactly `cfg.statsExprs`; with none configured only
    * the engine key is profiled (see [[EngineConfig]]).
    */
  def runToSink(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig,
      sinkDir: String): ValidationResult = {
    FastCharLength.install(df.sparkSession)
    val spark = df.sparkSession
    val uniqueRules = rules.collect { case r: Unique => r }

    // stage the single decode; every downstream phase column-prunes it.
    // Round 1 measured Spark's columnar cache serializing a nested
    // violations array at ~0.8 ms/row; the bitmask stage is all scalars.
    buildProjection(df, rules, dims, cfg)
      .write.mode("overwrite").parquet(s"$sinkDir/_stage")
    val projection = spark.read.parquet(s"$sinkDir/_stage")

    try {
      // 1. violations: row+referential (from projection) ∪ uniqueness.
      // Duplicate-candidate counting reads the stage's 8-byte hash column
      // only; the exact verify re-derives key values from the stage's _key
      // (primary-key rules) or the column-pruned source (composite rules) —
      // document bodies are never decoded twice.
      val rowVios = bitsToViolations(projection, bitOrderedMeta(rules))
      val uniqVios = uniqueRules.zipWithIndex.map { case (r, i) =>
        val dups = Uniqueness.dupHashes(projection
          .where(col(s"_uh_$i").isNotNull)
          .select(col(s"_uh_$i").as("_kh")))
        if (r.columns == Seq(cfg.keyExpr)) {
          // primary-key uniqueness (rule over exactly the engine key
          // expression — the common url case): the stage's _key column IS
          // the key value, so the exact verify never re-reads the source
          val keyed = projection.where(col(s"_uh_$i").isNotNull)
            .select(col("_key").as("_ukey"), col(s"_uh_$i").as("_kh"))
          Uniqueness.verifyCount(keyed.join(dups, Seq("_kh")), r)
        } else
          // composite rules re-read the SOURCE (key columns only) for the
          // exact verify — a deliberate trade-off against staging one
          // `_ukey_$i` string per composite rule per row: the stage write
          // is on every row's critical path, while this re-read is (a)
          // column-pruned to the key columns (never the document bodies)
          // and (b) only joined against the tiny dup-hash candidate set.
          // Columnar sources make it a pruned scan; a row-oriented source
          // (CSV/JSON) pays a second parse here, and THAT case should
          // stage the key strings instead — revisit if such a source ever
          // feeds composite uniqueness at scale.
          Uniqueness.verifiedViolations(df, r, dups)
      }
      val violationsOut = (Seq(rowVios) ++ uniqVios).reduce(_.unionByName(_))

      // 2. stats profile from the SAME projection (shared long-form agg,
      // measures resolved against the staged _s_ scalar columns)
      val named = cfg.statsExprs.map { case (n, _) => (n, col(s"_s_$n")) }
      // with no statsExprs configured, profile the ENGINE KEY (null rate /
      // approx-distinct of cfg.keyExpr — named by that expression, not a
      // leaked internal column) and the per-part row counts verdict
      // assembly needs; see EngineConfig for why this differs from run().
      val statNamed = if (named.nonEmpty) named
        else Seq((cfg.keyExpr, col("_key")))
      val profilesOut =
        StatsPass.profileFrom(projection, col("_part"), statNamed, cfg)

      // 1-3 are INDEPENDENT scans of the tiny stage — submit them as
      // concurrent Spark jobs. Each phase is seconds of driver/commit
      // latency and a handful of small tasks; run sequentially they form a
      // fixed serial tail that Amdahl-caps wall-clock scaling (measured:
      // ~10 s of the 20 s wide-row run at local[4] was this tail). On a
      // real cluster the same applies: concurrent jobs keep 1000 executors
      // busy instead of draining per-phase.
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      import scala.util.Try
      implicit val ec: ExecutionContext = phaseEc
      val phases = Seq(
        Future(violationsOut
          .write.mode("overwrite").parquet(s"$sinkDir/violations")),
        Future(profilesOut
          .write.mode("overwrite").parquet(s"$sinkDir/profiles"))) ++
        cfg.histograms.map { case (n, _, w) => Future {
          projection.select(col("_part").as("part"),
              floor(col(s"_h_$n").cast("double") / w).as("bin"))
            .where(col("bin").isNotNull) // null-rates live in the profiles
            .groupBy(col("part"), col("bin"))
            .agg(count(lit(1)).as("n"))
            .write.mode("overwrite").parquet(s"$sinkDir/hist_$n")
        }}
      // wait for EVERY phase before surfacing a failure — a fail-fast
      // rethrow would reach the finally-block stage cleanup while sibling
      // jobs are still scanning the stage (and race a caller's retry)
      val results = Await.result(
        Future.sequence(phases.map(f => f.transform(Try(_)))), Duration.Inf)
      results.collectFirst { case scala.util.Failure(e) => throw e }

      // 4. verdicts from the written (tiny) outputs
      val violations = spark.read.parquet(s"$sinkDir/violations")
      val profiles = spark.read.parquet(s"$sinkDir/profiles")
      assembleVerdicts(spark, rules, violations, profiles, None)
        .write.mode("overwrite").parquet(s"$sinkDir/verdicts")

      ValidationResult(violations,
        spark.read.parquet(s"$sinkDir/verdicts"), profiles)
    } finally {
      if (!spark.conf.getOption("spark.graft.keepStage").contains("true")) {
        // every output is written; drop the intermediate materialization
        // (at 100 TB the stage is ~1% of the input but still real storage)
        val p = new org.apache.hadoop.fs.Path(s"$sinkDir/_stage")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
  }

  /** Per-partition verdicts for partition-scoped rules, checked = the
    * part's profiled row count; one "(global)" verdict per global rule
    * (uniqueness) with checked = total rows. `globalChecked` overrides the
    * global rules' checked count for callers whose uniqueness pass scanned
    * more rows than the per-partition passes (incremental resume runs
    * uniqueness over the FULL table).
    */
  private def assembleVerdicts(spark: SparkSession,
      rules: Seq[ValidationRule], violations: DataFrame,
      profiles: DataFrame, globalChecked: Option[Long]): DataFrame = {
    val checked = profiles.groupBy(col("part"))
      .agg(max(col("rowCount")).as("checked"))
    val uniqueIds = rules.collect { case r: Unique => r.ruleId }
    val partRules = rules.filterNot(r => uniqueIds.contains(r.ruleId))
    val vioCounts = violations.groupBy(col("part"), col("rule_id"))
      .agg(count(lit(1)).as("violations"))

    val partVerdicts = {
      val rulesDf = spark.createDataFrame(partRules.map(r => Tuple1(r.ruleId)))
        .toDF("rule_id")
      checked.crossJoin(broadcast(rulesDf))
        .join(vioCounts, Seq("part", "rule_id"), "left")
    }
    val globalVerdicts = if (uniqueIds.isEmpty) None else Some {
      val rulesDf = spark.createDataFrame(uniqueIds.map(Tuple1(_)))
        .toDF("rule_id")
      val checkedGlobal = globalChecked match {
        case Some(n) => checked.sparkSession.range(1)
          .select(lit(n).as("checked"))
        // coalesce: an empty input has no parts, and sum() of nothing is NULL
        case None =>
          checked.agg(coalesce(sum(col("checked")), lit(0L)).as("checked"))
      }
      checkedGlobal
        .select(lit(GlobalPart).as("part"), col("checked"))
        .crossJoin(broadcast(rulesDf))
        .join(vioCounts, Seq("part", "rule_id"), "left")
    }
    (Seq(partVerdicts) ++ globalVerdicts).reduce(_.unionByName(_))
      .select(col("part"), col("rule_id"), col("checked"),
        coalesce(col("violations"), lit(0L)).as("violations"),
        (coalesce(col("violations"), lit(0L)) === 0L).as("pass"))
  }
}
