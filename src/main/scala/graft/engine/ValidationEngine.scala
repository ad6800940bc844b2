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
  */
final case class EngineConfig(
    keyExpr: String,            // SQL expr for the natural key (e.g. "url")
    partExpr: String,           // SQL expr for the partition bucket
                                // (e.g. "date_format(warc_ts, 'yyyy-MM-dd')")
    broadcastDims: Boolean = true,
    // (name, sql) pairs to profile in the stats pass; empty = every column
    // as-is. Pass derived exprs (e.g. "length(text)") instead of megabyte
    // string bodies — min/max/HLL over full documents is wasted IO+CPU.
    statsExprs: Seq[(String, String)] = Nil,
    // (name, sql, binWidth) fixed-width histograms for the drift checks,
    // computed from the same single scan in runToSink
    histograms: Seq[(String, String, Double)] = Nil,
    // statsExprs NAMES that also get approximate quantiles in the profile
    // (percentile_approx = mergeable KLL-role sketch, same aggregation —
    // no extra scan); e.g. Seq("text_len")
    quantilesFor: Seq[String] = Nil,
    quantileProbs: Seq[Double] = Seq(0.01, 0.25, 0.5, 0.75, 0.99),
    quantileAccuracy: Int = 10000,
    // runToSink strategy — how many times the (possibly wide) source is
    // decoded:
    //  - "parquet" (default): ONE decode into a compact all-scalar
    //    projection staged as parquet; every phase re-reads the pruned
    //    stage. Violations are carried as a BITMASK (one long per 64
    //    rules), not an array<struct> — round 1 measured Spark's columnar
    //    cache serializing the nested array at ~0.8 ms/row, which made the
    //    old projection path 3x slower than re-scanning; literal rule
    //    metadata is re-attached from the mask at explode time for free.
    //  - "memory": same projection, persisted MEMORY_AND_DISK instead of
    //    staged (saves the stage write; costs executor memory at scale).
    //  - "multi-scan": each phase is its own column-pruned scan of the
    //    source — wins only when the pruned re-reads are cheaper than the
    //    stage write (narrow rows on fast local storage).
    stage: String = "parquet")

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

  /** Row-rule + referential violations in ONE scan.
    *
    * Referential rules (SURVEY.md §2.3 J5/J6) are folded into the same
    * projection as a broadcast LEFT join + null-marker test — the Spark
    * analog of the reference's `fix_nested_object` FK resolution
    * (`cerberus/api/serializers.py:53-72`), done set-at-a-time.
    */
  def rowPass(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig): DataFrame = {
    FastCharLength.install(df.sparkSession)
    val rowRules = rules.collect { case r: RowRule => r }
    val refRules = rules.collect { case r: Referential => r }

    // Fold referential dims in as broadcast existence markers.
    var joined = df
    val refConds: Seq[(Referential, Column)] = refRules.zipWithIndex.map {
      case (r, i) =>
        val dim = dims.getOrElse(r.dim,
          throw new IllegalArgumentException(s"missing dim table '${r.dim}' for rule ${r.ruleId}"))
        val marker = s"_ref_ok_$i"
        val keyC = r.keyExprSql.map(expr).getOrElse(col(r.path))
        val d = dim.select(col(r.dimColumn).as(s"_ref_key_$i")).distinct()
          .withColumn(marker, lit(true))
        val dimSide = if (cfg.broadcastDims) broadcast(d) else d
        joined = joined.join(dimSide, keyC === col(s"_ref_key_$i"), "left")
        (r, keyC.isNotNull && col(marker).isNull)
    }

    val rowStructs = rowRules.map(RuleCompiler.violationStruct)
    val refStructs = refConds.map { case (r, cond) =>
      when(cond, struct(
        lit(r.ruleId).as("rule_id"),
        lit(r.path).as("path"),
        lit(RuleCompiler.message(r)).as("message"),
        lit(r.severity).as("severity")))
    }
    val allStructs = rowStructs ++ refStructs
    // CreateArray + Generate + Filter are all whole-stage-codegen'd; the
    // tempting alternative — filter(array(...), _.isNotNull) — is a
    // higher-order function, which is CodegenFallback and would drop the
    // ENTIRE projection (regexes included) to interpreted evaluation, and
    // a size(...) > 0 pre-filter would evaluate the rule array twice.
    val vioArr =
      if (allStructs.isEmpty)
        array().cast("array<struct<rule_id:string,path:string,message:string,severity:string>>")
      else array(allStructs: _*)

    joined
      .select(
        coalesce(expr(cfg.keyExpr).cast("string"), lit("(null)")).as("key"),
        coalesce(expr(cfg.partExpr).cast("string"), lit("(null)")).as("part"),
        explode(vioArr).as("v"))
      .where(col("v").isNotNull)
      .select(col("key"), col("part"),
        col("v.rule_id").as("rule_id"), col("v.path").as("path"),
        col("v.message").as("message"), col("v.severity").as("severity"))
  }

  /** Full run: row+referential pass, uniqueness pass, stats profile,
    * verdict assembly. Violations from all passes share one schema and are
    * unioned (SURVEY.md §2.6 — the engine's only row-level set op).
    */
  def run(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame] = Map.empty,
      cfg: EngineConfig): ValidationResult = {
    FastCharLength.install(df.sparkSession)
    val uniqueRules = rules.collect { case r: Unique => r }

    val rowVios = rowPass(df, rules, dims, cfg)
    val uniqVios = uniqueRules.map(r =>
      Uniqueness.duplicateKeyViolations(df, r))
    val violations = (Seq(rowVios) ++ uniqVios).reduce(_.unionByName(_))

    val profiles = StatsPass.profile(df, cfg)

    // Verdicts: per-(part, rule) violation counts joined to per-part checked
    // counts (from the stats pass — no extra scan of the source). Global
    // rules (uniqueness) get one verdict row scoped "(global)" with
    // checked = total rows.
    val checked = profiles
      .groupBy(col("part")).agg(max(col("rowCount")).as("checked"))
    val verdicts = assembleVerdicts(df.sparkSession, rules, violations, checked)

    ValidationResult(violations, verdicts, profiles)
  }

  /** Rule metadata (all literals) in BIT ORDER: row rules first, then
    * referential — the contract between [[buildProjection]]'s bitmask and
    * [[bitsToViolations]]'s reconstruction.
    */
  private def bitOrderedMeta(rowRules: Seq[RowRule],
      refRules: Seq[Referential]): Seq[(String, String, String, String)] =
    rowRules.map(r => (r.ruleId, r.path, RuleCompiler.message(r), r.severity)) ++
      refRules.map(r => (r.ruleId, r.path, RuleCompiler.message(r), r.severity))

  /** The compact per-row projection everything derives from: key, part,
    * per-rule violation BITMASK (one long per 64 rules — all
    * the struct fields are rule-literal, so only the fired/not-fired bit is
    * per-row information), uniqueness key columns, stat/histogram inputs.
    * One decode of the (wide) source; the projection carries ~tens of
    * fixed-width bytes per row — no document bodies, no nested types.
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
    // (NULL conditions count as not-fired, matching when(cond, struct))
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
        .select(lit("").as("key"), lit("").as("part"), lit("").as("rule_id"),
          lit("").as("path"), lit("").as("message"), lit("").as("severity"))
        .limit(0)
    proj
      .select(col("_key"), col("_part"), explode(array(structs: _*)).as("v"))
      .where(col("v").isNotNull)
      .select(col("_key").as("key"), col("_part").as("part"),
        col("v.rule_id").as("rule_id"), col("v.path").as("path"),
        col("v.message").as("message"), col("v.severity").as("severity"))
  }

  /** Production entry point: run the full pass writing each output to a
    * parquet sink. The wide source (document bodies) is decoded EXACTLY
    * ONCE into a compact all-scalar projection (cfg.stage = "parquet" |
    * "memory"); violations, hash-candidate uniqueness, column stats, drift
    * histograms and verdicts all derive from it. Verdicts are assembled
    * from the WRITTEN violations (tiny) — never by re-executing the scan.
    *
    * Profiles cover exactly `cfg.statsExprs`; with none configured the
    * staged paths profile only the engine key (run()'s all-columns
    * default would require staging every source column — see the
    * statNamed note below).
    */
  def runToSink(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig,
      sinkDir: String): ValidationResult = {
    FastCharLength.install(df.sparkSession)
    if (cfg.stage == "multi-scan")
      return runToSinkMultiScan(df, rules, dims, cfg, sinkDir)
    require(cfg.stage == "parquet" || cfg.stage == "memory",
      s"unknown stage strategy '${cfg.stage}'")
    val spark = df.sparkSession
    val uniqueRules = rules.collect { case r: Unique => r }
    val rowRules = rules.collect { case r: RowRule => r }
    val refRules = rules.collect { case r: Referential => r }
    val meta = bitOrderedMeta(rowRules, refRules)

    val projection0 = buildProjection(df, rules, dims, cfg)
    val projection =
      if (cfg.stage == "parquet") {
        // stage the single decode; every downstream phase column-prunes it
        projection0.write.mode("overwrite").parquet(s"$sinkDir/_stage")
        spark.read.parquet(s"$sinkDir/_stage")
      } else
        projection0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      // 1. violations: row+referential (from projection) ∪ uniqueness.
      // Duplicate-candidate counting reads the stage's 8-byte hash column
      // only; the exact verify re-derives key values from the stage's _key
      // (primary-key rules) or the column-pruned source (composite rules) —
      // document bodies are never decoded twice.
      val rowVios = bitsToViolations(projection, meta)
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
      // with no statsExprs configured, the staged paths profile the ENGINE
      // KEY (null rate / approx-distinct of cfg.keyExpr — named by that
      // expression, not a leaked internal column) and the per-part row
      // counts verdict assembly needs. This deliberately DIFFERS from
      // run(), which reads the source directly and defaults to profiling
      // every source column: staging every column (document bodies
      // included) just for default stats would defeat the compact
      // single-decode stage. Callers wanting column stats through the
      // sink path list them in statsExprs.
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
      val checked = profiles.groupBy(col("part"))
        .agg(max(col("rowCount")).as("checked"))
      assembleVerdicts(spark, rules, violations, checked)
        .write.mode("overwrite").parquet(s"$sinkDir/verdicts")

      ValidationResult(violations,
        spark.read.parquet(s"$sinkDir/verdicts"), profiles)
    } finally {
      if (cfg.stage == "memory") projection.unpersist()
      else if (!spark.conf.getOption("spark.graft.keepStage").contains("true")) {
        // every output is written; drop the intermediate materialization
        // (at 100 TB the stage is ~1% of the input but still real storage)
        val p = new org.apache.hadoop.fs.Path(s"$sinkDir/_stage")
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(p, true)
      }
    }
  }

  /** Multi-scan sink path: each phase is its own column-pruned scan of the
    * source (see EngineConfig.stage).
    */
  private def runToSinkMultiScan(df: DataFrame, rules: Seq[ValidationRule],
      dims: Map[String, DataFrame], cfg: EngineConfig,
      sinkDir: String): ValidationResult = {
    val spark = df.sparkSession
    val uniqueRules = rules.collect { case r: Unique => r }

    val rowVios = rowPass(df, rules, dims, cfg)
    val uniqVios = uniqueRules.map(r =>
      Uniqueness.duplicateKeyViolations(df, r))
    (Seq(rowVios) ++ uniqVios).reduce(_.unionByName(_))
      .write.mode("overwrite").parquet(s"$sinkDir/violations")

    StatsPass.profile(df, cfg)
      .write.mode("overwrite").parquet(s"$sinkDir/profiles")
    cfg.histograms.foreach { case (n, e, w) =>
      StatsPass.histogram(df, cfg, e, w)
        .write.mode("overwrite").parquet(s"$sinkDir/hist_$n")
    }

    val violations = spark.read.parquet(s"$sinkDir/violations")
    val profiles = spark.read.parquet(s"$sinkDir/profiles")
    val checked = profiles.groupBy(col("part"))
      .agg(max(col("rowCount")).as("checked"))
    assembleVerdicts(spark, rules, violations, checked)
      .write.mode("overwrite").parquet(s"$sinkDir/verdicts")
    ValidationResult(violations,
      spark.read.parquet(s"$sinkDir/verdicts"), profiles)
  }

  /** Per-partition verdicts for partition-scoped rules; one "(global)"
    * verdict per global rule (uniqueness) with checked = total rows.
    * `globalChecked` overrides the global rules' checked count for callers
    * whose uniqueness pass scanned more rows than the per-partition passes
    * (incremental resume runs uniqueness over the FULL table).
    */
  private[engine] def assembleVerdicts(spark: SparkSession,
      rules: Seq[ValidationRule], violations: DataFrame,
      checked: DataFrame, globalChecked: Option[Long] = None): DataFrame = {
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
        case None => checked.agg(sum(col("checked")).as("checked"))
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
