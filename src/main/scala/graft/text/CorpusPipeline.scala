package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.engine.{EngineConfig, ValidationEngine}

/** The end-to-end training-corpus construction pass — the composition the
  * individual operators exist FOR, in the canonical order a web-scale
  * pipeline runs them:
  *
  *   0.5. optionally, canonical-url uniqueness — canonicalize, then keep
  *      one doc per canonical url (FineWeb's "url dedup"; see
  *      `canonicalizeUrlCol` below). Canon runs BEFORE uniqueness, the
  *      SURVEY §1.4 mandate, so re-crawls and tracking-param variants
  *      collide.
  *   1. exact dedup on the canonical text fingerprint (keep min id per
  *      group — one shuffle of 8-byte keys + ids)
  *   2. MinHash-LSH near-dup prune at `nearDupThreshold`: drop the `b`
  *      side of every (a < b) pair. For transitively-closed clusters this
  *      keeps exactly the smallest id; for chain-shaped clusters it can
  *      drop a doc whose only near-dup was itself dropped — the standard
  *      greedy trade of pair-based MinHash dedup (a connected-components
  *      pass is the alternative when that matters).
  *      (2b. optionally, a substring-level repeated-span gate — see
  *      `maxRepeatedSpanFraction` below)
  *   3. quality filter: drop docs with any ERROR-severity violation from
  *      [[QualityRules]] (warn-severity flags keep the doc)
  *      (3b. optionally, the Gopher/FineWeb at-most-k-docs-per-host cap —
  *      see `maxDocsPerKey` below; exact salted top-k, skew-proof)
  *   4. deterministic sample at `sampleRate` ([[Sampling]] — rerun- and
  *      partitioning-invariant, supersets monotone in the rate)
  *   5. stable shard assignment into `nShards`
  *
  * Returns (kept corpus with its shard column, per-stage report of
  * surviving doc counts). Stage boundaries pass through `materialize`
  * (`localCheckpoint(eager = false)`) so the report's count branches and
  * the near-dup/quality sub-plans share ONE computation of each stage
  * instead of re-executing prefixes (~25% off the composed run at sf0.1;
  * the shared-stage structure, not the constant, is the point at scale).
  * Note AQE materializes a checkpointed plan's shuffle stages when the
  * plan is first consumed, so "lazy" here means computed-once, not
  * deferred-past-build. Local checkpoint blocks are lost with their
  * executor; `materialize` is the one place a staging policy that
  * survives executor loss would go.
  *
  * Every stage is independently SQL-re-derivable (fingerprint groups ==
  * canonical-text groups absent 2^-64 hash collisions; LSH pairs == exact
  * Jaccard pairs on corpora with a similarity gap; the sampler's xxhash64
  * membership re-implemented in DuckDB), which is what lets the driver
  * oracle the WHOLE pipeline end-to-end (`q_corpus_pipeline`).
  */
object CorpusPipeline {

  private val materialize: DataFrame => DataFrame = _.localCheckpoint(false)

  def build(docs: DataFrame, idCol: String, textCol: String,
      langCol: String, partCol: String,
      nearDupThreshold: Double = 0.35, sampleRate: Double = 0.5,
      nShards: Int = 8,
      // "greedy" (default): drop every pair's larger id — one anti-join,
      // may over-drop chain clusters. "components": exact — keep the one
      // minimum id of every connected component
      // ([[graft.dedup.Dedup.connectedComponents]]); costs the label
      // propagation rounds. For quality-ranked keeper selection instead
      // of min-id (FineWeb keeps the "best" cluster member), run
      // [[graft.dedup.Dedup.bestKeeperPerComponent]] on the component
      // labeling with a score column — graded standalone
      // (q_dedup_keeper).
      nearDupStrategy: String = "greedy",
      // components-strategy convergence bound — alternating star rounds
      // converge in O(log n), so 50 covers any realistic corpus; hitting
      // it fails loudly rather than returning a half-merged labeling
      nearDupMaxIters: Int = 50,
      // optional substring-level gate between near-dup prune and the
      // quality rules: drop docs whose [[graft.dedup.Dedup.repeatedSpans]]
      // dup_fraction EXCEEDS this bound — catches a boilerplate paragraph
      // pasted into thousands of otherwise-distinct pages, which whole-doc
      // MinHash (step 2) by construction cannot (each host page's Jaccard
      // to any other stays below threshold). None (default) = stage
      // skipped entirely, report shape unchanged.
      maxRepeatedSpanFraction: Option[Double] = None,
      spanK: Int = 20, spanMinDocs: Int = 2,
      // optional stage between input and exact dedup — the FineWeb "url
      // dedup" step: canonicalize this raw-url column
      // ([[TextFunctions.canonicalUrl]]) and keep the min doc_id per
      // canonical url, so re-crawls of one page collide BEFORE the
      // text-level passes (an 8-byte url-hash shuffle is far cheaper
      // than shingling the duplicate's full text downstream). The kept
      // frame carries the CANONICAL url forward as `url`. Null urls pass
      // through un-deduped (no url ≠ same url). None (default) = stage
      // skipped, report shape unchanged.
      canonicalizeUrlCol: Option[String] = None,
      // optional per-host document cap (Gopher/FineWeb "at most k docs
      // per host"), applied AFTER the quality gate so boilerplate pages
      // don't consume a host's budget: key = the canonical url's
      // authority, order = doc_id (deterministic), via the exact
      // two-phase salted [[Sampling.capPerKey]] — the skew-proof form a
      // mega-host needs. Requires `canonicalizeUrlCol`.
      maxDocsPerKey: Option[Int] = None)
      : (DataFrame, DataFrame) = {
    require(Set("greedy", "components")(nearDupStrategy), nearDupStrategy)
    require(maxDocsPerKey.isEmpty || canonicalizeUrlCol.isDefined,
      "maxDocsPerKey keys on the canonical url host — pass canonicalizeUrlCol")

    val base = docs.select(
      (Seq(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"), col(langCol).as("lang"),
        col(partCol).as("source")) ++
        canonicalizeUrlCol.map(u =>
          TextFunctions.canonicalUrl(col(u)).as("url"))): _*)

    // 0.5. (optional) url uniqueness on the canonical form: min id
    // survives its url group; null urls all survive (no url ≠ same url).
    // Null-url rows BYPASS the window entirely and union back untouched:
    // every null url hashes to ONE window group, so a corpus with a large
    // url-less slice (books/JSONL sources mixed with web) would otherwise
    // funnel that whole slice through a single window task before the
    // filter let it pass — the exact mega-group skew the engine's
    // uniqueness pass was redesigned to avoid (guide §2.5: handle the
    // null hot key separately). Survivor set is identical: the window
    // only ever decided keep/drop for NON-null urls.
    val keepUrl = canonicalizeUrlCol match {
      case None => base
      case Some(_) =>
        val urled = base.where(col("url").isNotNull)
          .withColumn("_keep_id",
            min(col("doc_id")).over(Window.partitionBy(col("url"))))
          .where(col("doc_id") === col("_keep_id"))
          .drop("_keep_id")
        materialize(urled.unionByName(base.where(col("url").isNull)))
    }

    // 1. exact dedup: min id survives its fingerprint group
    val keepExact = materialize(keepUrl
      .withColumn("_fp", TextFunctions.fingerprint(col("text")))
      .withColumn("_keep_id",
        min(col("doc_id")).over(Window.partitionBy(col("_fp"))))
      .where(col("doc_id") === col("_keep_id"))
      .drop("_fp", "_keep_id"))

    // 2. near-dup prune
    val nearPairs = Dedup.minHashNearDups(keepExact, "doc_id", "text",
      threshold = nearDupThreshold, numHashes = 64, bands = 21,
      maxBucketSize = 200)
    val nearDrops =
      if (nearDupStrategy == "greedy")
        nearPairs.select(col("b_id").as("doc_id")).distinct()
      else // exact: every component member except its minimum id
        Dedup.connectedComponents(nearPairs, "a_id", "b_id",
            maxIters = nearDupMaxIters)
          .where(col("id") =!= col("comp"))
          .select(col("id").as("doc_id"))
    val keepNear = materialize(keepExact.join(nearDrops,
      Seq("doc_id"), "left_anti"))

    // 2b. (optional) substring-level repeated-span gate
    val keepSpans = maxRepeatedSpanFraction match {
      case None => keepNear
      case Some(maxFrac) =>
        val spanDrops = Dedup.repeatedSpans(keepNear, "doc_id", "text",
            k = spanK, minDocs = spanMinDocs)
          .where(col("dup_fraction") > maxFrac)
          .select(col("id").as("doc_id"))
        materialize(keepNear.join(spanDrops, Seq("doc_id"), "left_anti"))
    }

    // 3. quality gate: error-severity violations drop the doc. Run ONLY
    // the error-severity rules: the gate filters to severity = "error"
    // anyway, and a pruned catalog lets Catalyst drop the warn-only
    // signal computations (quality score, symbol/bullet/ellipsis/alpha
    // regex passes — roughly half the signal projection's regex work)
    // from the scan entirely — guide §1.2: don't compute what you throw
    // away. Violations from error rules are identical by construction.
    val errorRules = QualityRules.catalog().filter(_.severity == "error")
    val vios = ValidationEngine.run(QualityRules.withSignals(keepSpans),
      errorRules, Map.empty,
      EngineConfig(keyExpr = "cast(doc_id as string)", partExpr = "source"))
      .violations
    val keepQuality = materialize(keepSpans.join(
      vios.where(col("severity") === "error")
        .select(col("key").cast("long").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti"))

    // 3b. (optional) per-host cap among the quality survivors — the
    // salted exact top-k, ordered by doc_id so the kept set replays
    val keepCapped = maxDocsPerKey match {
      case None => keepQuality
      case Some(k) =>
        val withHost = keepQuality.withColumn("_host",
          regexp_extract(col("url"), "^[^/?#]*//([^/?#]+)", 1))
        materialize(Sampling.capPerKey(withHost, Seq("_host"),
          Seq(col("doc_id")), k, saltOn = Some(col("doc_id")))
          .drop("_host"))
    }

    // 4-5. deterministic sample + stable shards
    val sampled = Sampling.deterministicSample(keepCapped, "doc_id", sampleRate)
    val kept = sampled.withColumn("shard",
      Sampling.shardColumn(col("doc_id"), nShards))

    def stage(ord: Int, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).cast("long").as("docs"))
        .select(lit(ord).as("ord"), lit(name).as("stage"), col("docs"))

    // stage ords stay 0-4 with the default gates OFF so the oracled report
    // shape (q_corpus_pipeline) is byte-identical; each optional stage
    // slots in with its own ord only when enabled
    val stages: Seq[(String, DataFrame)] =
      Seq("input" -> base) ++
      (if (canonicalizeUrlCol.isDefined) Seq("url_dedup" -> keepUrl)
       else Nil) ++
      Seq("exact_dedup" -> keepExact, "near_dedup" -> keepNear) ++
      (if (maxRepeatedSpanFraction.isDefined) Seq("span_gate" -> keepSpans)
       else Nil) ++
      Seq("quality" -> keepQuality) ++
      (if (maxDocsPerKey.isDefined) Seq("host_cap" -> keepCapped)
       else Nil) ++
      Seq("sample" -> sampled)
    val report = stages.zipWithIndex
      .map { case ((name, df), ord) => stage(ord, name, df) }
      .reduce(_.unionByName(_))

    (kept, report)
  }
}
