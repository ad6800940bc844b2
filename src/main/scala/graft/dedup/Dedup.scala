package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.{Shingles, TextFunctions}

/** Deduplication family for web-scale corpora. All methods are
  * DataFrame-in/DataFrame-out, deterministic (hash-seeded, no RNG), and
  * shuffle only compact keys/signatures — never full text — so they scale
  * to the 10^12-row regime:
  *
  *  - exact: fingerprint groupBy (one shuffle of 8-byte keys)
  *  - MinHash + LSH: shingle → minhash signature → banded buckets →
  *    candidate pairs → exact Jaccard verify (classic Broder/LSH pipeline)
  *  - SimHash: 64-bit sketch + banded hamming candidates
  *  - n-gram Jaccard: exact verify used standalone for small candidate sets
  *  - embedding cosine: see graft.sim.Similarity
  */
object Dedup {

  /** Exact duplicates by canonical fingerprint: one row per duplicate
    * GROUP (size > 1) with member ids. At scale the collect_list is bounded
    * by group size; use `exactDuplicateRows` for the row-level variant.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), sort_array(collect_list(col("id"))).as("ids"))
      .where(col("n") > 1)

  /** Rows that belong to some exact-duplicate group, keeping the smallest
    * id per group as the canonical survivor (`keep = id == min(ids)`).
    *
    * Shape: groupBy + join-back, NOT a window over fp. A window must
    * buffer and sort each fp group inside one WindowExec task, and exact
    * dedup is precisely where mega-groups live at crawl scale (the shared
    * fingerprint of empty/whitespace-only or boilerplate-identical pages
    * can be 10^8+ rows — one spill-bound or failing task). The aggregate
    * pre-collapses every group MAP-SIDE (partial count/min per task) so
    * the hot key reaches its reducer as a handful of partial rows, and the
    * join back streams the probe side — no per-group buffering anywhere,
    * and AQE can additionally split a skewed probe partition. The price is
    * recomputing the fingerprint on the probe side (the groupBy and join
    * lineages don't share an exchange): one cheap xxhash64 pass per row,
    * the right trade where the recomputed work is trivial — the OPPOSITE
    * call from [[lshCandidates]], whose checkpoint protects expensive
    * MinHash lanes.
    */
  def exactDuplicateRows(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
    val groups = withFp
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))
      .where(col("n") > 1)
    withFp.join(groups, Seq("fp"))
      .select(df.columns.map(col).toSeq ++
        Seq(col("fp"), col("n"), col("keep_id"),
          (col(idCol) === col("keep_id")).as("keep")): _*)
  }

  /** Shingle-set 64-bit hashes, materialized ONCE as a column. Crucial for
    * performance: the signature lanes below reference this attribute 64
    * times — were the shingle construction inlined into each lane
    * (CollapseProject does that to single-reference/cheap exprs), every
    * lane would re-split, re-slice and re-join the text: measured 48 ms/doc
    * instead of <1 ms.
    */
  def withShingleHashes(df: DataFrame, textCol: String, k: Int,
      out: String = "_shh"): DataFrame = {
    require(!df.columns.contains(out),
      s"withShingleHashes would clobber existing column '$out'")
    df.withColumn(out, graft.functions.SketchExpressions
      .wordShingleHashes(coalesce(col(textCol), lit("")), k))
  }

  /** MinHash signature as `numHashes` independent min-hashes of the word
    * k-shingle set — computed by the custom [[graft.functions.MinHashSignature]]
    * Catalyst expression (one tight loop per row; the equivalent
    * transform+array_min per lane is ~400x slower, see SketchExpressions).
    * Deterministic splitmix64 lane hashing, no RNG. Empty docs fall back to
    * a text-hash signature so they don't all collide.
    */
  def withMinHash(df: DataFrame, textCol: String,
      numHashes: Int = 64, k: Int = 3,
      out: String = "minhash"): DataFrame = {
    require(!df.columns.contains(out),
      s"withMinHash would clobber existing column '$out'")
    import graft.functions.SketchExpressions
    val fallback = transform(sequence(lit(0), lit(numHashes - 1)),
      j => xxhash64(coalesce(col(textCol), lit("")), j))
    withShingleHashes(df, textCol, k)
      .withColumn(out, coalesce(
        SketchExpressions.minhashSignature(col("_shh"), numHashes), fallback))
      .drop("_shh")
  }

  /** LSH candidate pairs: split the signature into `bands` bands of
    * `rows = numHashes / bands` hashes, hash each band, equi-join on
    * (band index, band hash). Docs sharing ≥1 band collide; the equi-join
    * keeps the shuffle hash-partitioned (no theta join).
    * Returns distinct (a_id, b_id) with a_id < b_id.
    *
    * `maxBucketSize`: buckets larger than this are skipped entirely — a
    * bucket of size s yields s²/2 candidate pairs, so one boilerplate
    * bucket (cookie banners, templated pages) can dominate the whole job
    * quadratically. Oversized buckets are the classic "stop-band" case;
    * the skip list itself is tiny and broadcast anti-joined.
    */
  /** (id, band, band-hash) rows for a signature frame — the ONE banding
    * implementation both the single-corpus and cross-corpus LSH paths use
    * (they must never diverge). xxhash64 hashes the long-array band slice
    * DIRECTLY (HashExpression recurses into ArrayType) — no per-row
    * per-band string materialization in the hottest dedup stage.
    */
  private def bandedBuckets(withSig: DataFrame, idCol: String, bands: Int,
      sigCol: String, idOut: String): DataFrame =
    withSig.select(
      col(idCol).as(idOut),
      explode(transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(slice(col(sigCol),
            b * (size(col(sigCol)) / bands) + 1,
            size(col(sigCol)) / bands)).as("bh"))))
        .as("bb"))
      .select(col(idOut), col("bb.band").as("band"), col("bb.bh").as("bh"))

  /** Exact shingle-set Jaccard from two shingle-hash array columns —
    * shared by the verify stages so single- and cross-corpus paths agree
    * bit-for-bit.
    */
  private def jaccardOf(aSh: Column, bSh: Column): Column = {
    val uni = size(array_union(aSh, bSh))
    when(uni === 0, 0.0)
      .otherwise(size(array_intersect(aSh, bSh)).cast("double") / uni)
  }

  def lshCandidates(withSig: DataFrame, idCol: String,
      bands: Int, out: String = "minhash",
      maxBucketSize: Int = 500): DataFrame =
    lshCandidatesWithDrops(withSig, idCol, bands, out, maxBucketSize)._1

  /** [[lshCandidates]] plus the stop-band drop REPORT: the oversized-
    * bucket prune is a deliberate recall loss, and at crawl scale a
    * silent one reads as "covered everything" when hot boilerplate
    * buckets were skipped wholesale — so the prune's size is DATA, the
    * same philosophy that makes violations rows. The report is one row
    * (dropped_buckets, dropped_occurrences, max_bucket_size): how many
    * (band, hash) buckets were skipped, how many doc-band occurrences
    * they held, and the largest bucket seen INCLUDING kept ones (so a
    * caller can assert max_bucket_size <= maxBucketSize to prove the cap
    * never engaged — the q_simhash_sharded precondition). Lazily derived
    * from the already-checkpointed banded frame: callers that ignore it
    * pay nothing; evaluating it costs one re-aggregation of the tiny
    * (id, band, bh) frame.
    */
  def lshCandidatesWithDrops(withSig: DataFrame, idCol: String,
      bands: Int, out: String = "minhash",
      maxBucketSize: Int = 500): (DataFrame, DataFrame) = {
    require(bands >= 1, s"bands must be >= 1: $bands")
    // the bucket frame feeds THREE consumers (oversized agg + both sides
    // of the self-join); without a materialization barrier each one
    // re-runs the whole signature lineage — shingling + numHashes lanes
    // per doc, the most expensive per-row work in the pipeline — three
    // times. An eager localCheckpoint of the tiny (id, band, bh) frame —
    // ~24 bytes × bands per doc, orders of magnitude smaller than the
    // corpus it replaces — runs that lineage once; MEMORY_AND_DISK blocks
    // spill rather than OOM and release when the frame is GC'd (same
    // discipline as connectedComponents). A repartition-for-exchange-
    // reuse variant was tried and REJECTED: the planner broadcasts one
    // self-join side and rebuilds the signature lineage under each
    // consumer anyway (4 source scans measured in the plan, no
    // ReusedExchange), so only an explicit materialization barrier
    // actually deduplicates the work.
    val exploded = bandedBuckets(withSig, idCol, bands, out, "id")
      .localCheckpoint(true)
    val sizes = exploded.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("_bs"))
    val oversized = sizes.where(col("_bs") > maxBucketSize)
      .select("band", "bh")
    val drops = bucketDropReport(sizes, maxBucketSize)
    val pruned = exploded.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
    val a = pruned.select(col("band"), col("bh"), col("id").as("a_id"))
    val b = pruned.select(col("band"), col("bh"), col("id").as("b_id"))
    (a.join(b, Seq("band", "bh"))
      .where(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct(), drops)
  }

  /** One-row stop-band report from a (bucket-keys..., _bs) size frame —
    * shared by every candidate path so the observable never diverges.
    */
  private def bucketDropReport(sizes: DataFrame,
      maxBucketSize: Int): DataFrame =
    sizes.agg(
      coalesce(sum(when(col("_bs") > maxBucketSize, 1L)), lit(0L))
        .as("dropped_buckets"),
      coalesce(sum(when(col("_bs") > maxBucketSize, col("_bs"))), lit(0L))
        .as("dropped_occurrences"),
      coalesce(max(col("_bs")), lit(0L)).as("max_bucket_size"))

  /** Exact Jaccard similarity of word k-shingle sets for given id pairs —
    * the verify stage after LSH candidate generation.
    *
    * `prunePairMembers` (default true) is part of the public contract
    * because it encodes an assumption about the SHAPE of `pairs`: the
    * default eagerly checkpoints the pair frame and semi-join-prunes the
    * shingling to pair members — correct and fast when pairs is a sparse
    * post-LSH candidate set, but a silent OOM trap if a caller passes a
    * dense O(n²) cross-join (the checkpoint would materialize the whole
    * cross product in executor storage before any Jaccard work). Callers
    * with dense pair frames MUST pass `prunePairMembers = false` (see
    * [[ngramJaccardAllPairs]]); see [[jaccardVerifyImpl]] for the full
    * trade.
    */
  def jaccardVerify(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, k: Int = 3,
      prunePairMembers: Boolean = true): DataFrame =
    jaccardVerifyImpl(df, pairs, idCol, textCol, k, prunePairMembers)

  /** `prunePairMembers = true` (the post-LSH contract): pairs feed two
    * consumers (the id set + the join chain) — checkpoint them once so
    * candidate generation never re-runs; then shingle ONLY docs that
    * actually appear in a pair (semi-join on the pair-id set). Post-LSH
    * the pair-id set is FAR smaller than the corpus at crawl-scale dup
    * rates, so the expensive shingling runs once over the small set
    * instead of twice over everything.
    *
    * `prunePairMembers = false` (the all-pairs/oracle path): when pairs
    * is a dense cross-join, checkpointing it would MATERIALIZE O(n^2)
    * rows in executor storage before any Jaccard work, and the semi-join
    * filters nothing — so the pairs stream lazily through one join and
    * only the O(n) shingle frame is checkpointed.
    */
  private def jaccardVerifyImpl(df: DataFrame, pairs: DataFrame,
      idCol: String, textCol: String, k: Int,
      prunePairMembers: Boolean): DataFrame = {
    // exact Jaccard over shingle HASH sets — identical values to the
    // string-set computation (64-bit collision odds are negligible), one
    // tight pass instead of rebuilding shingle strings per side.
    val p = if (prunePairMembers) pairs.localCheckpoint(true) else pairs
    val shBase = df.select(col(idCol).as("id"), col(textCol))
    val shIn =
      if (prunePairMembers) {
        val ids = p.select(col("a_id").as("id"))
          .unionByName(p.select(col("b_id").as("id"))).distinct()
        // BEFORE shingling, so the expression runs on pair members only,
        // never the full corpus
        shBase.join(ids, Seq("id"), "left_semi")
      } else shBase
    val sh = shIn
      .select(col("id"),
        graft.functions.SketchExpressions
          .wordShingleHashes(coalesce(col(textCol), lit("")), k).as("sh"))
      .localCheckpoint(true)
    p
      .join(sh.withColumnRenamed("id", "a_id").withColumnRenamed("sh", "a_sh"), Seq("a_id"))
      .join(sh.withColumnRenamed("id", "b_id").withColumnRenamed("sh", "b_sh"), Seq("b_id"))
      .withColumn("jaccard", jaccardOf(col("a_sh"), col("b_sh")))
      .select("a_id", "b_id", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline: signature → banded buckets →
    * candidates → exact-Jaccard verify → pairs with jaccard ≥ threshold.
    */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, numHashes: Int = 64, bands: Int = 16,
      k: Int = 3, maxBucketSize: Int = 500): DataFrame =
    minHashNearDupsWithDrops(df, idCol, textCol, threshold, numHashes,
      bands, k, maxBucketSize)._1

  /** [[minHashNearDups]] plus the one-row stop-band drop report (see
    * [[lshCandidatesWithDrops]]) — pairs are IDENTICAL to the plain form.
    */
  def minHashNearDupsWithDrops(df: DataFrame, idCol: String,
      textCol: String, threshold: Double = 0.7, numHashes: Int = 64,
      bands: Int = 16, k: Int = 3, maxBucketSize: Int = 500)
      : (DataFrame, DataFrame) = {
    // bands > numHashes truncates the band slice to length 0 — every doc
    // then shares one constant band hash and candidate recall silently
    // collapses to 0 once the stop-band cap prunes the mega-bucket
    require(bands >= 1 && bands <= numHashes,
      s"bands must be in [1, numHashes=$numHashes]: $bands")
    val withSig = withMinHash(df, textCol, numHashes, k)
    val (cands, drops) = lshCandidatesWithDrops(withSig, idCol, bands,
      maxBucketSize = maxBucketSize)
    (jaccardVerify(df, cands, idCol, textCol, k)
      .where(col("jaccard") >= threshold), drops)
  }

  /** Decontamination, pair form: near-duplicate (train, eval) pairs ACROSS
    * two corpora — the train-set-contamination check every eval pipeline
    * needs. Same Broder pipeline as [[minHashNearDups]] but the banded
    * equi-join runs train-buckets × eval-buckets (never train × train, so
    * a 10^12-row corpus against a 10^5-row eval set costs eval-sized
    * work per bucket), the stop-band cap applies to COMBINED bucket
    * occupancy, and the exact-Jaccard verify reads each side's own text.
    * Identical ids on both sides are legitimate hits (an eval doc copied
    * verbatim into training shares every band → recall exactly 1 on exact
    * copies).
    */
  def crossCorpusNearDups(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3,
      maxBucketSize: Int = 500): DataFrame =
    crossCorpusNearDupsWithDrops(train, eval, idCol, textCol, threshold,
      numHashes, bands, k, maxBucketSize)._1

  /** [[crossCorpusNearDups]] plus the one-row stop-band drop report over
    * the COMBINED train+eval bucket occupancy (see
    * [[lshCandidatesWithDrops]]) — pairs are IDENTICAL to the plain form.
    * A non-zero report here is the one a decontamination run must not
    * ignore: a dropped bucket can hide a real eval leak.
    */
  def crossCorpusNearDupsWithDrops(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3,
      maxBucketSize: Int = 500): (DataFrame, DataFrame) = {
    require(bands >= 1 && bands <= numHashes,
      s"bands must be in [1, numHashes=$numHashes]: $bands")
    // each banded frame feeds two consumers (the combined oversized agg
    // and the candidate join) — checkpoint the tiny (id, band, bh) frames
    // once so the shingling + signature lanes never re-run per consumer
    // (the same no-ReusedExchange shape lshCandidates documents)
    def banded(df: DataFrame, side: String): DataFrame =
      bandedBuckets(withMinHash(df, textCol, numHashes, k), idCol, bands,
        "minhash", s"${side}_id").localCheckpoint(true)
    val tb = banded(train, "t")
    val eb = banded(eval, "e")
    val sizes = tb.select(col("band"), col("bh"))
      .unionAll(eb.select(col("band"), col("bh")))
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("_bs"))
    val oversized = sizes.where(col("_bs") > maxBucketSize)
      .select("band", "bh")
    val drops = bucketDropReport(sizes, maxBucketSize)
    // cands feeds three consumers (two member semi-joins + the verify
    // join) — checkpoint; post-LSH it is tiny
    val cands = tb.join(broadcast(oversized), Seq("band", "bh"), "left_anti")
      .join(eb.join(broadcast(oversized), Seq("band", "bh"), "left_anti"),
        Seq("band", "bh"))
      .select(col("t_id"), col("e_id")).distinct()
      .localCheckpoint(true)

    // shingle ONLY candidate-pair members (the jaccardVerifyImpl
    // prunePairMembers discipline): post-LSH the member set is far
    // smaller than the 10^12-row train corpus, and the expensive shingle
    // expression must never run over rows no pair references
    def shingled(df: DataFrame, side: String): DataFrame =
      df.select(col(idCol).as(s"${side}_id"), col(textCol))
        .join(cands.select(col(s"${side}_id")).distinct(),
          Seq(s"${side}_id"), "left_semi")
        .select(col(s"${side}_id"),
          graft.functions.SketchExpressions
            .wordShingleHashes(coalesce(col(textCol), lit("")), k)
            .as(s"${side}_sh"))
    (cands
      .join(shingled(train, "t"), Seq("t_id"))
      .join(shingled(eval, "e"), Seq("e_id"))
      .withColumn("jaccard", jaccardOf(col("t_sh"), col("e_sh")))
      .where(col("jaccard") >= threshold)
      .select("t_id", "e_id", "jaccard"), drops)
  }

  /** Decontamination, filter form: the training corpus with every row that
    * near-duplicates ANY eval document removed (one anti-join on the
    * flagged train ids — the tiny side).
    */
  def decontaminate(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.7,
      numHashes: Int = 64, bands: Int = 16, k: Int = 3,
      maxBucketSize: Int = 500): DataFrame = {
    val contaminated = crossCorpusNearDups(train, eval, idCol, textCol,
      threshold, numHashes, bands, k, maxBucketSize)
      .select(col("t_id").as(idCol)).distinct()
    train.join(contaminated, Seq(idCol), "left_anti")
  }

  /** N-gram eval-contamination flags (the GPT-3 Appendix-C / PaLM
    * protocol): a training document is contaminated iff it shares at
    * least one EXACT n-token window with any eval document. This is the
    * membership complement of [[crossCorpusNearDups]]: doc-level MinHash
    * misses a single eval item quoted verbatim inside an otherwise-novel
    * train page; an exact 13-gram hit catches it regardless of the
    * surrounding document.
    *
    * Output: one row per train row — (t_id, n_windows, shared_windows,
    * contaminated). `shared_windows` counts train-side window OCCURRENCES
    * whose token sequence appears anywhere in eval (same coverage
    * semantics as [[repeatedSpans]]); null/short texts have 0 windows and
    * contaminated = false. Window equality is by 64-bit FNV hash — string
    * equality up to negligible collisions, the [[repeatedSpans]] contract.
    *
    * Scale shape: the eval window set is DISTINCT eval n-gram hashes —
    * eval-sized, tiny next to train, so AQE broadcasts the join build
    * side and the pass is ONE linear scan of exploded train windows
    * producing BOTH counts (a left join marks eval hits; `count(1)` vs
    * `count(marker)` in the same aggregate — `count` skips nulls); never
    * train × eval, never train². The only second train touch is an
    * ids-only column-pruned scan to restore zero-window docs (null/short
    * texts explode to no rows). PRECONDITIONS: train `idCol` unique and non-null (a
    * null id's counts never join back — silent false negative;
    * duplicate ids merge counts then fan out — the
    * [[commonLineRemoval]] contract), and train/eval DISJOINT (an eval
    * doc left in train shares all its own windows and reads as
    * contaminated by construction).
    */
  def ngramContamination(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    require(n >= 2, s"n must be >= 2: $n")
    import graft.functions.SketchExpressions.wordWindowHashes
    def wins(c: Column) = wordWindowHashes(coalesce(c, lit("")), n)
    val evalWins = eval
      .select(explode(wins(col(textCol))).as("h")).distinct()
      .withColumn("_hit", lit(1))
    val winCounts = train
      .select(col(idCol).as("t_id"), explode(wins(col(textCol))).as("h"))
      .join(evalWins, Seq("h"), "left")
      .groupBy(col("t_id"))
      .agg(count(lit(1)).as("_nw"), count(col("_hit")).as("_shared"))
    train.select(col(idCol).as("t_id"))
      .join(winCounts, Seq("t_id"), "left")
      .select(col("t_id"),
        coalesce(col("_nw"), lit(0L)).as("n_windows"),
        coalesce(col("_shared"), lit(0L)).as("shared_windows"))
      .withColumn("contaminated", col("shared_windows") > 0)
  }

  /** Exact n-gram Jaccard over ALL pairs (quadratic — small inputs or
    * post-bucket use only; the scale path is [[minHashNearDups]]).
    */
  def ngramJaccardAllPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 3): DataFrame = {
    val ids = df.select(col(idCol).as("a_id"))
      .crossJoin(df.select(col(idCol).as("b_id")))
      .where(col("a_id") < col("b_id"))
    // dense pairs: skip the post-LSH pair checkpoint + member semi-join
    // (it would pin the whole O(n^2) cross-join in executor storage and
    // the semi-join filters nothing when every doc appears in a pair)
    jaccardVerify(df, ids, idCol, textCol, k, prunePairMembers = false)
      .where(col("jaccard") >= threshold)
  }

  /** Substring-level duplication signal (the suffix-array dedup idea of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better", ACL 2022, re-expressed for Spark as sliding-window
    * fingerprints): per document, the count and fraction of k-token
    * windows whose EXACT token sequence also appears in at least
    * `minDocs` distinct documents (the doc itself included) — i.e. how
    * much of the doc is covered by cross-document repeated spans.
    * Whole-doc near-dup methods (MinHash/SimHash) miss a boilerplate
    * paragraph pasted into thousands of otherwise-distinct pages; this
    * catches exactly that, and `where(dup_fraction > t)` is the
    * corresponding corpus gate.
    *
    * Output: (id, n_windows, dup_windows, dup_fraction), one row per
    * input row. Docs with fewer than k tokens (or null/empty text) have
    * 0 windows and dup_fraction 0.0. Window equality is by 64-bit FNV
    * hash of the space-joined window — identical values to string
    * equality up to negligible 64-bit collisions (same contract as
    * [[jaccardVerify]]'s hashed shingle sets).
    *
    * Scale shape: shuffles only (id, 8-byte window hash) pairs; the
    * duplicated-hash set is derived by distinct + count per hash (linear
    * — a boilerplate span in 10^8 docs is one counter, never a pair
    * explosion), then flagged back with one hash-partitioned equi-join.
    * The exploded frame feeds two consumers (dup-set derivation + the
    * flagging join); window hashing is ONE cheap FNV pass per doc
    * (~µs/doc), so the consumers deliberately recompute it rather than
    * pin a tokens-sized frame in executor storage — the opposite trade
    * from [[lshCandidates]]'s checkpoint, where the recomputed work is
    * the expensive MinHash signature lanes and the checkpointed frame is
    * orders of magnitude smaller than its input.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    val ex = df.select(col(idCol).as("id"),
      explode(graft.functions.SketchExpressions
        .wordWindowHashes(coalesce(col(textCol), lit("")), k)).as("h"))
    val dupHashes = ex.select(col("id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("h"), lit(1L).as("_dup"))
    val perDoc = ex.join(dupHashes, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(coalesce(col("_dup"), lit(0L))).as("dup_windows"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"))
      .withColumn("dup_fraction",
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(col("dup_windows").cast("double") / col("n_windows")))
  }

  /** Shared per-document reassembly for the rewrite operators: sort
    * (_pos, _unit) within each _id and re-join by `sep`. Each task
    * buffers single documents, never groups of them — the reason both
    * callers demand a unique, non-null id.
    */
  private def reassemble(units: DataFrame, sep: String,
      outCol: String): DataFrame =
    units.groupBy(col("_id"))
      .agg(concat_ws(sep,
          transform(array_sort(collect_list(struct(col("_pos"), col("_unit")))),
            s => s.getField("_unit"))).as(outCol),
        count(lit(1)).as("_kept"))

  /** Substring-level span REMOVAL — the rewrite form of [[repeatedSpans]]
    * (Lee et al. 2022 actually delete the repeated text, they don't just
    * gate on it): every token covered by a k-token window whose exact
    * token sequence appears in at least `minDocs` distinct documents is
    * deleted — EXCEPT in the window's canonical owner (the minimum id
    * among the docs containing it), which keeps its copy. Ownership
    * PROTECTS: a position covered by both a window this doc owns and a
    * window owned elsewhere is KEPT, so the one surviving occurrence of
    * every duplicated span really survives intact even when duplicated
    * spans overlap with different owners (overlapping regions err toward
    * keeping — the conservative side for training data).
    *
    * Output: one row per input row — (input columns, `outCol`,
    * tokens_removed). Documents with nothing to remove pass through
    * BYTE-IDENTICAL (null text included); rewritten documents re-join
    * their kept tokens with single spaces (the whitespace normalization
    * the window hashing itself applies) in original order, and a
    * fully-removed doc yields "".
    *
    * Scale shape: the window pass moves (id, 4-byte pos, 8-byte FNV
    * hash); the duplicated-window set is distinct-per-doc + count/min
    * per hash (linear). Everything past it is proportional to the
    * DUPLICATED text, never the corpus: the position expansion is
    * k × duplicated-window occurrences, and only documents that
    * actually lose a token are tokenized and reassembled — clean docs
    * never enter the rebuild shuffle. `idCol` must be unique and
    * non-null (the [[commonLineRemoval]] contract).
    *
    * COLLISION CONTRACT (this is a rewrite, so hash equality deserves a
    * stated failure bound): window equality is 64-bit FNV — a collision
    * wrongly deletes AT MOST k tokens of one document (the colliding
    * window's coverage), at ~n²/2^64 odds over distinct duplicated
    * windows. Unlike [[commonLineRemoval]] there is no cheap string
    * carry (windows overlap ×k, so confirming strings re-materializes k
    * tokens per occurrence); audit-grade runs should gate on the
    * flagging form [[repeatedSpans]] instead, whose output is counts,
    * not rewrites.
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 20, minDocs: Int = 2,
      outCol: String = "clean_text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    require(k >= 1, s"k must be >= 1: $k")
    val reserved = Seq(outCol, "tokens_removed", "_id", "_pos", "_unit",
      "_h", "_i", "_nd", "_owner", "_kept", "_rm")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"removeRepeatedSpans reserves the '$c' column name"))
    import graft.functions.SketchExpressions.wordWindowHashes
    import graft.text.TextFunctions
    val wins = df.select(col(idCol).as("_id"),
      posexplode(wordWindowHashes(coalesce(col(textCol), lit("")), k))
        .as(Seq("_i", "_h")))
    val dup = wins.select(col("_id"), col("_h")).distinct()
      .groupBy(col("_h"))
      .agg(count(lit(1)).as("_nd"), min(col("_id")).as("_owner"))
      .where(col("_nd") >= minDocs)
      .select(col("_h"), col("_owner"))
    // duplicated-window occurrences only — small. ONE expansion carrying
    // an ownership flag, then ownership protection as a per-position
    // bool_or: a position is removed iff covered by some foreign window
    // and by NO owned window (one explode + one shuffle, no anti-join)
    val removed = wins.join(dup, Seq("_h"))
      .select(col("_id"), (col("_id") === col("_owner")).as("_owned"),
        explode(sequence(col("_i"), col("_i") + lit(k - 1))).as("_pos"))
      .groupBy(col("_id"), col("_pos"))
      .agg(max(col("_owned")).as("_owned"))
      .where(!col("_owned"))
      .select(col("_id"), col("_pos"))
    val removedCounts = removed.groupBy(col("_id"))
      .agg(count(lit(1)).as("_rm"))
    // ONLY touched docs are tokenized and reassembled
    val toks = df
      .join(removedCounts, col(idCol) === removedCounts("_id"), "left_semi")
      .select(col(idCol).as("_id"),
        posexplode(TextFunctions.tokens(col(textCol)))
          .as(Seq("_pos", "_unit")))
    val rebuilt = reassemble(
      toks.join(removed, Seq("_id", "_pos"), "left_anti"), " ", outCol)
    // a fully-removed doc has a removed count but no rebuilt row → ""
    val touched = removedCounts.join(rebuilt, Seq("_id"), "left")
      .select(col("_id"), coalesce(col(outCol), lit("")).as(outCol),
        col("_rm"))
    df.join(touched, col(idCol) === touched("_id"), "left")
      .select(df.columns.map(col) :+
        coalesce(col(outCol), col(textCol)).as(outCol) :+
        when(col(textCol).isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("_rm"), lit(0L))).as("tokens_removed"): _*)
  }

  /** Duplicated-LINE removal (the CCNet/RefinedWeb boilerplate pass):
    * every line whose space-trimmed text appears in at least `minDocs`
    * distinct documents is deleted from every document; everything else —
    * including blank lines — is kept in original order. This is the
    * sub-document complement of [[repeatedSpans]]: spans REPORT how much
    * of a doc is repeated, this REWRITES the doc with the repeated
    * navigation/footer/cookie-banner lines gone (the pass CCNet runs
    * before perplexity filtering and RefinedWeb before MinHash — at line
    * granularity whole-doc near-dup methods can't express).
    *
    * Output: one row per input row — (idCol, `outCol` rewritten text,
    * n_removed). Null text passes through as (null, null n_removed);
    * a doc whose every line was removed yields "". PRECONDITION: `idCol`
    * is unique and non-null (the reassembly groups by it — duplicate ids
    * would merge two documents' lines into one rewrite; run
    * [[exactDuplicateRows]] or assign a surrogate key first, the same
    * contract as [[graft.text.Sampling.deterministicShuffle]]).
    *
    * Scale shape: the only wide rows are (id, pos, line) during
    * reassembly — everything else moves (8-byte id, 8-byte line hash).
    * The duplicated-line set is distinct-per-doc + count per hash (linear;
    * a footer in 10^9 docs is one counter), flagged back with one
    * hash-equi anti-join whose build side is one row per duplicated line
    * (AQE broadcasts it when small; a hot line key skews only the probe
    * partition, which AQE skew-split handles). Line equality is by
    * xxhash64 of the trimmed line — string equality up to negligible
    * 64-bit collisions, the same contract as [[jaccardVerify]]'s hashed
    * shingles. Reassembly is one groupBy(id) with array_sort over
    * (pos, line) — each task buffers single documents, never groups of
    * them. The split+explode lineage feeds two consumers (common-line
    * derivation + anti-join probe) and is deliberately RECOMPUTED rather
    * than checkpointed: the recompute is one cheap regex split per doc,
    * while pinning would hold a corpus-sized (id, pos, line) frame in
    * executor storage — the [[repeatedSpans]] trade, the opposite of
    * [[minHashNearDups]]'s, where the recomputed work is expensive
    * signature lanes and the pinned frame is tiny.
    *
    * `sep` selects the dedup granularity: "\n" (default) is
    * RefinedWeb's line pass; "\n\n" is CCNet's PARAGRAPH pass (units
    * split on the LITERAL separator, matched on their trimmed text,
    * re-joined with the same separator). Any literal string works — it
    * is regex-quoted before splitting.
    *
    * `confirmStrings` addresses the one failure mode hash equality
    * leaves open: this is a REWRITE — a 2^-64 collision here deletes a
    * unique line, not just miscounts it. When true, the duplicated-line
    * build side carries one representative trimmed STRING per hash
    * (fetched by a second linear pass over the lines, semi-joined to the
    * tiny hash set so only boilerplate candidates materialize strings)
    * and the anti-join confirms string equality — a collision victim
    * fails the confirm and is KEPT (under-delete, the conservative side
    * for training data). Default false: the extra scan is real and the
    * collision odds (~n²/2^64 over DISTINCT boilerplate lines, not the
    * corpus) are negligible below ~10^8 distinct flagged lines.
    */
  def commonLineRemoval(df: DataFrame, idCol: String, textCol: String,
      minDocs: Int, outCol: String = "clean_text",
      sep: String = "\n", confirmStrings: Boolean = false): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2: $minDocs")
    require(sep.nonEmpty, "sep must be non-empty")
    val reserved = Seq(outCol, "n_removed", "_id", "_pos", "_unit",
      "_norm", "_k", "_nd", "_kept", "_s")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"commonLineRemoval reserves the '$c' column name"))
    // limit -1: trailing empty lines survive the split, so rebuilt line
    // counts and blank-line positions match the source text exactly
    val lines = df.select(col(idCol).as("_id"),
        posexplode(split(col(textCol),
          java.util.regex.Pattern.quote(sep), -1)).as(Seq("_pos", "_unit")))
      .withColumn("_norm", trim(col("_unit")))
    val common = lines.where(col("_norm") =!= "")
      .select(col("_id"), xxhash64(col("_norm")).as("_k")).distinct()
      .groupBy(col("_k")).agg(count(lit(1)).as("_nd"))
      .where(col("_nd") >= minDocs)
      .select(col("_k"))
    val kept = if (!confirmStrings)
      lines.join(common,
        xxhash64(col("_norm")) === common("_k") && col("_norm") =!= "",
        "left_anti")
    else {
      // one representative string per flagged hash (min = deterministic;
      // under collision the minority string fails the confirm and stays)
      val confirmed = lines.where(col("_norm") =!= "")
        .select(xxhash64(col("_norm")).as("_k"), col("_norm").as("_s"))
        .join(common, Seq("_k"), "left_semi")
        .groupBy(col("_k")).agg(min(col("_s")).as("_s"))
      lines.join(confirmed,
        xxhash64(col("_norm")) === confirmed("_k") &&
          col("_norm") === confirmed("_s") && col("_norm") =!= "",
        "left_anti")
    }
    val rebuilt = reassemble(kept, sep, outCol)
    df.join(rebuilt, col(idCol) === rebuilt("_id"), "left")
      .select(df.columns.map(col) :+
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col(outCol), lit(""))).as(outCol) :+
        when(col(textCol).isNull, lit(null).cast("long"))
          .otherwise(size(split(col(textCol),
            java.util.regex.Pattern.quote(sep), -1)).cast("long") -
            coalesce(col("_kept"), lit(0L))).as("n_removed"): _*)
  }

  // --- SimHash ----------------------------------------------------------

  /** 64-bit SimHash of the word k-shingle set: bit b is 1 iff the sum of
    * (2·bit_b(h(shingle)) − 1) over shingles is positive. Pure expressions:
    * one aggregate per bit over the shingle-hash array.
    */
  def withSimHash(df: DataFrame, textCol: String, k: Int = 3,
      out: String = "simhash"): DataFrame = {
    require(!df.columns.contains(out),
      s"withSimHash would clobber existing column '$out'")
    import graft.functions.SketchExpressions
    withShingleHashes(df, textCol, k)
      .withColumn(out, coalesce(
        SketchExpressions.simhash64(col("_shh")),
        xxhash64(coalesce(col(textCol), lit(""))))) // empty-doc fallback
      .drop("_shh")
  }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming. Candidate
    * generation by the pigeonhole principle: split 64 bits into
    * (maxHamming + 1) bands — any pair within distance shares ≥1 exact
    * band; equi-join on band value, then exact `bit_count(a^b)` verify.
    *
    * SCALE BOUND: band width is 64/(maxHamming+1) bits, so each band has
    * only 2^width distinct bucket values — corpus size beyond
    * maxBucketSize × 2^width rows pushes average buckets over the
    * stop-band cap and recall degrades (the cap drops them rather than
    * going quadratic). maxHamming = 7 (8-bit bands, 256 buckets/band) is a
    * small-corpus/oracle configuration; at corpus scale use the default
    * maxHamming ≤ 3 (16-bit bands, 65 536 buckets/band — Manku et al.'s
    * recommended distance for 64-bit fingerprints, WWW'07), which holds
    * ~10^7-10^8 docs per band before caps engage; past that, shard the
    * corpus (e.g. by `Sampling.shardColumn`) and dedup within shards after
    * an exact-dup pass.
    */
  def simHashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, k: Int = 3, maxBucketSize: Int = 500): DataFrame =
    simHashNearDupsImpl(df, idCol, textCol, maxHamming, k, maxBucketSize,
      shardKey = None)._1

  /** [[simHashNearDups]] plus the one-row stop-band drop report (see
    * [[lshCandidatesWithDrops]]) — pairs are IDENTICAL to the plain form.
    */
  def simHashNearDupsWithDrops(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, k: Int = 3,
      maxBucketSize: Int = 500): (DataFrame, DataFrame) =
    simHashNearDupsImpl(df, idCol, textCol, maxHamming, k, maxBucketSize,
      shardKey = None)

  /** [[simHashNearDups]] past the banding capacity bound: the corpus is
    * hash-sharded by id ([[graft.text.Sampling.shardColumn]] — stable,
    * partition-invariant) and the shard id JOINS THE BAND KEY, so
    * candidates never cross shards and each band's 2^width bucket space
    * is multiplied by `nShards` (the capacity recipe the scale-bound note
    * above prescribes). Still ONE signature pass and one candidate join —
    * not nShards separate jobs.
    *
    * DOCUMENTED TRADE: a near-dup pair whose members hash to different
    * shards is missed by construction — for random id pairs that is
    * (nShards-1)/nShards of residual near-dup mass, so this is NOT a
    * recall-preserving transform. Use it as the second stage of the
    * standard recipe: run [[exactDuplicates]] first (verbatim copies
    * collapse globally, shard-independent), shard only the residual
    * near-dup pass where each miss costs one extra near-copy, not a
    * correctness failure. DedupSpec pins both halves: within-shard pairs
    * match the unsharded result exactly; cross-shard pairs are exactly
    * the misses.
    */
  def simHashNearDupsSharded(df: DataFrame, idCol: String, textCol: String,
      nShards: Int, maxHamming: Int = 3, k: Int = 3,
      maxBucketSize: Int = 500): DataFrame =
    simHashNearDupsShardedWithDrops(df, idCol, textCol, nShards,
      maxHamming, k, maxBucketSize)._1

  /** [[simHashNearDupsSharded]] plus the one-row stop-band drop report
    * (see [[lshCandidatesWithDrops]]; bucket keys here include the shard
    * id) — pairs are IDENTICAL to the plain form.
    */
  def simHashNearDupsShardedWithDrops(df: DataFrame, idCol: String,
      textCol: String, nShards: Int, maxHamming: Int = 3, k: Int = 3,
      maxBucketSize: Int = 500): (DataFrame, DataFrame) = {
    require(nShards >= 1, s"nShards must be >= 1: $nShards")
    require(!df.columns.contains("_shard"),
      "simHashNearDupsSharded reserves the _shard column name")
    simHashNearDupsImpl(
      df.withColumn("_shard",
        graft.text.Sampling.shardColumn(col(idCol), nShards)),
      idCol, textCol, maxHamming, k, maxBucketSize, shardKey = Some("_shard"))
  }

  private def simHashNearDupsImpl(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int, k: Int, maxBucketSize: Int,
      shardKey: Option[String]): (DataFrame, DataFrame) = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63]: $maxHamming")
    val bandsN = maxHamming + 1
    val width = 64 / bandsN
    // JVM shifts are mod 64: at maxHamming = 0 (width 64) the naive
    // (1L << 64) - 1 mask is ZERO, which would collapse every doc into
    // one bucket — exact-dup recall silently 0 past the stop-band cap
    val mask = if (width >= 64) -1L else (1L << width) - 1
    val withSig = withSimHash(df, textCol, k)
      .select(col(idCol).as("id") +: col("simhash") +:
        shardKey.toSeq.map(col): _*)
    // same three-consumer shape as lshCandidates (oversized agg + both
    // self-join sides): checkpoint the small banded frame once so the
    // shingling + SimHash lineage never re-runs per consumer
    val keys = shardKey.toSeq ++ Seq("band", "bv")
    val banded = withSig.select(col("id") +: col("simhash") +:
        shardKey.toSeq.map(col) :+
        explode(transform(sequence(lit(0), lit(bandsN - 1)), b =>
          struct(b.as("band"),
            call_function("shiftright", col("simhash"), b * width)
              .bitwiseAND(lit(mask)).as("bv")))).as("bb"): _*)
      .select(col("id") +: col("simhash") +: shardKey.toSeq.map(col) :+
        col("bb.band").as("band") :+ col("bb.bv").as("bv"): _*)
      .localCheckpoint(true)
    val sizes = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bs"))
    val oversized = sizes.where(col("_bs") > maxBucketSize)
      .select(keys.map(col): _*)
    val drops = bucketDropReport(sizes, maxBucketSize)
    val pruned = banded.join(broadcast(oversized), keys, "left_anti")
    val a = pruned.select(keys.map(col) :+ col("id").as("a_id") :+
      col("simhash").as("a_sig"): _*)
    val b = pruned.select(keys.map(col) :+ col("id").as("b_id") :+
      col("simhash").as("b_sig"): _*)
    // hamming filter BEFORE the distinct: a pair colliding in several
    // bands computes the same hamming in each copy, so filter-then-
    // distinct ≡ distinct-then-filter — and the dedup exchange carries
    // only pairs within distance instead of every band collision
    // (guide §2.3: shuffle fewer bytes)
    (a.join(b, keys)
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct(), drops)
  }

  /** EXACT connected components over an undirected near-dup pair list —
    * the alternative to greedy b-side dropping when chain-shaped clusters
    * must keep exactly one representative (greedy keeps every LOCAL
    * minimum — a chain like 2-3-1 keeps both 1 and 2; components keep
    * exactly the component minimum). Alternating LARGE-STAR / SMALL-STAR
    * rounds (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC 2014):
    *
    *  - large-star: every node connects its strictly-LARGER neighbors to
    *    the minimum of its closed neighborhood;
    *  - small-star: every node connects its smaller-or-equal neighbors
    *    (plus itself) to that minimum.
    *
    * Both are one equi-join + one aggregation over (node, neighbor-min) —
    * the same shuffle shape as naive min-label propagation — but distances
    * to the component minimum roughly HALVE per round, so convergence is
    * O(log n) rounds even on adversarial chain/path clusters where
    * propagation pays O(cluster diameter) (template-boilerplate families
    * at crawl scale form exactly those chains; DedupSpec pins a
    * 10^4-node path converging in < 20 rounds where propagation needs
    * 10^4). Each round's edge set is `localCheckpoint`ed so lineage stays
    * flat (the same discipline as the IVF Lloyd loop), superseded rounds
    * are unpersisted, and convergence is checked EXACTLY (set equality of
    * canonical (hi, lo) edge sets — no hash-checksum false positives):
    * at the fixed point the edges form stars centered at component minima.
    * Non-convergence within `maxIters` fails loudly — never a
    * half-propagated labeling.
    *
    * Returns (id, component) for every node appearing in `pairs`, where
    * component = the minimum id reachable — deterministic and
    * partitioning-invariant. The returned frame is an EAGER
    * localCheckpoint: its storage blocks are released when the frame is
    * garbage-collected on the driver (Spark's ContextCleaner) — a
    * long-lived session running many components passes should not retain
    * references to consumed results.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 20): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIters)._1

  /** [[connectedComponents]] plus the number of large-star/small-star
    * rounds it ran (including the final no-change verification round) —
    * the scale-facing observable BENCH.md reports.
    */
  def connectedComponentsWithRounds(pairs: DataFrame, aCol: String,
      bCol: String, maxIters: Int = 20): (DataFrame, Int) = {
    // materialize ONE tiny (a, b) projection of pairs first: callers pass
    // the whole LSH pipeline as `pairs`, and nodes (two union branches) +
    // edges would otherwise re-run that upstream lineage three times
    val base = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
      .localCheckpoint(true)
    // every node appearing in pairs, INCLUDING self-loop-only nodes that
    // the canonical edge set drops — they label as their own component
    val nodes = base.select(col("a").as("id"))
      .unionByName(base.select(col("b").as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical orientation (hi, lo), self-loops dropped: both star
    // operations emit (larger, smaller) edges, so the set stays canonical
    // across rounds and set equality is directly comparable
    var edges = base
      .select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    base.unpersist() // nodes and edges are materialized; the projection can go
    // track the edge-set size across rounds: each round already counts its
    // own output for the convergence compare, so counting the PREVIOUS
    // round again (edges.count()) would re-run a job per round for a
    // number the loop just computed — at bench scale the components pass
    // is sequential-job-bound (OPTIMIZATION_r08 §7: 64 jobs on q_dedup_keeper),
    // and at cluster scale every saved job is a saved scheduling barrier
    var edgeCount = edges.count()
    var converged = edgeCount == 0
    var rounds = 0
    while (!converged && rounds < maxIters) {
      // LARGE-STAR: undirected view; each node u computes the minimum m of
      // its closed neighborhood and re-points every neighbor v > u at m.
      val und = edges.unionByName(
        edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = und.groupBy(col("u")).agg(min(col("v")).as("nm"))
        .select(col("u"), least(col("u"), col("nm")).as("m"))
      // ls feeds TWO consumers (the ssMin aggregation and the ss join);
      // without a barrier each would recompute the whole large-star
      // subplan — union + groupBy + join + distinct over the round's edge
      // set, i.e. the round's entire cost — twice (same planner behavior
      // the lshCandidates checkpoint note records: self-join shapes
      // rebuild the lineage, no ReusedExchange). Checkpoint once, release
      // as soon as ss is materialized below.
      val ls = und.join(lsMin, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // SMALL-STAR: edges are (u > v)-oriented, so each node u's stored
      // neighbors are exactly its smaller ones; re-point them (and u
      // itself) at their minimum m. Emitted edges keep (n > m) orientation
      // by construction.
      val ssMin = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, Seq("u"))
        .select(col("v").as("n"), col("m"))
        .unionByName(ssMin.select(col("u").as("n"), col("m")))
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      ls.unpersist() // ss is materialized; the intermediate can go
      // EXACT convergence: both sides are canonical distinct sets, so
      // equality == same size + empty one-sided difference
      val ssCount = ss.count()
      converged = ssCount == edgeCount && ss.exceptAll(edges).isEmpty
      edgeCount = ssCount
      // release the superseded round's blocks — otherwise the loop pins
      // rounds x |edges| of storage for the session's lifetime
      edges.unpersist()
      edges = ss
      rounds += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIters rounds")
    // The labeling below assumes the fixed point is a STAR FOREST (every u
    // points directly at its component minimum). Kiveris et al. argue the
    // per-operation fixed points are stars; the loop's convergence check is
    // the slightly weaker composed criterion (large-star ∘ small-star left
    // the edge set unchanged), so assert star shape explicitly: no id may
    // appear as both an edge source (u) and an edge target (v) — a chain
    // u→v→w would otherwise mislabel u SILENTLY. One cheap self-join over
    // the tiny checkpointed final edges; loud failure beats wrong labels.
    require(edges.select(col("v"))
        .join(edges.select(col("u").as("v")), Seq("v"), "left_semi")
        .isEmpty,
      "connectedComponents fixed point is not a star forest — labels would be wrong")
    // fixed point = star forest: every non-minimum node appears exactly
    // once as u pointing at its component minimum; minima and
    // self-loop-only nodes never appear as u and root themselves
    val roots = nodes.join(edges.select(col("u").as("id")).distinct(),
        Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(roots)
      .localCheckpoint(true)
    edges.unpersist()
    nodes.unpersist()
    (labels, rounds)
  }

  /** Quality-aware representative selection per duplicate cluster — the
    * FineWeb-style refinement of min-id keeping: given the corpus and a
    * component labeling (e.g. [[connectedComponents]] over the near-dup
    * pair graph), keep the HIGHEST-`score` member of every cluster
    * (ties broken by smallest id, so the kept set is deterministic and
    * partitioning-invariant). Docs absent from `components` are
    * singletons and always kept (their component is their own id).
    *
    * Returns every input row plus (comp, score, keep) — the flag form,
    * like [[exactDuplicateRows]]: violations/drops are data, the caller
    * filters `keep` when it wants the pruned corpus and keeps the full
    * frame when it wants the audit.
    *
    * Shape: groupBy + join-back, NOT a window over comp, for the same
    * reason as [[exactDuplicateRows]] — duplicate CLUSTERS are exactly
    * where mega-groups live at crawl scale (a boilerplate cluster can be
    * 10^8 docs), and a window must buffer-and-sort each cluster inside
    * one WindowExec task. The argmax aggregate `max(struct(score, -id))`
    * pre-collapses every cluster map-side (one partial row per task per
    * hot key), and the join back streams the probe side. The negated-id
    * field makes the struct ordering total, so ties cost nothing and the
    * winner is unique.
    */
  def bestKeeperPerComponent(docs: DataFrame, components: DataFrame,
      idCol: String, score: Column): DataFrame = {
    require(!docs.columns.exists(Set("comp", "score", "keep", "_m", "_keep_id")),
      "bestKeeperPerComponent reserves the comp/score/keep/_m/_keep_id column names")
    val labeled = docs
      .withColumn("score", score)
      .join(components.select(col("id").as(idCol), col("comp")),
        Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
    val best = labeled.groupBy(col("comp"))
      .agg(max(struct(col("score").as("s"),
        (-col(idCol)).as("nid"))).as("_m"))
      .select(col("comp"), (-col("_m.nid")).as("_keep_id"))
    labeled.join(best, Seq("comp"))
      .select(docs.columns.map(col).toSeq ++ Seq(col("comp"), col("score"),
        (col(idCol) === col("_keep_id")).as("keep")): _*)
  }
}
