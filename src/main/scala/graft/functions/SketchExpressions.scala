package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Custom Catalyst expressions for the near-dup sketches — the ONE place in
  * this engine where composing built-ins genuinely can't express the
  * computation efficiently (SURVEY.md §4 preference order, option (b)).
  *
  * Why not built-ins: a MinHash signature needs `numHashes` min-reductions
  * over the shingle-hash array. As `transform`+`array_min` higher-order
  * functions, each lane is a CodegenFallback lambda evaluated interpretively
  * per element — measured 221 s for 5000 docs × 64 lanes. These expressions
  * do the same math in one tight JVM loop per row: ~0.5 s for the same
  * input (~400x). Same for the 64 bit-counters of SimHash.
  *
  * Hash mixing is splitmix64 (public-domain constant set), deterministic
  * and version-independent — NOT tied to Spark's internal xxhash64.
  */
object SketchHashing {
  private final val Golden = 0x9E3779B97F4A7C15L

  /** splitmix64 finalizer — statistically strong 64-bit mix. */
  @inline def mix(z0: Long): Long = {
    var z = z0 + Golden
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  @inline def laneHash(h: Long, lane: Int): Long = mix(h ^ (Golden * (lane + 1)))
}

/** array<long> shingle hashes → array<long> of `numHashes` min-hash lanes.
  * NULL on an empty input array (caller coalesces to a document-level
  * fallback so empty docs don't all collide).
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < numHashes) {
        val m = SketchHashing.laneHash(h, j)
        if (m < out(j)) out(j) = m
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "minhash_signature"
}

/** array<long> shingle hashes → 64-bit SimHash. NULL on empty input. */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var packed = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) packed |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(packed)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** string → array<long> of DISTINCT word k-shingle hashes, in one pass.
  * Semantics match graft.text.Shingles.wordShingles exactly: whitespace
  * tokens; fewer than k tokens → the whole doc as one shingle; empty/null →
  * empty array. Shingle hash = FNV-1a 64 over the space-joined k-gram.
  * Replaces a transform+slice+array_join HOF chain that evaluated
  * interpretively at ~1.2 ms/doc.
  */
case class WordShingleHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def fnv1a(s: String, from: Int, until: Int, cont: Long): Long = {
    var h = cont
    var i = from
    while (i < until) {
      h ^= s.charAt(i)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }
  private val FnvInit = 0xCBF29CE484222325L

  override def nullSafeEval(input: Any): Any = {
    // trim ONLY Java-\s whitespace (the columnar TextFunctions.tokens
    // contract) — String.trim strips every char <= U+0020, so a doc
    // leading with e.g. U+0001 would tokenize differently here than in
    // wordShingles and the DuckDB oracles
    val text = SketchExpressions.trimWs(input.toString)
    if (text.isEmpty) return new GenericArrayData(Array.empty[Long])
    val toks = text.split("\\s+")
    val out = new java.util.LinkedHashSet[java.lang.Long]()
    if (toks.length < k) {
      var h = FnvInit
      var i = 0
      while (i < toks.length) {
        if (i > 0) { h ^= ' '; h *= 0x100000001B3L }
        h = fnv1a(toks(i), 0, toks(i).length, h)
        i += 1
      }
      out.add(h)
    } else {
      var start = 0
      while (start + k <= toks.length) {
        var h = FnvInit
        var j = 0
        while (j < k) {
          if (j > 0) { h ^= ' '; h *= 0x100000001B3L }
          val t = toks(start + j)
          h = fnv1a(t, 0, t.length, h)
          j += 1
        }
        out.add(h)
        start += 1
      }
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "word_shingle_hashes"
}

/** string → array<long> of ALL word k-token window hashes IN POSITION
  * ORDER, duplicates kept — the positional sibling of
  * [[WordShingleHashes]] for substring-level dedup ([[graft.dedup.Dedup
  * .repeatedSpans]]): coverage accounting needs one entry per window
  * position, not the distinct set. Tokenization is identical (`\s`-only
  * trim + `\s+` split) and the hash is the same FNV-1a 64 over the
  * space-joined
  * window, so values are directly comparable with shingle hashes at the
  * same k. Deliberate difference: documents with fewer than k tokens
  * yield an EMPTY array (no whole-doc fallback) — a repeated-span signal
  * is only defined over full-length windows, and short docs must score
  * 0 coverage rather than collide on their whole text.
  */
case class WordWindowHashes(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {
  require(k >= 1, s"k must be positive: $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def fnv1a(s: String, cont: Long): Long = {
    var h = cont
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i)
      h *= 0x100000001B3L
      i += 1
    }
    h
  }
  private val FnvInit = 0xCBF29CE484222325L

  override def nullSafeEval(input: Any): Any = {
    val text = SketchExpressions.trimWs(input.toString)
    if (text.isEmpty) return new GenericArrayData(Array.empty[Long])
    val toks = text.split("\\s+")
    if (toks.length < k) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](toks.length - k + 1)
    var start = 0
    while (start + k <= toks.length) {
      var h = FnvInit
      var j = 0
      while (j < k) {
        if (j > 0) { h ^= ' '; h *= 0x100000001B3L }
        h = fnv1a(toks(start + j), h)
        j += 1
      }
      out(start) = h
      start += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "word_window_hashes"
}

/** string → duplicate word-n-gram fraction in one tight loop (the C4/
  * Gopher repetition signal, `TextFunctions.duplicateNgramFraction`'s hot
  * path). The higher-order-function formulation costs ~1.2 ms/row on
  * ~120-token docs (interpreted per array element); this loop is the same
  * computation at ~2 µs/row warm (~600x; first run ~11 µs with plan
  * overhead) — the difference between a feasible and an
  * infeasible per-doc quality pass at 10^12 docs (BENCH.md
  * "Repetition-signal hot loop", round 4, records the measurement).
  *
  * Exact-parity contract with the columnar form (pinned in
  * TextFunctionsSpec): tokens are maximal runs of non-`\s` chars (Java
  * regex `\s` = [ \t\n\x0B\f\r] — NOT Character.isWhitespace, NOT
  * String.trim's ≤U+0020 set), n-grams are space-joined token windows,
  * distinctness is EXACT string equality (a HashSet of the joined grams,
  * not hashes — no collision caveat), and the result is
  * (grams − distinct) / grams, 0.0 for NULL/short/whitespace-only docs.
  */
case class DuplicateNgramFraction(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n must be positive: $n")

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = false

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return 0.0
    val s = v.toString
    val len = s.length
    // token boundaries: starts(i) inclusive, ends(i) exclusive
    var cap = 16
    var starts = new Array[Int](cap)
    var ends = new Array[Int](cap)
    var nTok = 0
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      if (i < len) {
        val st = i
        while (i < len && !isWs(s.charAt(i))) i += 1
        if (nTok == cap) {
          cap *= 2
          starts = java.util.Arrays.copyOf(starts, cap)
          ends = java.util.Arrays.copyOf(ends, cap)
        }
        starts(nTok) = st
        ends(nTok) = i
        nTok += 1
      }
    }
    val nGrams = nTok - n + 1
    if (nGrams <= 0) return 0.0
    val seen = new java.util.HashSet[String](nGrams * 2)
    var dup = 0
    val sb = new java.lang.StringBuilder(64)
    var g = 0
    while (g < nGrams) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(s, starts(g + j), ends(g + j))
        j += 1
      }
      if (!seen.add(sb.toString)) dup += 1
      g += 1
    }
    dup.toDouble / nGrams
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "dup_ngram_fraction"
}

/** array<double> vector → SRP (signed-random-projection) bucket id: `planes`
  * sign bits of deterministic pseudo-random hyperplane projections, packed
  * into a long. The hyperplane component for (plane p, dim i) is ±1 from
  * splitmix64(seed, p, i) — no RNG, identical across runs and parallelism.
  */
case class SrpBucket(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    // null elements → NULL bucket (quarantine), the same contract as
    // DotProduct/NearestCells — getDouble on a null element would NPE on
    // GenericArrayData and silently read garbage on UnsafeArrayData,
    // confidently bucketing a vector the exact-cosine verify rejects
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) return null
      j += 1
    }
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var i = 0
      while (i < n) {
        val sign = if ((SketchHashing.mix(seed ^ (p.toLong << 32) ^ i) & 1L) == 1L) 1.0 else -1.0
        s += arr.getDouble(i) * sign
        i += 1
      }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(bucket)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "srp_bucket"
}

/** dot(a, b) over two array<double> vectors in one tight loop, summing
  * left-to-right — BIT-IDENTICAL to the sequential
  * `aggregate(zip_with(a,b,*), 0d, +)` fold it replaces (the DuckDB
  * oracles compare raw doubles) INCLUDING its null semantics: zip_with
  * null-pads length-mismatched arrays and propagates null elements, so the
  * fold returns NULL there — and so does this expression. Unlike its four
  * siblings it implements `doGenCode` (same loop emitted into the stage),
  * because it sits inside all-pairs join conditions where a CodegenFallback
  * island would break whole-stage fusion of the verify filter.
  */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "dot_product"
}

/** array<double> vector → the `nProbe` nearest IVF cells by cosine (ties →
  * lowest cell id), the coarse-quantizer assignment of an inverted-file
  * index. The trained centroid matrix rides along as ONE constructor
  * value shipped in the task closure (the classic broadcast-the-model
  * shape) — NOT as per-centroid expression subtrees: the previous
  * formulation built `struct(-cosine(vec, centroidLit), cell)` per
  * centroid plus a per-row array_sort, so the PLAN grew with nLists and
  * codegen of k subtrees dominated at the 10^4-10^6 lists a real IVF
  * wants. Here plan size is O(1) in nLists and per-row work is one
  * k×dim loop + an O(k·nProbe) selection.
  *
  * BOUND: the matrix rides in the serialized task closure — k×dim×8 bytes
  * per task binary (e.g. 10^4 lists × 256 dims ≈ 20 MB: fine; 10^6 lists
  * ≈ 2 GB: not). Past ~10^5 lists use the HIERARCHICAL path
  * ([[graft.sim.Similarity.ivfTopKHierarchical]]): coarse NearestCells
  * over √k super-cells, then per-cell fine matrices joined as DATA and
  * scored by [[NearestCellsDyn]] — nothing larger than one cell's matrix
  * travels anywhere.
  *
  * Scoring is bit-compatible with the engine's cosine (same left-to-right
  * dot fold, same zero-denominator → 0 rule), so assignments are identical
  * to the expression-tree path it replaced — pinned by SimilaritySpec's
  * probe-all ≡ brute-force test.
  */
case class NearestCells(child: Expression, centroids: Array[Array[Double]],
    nProbe: Int) extends UnaryExpression with CodegenFallback {

  // the dim guard in eval checks centroids(0) only; a ragged matrix would
  // index out of bounds inside the dot loop — reject it at construction
  require(centroids.forall(_.length == centroids.headOption
      .map(_.length).getOrElse(0)),
    "NearestCells requires equal-dimension centroids")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true

  @transient private lazy val centroidNorms: Array[Double] =
    centroids.map { c =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      math.sqrt(s)
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = centroids.length
    // malformed embeddings (dim mismatch vs the trained centroids, or null
    // elements) → NULL, mirroring DotProduct/zip_with semantics: such a row
    // must not be confidently bucketed when the exact-cosine verify on the
    // same row would return NULL (and the brute oracle would reject it)
    if (k == 0 || n != centroids(0).length) return null
    val v = new Array[Double](n)
    var vv = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      v(i) = arr.getDouble(i); vv += v(i) * v(i); i += 1
    }
    val nv = math.sqrt(vv)
    // negated cosine per cell (so "smaller = nearer", matching the sort
    // order of the struct formulation this replaces)
    val neg = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = centroids(c)
      var d = 0.0
      var j = 0
      while (j < n) { d += v(j) * cent(j); j += 1 }
      val den = nv * centroidNorms(c)
      neg(c) = if (den == 0) -0.0 else -(d / den)
      c += 1
    }
    new GenericArrayData(NearestSelection.pick(neg, nProbe))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "nearest_cells"
  // keep plans readable + O(1): never print the matrix
  override def toString: String =
    s"nearest_cells($child, k=${centroids.length}, nProbe=$nProbe)"
}

/** [[NearestCells]] with the centroid matrix as per-ROW data
  * (`array<array<double>>`) instead of a constructor constant — the
  * building block of HIERARCHICAL IVF assignment: past ~10^5 lists the
  * full centroid set fits neither a plan nor a task closure, so fine
  * centroids live in a TABLE keyed by coarse cell, rows join their own
  * cell's (small) fine matrix, and this expression scores against the
  * joined column. Same semantics as NearestCells otherwise: negated-cosine
  * ordering, lowest-cell-id tie-break, NULL for malformed vectors, and
  * additionally NULL when the matrix is null/empty/ragged/dim-mismatched
  * (per-row data can't be constructor-validated).
  */
case class NearestCellsDyn(left: Expression, right: Expression,
    nProbe: Int) extends BinaryExpression with CodegenFallback {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(vecAny: Any, matAny: Any): Any = {
    val arr = vecAny.asInstanceOf[ArrayData]
    val mat = matAny.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val k = mat.numElements()
    if (k == 0) return null
    val v = new Array[Double](n)
    var vv = 0.0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      v(i) = arr.getDouble(i); vv += v(i) * v(i); i += 1
    }
    val nv = math.sqrt(vv)
    val neg = new Array[Double](k)
    var c = 0
    while (c < k) {
      if (mat.isNullAt(c)) return null
      val cent = mat.getArray(c)
      if (cent.numElements() != n) return null // ragged / dim mismatch
      var d = 0.0
      var cc2 = 0.0
      var j = 0
      while (j < n) {
        if (cent.isNullAt(j)) return null
        val x = cent.getDouble(j)
        d += v(j) * x; cc2 += x * x; j += 1
      }
      val den = nv * math.sqrt(cc2)
      neg(c) = if (den == 0) -0.0 else -(d / den)
      c += 1
    }
    new GenericArrayData(NearestSelection.pick(neg, nProbe))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "nearest_cells_dyn"
}

/** Shared O(k·nProbe) selection for the two NearestCells variants — the
  * tie-break (ascending scan keeps the LOWEST cell id on equal scores,
  * == lexicographic (negscore, cell) array_sort) must stay bit-identical
  * between them for the hierarchical-IVF oracle argument to hold, so it
  * lives in exactly one place.
  */
private[functions] object NearestSelection {
  def pick(neg: Array[Double], nProbe: Int): Array[Int] = {
    val k = neg.length
    val p = math.min(nProbe, k)
    val chosen = new Array[Int](p)
    val used = new Array[Boolean](k)
    var sel = 0
    while (sel < p) {
      var best = -1
      var bestScore = Double.PositiveInfinity
      var cc = 0
      while (cc < k) {
        if (!used(cc) && (best < 0 || neg(cc) < bestScore)) {
          best = cc; bestScore = neg(cc)
        }
        cc += 1
      }
      chosen(sel) = best
      used(best) = true
      sel += 1
    }
    chosen
  }
}

object SketchExpressions {
  /** Strip leading/trailing Java-`\s` whitespace ONLY — the tokenization
    * contract shared with `TextFunctions.tokens` (regexp_replace
    * `^\s+|\s+$`) and the DuckDB oracles' explicit `[ \t\n\v\f\r]` trim.
    * `String.trim` is NOT equivalent: it strips every char <= U+0020
    * (U+0001, U+0000, ...), which the `\s`-based forms keep as token
    * bytes — a leading control char would hash differently across the
    * engine's own forms and against the oracle.
    */
  private[functions] def trimWs(s: String): String = {
    @inline def ws(c: Char) =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    var from = 0
    var until = s.length
    while (from < until && ws(s.charAt(from))) from += 1
    while (until > from && ws(s.charAt(until - 1))) until -= 1
    if (from == 0 && until == s.length) s else s.substring(from, until)
  }

  def minhashSignature(shingleHashes: Column, numHashes: Int): Column =
    GraftColumnShim.column(
      MinHashSignature(GraftColumnShim.expression(shingleHashes), numHashes))

  def simhash64(shingleHashes: Column): Column =
    GraftColumnShim.column(
      SimHash64(GraftColumnShim.expression(shingleHashes)))

  def srpBucket(vec: Column, planes: Int, seed: Long): Column =
    GraftColumnShim.column(
      SrpBucket(GraftColumnShim.expression(vec), planes, seed))

  def wordShingleHashes(text: Column, k: Int): Column =
    GraftColumnShim.column(
      WordShingleHashes(GraftColumnShim.expression(text), k))

  def wordWindowHashes(text: Column, k: Int): Column =
    GraftColumnShim.column(
      WordWindowHashes(GraftColumnShim.expression(text), k))

  def dotProduct(a: Column, b: Column): Column =
    GraftColumnShim.column(DotProduct(
      GraftColumnShim.expression(a), GraftColumnShim.expression(b)))

  def nearestCells(vec: Column, centroids: Array[Array[Double]],
      nProbe: Int): Column =
    GraftColumnShim.column(NearestCells(
      GraftColumnShim.expression(vec), centroids, nProbe))

  def nearestCellsDyn(vec: Column, matrix: Column, nProbe: Int): Column =
    GraftColumnShim.column(NearestCellsDyn(
      GraftColumnShim.expression(vec), GraftColumnShim.expression(matrix),
      nProbe))
}
