package graft.rules

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lowers [[RowRule]]s to Catalyst `Column` expressions (SURVEY.md §7
  * pillar 1): [[violated]] is each rule's condition — no UDFs, no RDDs.
  * The engine's row pass (`ValidationEngine.rowPass`) turns the conditions
  * into one violation bitmask per row. [[withViolations]] keeps the
  * `array<struct>` column form: it is the reference form the engine is
  * tested against, and the form the streaming window checks aggregate.
  *
  * Reference semantics: a violation row mirrors a DRF serializer error
  * (`cerberus/api/serializers.py:65`, `{field: [messages]}`) — rule id,
  * column path, message. The reference evaluates these row-at-a-time in
  * Python; here the whole rule set is a single vectorized projection.
  */
object RuleCompiler {

  /** TRUE exactly when `rule` is violated on the current row.
    *
    * Null semantics: the COLUMN-ANCHORED rules (Regex/Allowed/MinMax/
    * MaxLength) treat a NULL column as "not applicable" — Django skips
    * validators on NULL and relies on the separate null check, which is
    * [[Required]]'s job. [[ExprRule]] and [[Dependency]]'s requirement are
    * ASSERTIONS over the whole row: they fire unless the predicate
    * evaluates to TRUE, so a NULL predicate (unknown) IS a violation —
    * a rule whose predicate can go NULL on legitimate rows must say so
    * explicitly (`x IS NULL OR ...`), which is how every catalog rule
    * here is written. That default is deliberate: silently passing rows
    * the predicate could not evaluate would make a constraint vacuous
    * exactly on the dirty rows it exists for.
    */
  def violated(rule: RowRule): Column = rule match {
    case Required(_, p, _, _)       => col(p).isNull
    case Regex(_, p, pat, _, _)     => col(p).isNotNull && !col(p).rlike(pat)
    case Allowed(_, p, vs, _, _)    => col(p).isNotNull && !col(p).isin(vs: _*)
    case MinMax(_, p, mn, mx, _, _) =>
      val c = col(p)
      val lo = mn.map(s => c < expr(s)).getOrElse(lit(false))
      val hi = mx.map(s => c > expr(s)).getOrElse(lit(false))
      c.isNotNull && (lo || hi)
    case MaxLength(_, p, n, _, _)   => col(p).isNotNull && length(col(p)) > n
    case Dependency(_, _, w, r, _, _) =>
      coalesce(expr(w), lit(false)) && !coalesce(expr(r), lit(false))
    case ExprRule(_, _, pred, _, _) => !coalesce(expr(pred), lit(false))
    case GeneratedConsistent(_, p, re, _, _) =>
      // null-safe equality: stored generated col must match its recompute
      !(col(p) <=> expr(re))
  }

  private def defaultMessage(r: ValidationRule): String = r match {
    case Required(_, p, _, _)        => s"null value in required field $p"
    case Regex(_, p, pat, _, _)      => s"$p does not match /$pat/"
    case Allowed(_, p, vs, _, _)     => s"$p not in allowed set {${vs.mkString(",")}}"
    case MinMax(_, p, mn, mx, _, _)  => s"$p out of bounds [${mn.getOrElse("-inf")}, ${mx.getOrElse("+inf")}]"
    case MaxLength(_, p, n, _, _)    => s"$p longer than $n"
    case Dependency(_, p, w, rq, _, _) => s"$p dependency violated: ($w) requires ($rq)"
    case ExprRule(_, p, e, _, _)     => s"$p predicate failed: $e"
    case GeneratedConsistent(_, p, _, _, _) => s"generated column $p inconsistent with recompute"
    case _                           => r.ruleId
  }

  def message(r: ValidationRule): String =
    if (r.message.nonEmpty) r.message else defaultMessage(r)

  /** The violation payload struct for one rule (NULL when not violated). */
  def violationStruct(rule: RowRule): Column =
    when(violated(rule), struct(
      lit(rule.ruleId).as("rule_id"),
      lit(rule.path).as("path"),
      lit(message(rule)).as("message"),
      lit(rule.severity).as("severity")
    ))

  /** All row rules compiled to one compact `array<struct>` column.
    *
    * NOTE: the null-compaction uses the higher-order `filter`, which is
    * CodegenFallback. This is the reference form and the streaming-window
    * form only; the engine's row pass uses the codegen'd violation
    * bitmask instead (`ValidationEngine.rowPass`).
    */
  def violationsArray(rules: Seq[RowRule]): Column =
    if (rules.isEmpty) array().cast("array<struct<rule_id:string,path:string,message:string,severity:string>>")
    else filter(array(rules.map(violationStruct): _*), v => v.isNotNull)

  /** Adds the `_violations` column in one projection. */
  def withViolations(df: DataFrame, rules: Seq[RowRule],
      colName: String = "_violations"): DataFrame =
    df.withColumn(colName, violationsArray(rules))
}
