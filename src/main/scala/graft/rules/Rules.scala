package graft.rules

/** Rules are data (SURVEY.md §7 pillar 1).
  *
  * A sealed ADT for type-safe construction, plus a flat
  * [[ValidationRule.RuleRow]]
  * representation so a catalog can live in a `Dataset[RuleRow]` / parquet
  * table and round-trip losslessly. Each rule species is grounded in a
  * constraint the reference actually enforces (SURVEY.md §2.10):
  *
  *  - [[Required]]     — non-nullable fields (`cerberus/models/ field defs)
  *  - [[Regex]]        — contact classifier / email validity
  *                       (`cerberus/models/contact.py:24-61`)
  *  - [[Allowed]]      — closed enums + FSM states, CHECK built from choices
  *                       (`cerberus/models/booking.py:207-209,274`)
  *  - [[MinMax]]       — CHECK start < end, amount >= 0
  *                       (`booking.py:51,268`, `invoice.py:360-363`)
  *  - [[MaxLength]]    — CharField bounds / runtime truncation to 255
  *                       (`customer.py:72-74`, `booking.py:340`)
  *  - [[Dependency]]   — conditional nullability: canceled ⇔ slot IS NULL
  *                       (`booking.py:269-273`)
  *  - [[Unique]]       — unique_together constraints
  *                       (`booking.py:50,266`, `contact.py:43`, `service.py:29`)
  *  - [[Referential]]  — FK must resolve, nested-object fix errors
  *                       (`api/serializers.py:53-72`)
  *  - [[ExprRule]]     — escape hatch for row heuristics like
  *                       `Customer.issues` (`customer.py:130-140`)
  *  - [[GeneratedConsistent]] — stored generated column == recompute
  *                       (`customer.py:76-80`, `booking.py:43-47`)
  */
sealed trait ValidationRule extends Serializable {
  def ruleId: String
  /** Column (dotted path) the violation is anchored to. */
  def path: String
  def severity: String
  def message: String
}

/** Rules evaluable row-at-a-time — each compiled to one bit of the
  * engine's violation bitmask in a single whole-stage-codegen pass.
  */
sealed trait RowRule extends ValidationRule

/** Rules needing cross-row state (shuffle or join) — evaluated in their own
  * (still set-oriented) passes.
  */
sealed trait SetRule extends ValidationRule

final case class Required(ruleId: String, path: String,
    severity: String = "error", message: String = "") extends RowRule

final case class Regex(ruleId: String, path: String, pattern: String,
    severity: String = "error", message: String = "") extends RowRule

final case class Allowed(ruleId: String, path: String, values: Seq[String],
    severity: String = "error", message: String = "") extends RowRule

/** Bounds as SQL literal expressions (e.g. "0", "timestamp'2024-01-01'"),
  * compared with the column's native type after implicit cast.
  */
final case class MinMax(ruleId: String, path: String,
    min: Option[String], max: Option[String],
    severity: String = "error", message: String = "") extends RowRule

final case class MaxLength(ruleId: String, path: String, maxLen: Int,
    severity: String = "error", message: String = "") extends RowRule

/** When `whenSql` holds, `requireSql` must hold too (both SQL boolean
  * expressions over the row).
  */
final case class Dependency(ruleId: String, path: String,
    whenSql: String, requireSql: String,
    severity: String = "error", message: String = "") extends RowRule

/** Violation unless the SQL boolean predicate evaluates TRUE — an
  * assertion, so a NULL (unknown) predicate fires; add an explicit
  * `x IS NULL OR ...` escape for rules where NULL is legitimate
  * (see RuleCompiler.violated's null-semantics note).
  */
final case class ExprRule(ruleId: String, path: String, predicateSql: String,
    severity: String = "error", message: String = "") extends RowRule

/** Stored generated column must equal its recompute expression
  * (reference `GeneratedField(db_persist=True)`).
  */
final case class GeneratedConsistent(ruleId: String, path: String,
    recomputeSql: String,
    severity: String = "error", message: String = "") extends RowRule

final case class Unique(ruleId: String, columns: Seq[String],
    severity: String = "error", message: String = "") extends SetRule {
  def path: String = columns.mkString(",")
}

/** `path` column must resolve in dimension `dim`'s `dimColumn`.
  * `keyExprSql` optionally derives the join key from the row (e.g.
  * `parse_url(url, 'HOST')` to check the host against a hosts dim).
  */
final case class Referential(ruleId: String, path: String,
    dim: String, dimColumn: String, keyExprSql: Option[String] = None,
    severity: String = "error", message: String = "") extends SetRule

object ValidationRule {
  private val SEP = "\u001f" // unit separator for packed list fields

  /** Flat serializable form — the `Dataset[RuleRow]` catalog row. */
  final case class RuleRow(ruleId: String, kind: String, path: String,
      p1: String, p2: String, severity: String, message: String)

  def toRow(r: ValidationRule): RuleRow = r match {
    case Required(id, p, s, m)        => RuleRow(id, "required", p, "", "", s, m)
    case Regex(id, p, pat, s, m)      => RuleRow(id, "regex", p, pat, "", s, m)
    case Allowed(id, p, vs, s, m)     => RuleRow(id, "allowed", p, vs.mkString(SEP), "", s, m)
    case MinMax(id, p, mn, mx, s, m)  => RuleRow(id, "minmax", p, mn.getOrElse(""), mx.getOrElse(""), s, m)
    case MaxLength(id, p, n, s, m)    => RuleRow(id, "maxlength", p, n.toString, "", s, m)
    case Dependency(id, p, w, r2, s, m) => RuleRow(id, "dependency", p, w, r2, s, m)
    case ExprRule(id, p, e, s, m)     => RuleRow(id, "expr", p, e, "", s, m)
    case GeneratedConsistent(id, p, e, s, m) => RuleRow(id, "generated", p, e, "", s, m)
    case Unique(id, cs, s, m)         => RuleRow(id, "unique", cs.mkString(","), "", "", s, m)
    case Referential(id, p, d, dc, k, s, m) => RuleRow(id, "referential", p, d, dc + SEP + k.getOrElse(""), s, m)
  }

  def fromRow(r: RuleRow): ValidationRule = r.kind match {
    case "required"  => Required(r.ruleId, r.path, r.severity, r.message)
    case "regex"     => Regex(r.ruleId, r.path, r.p1, r.severity, r.message)
    case "allowed"   => Allowed(r.ruleId, r.path, r.p1.split(SEP).toSeq, r.severity, r.message)
    case "minmax"    => MinMax(r.ruleId, r.path,
      Option(r.p1).filter(_.nonEmpty), Option(r.p2).filter(_.nonEmpty), r.severity, r.message)
    case "maxlength" => MaxLength(r.ruleId, r.path, r.p1.toInt, r.severity, r.message)
    case "dependency" => Dependency(r.ruleId, r.path, r.p1, r.p2, r.severity, r.message)
    case "expr"      => ExprRule(r.ruleId, r.path, r.p1, r.severity, r.message)
    case "generated" => GeneratedConsistent(r.ruleId, r.path, r.p1, r.severity, r.message)
    case "unique"    => Unique(r.ruleId, r.path.split(',').toSeq, r.severity, r.message)
    case "referential" =>
      val Array(dc, k) = r.p2.split(SEP, -1).padTo(2, "").take(2)
      Referential(r.ruleId, r.path, r.p1, dc,
        Option(k).filter(_.nonEmpty), r.severity, r.message)
    case other => throw new IllegalArgumentException(s"unknown rule kind: $other")
  }
}
