package graft.mcp

/** Parameter binding for tool statements — the three styles of the reference
  * (SURVEY §2.B B11–B13):
  *  - `:name`  named parameters (tests/sqlite/sqlite.yaml:20-22) — bound as
  *    literals by Spark's parser in `GraftShims.sqlPlan`, never
  *    string-spliced;
  *  - `$1`     positional (images/redshift/redshift.yaml:28-30) — rewritten
  *    to named `:_p1` ... then bound the same way;
  *  - `{{x}}`  whole-template substitution (tests/sqlite/sqlite.yaml:34) —
  *    raw text replacement, injection-by-design in the reference, so the
  *    result always goes through the StatementGate before execution.
  */
object Params {

  private val Positional = raw"\$$(\d+)".r
  private val Template = raw"\{\{\s*([A-Za-z_][A-Za-z0-9_]*)\s*\}\}".r

  /** The {{x}} names a statement references — implicitly-declared params
    * (reference YAML tools often template without a parameters block). */
  def templateNames(statement: String): Set[String] =
    Template.findAllMatchIn(statement).map(_.group(1)).toSet

  private val NamedRef = raw"(?<![:\w]):([A-Za-z_][A-Za-z0-9_]*)\b".r

  /** The `:name` parameters a statement references (scanned on the raw YAML
    * text, same lookbehind as [[bind]]'s referenced-filter so `::cast` and
    * `12:30` literals never match). `bind` has always bound these from
    * caller args even when undeclared; the server's unknown-argument guard
    * accepts them for the same reason (ADVICE r8 #3 — external configs may
    * rely on undeclared `:name` binding). */
  def namedRefs(statement: String): Set[String] =
    NamedRef.findAllMatchIn(statement).map(_.group(1)).toSet

  /** JSON-Schema parameter types a YAML tool may declare (VERDICT r10 #4,
    * the object form of reference CONTRIBUTING.md:218-248). Typed values
    * bind natively through Spark's parameterized-SQL API — an integer param
    * arrives in the plan as a BIGINT literal, not a string to re-CAST. */
  val SupportedTypes: Set[String] = Set("string", "integer", "number", "boolean", "array")

  final case class Bound(sql: String, args: Map[String, Any])

  /** Renders a typed arg for {{template}} substitution (templates are raw
    * text; only the SQL-literal binding path keeps native types). */
  private def templateText(v: Any): String = v match {
    case s: String => s
    case a: Array[_] => a.mkString(",")
    case other => other.toString
  }

  /** Binds `argValues` into `statement`, returning the SQL to execute plus
    * named args for Spark's parameterized-SQL API. Values may be typed
    * (Long / Double / Boolean / Array[String] from the JSON-Schema types) —
    * they pass through to the binder as native literals; declared-but-
    * omitted params still default to the empty STRING regardless of type
    * (the reference's list-all idiom predates typed params). */
  def bind(statement: String, rawArgs: Map[String, Any], params: Seq[ParamDef]): Bound = {
    // Declared-but-omitted params default to "" (the reference's tools treat
    // empty as "no filter", e.g. list_tables with table_names "").
    val argValues: Map[String, Any] = params.map(p => p.name -> ("": Any)).toMap ++ rawArgs
    // 1. $n positional -> :_pN named (ordinal maps onto declared params
    // order). This runs on the YAML statement text ONLY — before template
    // substitution — so caller-supplied {{x}} content (e.g. a regexp
    // replacement with a '$1' back-reference) is never rewritten.
    val positional = Positional.replaceAllIn(statement, m => ":_p" + m.group(1))
    val posArgs = params.zipWithIndex.flatMap { case (p, i) =>
      argValues.get(p.name).map(v => s"_p${i + 1}" -> v)
    }.toMap
    // 2. :name named args pass through to Spark's binder — but only names the
    // YAML statement actually references (scanned pre-template, so caller
    // text can neither trigger nor corrupt binding), so incidental colons in
    // user SQL (e.g. time literals) never hit the parameterized path.
    val all = argValues ++ posArgs
    val referenced = all.filter { case (k, _) =>
      // quote the name: arbitrary JSON keys must not be regex metacharacters
      (raw"(?<![:\w]):" + java.util.regex.Pattern.quote(k) + raw"\b").r
        .findFirstIn(positional).isDefined
    }
    // 3. {{x}} templates: textual substitution, last — the substituted text
    // is caller-controlled and must pass through verbatim (it is gated by
    // StatementGate at the call site, never rewritten here).
    val templated = Template.replaceAllIn(positional, m =>
      java.util.regex.Matcher.quoteReplacement(
        templateText(argValues.getOrElse(m.group(1), ""))))
    Bound(templated, referenced)
  }
}
