package graft.mcp

import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{IdentifierResolution, PlanWithUnresolvedIdentifier}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Statement-class permission gate (SURVEY §2.A A7): permits read statements
  * (Select / Show / Describe / Explain / Use), denies DDL/DML/DCL/
  * transactions — the allowlist of
  * /root/reference/images/snowflake-mcp/entrypoint.sh:211-232 re-expressed
  * over Spark's parsed logical plan instead of a SQL-dialect classifier.
  *
  * The gate classifies the tree that executes: [[plan]] parses once, with
  * any bound args already substituted, and the caller runs the tree it
  * returns. Classification looks at the unresolved logical plan only; no
  * analysis, no jobs.
  */
object StatementGate {

  /** Root node classes that are always allowed (catalog/introspection). */
  private val allowedRoots = Set(
    "ShowTables", "ShowTableExtended", "ShowViews", "ShowColumns",
    "ShowNamespaces", "ShowTableProperties", "ShowFunctions", "ShowCatalogs",
    "DescribeRelation", "DescribeColumn", "DescribeNamespace",
    "ExplainCommand", "SetCatalogAndNamespace")

  /** Any node whose class matches this anywhere in the tree makes the
    * statement a write/DDL/DCL — denied. Mirrors the snowflake-mcp denied
    * classes (Create/Alter/Drop/Insert/Update/Delete/Merge/TruncateTable/
    * Grant/Revoke/Commit/Rollback/Transaction/Command/Comment). */
  private val denied =
    ("Insert|Create|Replace|Drop|Alter|Delete|Update|Merge|Truncate|Grant|" +
      "Revoke|Comment|CacheTable|UncacheTable|Refresh|Analyze|Repair|LoadData|" +
      "^SetCommand$|^ResetCommand$|AddArchives|AddFiles|AddJars|ListArchives|" +
      "ListFiles|ListJars|Rename|Recover|WriteTo|AddColumns|AddPartition|" +
      "SetTable|UnsetTable|SetView|SetNamespace|UnsetNamespace|SetLocation|" +
      "SetProperties|UnsetProperties|" +
      // SELECT TRANSFORM(...) USING '<cmd>' parses to ScriptTransformation —
      // arbitrary shell execution (SPARK-32106); never a read statement.
      "ScriptTransformation|Transform|" +
      // EXECUTE IMMEDIATE / CALL / variables: the inner text is not parsed
      // here, so it would bypass classification — deny the wrappers.
      "ExecuteImmediate|^Call|Variable").r

  /** Catch-all for runnable side-effect nodes this denylist may not name:
    * any `*Command`/`*Exec` plan node that is not an explicitly allowed
    * introspection root is denied. Parsed read statements (Project/Filter/
    * Aggregate/Join/...) never carry Command nodes. */
  private def isUnknownCommand(n: String): Boolean =
    n.endsWith("Command") && n != "ExplainCommand" && !n.startsWith("Show") &&
      !n.startsWith("Describe")

  /** Expression-level denylist: functions that reach OUTSIDE the registered
    * data no matter what statement wraps them. `reflect`/`java_method`
    * (CallMethodViaReflection) invoke arbitrary static JVM methods — e.g.
    * `java_method('java.lang.System','getenv','X')` exfiltrates server
    * environment through a syntactically pure SELECT. A read-only tool
    * server must deny these at parse level, like statement classes. */
  private val deniedFunctions = Set("reflect", "java_method")

  /** Direct file-source table references (`SELECT * FROM parquet.`/path``,
    * allowed by `spark.sql.runSQLOnFiles` by default) parse as a plain
    * UnresolvedRelation and would read ANY server-readable file — the same
    * outside-registered-data escape as `reflect`. Denied at parse level (and
    * the MCP session additionally sets `spark.sql.runSQLOnFiles=false` as
    * defense in depth). */
  private val fileSourceTokens = Set(
    "parquet", "csv", "json", "orc", "text", "textfile", "binaryfile", "avro",
    "libsvm", "jdbc", "delta")

  /** Parses `sql` with `args` bound (`GraftShims.sqlPlan`) and classifies
    * that tree: Right(plan) to run through `GraftShims.ofRows`, or
    * Left(reason) if denied or unparseable. */
  def plan(spark: SparkSession, sql: String, args: Map[String, Any]): Either[String, LogicalPlan] =
    try {
      val p = GraftShims.sqlPlan(spark, sql, args)
      classify(p).toLeft(p)
    } catch {
      case e: Exception => Left(s"parse error: ${e.getMessage}")
    }

  /** Returns None if allowed, Some(reason) if denied. */
  def check(spark: SparkSession, sql: String): Option[String] =
    plan(spark, sql, Map.empty).left.toOption

  private def classify(plan: LogicalPlan): Option[String] =
    if (allowedRoots.contains(plan.getClass.getSimpleName)) None
    else {
      var bad: Option[String] = None
      // Generic constructor-tree walk: `plan.foreach` visits only `children`,
      // which misses CTE definitions (UnresolvedWith.cteRelations) and
      // subquery-expression plans (WHERE x IN (SELECT ...)). Every nested
      // plan is a constructor argument somewhere, so recursing through
      // Product/Iterable reaches them all (parse trees are acyclic).
      def visit(a: Any): Unit = a match {
        // IDENTIFIER('<name>'), which is what a bound IDENTIFIER(:t) parses
        // to, stays unexpanded until analysis: build the node it names now,
        // as the analyzer will, so the relation is classified too.
        case p: PlanWithUnresolvedIdentifier if p.identifierExpr.isInstanceOf[Literal] =>
          visit(p.planBuilder(IdentifierResolution.evalIdentifierExpr(p.identifierExpr), p.children))
        case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
            if r.multipartIdentifier.length >= 2 &&
              fileSourceTokens.contains(r.multipartIdentifier.head.toLowerCase) =>
          if (bad.isEmpty)
            bad = Some(s"file-source relation ${r.multipartIdentifier.head}.`...`")
        case p: LogicalPlan =>
          val n = p.getClass.getSimpleName
          if (bad.isEmpty && (denied.findFirstIn(n).isDefined || isUnknownCommand(n)))
            bad = Some(n)
          if (bad.isEmpty) p.productIterator.foreach(visit)
        case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
          if (bad.isEmpty && deniedFunctions.contains(f.nameParts.last.toLowerCase))
            bad = Some(s"function ${f.nameParts.last}")
          if (bad.isEmpty) f.productIterator.foreach(visit)
        case p: Product => p.productIterator.foreach(visit)
        case s: Iterable[_] => s.foreach(visit)
        case _ => ()
      }
      visit(plan)
      bad.map(n => s"statement class not permitted: $n " +
        "(only Select/Show/Describe/Explain/Use are allowed)")
    }
}
