package graft.mcp

import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRegex
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.{SparkSpec, Tables}

/** `GraftShims.sqlPlan` is the parse `spark.sql(text, args)` does: the same
  * tree for every binding style the server uses, read under the conf of the
  * session it is handed rather than the active one. */
class SqlPlanSpec extends SparkSpec {

  /** Plan text without expression ids or closure identities, the
    * two things any two parses of one text differ in. */
  private def shape(p: LogicalPlan): String =
    p.toString.replaceAll("#\\d+", "#").replaceAll("\\$\\$Lambda[^@\\s,]*@[0-9a-f]+", "<fn>")

  private def assertParity(s: SparkSession, text: String, args: Map[String, Any]): Unit = {
    val ran = (if (args.isEmpty) s.sql(text) else s.sql(text, args)).queryExecution.logical
    assert(shape(GraftShims.sqlPlan(s, text, args)) == shape(ran), text)
  }

  private def hasRegex(p: LogicalPlan): Boolean =
    p.exists(_.expressions.exists(_.exists(_.isInstanceOf[UnresolvedRegex])))

  test("every binding style parses to the tree spark.sql runs") {
    // :name, typed the way McpServer converts JSON arguments
    assertParity(spark, "SELECT :tag AS tag, id * :k AS v FROM range(4) WHERE id < :n AND :on",
      Map("tag" -> "a", "k" -> 2.5, "n" -> 3L, "on" -> true))
    // $1, which Params.bind rewrites to :_p1
    val pos = Params.bind("SELECT id FROM range(5) WHERE id > $1", Map("lo" -> 1L),
      Seq(ParamDef("lo", "integer", "")))
    assert(pos.args == Map("_p1" -> 1L))
    assertParity(spark, pos.sql, pos.args)
    // array
    assertParity(spark, "SELECT array_contains(:xs, 'b') AS hit, size(:xs) AS n",
      Map("xs" -> Array("a", "b")))
    // a bound name
    Tables.register(spark, sfDir)
    assertParity(spark, "SELECT * FROM IDENTIFIER(:t)", Map("t" -> "region"))
    // no args
    assertParity(spark, "SELECT id, id * 2 AS d FROM range(4) ORDER BY d DESC", Map.empty)
  }

  test("a clone is parsed under its own conf, not the active session's") {
    val clone = spark.newSession()
    clone.conf.set("spark.sql.parser.quotedRegexColumnNames", "true")
    assert(spark.conf.get("spark.sql.parser.quotedRegexColumnNames") == "false")
    val (text, args) = ("SELECT `(id|k)` FROM (SELECT id, :k AS k FROM range(3))", Map[String, Any]("k" -> 7L))
    val bare = "SELECT `(id)` FROM range(3)"
    SparkSession.setActiveSession(spark)
    assertParity(clone, text, args)
    assertParity(clone, bare, Map.empty)
    assert(hasRegex(GraftShims.sqlPlan(clone, text, args)))
    assert(hasRegex(GraftShims.sqlPlan(clone, bare, Map.empty)))
    // the active session reads the same text as a plain column name
    assert(!hasRegex(GraftShims.sqlPlan(spark, text, args)))
    assert(!hasRegex(GraftShims.sqlPlan(spark, bare, Map.empty)))
  }
}
