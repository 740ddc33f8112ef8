package org.apache.spark.sql

import org.apache.spark.sql.catalyst.analysis.NameParameterizedQuery
import org.apache.spark.sql.catalyst.parser.NamedParameterContext
import org.apache.spark.sql.catalyst.plans.logical.{CompoundBody, LogicalPlan}

/** The engine's two `private[sql]` doorways; everything else in the engine
  * goes through public APIs.
  *  - `ofRows` wraps a LogicalPlan already in hand into a DataFrame: a
  *    custom node (graft.plans.AsOfJoinPlan), or a statement `sqlPlan`
  *    parsed.
  *  - `sqlPlan` is the parse `spark.sql(text, args)` does on this Spark,
  *    stopped before the DataFrame is built, so a caller can look at the
  *    tree and then run that same tree through `ofRows`. */
object GraftShims {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Parses `text` with the named `args` put in at parse time, as
    * `spark.sql(text, args)` does: each value becomes `lit(v)` and the
    * parser substitutes it for its `:name` marker. Runs with `spark` active,
    * so the parser reads this session's conf (a `newSession()` clone may
    * differ from the active one). No args: a plain `parsePlan`. */
  def sqlPlan(spark: SparkSession, text: String, args: Map[String, Any]): LogicalPlan = {
    val s = spark.asInstanceOf[classic.SparkSession]
    s.withActive {
      val parser = s.sessionState.sqlParser
      if (args.isEmpty) parser.parsePlan(text)
      else {
        val ctx = NamedParameterContext(s.resolveAndValidateParameters(
          args.map { case (k, v) => k -> s.expression(functions.lit(v)) }))
        parser.parsePlanWithParameters(text, ctx) match {
          case script: CompoundBody => script
          case p if s.sessionState.conf.legacyParameterSubstitutionConstantsOnly =>
            NameParameterizedQuery(p, ctx.params)
          case p => p
        }
      }
    }
  }
}
