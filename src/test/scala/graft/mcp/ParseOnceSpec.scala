package graft.mcp

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Proxy}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NamedParameter
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkSpec, Tables}

/** The served path parses each statement once and runs the tree it parsed,
  * which for a gated tool is the tree [[StatementGate]] classified. */
class ParseOnceSpec extends SparkSpec {

  private val mapper = new ObjectMapper()

  private def call(server: McpServer, tool: String, args: String): JsonNode =
    mapper.readTree(server.handleLine(
      s"""{"jsonrpc":"2.0","id":1,"method":"tools/call","params":{"name":"$tool","arguments":$args}}""").get)

  /** A session on the shared context whose parser records every plan it
    * returns. `create()` makes it the default and active session, so the
    * test session is put back in both places. */
  private def recordingSession(parsed: ConcurrentLinkedQueue[LogicalPlan]): SparkSession = {
    def recording(parser: ParserInterface): ParserInterface = {
      val handler: InvocationHandler = (_, m, a) => {
        val r = try m.invoke(parser, Option(a).getOrElse(Array.empty[AnyRef]): _*)
          catch { case e: InvocationTargetException => throw e.getCause }
        if (m.getName.startsWith("parsePlan")) parsed.add(r.asInstanceOf[LogicalPlan])
        r
      }
      Proxy.newProxyInstance(classOf[ParserInterface].getClassLoader,
        Array(classOf[ParserInterface]), handler).asInstanceOf[ParserInterface]
    }
    val s = SparkSession.builder().withExtensions(_.injectParser((_, p) => recording(p))).create()
    SparkSession.setDefaultSession(spark)
    SparkSession.setActiveSession(spark)
    s
  }

  private def aliasIds(p: LogicalPlan): Set[Long] =
    p.flatMap(_.expressions.flatMap(_.collect { case a: Alias => a.exprId.id })).toSet

  test("a gated tool mixing {{tmpl}} and :name parses once and executes the gated tree") {
    val parsed = new ConcurrentLinkedQueue[LogicalPlan]()
    val s = recordingSession(parsed)
    val executed = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe.logical)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(listener)
    try {
      val tool = ToolDef("scaled", "spark-sql", "ids times k, under a caller-chosen name",
        Seq(ParamDef("k", "integer", ""), ParamDef("col", "string", "")),
        "SELECT id * :k AS {{col}} FROM range(4) ORDER BY 1")
      val server = new McpServer(s, ToolboxConfig(Nil, Seq(tool)))
      parsed.clear()
      val resp = call(server, "scaled", """{"k": 3, "col": "tripled"}""")
      assert(!resp.at("/result/isError").asBoolean(false), resp.toString)
      assert(resp.at("/result/content").elements().asScala
        .map(c => mapper.readTree(c.get("text").asText()).get("tripled").asLong()).toSeq ==
        Seq(0L, 3L, 6L, 9L))

      assert(parsed.size == 1, s"the statement was parsed ${parsed.size} times")
      val gated = parsed.peek()
      assert(!gated.exists(_.expressions.exists(_.exists(_.isInstanceOf[NamedParameter]))),
        s"the gate saw an unbound marker:\n$gated")
      assert(gated.toString.contains("3) AS tripled#"), gated.toString)

      val deadline = System.nanoTime() + 10000000000L
      while (executed.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(executed.size == 1, s"${executed.size} actions seen")
      val ran = executed.peek()
      assert(!ran.exists(_.expressions.exists(_.exists(_.isInstanceOf[NamedParameter]))))
      // the action's plan carries the gated parse's own expression ids: it
      // was built from that tree, not from a second parse of the same text
      assert(aliasIds(gated).nonEmpty && aliasIds(gated).subsetOf(aliasIds(ran)),
        s"gated ids ${aliasIds(gated)} not in the executed plan:\n$ran")
    } finally s.listenerManager.unregister(listener)
  }

  test("IDENTIFIER(:t) naming a file source is refused by the gate, with its file-source reason") {
    Tables.register(spark, sfDir)
    // the refusal text is the gate's own; the served runSQLOnFiles block
    // would refuse at analysis, with a different message
    val tool = ToolDef("peek", "spark-sql", "rows of a caller-named table",
      Seq(ParamDef("t", "string", ""), ParamDef("cols", "string", "")),
      "SELECT {{cols}} FROM IDENTIFIER(:t)")
    val server = new McpServer(spark, ToolboxConfig(Nil, Seq(tool)))
    val ok = call(server, "peek", """{"t": "region", "cols": "r_name"}""")
    assert(!ok.at("/result/isError").asBoolean(false), ok.toString)
    assert(ok.at("/result/content").size() == 5)
    for (src <- Seq("parquet", "json")) {
      val t = mapper.writeValueAsString(s"$src.`$sfDir/region.parquet`")
      val refused = call(server, "peek", s"""{"t": $t, "cols": "*"}""")
      assert(refused.at("/result/isError").asBoolean(false), refused.toString)
      assert(refused.at("/result/content/0/text").asText() ==
        s"statement class not permitted: file-source relation $src.`...` " +
          "(only Select/Show/Describe/Explain/Use are allowed)")
    }
  }
}
