package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Times the `mcp` layer's two pure functions on a run's own requests:
  *
  *   GateBindProbe <tools.yaml> <calls.jsonl>
  *
  * Each input line is `{"tool": name, "args": {...}}`, as the run sent it.
  * For every call it times `Params.bind` and, for the tools the server gates
  * (SQL passthrough and `{{template}}` statements), `StatementGate.check`,
  * taking the median of a few repetitions after a warm-up. Prints one JSON
  * line with the medians over calls in microseconds. */
object GateBindProbe {
  private val Reps = 5

  def main(args: Array[String]): Unit = {
    val config = graft.mcp.Config.loadFile(args(0))
    val mapper = new ObjectMapper()
    val calls = scala.io.Source.fromFile(args(1)).getLines().filter(_.trim.nonEmpty)
      .map(mapper.readTree).toSeq
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val builtins = new graft.mcp.McpServer(spark, config).tools

    def timeUs(f: => Any): Double = {
      val ts = (1 to Reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3
      }.sorted
      ts(Reps / 2)
    }

    val bindUs = Seq.newBuilder[Double]
    val gateUs = Seq.newBuilder[Double]
    for (pass <- Seq("warm", "timed"); call <- calls) {
      builtins.find(_.name == call.get("tool").asText()).filter(_.kind != "spark-pipeline")
        .foreach { tool =>
          val argMap = toArgs(call.get("args"))
          val b = timeUs(graft.mcp.Params.bind(tool.statement, argMap, tool.params))
          val bound = graft.mcp.Params.bind(tool.statement, argMap, tool.params)
          val gated = tool.isPassthrough || tool.statement.contains("{{")
          val g = if (gated) timeUs(graft.mcp.StatementGate.check(spark, bound.sql)) else -1.0
          if (pass == "timed") {
            bindUs += b
            if (gated) gateUs += g
          }
        }
    }
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }
    val b = bindUs.result(); val g = gateUs.result()
    println(TraceLog.json(Seq("bind_us" -> median(b), "gate_us" -> median(g),
      "bind_calls" -> b.size, "gate_calls" -> g.size)))
    spark.stop()
  }

  /** JSON arguments as the server's binder sees them (integers as Long,
    * arrays as string arrays, everything else as text). */
  private def toArgs(node: JsonNode): Map[String, Any] =
    if (node == null) Map.empty
    else node.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> (
        if (v.isIntegralNumber) v.asLong()
        else if (v.isArray) v.elements().asScala.map(_.asText()).toArray
        else v.asText())
    }.toMap
}
