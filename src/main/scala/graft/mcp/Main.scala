package graft.mcp

import java.io.BufferedReader

import org.apache.spark.sql.SparkSession

/** Parsed launch options: `dataDir` already has CLI-over-env precedence
  * applied (the reference's rule — entrypoint CLI args beat env vars,
  * /root/reference/images/snowflake-mcp/entrypoint.sh:104-190). */
final case class Launch(toolsFile: Option[String], dataDir: Option[String],
    queryTimeoutMs: Long = 0L)

/** Server entrypoint, flag-compatible with the reference images
  * (`--stdio`, `--tools-file <yaml>`; SURVEY §3.3):
  *
  *   runMain graft.mcp.Main --stdio [--tools-file conf.yaml] [--data-dir DIR]
  *
  * `--data-dir` registers a directory of `<table>.parquet` files (the
  * "prebuilt source" analogue); defaults to SPARK_GRAFT_SF_DIR.
  */
object Main {

  val usage = "usage: graft.mcp.Main --stdio [--tools-file F] [--data-dir D] [--query-timeout-ms N]"

  /** The served session's delta over [[graft.GraftSession]]: its app name,
    * and defense in depth behind StatementGate's file-source deny — even if
    * a file-backed relation slipped the parse-level gate, analysis refuses
    * it. */
  val sessionConf: Map[String, String] = Map(
    "spark.app.name" -> "graft-mcp",
    "spark.sql.runSQLOnFiles" -> "false")

  /** Pure flag parse (ConfigMatrixSpec) — exact error strings are part of
    * the contract, mirroring the reference's structured config errors. */
  def parseArgs(args: Array[String], env: Map[String, String]): Either[String, Launch] = {
    var toolsFile: Option[String] = None
    var dataDirFlag: Option[String] = None
    var timeoutMs = 0L
    var stdio = false
    var err: Option[String] = None
    var i = 0
    while (i < args.length && err.isEmpty) {
      args(i) match {
        case "--stdio" => stdio = true
        case flag @ ("--tools-file" | "--data-dir") =>
          if (i + 1 >= args.length) err = Some(s"$flag needs a value")
          else {
            if (flag == "--tools-file") toolsFile = Some(args(i + 1))
            else dataDirFlag = Some(args(i + 1))
            i += 1
          }
        case "--query-timeout-ms" =>
          if (i + 1 >= args.length) err = Some("--query-timeout-ms needs a value")
          else {
            try { timeoutMs = args(i + 1).toLong; if (timeoutMs < 0) err = Some("--query-timeout-ms must be >= 0") }
            catch { case _: NumberFormatException => err = Some(s"--query-timeout-ms is not a number: ${args(i + 1)}") }
            i += 1
          }
        // reference-image compat (entrypoints pass `--prebuilt <kind>`): the
        // builtin tools are always present, so the kind name is informational
        case "--prebuilt" => i += 1
        case other => System.err.println(s"[main] ignoring unknown arg: $other")
      }
      i += 1
    }
    err match {
      case Some(e) => Left(e)
      case None if !stdio => Left("missing required --stdio")
      case None => Right(Launch(toolsFile,
        dataDirFlag.orElse(env.get("SPARK_GRAFT_SF_DIR")), timeoutMs))
    }
  }

  /** Fail-fast existence checks, separated from parsing so the matrix spec
    * can exercise each error independently. */
  def validate(l: Launch): Either[String, Launch] = {
    import java.nio.file.{Files, Paths}
    l.toolsFile.filterNot(f => Files.isRegularFile(Paths.get(f))) match {
      case Some(f) => Left(s"tools file not found: $f")
      case None =>
        l.dataDir.filterNot(d => Files.isDirectory(Paths.get(d))) match {
          case Some(d) => Left(s"data dir not found: $d")
          case None => Right(l)
        }
    }
  }

  def main(args: Array[String]): Unit = {
    val launch = parseArgs(args, sys.env).flatMap(validate) match {
      case Left(msg) =>
        System.err.println(s"error: $msg")
        System.err.println(usage)
        sys.exit(2)
      case Right(l) => l
    }
    val toolsFile = launch.toolsFile
    val dataDir = launch.dataDir

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.create(sessionConf)
    val sessionMs = (System.nanoTime() - t0) / 1000000

    val config = toolsFile.map(Config.loadFile).getOrElse(ToolboxConfig(Nil, Nil))
    register(spark, dataDir, config, sessionMs, System.err)

    val server = new McpServer(spark, config, queryTimeoutMs = launch.queryTimeoutMs)
    serve(server, new BufferedReader(new java.io.InputStreamReader(System.in)), System.out)
    spark.stop()
  }

  /** Registers `dataDir` and the config's sources on `spark`, then prints
    * one startup line to `log` (stderr when served; stdout is the JSON-RPC
    * channel): the session build and registration ms, the tables now
    * registered (every temp view but the `information_schema_*` ones) and
    * the fixture tables a dataset dir failed to register (`-` if none):
    *
    *   [graft.mcp.Main] startup session_ms=812 register_ms=1930 tables=10 skipped=-
    */
  def register(spark: SparkSession, dataDir: Option[String], config: ToolboxConfig,
      sessionMs: Long, log: java.io.PrintStream): Unit = {
    val t0 = System.nanoTime()
    dataDir.foreach(d => graft.Tables.register(spark, d))
    config.registerSources(spark)
    val registerMs = (System.nanoTime() - t0) / 1000000
    val views = spark.sessionState.catalog.getTempViewNames().toSet
    val tables = views.count(!_.startsWith("information_schema_"))
    val fixtures = dataDir.nonEmpty || config.datasetDir.nonEmpty
    val skipped = if (fixtures) graft.Tables.tableNames.filterNot(views) else Nil
    log.println(s"[graft.mcp.Main] startup session_ms=$sessionMs register_ms=$registerMs " +
      s"tables=$tables skipped=${if (skipped.isEmpty) "-" else skipped.mkString(",")}")
  }

  /** Newline-delimited JSON-RPC loop; responses flushed per message. */
  def serve(server: McpServer, in: BufferedReader, out: java.io.PrintStream): Unit = {
    var line = in.readLine()
    while (line != null) {
      if (line.trim.nonEmpty) {
        server.handleLine(line).foreach { resp => out.println(resp); out.flush() }
      }
      line = in.readLine()
    }
  }
}
