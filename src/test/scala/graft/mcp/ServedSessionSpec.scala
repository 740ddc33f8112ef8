package graft.mcp

import org.apache.spark.sql.AnalysisException

import graft.{SparkSpec, Tables}

/** The served session is `GraftSession` plus `Main.sessionConf`, and its
  * native functions come only from `Tables.register`. Pins both: the
  * file-read block that backs StatementGate's file-source deny, and the
  * single registration path. */
class ServedSessionSpec extends SparkSpec {

  private val nativeFunctions = Seq("cosine_similarity", "dot_product", "lsh_codes",
    "bloom_filter_agg", "might_contain", "kmv_agg", "cms_agg")

  test("the served delta blocks SQL on files at analysis") {
    assert(Main.sessionConf.get("spark.sql.runSQLOnFiles").contains("false"))
    val onFile = s"SELECT * FROM parquet.`$sfDir/region.parquet`"
    // control: without the delta the same statement reads the file
    assert(spark.newSession().sql(onFile).count() > 0)
    val served = spark.newSession()
    Main.sessionConf.foreach { case (k, v) => if (served.conf.isModifiable(k)) served.conf.set(k, v) }
    intercept[AnalysisException](served.sql(onFile))
  }

  test("Tables.register alone makes every native function resolvable on a fresh session") {
    val fresh = spark.newSession()
    val before = nativeFunctions.filter(fresh.catalog.functionExists)
    assert(before.isEmpty, s"resolvable before registration: $before")
    Tables.register(fresh, sfDir)
    val missing = nativeFunctions.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"not resolvable after Tables.register: $missing")
    val r = fresh.sql(
      """SELECT cosine_similarity(array(1.0F, 0.0F), array(2.0F, 0.0F)) AS c,
        |       dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d""".stripMargin).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && math.abs(r.getDouble(1) - 11.0) < 1e-12)
  }

  test("the server's startup line reports registered and skipped tables and both timings") {
    // a scratch dataset dir: nine fixtures plus a corrupt events file
    val dir = graft.GraftSession.scratch("graft_startup")
    for (t <- Tables.tableNames if t != "events")
      java.nio.file.Files.createSymbolicLink(dir.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(sfDir, s"$t.parquet"))
    java.nio.file.Files.writeString(dir.resolve("events.parquet"), "this is not parquet")
    val buf = new java.io.ByteArrayOutputStream()
    val log = new java.io.PrintStream(buf, true, "UTF-8")
    val fresh = spark.newSession()
    Main.register(fresh, Some(dir.toString), ToolboxConfig(Nil, Nil), 812L, log)
    val lines = buf.toString("UTF-8").linesIterator.toSeq
    assert(lines.size == 1, lines)
    val Line = """\[graft\.mcp\.Main\] startup session_ms=(\d+) register_ms=(\d+) tables=(\d+) skipped=(\S+)""".r
    lines.head match {
      case Line(sessionMs, registerMs, tables, skipped) =>
        assert(sessionMs == "812")
        assert(registerMs.toLong >= 0)
        assert(tables == "9")
        assert(skipped == "events")
      case other => fail(s"unexpected startup line: $other")
    }
    // a healthy dir: all ten registered, none skipped
    buf.reset()
    Main.register(spark.newSession(), Some(sfDir), ToolboxConfig(Nil, Nil), 1L, log)
    assert(buf.toString("UTF-8").trim.endsWith(" tables=10 skipped=-"), buf.toString("UTF-8"))
  }
}
