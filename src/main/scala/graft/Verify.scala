package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val usage = "usage: graft.Verify <sfDir> <outDir> [nameFilter,...]"

  /** (sfDir, outDir, nameFilter); None for any other arg count. The
    * optional third arg is comma-separated substring filters over query
    * names (local iteration only — the correctness gate passes two args =
    * run everything; a name matching ANY listed substring runs). */
  def parseArgs(args: Array[String]): Option[(String, String, String)] = args match {
    case Array(s, o) => Some((s, o, ""))
    case Array(s, o, f) => Some((s, o, f))
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, nameFilter) = parseArgs(args).getOrElse {
      System.err.println(usage)
      sys.exit(2)
    }
    val filters = nameFilter.split(',').toSeq
    def matches(name: String): Boolean = filters.exists(name.contains)
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // Preflight with readable diagnosis (round-6 lesson): a broken fixture
    // assumption must surface as one clear line per problem, not as 298
    // identical per-query stack traces.
    try {
      Tables.register(spark, sfDir)
      Preflight.check(spark, sfDir).foreach(p => System.err.println(s"[verify][preflight] $p"))
    } catch { case e: Throwable =>
      val root = Preflight.rootCause(e)
      System.err.println(s"[verify][preflight] register FAILED: ${root.getClass.getName}: ${root.getMessage}")
    }
    SparkEntry.queries.filter(kv => matches(kv._1)).foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => matches(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
