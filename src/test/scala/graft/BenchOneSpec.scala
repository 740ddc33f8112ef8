package graft

import org.apache.spark.sql.AnalysisException

/** BenchOne's argument contract and its A/B table: a bad invocation is a
  * usage error before any session is built, and every formulation still
  * compiles against the fixture schema (nothing else runs these strings, so
  * a renamed column or function would otherwise rot silently). */
class BenchOneSpec extends SparkSpec {

  test("BenchOne takes <sfDir> <mode>; a wrong arg count or unknown mode is a usage error") {
    val entries = Set("q253_stream_dedup_drain")
    for (mode <- BenchOne.abs.keys.toSeq ++ Seq("q253_stream_dedup_drain", "stream_profile:q253_stream_dedup_drain"))
      assert(BenchOne.parseArgs(Array("sf", mode), entries).contains(("sf", mode)), mode)
    for (n <- Seq(0, 1, 3))
      assert(BenchOne.parseArgs(Array.fill(n)("q253_stream_dedup_drain"), entries).isEmpty, s"$n args")
    for (mode <- Seq("tpch_scale", "stream_profile:", "stream_profile:nope", "stream_profile:chargram_cliff"))
      assert(BenchOne.parseArgs(Array("sf", mode), entries).isEmpty, mode)
    assert((BenchOne.abs.keySet & SparkEntry.queries.keySet).isEmpty, "an A/B key shadows a catalog entry")
  }

  test("every BenchOne A/B formulation analyzes against the sf0.001 tables") {
    Tables.register(spark, sfDir)
    for ((key, rows) <- BenchOne.abs; (label, f) <- rows) {
      val plan = try f(spark).queryExecution.analyzed catch {
        case e: AnalysisException => fail(s"$key / $label does not analyze: ${e.getMessage}")
      }
      assert(plan.resolved, s"$key / $label did not resolve:\n$plan")
    }
  }
}
