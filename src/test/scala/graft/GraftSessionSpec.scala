package graft

/** `GraftSession.withConf` is the one way session conf is scoped (stream
  * state sizing, no-data batches, the state-store provider, the
  * determinism harness's perturbed runs): each key must read after the body
  * exactly as before it — its old value, or absent — also when the body
  * throws. */
class GraftSessionSpec extends SparkSpec {

  private val parts = "spark.sql.shuffle.partitions"
  // a SQL conf with a default but not set in the session: `getOption` reads
  // the default, so only an unset puts it back as it was
  private val absent = "spark.sql.streaming.noDataMicroBatches.enabled"

  test("withConf restores a key that was set") {
    val before = spark.conf.get(parts)
    val inside = GraftSession.withConf(spark, parts -> "7")(spark.conf.get(parts))
    assert(inside == "7")
    assert(spark.conf.get(parts) == before)
  }

  test("withConf unsets a key that was absent") {
    assume(!spark.conf.getAll.contains(absent), s"$absent is set in the test session")
    val inside = GraftSession.withConf(spark, absent -> "false")(spark.conf.get(absent))
    assert(inside == "false")
    assert(!spark.conf.getAll.contains(absent))
  }

  test("withConf restores every key after the body throws") {
    val before = spark.conf.getAll
    val e = intercept[IllegalStateException] {
      GraftSession.withConf(spark, parts -> "7", absent -> "false") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(spark.conf.getAll == before)
  }
}
