package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (sessions are expensive),
  * built like every served and measured session; native functions come from
  * `Tables.register`, as they do there. */
object TestSpark {
  // Fixed at 4 so plan-shape assertions don't depend on the host's width;
  // a private warehouse so bucketed-table specs never touch the checkout.
  // It must exist before the session (so it cannot be a `GraftSession.scratch`
  // dir) and is deleted at JVM exit.
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    GraftSession.create(Map("spark.sql.warehouse.dir" -> warehouse.toString), cpus = 4)
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
