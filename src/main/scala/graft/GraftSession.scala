package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.SparkFiles
import org.apache.spark.sql.SparkSession

/** The one way this repo builds a Spark session: `local[cpus]` with
  * `shuffle.partitions = cpus`, AQE on, UTC, UI off and log level WARN.
  * Native functions are not part of the build — they come from
  * [[Tables.register]], the same call a session built elsewhere gets.
  * Each caller passes only its own delta. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else every processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def create(conf: Map[String, String] = Map.empty, cpus: Int = GraftSession.cpus): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A fresh scratch dir named `prefix<random>` under the temp dir Spark
    * keeps for its context (`SparkFiles.getRootDirectory()`, inside
    * `spark.local.dir`), for an entry's files that must outlive the call
    * only as long as its result: Spark deletes that dir on `stop()` and at
    * JVM exit, so nothing is left behind in `java.io.tmpdir`. Needs a
    * running SparkContext. */
  def scratch(prefix: String): Path =
    Files.createTempDirectory(Paths.get(SparkFiles.getRootDirectory()), prefix)

  /** Runs `body` with each `key -> value` set on the session conf, then
    * puts every key back as it was: its previous value, or unset if it had
    * none (so `spark.conf.getAll` reads the same after as before). Restores
    * when `body` throws too. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getAll.get(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
