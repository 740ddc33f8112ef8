package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` output for catalog queries to files —
  * the optimization-round evidence trail (plans/r14/<name>_before.txt /
  * _after.txt). Usage: PlanDump <sfDir> <outDir> <suffix> [nameFilter]
  * where nameFilter is comma-separated substrings (empty/absent = all).
  * Entries that eagerly execute at construction (localCheckpoint pipelines)
  * still yield their final-plan explain; AQE initial plans are marked
  * isFinalPlan=false by Spark itself. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val filters = if (args.length > 3) args(3).split(',').toSeq else Seq("")
    val spark = GraftSession.create()
    Tables.register(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.foreach { case (name, fn) =>
      if (filters.exists(name.contains)) {
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
          System.err.println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
        } catch {
          case e: Throwable =>
            System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
