package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Full evaluation is forced through the physical plan
  * (`queryExecution.toRdd.foreach`) so projections can't collapse into
  * metadata-only scans (a `count()` would let Catalyst prune every column).
  * Failures are recorded as -1 and excluded from the total, never as a
  * fake wall-time. */
object Bench {

  /** The Bench family's session delta. ContextCleaner only reclaims shuffle
    * files/metadata after the owning RDD is GC'd; its default periodic-GC
    * interval is 30 min, longer than a whole bench run, so hundreds of
    * per-query shuffles accumulate and degrade the tail of the suite. Force
    * a driver GC every minute. */
  val sessionConf: Map[String, String] = Map("spark.cleaner.periodicGC.interval" -> "1min")

  /** Seconds to evaluate `df` through its physical plan, or -1 if building
    * or running it throws (`onFailure` sees the exception); `each` sees
    * every output row. */
  def seconds(df: => DataFrame, onFailure: Throwable => Unit = _ => (),
      each: InternalRow => Unit = _ => ()): Double = {
    val t0 = System.nanoTime()
    try {
      df.queryExecution.toRdd.foreach(each)
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable => onFailure(e); -1.0 }
  }

  /** Min over the successful runs; -1 when none succeeded. */
  def best(runs: Iterable[Double]): Double = {
    val ok = runs.filter(_ >= 0)
    if (ok.nonEmpty) ok.min else -1.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.create(sessionConf, cpus)
    val parallelism = spark.sparkContext.defaultParallelism
    System.err.println(s"[bench] cpus=$cpus defaultParallelism=$parallelism sf=$sfDir")
    // Preflight, failing LOUDLY: a setup crash must leave a parseable JSON
    // line on stdout carrying the ROOT-CAUSE class + message (round 6 died
    // in register and the artifact held only truncated inner stack frames).
    try {
      Tables.register(spark, sfDir)
      Preflight.check(spark, sfDir) match {
        case Nil => ()
        case problems => problems.foreach(p => System.err.println(s"[bench][preflight] $p"))
      }
    } catch {
      case e: Throwable =>
        val root = Preflight.rootCause(e)
        val msg = (root.getClass.getName + ": " +
          Option(root.getMessage).getOrElse("").linesIterator.take(3).mkString(" / "))
          .replace("\\", "\\\\").replace("\"", "\\\"").take(600)
        println(s"""{"metric":"total","value":-1,"unit":"sec","queries":{},"failed":-1,"sf":"$sfDir","setup_error":"$msg"}""")
        e.printStackTrace()
        sys.exit(1)
    }

    import scala.jdk.CollectionConverters._
    def gcMillis: Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum

    // Untimed warmup pass: JIT/codegen compilation, file-index and page-cache
    // priming — the timed pass then measures steady-state plan execution.
    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
      SparkEntry.queries.foreach { case (_, fn) => seconds(fn(spark, sfDir)) }
    }

    // Best-of-N timed PASSES: the host is shared and contention comes in
    // windows of minutes, so back-to-back reps of one query get inflated
    // together. Running the whole suite N times and taking each query's
    // minimum across passes means a contention window can only poison one
    // pass — the other pass's run of the same query lands outside it.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val names = SparkEntry.queries.keys.toSeq
    val passes: Seq[Map[String, Double]] = (1 to reps).map { pass =>
      // Release the previous pass's shuffle state before timing this one.
      System.gc()
      SparkEntry.queries.map { case (name, fn) =>
        val gc0 = gcMillis
        val sec = seconds(fn(spark, sfDir), e =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        val heapMb = (Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()) / (1 << 20)
        System.err.println(f"[bench] p$pass $name%-24s ${sec}%8.3f s  gc=${gcMillis - gc0}%5d ms  heap=${heapMb}%5d MB")
        name -> sec
      }
    }
    // One extra best-of pass over a cohort, logged under `tag`.
    def extraPass(tag: String, cohort: Seq[String]): Map[String, Double] = {
      System.gc()
      cohort.map { name =>
        val sec = seconds(SparkEntry.queries(name)(spark, sfDir))
        System.err.println(f"[bench] $tag $name%-24s ${sec}%8.3f s")
        name -> sec
      }.toMap
    }
    // Streaming drains schedule micro-batches (phased checkpoint restarts,
    // file-source listing, watermark commits) whose wall-clock varies across
    // contention windows far more than batch plans do — the r12 record read
    // q256 at 15.1 s while the same-day A/B window measured 4.2 s (VERDICT
    // r12 #6), a swing wide enough to mask a real 2x regression. Give the
    // streaming cohort one extra best-of pass so one noisy window can't
    // write the record.
    val streamingNames = names.filter(_.contains("stream"))
    val streamingPass = extraPass("ps", streamingNames)
    // The same discipline for the heavy BATCH tail (VERDICT r13 #4): the
    // >3 s entries are exactly the band where one noisy window both hides a
    // real 1.5x regression and fakes one (r13's q281 read 4.07 s in the
    // final window vs 1.88 s same-day A/B). One extra best-of pass over the
    // entries still reading >3 s after the main passes.
    val interim: Map[String, Double] = names.map { name =>
      name -> best(passes.flatMap(_.get(name)) ++ streamingPass.get(name))
    }.toMap
    val heavyPass = extraPass("ph", names.filter(n => interim(n) > 3.0 && !streamingNames.contains(n)))
    val results: Seq[(String, Double)] = names.map { name =>
      name -> best(Seq(interim(name)) ++ heavyPass.get(name))
    }
    def jmap(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    val ok = results.collect { case (_, v) if v >= 0 => v }
    val total = if (ok.nonEmpty) ok.sum else 0.0
    val failed = results.count(_._2 < 0)
    // The driver keeps only a ~2000-char tail of stdout: a per-query map over
    // the whole catalog truncates mid-line and parses as null. Full map goes
    // to a file (+stderr for logs); the final stdout line stays compact —
    // totals plus the 20 slowest queries — so it always parses. The file
    // also names the session width, so records from different hosts or
    // SPARK_GRAFT_CPUS settings are never compared blind.
    val full = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jmap(results)},"failed":$failed,"sf":"$sfDir","cpus":$cpus,"default_parallelism":$parallelism}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_full_latest.json"), full + "\n")
    // Do NOT echo the full record to stderr: the driver's ~2000-char tail
    // capture interleaves it right before the final stdout line, embedding
    // a truncated JSON fragment in BENCH_r*.json.tail (VERDICT r12/r13 nit).
    System.err.println(s"[bench] full per-query record -> BENCH_full_latest.json (${results.size} queries)")
    val top = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jmap(top)},"n_queries":${results.size},"failed":$failed,"queries_full":"BENCH_full_latest.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
