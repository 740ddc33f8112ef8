package graft

/** Interleaved A/B bench: separates HOST DRIFT from STRUCTURAL REGRESSION.
  *
  * The round-7 closing runs (187.2 / 217.5 / 234.6 s as the catalog grew
  * 350→357 entries) were each taken in a different wall-clock window on a
  * shared host, so "the old queries didn't regress" was asserted, not
  * measured. This main measures it: alternating passes over
  *   A = the query subset recorded in a prior round's bench artifact
  *       (its "queries" keys — e.g. BENCH_local_r6.json's 279 entries,
  *       restricted to names that still exist), and
  *   B = the full current catalog,
  * in ONE host window (A,B,A,B). Per query we keep the min across its
  * passes, as Bench does.
  *
  * Attribution logic:
  *   - A-vs-prior-artifact ratio: same queries, same code shape, different
  *     wall window → uniform ratio across cheap and expensive queries is
  *     host drift; ratio concentrated in specific queries is a code change.
  *   - A-vs-B ratio on the common queries: same window, same code; B adds
  *     the new entries' shuffle/GC pressure around them → any inflation is
  *     harness interference from catalog growth, not per-query regression.
  *
  * Usage: BenchAB <priorBenchJson> [outJson]   (sf dir from
  * SPARK_GRAFT_SF_DIR, defaults to /root/testdata/sf0.1). Output JSON has
  * per-query {a, b, prior} seconds plus aggregate medians of the ratios.
  */
object BenchAB {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** Nearest-rank 90th percentile (ceil(0.9n)-th smallest) — index
    * (9n)/10 would select the MAX for n <= 10 (p100, not p90). */
  private def p90(xs: Seq[Double]): Double =
    if (xs.isEmpty) -1.0
    else xs.sorted.apply(math.ceil(0.9 * xs.size).toInt.max(1) - 1)

  def main(args: Array[String]): Unit = {
    val priorPath = args.headOption.getOrElse("BENCH_local_r6.json")
    val outPath = if (args.length > 1) args(1) else "BENCH_AB_latest.json"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // Prior artifact: {"queries":{name:sec,...}} — parse with Spark's shaded
    // Jackson (no extra deps allowed in this build).
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val priorNode = mapper.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(priorPath)))
    val prior: Map[String, Double] = {
      val q = priorNode.get("queries")
      val it = q.properties().iterator()
      val b = Map.newBuilder[String, Double]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.asDouble() }
      b.result()
    }

    // long catalog passes: periodic driver GC keeps per-query shuffles from piling up
    val spark = GraftSession.create(Bench.sessionConf)
    Tables.register(spark, sfDir)

    val all = SparkEntry.queries
    val commonNames = all.keys.toSeq.filter(prior.contains).sorted
    val allNames = all.keys.toSeq.sorted
    System.err.println(s"[benchAB] common=${commonNames.size} full=${allNames.size} prior=$priorPath")

    def runPass(tag: String, names: Seq[String]): Map[String, Double] = {
      System.gc()
      names.map { name =>
        name -> Bench.seconds(all(name)(spark, sfDir),
          e => System.err.println(s"[benchAB] $tag $name FAILED: ${e.getMessage}"))
      }.toMap
    }

    // Untimed warmup over the full catalog (JIT, file index, page cache).
    all.foreach { case (_, fn) => Bench.seconds(fn(spark, sfDir)) }

    // Interleave: A,B,A,B in one window.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val aPasses = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    val bPasses = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()
    (1 to reps).foreach { i =>
      System.err.println(s"[benchAB] pass $i/A (common subset)")
      aPasses += runPass(s"p${i}A", commonNames)
      System.err.println(s"[benchAB] pass $i/B (full catalog)")
      bPasses += runPass(s"p${i}B", allNames)
    }

    def best(passes: Seq[Map[String, Double]], name: String): Double =
      Bench.best(passes.flatMap(_.get(name)))

    val perQuery = allNames.map { n =>
      val a = if (prior.contains(n)) best(aPasses.toSeq, n) else -1.0
      val b = best(bPasses.toSeq, n)
      (n, a, b, prior.getOrElse(n, -1.0))
    }

    // Ratios on queries big enough that timer noise doesn't dominate.
    val meaningful = perQuery.filter { case (_, a, b, p) => a > 0 && b > 0 && p >= 0.05 }
    val driftRatios = meaningful.map { case (_, a, _, p) => a / p }
    val interfRatios = meaningful.map { case (_, a, b, _) => b / a }
    val aTotal = perQuery.collect { case (_, a, _, _) if a >= 0 => a }.sum
    val bCommonTotal = perQuery.collect { case (n, a, b, _) if a >= 0 && b >= 0 => b }.sum
    val bFullTotal = perQuery.collect { case (_, _, b, _) if b >= 0 => b }.sum
    val priorTotal = perQuery.collect { case (_, a, _, p) if a >= 0 && p >= 0 => p }.sum

    val pq = perQuery.map { case (n, a, b, p) =>
      f""""$n":{"a":$a%.3f,"b":$b%.3f,"prior":$p%.3f}"""
    }.mkString("{", ",", "}")
    val out =
      f"""{"metric":"bench_ab","sf":"$sfDir","prior_artifact":"$priorPath",""" +
      f""""common_n":${commonNames.size},"full_n":${allNames.size},""" +
      f""""a_total":$aTotal%.3f,"b_common_total":$bCommonTotal%.3f,"b_full_total":$bFullTotal%.3f,"prior_total":$priorTotal%.3f,""" +
      f""""drift_ratio_median":${median(driftRatios)}%.3f,"drift_ratio_p90":${p90(driftRatios)}%.3f,""" +
      f""""interference_ratio_median":${median(interfRatios)}%.3f,""" +
      f""""queries":$pq}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), out + "\n")
    System.err.println(f"[benchAB] A=$aTotal%.1f s  B(common)=$bCommonTotal%.1f s  B(full)=$bFullTotal%.1f s  prior=$priorTotal%.1f s")
    System.err.println(f"[benchAB] drift median A/prior=${median(driftRatios)}%.3f  interference median B/A=${median(interfRatios)}%.3f")
    println(out.take(1800))
    spark.stop()
  }
}
