package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single-query profiler and formulation A/B runner.
  * Usage: BenchOne <sfDir> <mode>, where <mode> is one of
  *  - an A/B key of [[abs]]: every formulation of that decision, 3 runs
  *    each, timed with [[Bench.seconds]];
  *  - `stream_profile:<entry>`: per-batch and per-job timings of a
  *    streaming drain entry;
  *  - a catalog entry name: toRdd / noop-write / collect timings plus the
  *    executed plan.
  * Scale questions (does t(10x)/t(1x) stay near-linear?) belong to
  * [[BenchScale]], which gates them; this tool answers "which of these
  * formulations is faster at this size". */
object BenchOne {

  private def sql(q: String): SparkSession => DataFrame = _.sql(q)

  /** One synthetic `len`-char alphanumeric doc (seeded) as (id, t), read
    * through an RDD so Catalyst cannot fold the gram build into a literal. */
  private def syntheticDoc(spark: SparkSession, len: Int): DataFrame = {
    import spark.implicits._
    val doc = new scala.util.Random(42).alphanumeric.take(len).mkString
    spark.sparkContext.parallelize(Seq((1L, doc)), 1).toDF("id", "t")
  }

  /** Formulation A/Bs, one key per decision a source comment or doc cites:
    * key -> (label, formulation) rows, all computing the same answer. */
  val abs: Map[String, Seq[(String, SparkSession => DataFrame)]] = Map(
    // CosineSimilarity: native expression vs the same math as array HOFs,
    // all pairs within a 500-row slice (250k scoring ops per formulation).
    "cosine_native_vs_hof" -> {
      val pairs = "(SELECT * FROM embeddings WHERE vec_id < 500) a JOIN (SELECT * FROM embeddings WHERE vec_id < 500) b"
      def norm(v: String) = s"SQRT(aggregate($v, CAST(0 AS DOUBLE), (s, x) -> s + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
      Seq(
        "native" -> sql(s"SELECT SUM(cosine_similarity(a.embedding, b.embedding)) FROM $pairs"),
        "hof" -> sql("SELECT SUM(aggregate(zip_with(a.embedding, b.embedding, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), " +
          s"CAST(0 AS DOUBLE), (s, x) -> s + x) / (${norm("a.embedding")} * ${norm("b.embedding")})) FROM $pairs"))
    },
    // q72 shape: fused cosine (re-derives both norms per pair) vs hoisted
    // norms (one dot per pair).
    "dot_hoist_vs_fused" -> Seq(
      "fused" -> sql("""SELECT COUNT(*) FROM embeddings a JOIN embeddings b
        ON a.vec_id < b.vec_id
       AND ROUND(cosine_similarity(a.embedding, b.embedding), 4) >= 0.4"""),
      "hoist" -> sql("""WITH e AS (SELECT vec_id, embedding,
          SQRT(dot_product(embedding, embedding)) AS nrm FROM embeddings)
        SELECT COUNT(*) FROM e a JOIN e b
          ON a.vec_id < b.vec_id
         AND ROUND(dot_product(a.embedding, b.embedding) / (a.nrm * b.nrm), 4) >= 0.4""")),
    // q46: exploded gram equi-join + groupBy count vs per-doc distinct-gram
    // arrays joined on adjacent id + array_intersect.
    "ngram_explode_vs_array" -> Seq(
      "exploded" -> sql("""WITH ds AS (
          SELECT doc_id, explode(array_distinct(transform(sequence(1, length(text) - 2),
                                                          i -> substr(text, i, 3)))) AS g
          FROM documents),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
          FROM ds a JOIN ds b ON a.g = b.g AND b.doc_id = a.doc_id + 1
          GROUP BY a.doc_id, b.doc_id)
        SELECT i.a_id, i.b_id, ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
        FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id JOIN sizes sb ON sb.doc_id = i.b_id
        ORDER BY i.a_id"""),
      "arrays" -> sql("""WITH ds AS (
          SELECT doc_id, array_distinct(transform(sequence(1, length(text) - 2),
                                                  i -> substr(text, i, 3))) AS gs
          FROM documents)
        SELECT a_id, b_id, ROUND(CAST(i AS DOUBLE) / (na + nb - i), 4) AS jaccard
        FROM (
          SELECT a.doc_id AS a_id, b.doc_id AS b_id,
            size(array_intersect(a.gs, b.gs)) AS i, size(a.gs) AS na, size(b.gs) AS nb
          FROM ds a JOIN ds b ON b.doc_id = a.doc_id + 1)
        WHERE i > 0
        ORDER BY a_id""")),
    // q318/q318b: per-half bottom-256 of the distinct 3-gram md5s via two
    // ranked-window passes over the distinct set vs the native kmv_agg
    // (map-side partial bottom-k on RAW grams; the shuffle carries at most
    // partitions x k values per group).
    "kmv_window_vs_agg" -> Seq(
      "window" -> sql(
        """WITH t AS (SELECT doc_id % 2 AS half, split(text, ' ') AS ws FROM documents),
          |g AS (SELECT DISTINCT half, concat_ws(' ', slice(ws, i, 3)) AS gram
          |      FROM t LATERAL VIEW explode(sequence(1, size(ws) - 2)) x AS i
          |      WHERE size(ws) >= 3),
          |h AS (SELECT DISTINCT half, md5(gram) AS h FROM g),
          |bk AS (SELECT half, h FROM
          |       (SELECT half, h, ROW_NUMBER() OVER (PARTITION BY half ORDER BY h) AS rk
          |        FROM h) w WHERE rk <= 256)
          |SELECT half, COUNT(*) AS n, MAX(h) AS kth FROM bk GROUP BY half""".stripMargin),
      "native-agg" -> sql(
        """WITH t AS (SELECT doc_id % 2 AS half, split(text, ' ') AS ws FROM documents),
          |g AS (SELECT half, concat_ws(' ', slice(ws, i, 3)) AS gram
          |      FROM t LATERAL VIEW explode(sequence(1, size(ws) - 2)) x AS i
          |      WHERE size(ws) >= 3),
          |bk AS (SELECT half, kmv_agg(md5(gram), 256) AS sk FROM g GROUP BY half)
          |SELECT half, size(sk) AS n, element_at(sk, -1) AS kth FROM bk""".stripMargin)),
    // q205 shape: the custom merge operator (AsOfJoinExec) vs the
    // union+window formulation; both pay one shuffle per side.
    "asof_native_vs_window" -> {
      import org.apache.spark.sql.functions._
      def sides(spark: SparkSession): (DataFrame, DataFrame) = {
        val ev = spark.table("events")
        (ev.select(col("event_id"), col("user_id"), col("ts")),
         ev.where(col("event_type") === "click")
           .groupBy("user_id", "ts").agg(round(max(col("value")), 4).as("click_v")))
      }
      Seq(
        "native merge" -> { (s: SparkSession) =>
          val (l, r) = sides(s); pipeline.Ops.asofJoinNative(l, r, "user_id", "ts", Seq("click_v")) },
        "union+window" -> { (s: SparkSession) =>
          val (l, r) = sides(s); pipeline.Ops.asofJoin(l, r, "user_id", "ts", Seq("click_v")) })
    },
    // Ops.charGramArraySql: positional substr char-grams (O(L²) per doc)
    // vs the length-gated build, distinct bigrams of one doc per length.
    // Quadratic growth in the substr rows and ~linear in the gated rows is
    // the point.
    "chargram_cliff" -> (for {
      len <- Seq(1 << 10, 1 << 13, 1 << 15)
      (label, grams) <- Seq(
        "substr" -> "transform(sequence(1, length(t) - 1), i -> substr(t, i, 2))",
        "gated" -> pipeline.Ops.charGramArraySql("t", 2))
    } yield f"len=$len%6d $label" -> { (s: SparkSession) =>
      syntheticDoc(s, len).selectExpr("t", s"${pipeline.Ops.charSplitGuardSql("t")} AS __ch")
        .selectExpr(s"explode($grams) AS bg").distinct()
    })
  )

  private val streamPrefix = "stream_profile:"

  val usage: String =
    s"usage: graft.BenchOne <sfDir> <mode>; mode = one of ${abs.keys.toSeq.sorted.mkString(", ")}, " +
      s"$streamPrefix<entry>, or a catalog entry name"

  /** (sfDir, mode) when `args` is exactly `<sfDir> <mode>` and the mode is
    * an A/B key, `stream_profile:<entry>` or an entry of `knownEntries`;
    * None otherwise. */
  def parseArgs(args: Array[String], knownEntries: Set[String]): Option[(String, String)] = args match {
    case Array(sfDir, mode) if abs.contains(mode) || knownEntries(mode.stripPrefix(streamPrefix)) =>
      Some((sfDir, mode))
    case _ => None
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, name) = parseArgs(args, SparkEntry.queries.keySet).getOrElse {
      System.err.println(usage)
      sys.exit(2)
    }
    val spark = GraftSession.create()
    Tables.register(spark, sfDir)
    var failed = false
    abs.get(name) match {
      case Some(rows) =>
        for (i <- 1 to 3; (label, f) <- rows) {
          val sec = Bench.seconds(f(spark), e => {
            failed = true
            System.err.println(s"run$i $label FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          })
          if (sec >= 0) println(f"run$i $label: $sec%.3f s")
        }
      case None if name.startsWith(streamPrefix) => streamProfile(spark, sfDir, name.stripPrefix(streamPrefix))
      case None => entryProfile(spark, sfDir, name)
    }
    spark.stop()
    if (failed) sys.exit(1)
  }

  /** Per-batch + per-job attribution for a streaming drain entry: where
    * does the wall-clock go — micro-batch execution (addBatch), offset/
    * commit WAL writes, query planning, or gaps between jobs (driver-side
    * setup, writeHalf batch jobs, cut computation)? */
  private def streamProfile(spark: SparkSession, sfDir: String, qname: String): Unit = {
    val t00 = System.nanoTime()
    def rel: Double = (System.nanoTime() - t00) / 1e9
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit =
        println(f"[sq] $rel%7.3f START   ${e.id}")
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        println(f"[sq] $rel%7.3f batch=${p.batchId}%2d rows=${p.numInputRows}%7d " +
          f"trigger=${dm.getOrDefault("triggerExecution", -1L)}%5d addBatch=${dm.getOrDefault("addBatch", -1L)}%5d " +
          f"getBatch=${dm.getOrDefault("getBatch", -1L)}%4d latestOffset=${dm.getOrDefault("latestOffset", -1L)}%4d " +
          f"walCommit=${dm.getOrDefault("walCommit", -1L)}%4d commitOffsets=${dm.getOrDefault("commitOffsets", -1L)}%4d " +
          f"planning=${dm.getOrDefault("queryPlanning", -1L)}%4d")
        p.stateOperators.foreach { so =>
          println(f"[sq]         state op=${so.operatorName} commitMs=${so.allUpdatesTimeMs + so.commitTimeMs}%d " +
            f"rowsTotal=${so.numRowsTotal} memUsed=${so.memoryUsedBytes}")
        }
      }
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        println(f"[sq] $rel%7.3f END     ${e.id}")
    })
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.put(e.jobId, System.nanoTime())
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val dur = Option(starts.remove(e.jobId)).map(s => (System.nanoTime() - s) / 1e9).getOrElse(-1.0)
        println(f"[job] $rel%7.3f job=${e.jobId}%3d dur=$dur%6.3f")
      }
    })
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      SparkEntry.queries(qname)(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
      println(f"[sq] run$i total: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
  }

  /** One catalog entry: two rounds of toRdd / noop-write / collect timings,
    * then the executed plan. */
  private def entryProfile(spark: SparkSession, sfDir: String, name: String): Unit = {
    val fn = SparkEntry.queries(name)
    def time(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    for (i <- 1 to 2) {
      time(s"run$i toRdd.foreach") { fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ()) }
      time(s"run$i noop write") { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      time(s"run$i collect") { fn(spark, sfDir).collect() }
    }
    val finalDf = fn(spark, sfDir)
    finalDf.queryExecution.toRdd.foreach(_ => ())
    println(finalDf.queryExecution.executedPlan.toString.take(3000))
  }
}
