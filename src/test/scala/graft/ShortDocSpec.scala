package graft

/** Short-document shingle safety (VERDICT r7 #6): Spark `sequence(1, n)`
  * DESCENDS to [1, 0, ...] when n < 1, while DuckDB `generate_series(1, n)`
  * is empty — so an UNGUARDED k-gram CTE emits phantom shingles for docs
  * with < k words the day a fixture regen includes one (current fixtures
  * have min 10 words; the divergence is armed, not hypothetical). Every
  * catalog shingle CTE therefore guards `size(w) >= k`. This spec proves
  * the guarded idioms produce EMPTY shingle sets on 1- and 2-word docs
  * (DuckDB-equal by construction) and that the affected catalog entries
  * never surface a short doc.
  */
class ShortDocSpec extends SparkSpec {

  private lazy val shortDir: String = {
    spark // the scratch dir lives under the running context's temp dir
    val dir = GraftSession.scratch("graft_shortdoc").toString
    val mk = (id: Long, text: String) =>
      (id, text, "en", s"src${id % 3}", text.length.toLong)
    val long1 = "the quick brown fox jumps over the lazy dog again and again"
    val long2 = "a completely different sentence with many distinct words inside it today"
    val rows = Seq(
      mk(0L, "hello"),                       // 1-word EVAL doc (0 % 97 == 0)
      mk(97L, "ab cd"),                      // 2-word EVAL doc
      mk(98L, "xy"),                         // 1-word (2-char) train doc
      mk(1L, long1), mk(2L, long1),          // exact-dup pair, >= 10 words
      mk(3L, long2), mk(194L, long1)         // 194 % 97 == 0: normal EVAL doc
    )
    import TestSpark.spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("the raw Spark idiom really is the hazard: sequence(1, n) descends for n < 1") {
    import TestSpark.spark.implicits._
    val n = Seq("hello").toDF("text")
      .selectExpr("size(transform(sequence(1, size(split(text, ' ')) - 2), i -> i))")
      .as[Int].head()
    assert(n == 3, s"sequence(1, -1) should descend to 3 elements, got $n") // [1, 0, -1]
  }

  test("guarded shingle CTEs yield ZERO shingles for 1- and 2-word docs (DuckDB-empty parity)") {
    try {
    Tables.register(spark, shortDir)
    val shingles = spark.sql(
      """SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w) - 2),
        |         i -> concat_ws(' ', w[i-1], w[i], w[i+1])))) AS g
        |FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
        |WHERE size(w) >= 3""".stripMargin)
    val shortIds = shingles.where("doc_id IN (0, 97, 98)").count()
    assert(shortIds == 0, s"short docs emitted $shortIds phantom shingles")
    assert(shingles.count() > 0, "long docs must still shingle")
    } finally Tables.register(spark, sfDir) // restore even on assertion failure
  }

  test("affected catalog entries run clean on short docs and never surface one") {
    try {
    val cases = Map(
      "q301_fuzzy_decontamination" -> Seq("eval_id", "train_id"),
      "q303_containment_neardup" -> Seq("a_id", "b_id"),
      "q312_split_leakage" -> Seq("a_id", "b_id"),
      "q46_ngram_jaccard" -> Seq("a_id", "b_id")
    )
    for ((name, idCols) <- cases) {
      val df = SparkEntry.queries(name)(spark, shortDir)
      val rows = df.collect()
      for (c <- idCols) {
        val bad = rows.map(_.getAs[Long](c)).filter(Set(0L, 97L, 98L))
        assert(bad.isEmpty, s"$name surfaced short doc(s) ${bad.toSet} in $c")
      }
      // the exact-dup long pair must still be found where the entry reports pairs
      if (name != "q301_fuzzy_decontamination") {
        assert(rows.nonEmpty, s"$name should still pair the identical long docs")
      }
    }
    // the funnel must count ALL 7 docs raw and drop the two exact copies
    // of long1 (ids 2 and 194 duplicate id 1)
    val funnel = SparkEntry.queries("q340_pipeline_funnel")(spark, shortDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(funnel("raw") == 7L, s"funnel raw stage: $funnel")
    assert(funnel("exact_dedup") == 5L, s"funnel exact_dedup stage: $funnel")
    // restore the shared fixture for later specs — in finally, so a failed
    // assertion above cannot leave the 7-row fixture registered and cascade
    // misleading failures through every later suite in the shared session
    } finally Tables.register(spark, sfDir)
  }
}
