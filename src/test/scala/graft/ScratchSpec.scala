package graft

/** Entries that write files keep them in `GraftSession.scratch` dirs, under
  * the temp dir Spark keeps for its context: a call leaves `java.io.tmpdir`
  * as it found it, and its result still reads what the call wrote. */
class ScratchSpec extends SparkSpec {

  private def graftChildren(): Set[String] =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.startsWith("graft_")).toSet

  for (prefix <- Seq("q255_", "q256_", "q258_", "q260_", "q261_", "q270_", "q283_", "q305_", "q309_"))
    test(s"$prefix* leaves no graft_* dir in java.io.tmpdir") {
      val (name, entry) = SparkEntry.queries.find(_._1.startsWith(prefix)).get
      spark // built first: the test session's own warehouse dir is a graft_* child
      val before = graftChildren()
      val rows = entry(spark, sfDir).collect()
      val after = graftChildren()
      assert(after == before, s"$name added ${after -- before}, removed ${before -- after}")
      assert(rows.nonEmpty, name)
    }

  test("a scratch dir lives under Spark's own temp dir") {
    val dir = GraftSession.scratch("graft_probe")
    try {
      assert(dir.getFileName.toString.startsWith("graft_probe"))
      assert(dir.getParent.toString == org.apache.spark.SparkFiles.getRootDirectory())
    } finally dir.toFile.delete(): Unit
  }
}
