package graft.streaming

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, Tables}

/** The drain plumbing of [[Streams]]: source sizing through the Hadoop
  * FileSystem, no temp-dir leak from the file-sink drains, and session conf
  * left as found by every entry that scopes some. */
class DrainSpec extends SparkSpec {

  private def entry(name: String): DataFrame =
    Streams.queries.toMap.apply(name)(spark, sfDir)

  test("source bytes are read through the FileSystem of a file: URI") {
    val onDisk = new java.io.File(sfDir, "events.parquet").length()
    assert(onDisk > 0)
    // a java.io.File probe of the same URI reads 0 (no such local path),
    // which silently floored the state-partition count
    assert(new java.io.File("file:" + sfDir, "events.parquet").length() == 0)
    assert(Streams.sourceBytes(spark, "file:" + sfDir, "events.parquet") == onDisk)
    assert(Streams.sourceBytes(spark, sfDir, "events.parquet") == onDisk)
  }

  for (name <- Seq("q256_stream_watermark_drain", "q283_stream_cdc_apply"))
    test(s"$name keeps only the dir its result reads") {
      val df = entry(name)
      val read: Path = Paths.get(java.net.URI.create(df.inputFiles.head)).getParent
      val root = read.getParent
      assert(root.getFileName.toString.startsWith("graft_drain"), s"not a per-call root: $root")
      assert(root.toFile.listFiles().toSeq.map(_.toPath) == Seq(read))
      assert(df.collect().nonEmpty)
    }

  test("conf-scoping entries leave the session conf as they found it") {
    Tables.register(spark, sfDir)
    for (name <- Seq("q259_stream_stream_join_drain", "q264_stream_stream_outer_drain",
        "q283_stream_cdc_apply", "q285_stream_tws_totals",
        "q311_stream_dedup_within_watermark")) {
      val before = spark.conf.getAll
      entry(name).collect()
      val after = spark.conf.getAll
      assert(after == before, s"$name changed the session conf: " +
        s"${(after.toSet diff before.toSet) ++ (before.toSet diff after.toSet)}")
    }
  }
}
