package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.LongType

/** The `information_schema_*` rows as case-class encoders built them before
  * the views were built from `Row`s: the reference shape. */
case class ColumnMetaRef(schema_name: String, table_name: String, column_name: String,
    column_position: Int, data_type: String, is_nullable: String, column_default: String)
case class TableMetaRef(schema_name: String, table_name: String)

/** `Tables` registers and reads every fixture table without a Spark job:
  * each file's schema comes from its footer on the driver, and must be the
  * schema Spark's own inference gives. */
class TablesSpec extends SparkSpec {

  private val fixtureDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(d => s"/root/testdata/$d")
    .filter(d => new java.io.File(d).isDirectory)

  /** Job-start group ids seen while `body` runs in job group `group`; the
    * marker job (listener events arrive in order) bounds the wait. */
  private def jobsIn(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!groups.contains(s"$group-marker") && System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    groups.asScala.toSeq.filter(_ == group)
  }

  test("Tables.register on a fresh session runs no Spark job") {
    val fresh = spark.newSession()
    val jobs = jobsIn("tables-spec-register")(Tables.register(fresh, sfDir))
    assert(jobs.isEmpty, s"${jobs.size} jobs ran while registering $sfDir")
    assert(Tables.tableNames.forall(fresh.catalog.tableExists))
  }

  test("footer schema equals Spark's inferred schema for every fixture table") {
    assert(fixtureDirs.nonEmpty)
    val s = spark.newSession()
    Tables.register(s, sfDir) // the session's parquet read confs
    for (d <- fixtureDirs; t <- Tables.tableNames) {
      val f = s"$d/$t.parquet"
      assert(Tables.footerSchema(s, f).contains(s.read.parquet(f).schema), f)
    }
  }

  test("footer schema of a Spark-written file keeps its row metadata; a directory keeps inference") {
    val s = spark.newSession()
    Tables.register(s, sfDir)
    val dir = GraftSession.scratch("graft_tables_spec").toString
    s.table("orders").limit(5).coalesce(1).write.parquet(s"$dir/orders_dir")
    val part = new java.io.File(s"$dir/orders_dir").listFiles().find(_.getName.endsWith(".parquet")).get
    assert(Tables.footerSchema(s, part.toString).contains(s.read.parquet(part.toString).schema))
    assert(Tables.footerSchema(s, s"$dir/orders_dir").isEmpty)
    // a `<table>.parquet` directory still registers through inference
    java.nio.file.Files.move(java.nio.file.Paths.get(s"$dir/orders_dir"),
      java.nio.file.Paths.get(s"$dir/orders.parquet"))
    assert(Tables.read(s, dir, "orders").count() == 5)
  }

  test("an ns-vintage events file registers with ts as LongType and normalizes to the right µs") {
    // a scratch dataset dir: nine fixtures plus an ns-vintage events file,
    // registered on a fresh session, so only `register` sets nanosAsLong
    val dir = GraftSession.scratch("graft_tables_ns")
    for (t <- Tables.tableNames if t != "events")
      java.nio.file.Files.createSymbolicLink(dir.resolve(s"$t.parquet"),
        java.nio.file.Paths.get(sfDir, s"$t.parquet"))
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |}""".stripMargin)
    val s = spark.newSession()
    val f = dir.resolve("events.parquet").toString
    val conf = s.sparkContext.hadoopConfiguration
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(f), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    val ns = Seq(1700000000123456789L, 1600000000000000999L)
    try ns.zipWithIndex.foreach { case (t, i) =>
      writer.write(rows.newGroup().append("event_id", i.toLong).append("user_id", 7L)
        .append("event_type", "click").append("value", 1.5).append("ts", t))
    } finally writer.close()
    Tables.register(s, dir.toString)
    assert(s.catalog.tableExists("events"), "the ns-vintage events file did not register")
    assert(Tables.footerSchema(s, f).get("ts").dataType == LongType)
    // required columns: the footer schema keeps them non-nullable, and the
    // file source reads them nullable with or without it
    assert(Tables.eventsRaw(s, dir.toString).schema == s.read.parquet(f).schema)
    val us = ns.map(_ / 1000)
    assert(s.sql("SELECT unix_micros(ts) FROM events ORDER BY event_id").collect()
      .map(_.getLong(0)).toSeq == us)
    assert(Tables.eventsTsUs(s, dir.toString).orderBy("event_id").collect()
      .map(_.getLong(4)).toSeq == us)
  }

  test("information_schema views match the case-class-built reference") {
    val s = spark.newSession()
    Tables.register(s, sfDir)
    val ref = s.createDataFrame(for {
      t <- Tables.tableNames
      (f, i) <- s.table(t).schema.fields.toSeq.zipWithIndex
    } yield ColumnMetaRef("main", t, f.name, i + 1, f.dataType.simpleString,
      if (f.nullable) "YES" else "NO", null))
    val got = s.table("information_schema_columns")
    assert(got.schema == ref.schema)
    assert(got.collect().toSeq == ref.collect().toSeq)
    val tabs = s.table("information_schema_tables")
    val tabsRef = s.createDataFrame(Tables.tableNames.map(TableMetaRef("main", _)))
    assert(tabs.schema == tabsRef.schema)
    assert(tabs.collect().toSeq == tabsRef.collect().toSeq)
  }

  test("one dir spelled two ways registers once; another dir re-registers") {
    val s = spark.newSession()
    def region(x: SparkSession) = x.sessionState.catalog.getRawTempView("region").get
    Tables.register(s, sfDir)
    val first = region(s)
    val relative = java.nio.file.Paths.get(System.getProperty("user.dir"))
      .relativize(java.nio.file.Paths.get(sfDir)).toString
    for (spelling <- Seq(sfDir + "/", relative, "file:" + sfDir)) {
      Tables.register(s, spelling)
      assert(region(s) eq first, s"'$spelling' re-registered $sfDir")
    }
    val other = fixtureDirs.find(_ != sfDir)
    assume(other.nonEmpty)
    Tables.register(s, other.get)
    assert(!(region(s) eq first), s"${other.get} did not re-register")
  }
}
