package graft.mcp

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.{SparkSpec, Tables}

/** Every Spark job a served call starts runs in that call's job group, with
  * the default config too (no `--query-timeout-ms`), so listener metrics can
  * be joined back to the request. */
class JobGroupSpec extends SparkSpec {

  test("every job of a default-config call carries its call's job group") {
    Tables.register(spark, sfDir)
    // two servers on one context, as on cloned sessions: a timed-out call
    // cancels its group, so no two calls may share one
    val (server, other) = (new McpServer(spark, ToolboxConfig(Nil, Nil)),
      new McpServer(spark.newSession(), ToolboxConfig(Nil, Nil)))
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(Option[String], Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        // a streaming query another spec left running is not a served call
        if (!props.exists(_.getProperty("sql.streaming.queryId") != null)) jobs.add((props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
          props.flatMap(p => Option(p.getProperty("spark.job.description")))))
      }
    }
    sc.addSparkListener(listener)
    try {
      def sql(id: Int) = s"""{"jsonrpc":"2.0","id":$id,"method":"tools/call","params":{"name":"execute_sql","arguments":{"sql":"SELECT id % 7 AS k, COUNT(*) AS n FROM range(1000) GROUP BY 1"}}}"""
      val calls = Seq(server -> sql(41),
        server -> """{"jsonrpc":"2.0","id":"lt-42","method":"tools/call","params":{"name":"list_tables","arguments":{"table_names":"orders"}}}""",
        other -> sql(43))
      for ((srv, c) <- calls) assert(!srv.handleLine(c).get.contains("\"isError\":true"))
      // listener events arrive in order: once this marker job is seen,
      // every job the calls started has been seen too
      sc.setJobGroup("job-group-spec-marker", "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!jobs.asScala.exists(_._1.contains("job-group-spec-marker")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val served = jobs.asScala.toSeq.takeWhile(!_._1.contains("job-group-spec-marker"))
    val ungrouped = served.filterNot(_._1.exists(_.matches("graft-mcp-\\d+")))
    assert(ungrouped.isEmpty, s"${ungrouped.size} of ${served.size} jobs ran outside a graft-mcp group")
    val byGroup = served.groupBy(_._1.get).map { case (g, js) => g -> js.flatMap(_._2).toSet }
    assert(byGroup.values.forall(_.size == 1), byGroup)
    val sqlDescs = Set(Set("mcp tool execute_sql id 41"), Set("mcp tool execute_sql id 43"))
    assert(sqlDescs.subsetOf(byGroup.values.toSet), s"an execute_sql call ran no job: $byGroup")
    assert(byGroup.values.flatten.toSet.subsetOf(sqlDescs.flatten + "mcp tool list_tables id \"lt-42\""),
      byGroup)
  }
}
