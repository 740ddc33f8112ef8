package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span log shared by the three listener classes below.
  *
  * The listeners attach to an unmodified program through Spark's own
  * settings, passed as system properties:
  *
  *   -Dspark.extraListeners=perfbench.TraceSparkListener
  *   -Dspark.sql.queryExecutionListeners=perfbench.TraceQueryListener
  *   -Dspark.sql.streaming.streamingQueryListeners=perfbench.TraceStreamingListener
  *   -Dperfbench.trace.out=<file>
  *
  * Every record is one JSON object stamped in epoch milliseconds. Records
  * stay in memory and are written once, when the application ends (or at
  * JVM exit if it never ends cleanly). The harness attributes records to
  * operations by time window: the traced programs run one operation at a
  * time. */
object TraceLog {
  private val records = new ConcurrentLinkedQueue[String]()
  @volatile private var written = false

  def add(fields: (String, Any)*): Unit = records.add(json(fields))

  def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def flush(): Unit = synchronized {
    if (!written) {
      written = true
      sys.props.get("perfbench.trace.out").foreach { out =>
        val text = records.asScala.mkString("", "\n", "\n")
        Files.write(Paths.get(out), text.getBytes(StandardCharsets.UTF_8))
      }
    }
  }

  sys.addShutdownHook(flush())
}

/** Jobs, stages and tasks (the `exec` layer) plus application start (the
  * end of the `setup` layer's session phase). */
class TraceSparkListener extends SparkListener {
  override def onApplicationStart(e: SparkListenerApplicationStart): Unit =
    TraceLog.add("k" -> "app_start", "t" -> e.time)

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = TraceLog.flush()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    TraceLog.add("k" -> "job_start", "job" -> e.jobId, "t" -> e.time, "stages" -> e.stageIds)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    TraceLog.add("k" -> "job_end", "job" -> e.jobId, "t" -> e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    val ok = e.reason == org.apache.spark.Success
    if (m == null)
      TraceLog.add("k" -> "task", "stage" -> e.stageId, "start" -> i.launchTime,
        "end" -> i.finishTime, "ok" -> ok)
    else {
      val sr = m.shuffleReadMetrics
      TraceLog.add("k" -> "task", "stage" -> e.stageId, "start" -> i.launchTime,
        "end" -> i.finishTime, "ok" -> ok,
        "run" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime, "gc" -> m.jvmGCTime,
        "deser" -> m.executorDeserializeTime, "ser" -> m.resultSerializationTime,
        "fetch" -> i.gettingResultTime,
        "sw" -> m.shuffleWriteMetrics.bytesWritten,
        "sr" -> (sr.localBytesRead + sr.remoteBytesRead),
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "peak" -> m.peakExecutionMemory, "in_rows" -> m.inputMetrics.recordsRead)
    }
  }
}

/** Catalyst phases of every Dataset action (the `catalyst` layer). */
class TraceQueryListener extends QueryExecutionListener {
  private def phases(qe: QueryExecution): Map[String, Seq[Long]] =
    qe.tracker.phases.map { case (name, p) => name -> Seq(p.startTimeMs, p.endTimeMs) }

  // Callbacks run later, on the listener bus: the phases carry their own
  // timestamps, and the harness places the action by them.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    TraceLog.add("k" -> "action", "func" -> funcName, "end" -> System.currentTimeMillis(),
      "dur_ns" -> durationNs, "phases" -> phases(qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    TraceLog.add("k" -> "action", "func" -> funcName, "end" -> System.currentTimeMillis(),
      "dur_ns" -> 0L, "phases" -> phases(qe))
}

/** Micro-batch progress of the streaming drains (the `streaming` layer). */
class TraceStreamingListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    TraceLog.add("k" -> "batch", "start" -> start,
      "end" -> (start + durations.getOrElse("triggerExecution", 0L)), "durations" -> durations,
      "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
