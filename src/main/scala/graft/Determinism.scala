package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-run determinism harness (VERDICT r7 #4): every oracle-gated batch
  * entry must produce BITWISE-identical output under perturbed physical
  * configs. The driver's gate hashes exact values in row order, so any
  * result that depends on shuffle partitioning, AQE re-planning, or
  * parallel summation order is a latent driver-red — the q331 rounding tie
  * shipped precisely because nothing re-ran entries under a perturbed
  * config and diffed bitwise. The reference's harness asserts exact
  * protocol-level results the same way
  * (reference: tests/postgres/test_mcp.py:144-153).
  *
  * Run A: shuffle.partitions=5, AQE off. Run B: shuffle.partitions=32, AQE
  * on — maximally different physical plans for the same logical plan.
  * Doubles are compared by RAW IEEE-754 BITS, row order preserved (the
  * driver compares in row order, so unstable ordering is also a failure).
  */
object Determinism {

  /** Canonical bitwise encoding of a collected cell (doubles/floats by raw
    * bits — 1-ULP summation drift must FAIL, not round away). */
  def canon(v: Any): String = v match {
    case null => "\\N"
    case d: java.lang.Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: java.lang.Float => java.lang.Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case a: scala.collection.Seq[_] => a.map(canon).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => canon(k) + "->" + canon(x) }.toSeq.sorted.mkString("{", ",", "}")
    case x => x.toString
  }

  private def collectCanon(df: DataFrame): Seq[String] = df.collect().toSeq.map(canon)

  /** Runs each named entry under the two perturbed configs; returns
    * (name, identical?, detail). Restores the session's config after. */
  def check(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[(String, Boolean, String)] = {
    val qs = SparkEntry.queries
    // Register BEFORE perturbing: in a fresh session the first entry's own
    // Tables.register would run doRegister, which force-sets the session
    // posture (AQE on) and would silently undo the AQE-off half of run A
    // for that entry — weakening exactly the gate this harness is.
    Tables.register(spark, sfDir)
    def run(fn: (SparkSession, String) => DataFrame, parts: Int, aqe: Boolean): Seq[String] =
      GraftSession.withConf(spark, "spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.enabled" -> aqe.toString) {
        collectCanon(fn(spark, sfDir))
      }
    names.map { name =>
      val fn = qs(name)
      try {
        val a = run(fn, 5, aqe = false)
        val b = run(fn, 32, aqe = true)
        if (a == b) (name, true, s"${a.size} rows")
        else {
          val i = a.zip(b).indexWhere { case (x, y) => x != y }
          val at = if (i >= 0) i else math.min(a.size, b.size)
          (name, false, s"rows ${a.size} vs ${b.size}; first diff at row $at: " +
            s"${a.lift(at).getOrElse("<none>")} vs ${b.lift(at).getOrElse("<none>")}")
        }
      } catch { case e: Throwable => (name, false, s"error: ${e.getMessage}") }
    }
  }

  /** All batch (non-streaming) entry names: the SQL catalog + the
    * DataFrame-coded [EXT] operators. Streaming entries manage their own
    * micro-batch clocks and checkpoint dirs — their restart determinism is
    * exercised in StreamingSpec, and their perturbed-config rerun
    * stability by [[streamingNames]] through the same check (every
    * invocation builds a fresh source/checkpoint, so two runs under
    * different shuffle-partition counts are independent end-to-end drains
    * whose sinks must still agree bitwise). */
  def batchNames: Seq[String] = {
    val streamNames = streaming.Streams.queries.map(_._1).toSet
    SparkEntry.queries.keys.filterNot(streamNames).toSeq
  }

  /** The streaming entry names, for the perturbed-config rerun gate. */
  def streamingNames: Seq[String] = streaming.Streams.queries.map(_._1)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val filters = if (args.length > 1) args(1).split(',').toSeq else Seq("")
    val spark = GraftSession.create()
    val names = batchNames.filter(n => filters.exists(n.contains)).sorted
    val results = check(spark, sfDir, names)
    results.foreach { case (n, ok, d) =>
      println(s"${if (ok) "PASS" else "FAIL"} $n ($d)")
    }
    val nFail = results.count(!_._2)
    println(s"== ${results.size - nFail} deterministic, $nFail divergent ==")
    spark.stop()
    if (nFail > 0) sys.exit(1)
  }
}
