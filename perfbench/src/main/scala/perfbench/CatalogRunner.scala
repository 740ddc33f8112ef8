package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{DoubleType, FloatType, StructType}

/** In-process runner for the `catalog_tail` workload.
  *
  *   CatalogRunner --data-dir D --warmup a,b,c,a --entries c,a,b,a
  *
  * Starts a session, registers `D`, and prints one JSON line per event on
  * stdout (Spark logs go to stderr). Then it runs the `--warmup` entries,
  * untimed (the first run of an entry pays JIT and codegen compilation:
  * 2-3x its warm time; the first entry's cold time is reported as
  * `first_ms`), and times each of the `--entries`, in the given order, in
  * two parts:
  *
  *   - construction: `SparkEntry.queries(name)(spark, D)`, which includes
  *     any eager jobs and streaming drains the entry runs while building;
  *   - execution: one pass over `queryExecution.toRdd`, the same forced
  *     evaluation `graft.Bench` times, that also folds every row into an
  *     order-insensitive digest for the correctness check.
  */
object CatalogRunner {

  private def now: Long = System.currentTimeMillis()

  private def emit(fields: (String, Any)*): Unit = {
    println(TraceLog.json(fields))
    Console.out.flush()
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val dataDir = opts("--data-dir")
    def list(key: String) = opts.get(key).map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val warmup = list("--warmup")
    val entries = list("--entries")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)

    // ---- Session settings: a copy of graft.Bench's builder. Keep in step
    // with src/main/scala/graft/Bench.scala until the program has a single
    // session builder this runner can call instead. ----
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ---- end of the copy ----
    val sessionEnd = now
    graft.Tables.register(spark, dataDir)
    emit("ev" -> "setup", "session_end" -> sessionEnd, "register_end" -> now)

    if (entries.nonEmpty) {
      var firstMs = -1L
      warmup.foreach { name =>
        val t0 = now
        try digest(spark, graft.SparkEntry.queries(name)(spark, dataDir))
        catch { case e: Throwable => System.err.println(s"[runner] warm-up $name: $e") }
        if (firstMs < 0) firstMs = now - t0
      }
      emit("ev" -> "warm_done", "t" -> now, "first_ms" -> firstMs)
      System.gc()
      entries.foreach { name =>
        val t0 = now
        try {
          val df = graft.SparkEntry.queries(name)(spark, dataDir)
          val t1 = now
          val (rows, hash) = digest(spark, df)
          val t2 = now
          val phases = df.queryExecution.tracker.phases.map { case (k, p) =>
            k -> Seq(p.startTimeMs, p.endTimeMs)
          }
          emit("ev" -> "op", "name" -> name, "t0" -> t0, "t1" -> t1, "t2" -> t2,
            "rows" -> rows, "digest" -> f"$hash%016x", "phases" -> phases)
        } catch {
          case e: Throwable =>
            emit("ev" -> "op", "name" -> name, "t0" -> t0, "t1" -> now, "t2" -> now,
              "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      }
    }
    spark.stop()
  }

  /** Row count and order-insensitive digest of a DataFrame's result, from
    * one pass over its physical output: each row is projected to its
    * canonical UnsafeRow form, top-level floating-point fields are rounded
    * to 6 significant digits (so summation-order noise in the last bits
    * does not change the digest), and the 64-bit hashes are summed. */
  def digest(spark: SparkSession, df: DataFrame): (Long, Long) = {
    val schema: StructType = df.schema
    val doubles = schema.fields.indices.filter(i => schema(i).dataType == DoubleType).toArray
    val floats = schema.fields.indices.filter(i => schema(i).dataType == FloatType).toArray
    val acc = spark.sparkContext.longAccumulator("perfbench.digest")
    df.queryExecution.toRdd.foreachPartition { (it: Iterator[InternalRow]) =>
      val proj = UnsafeProjection.create(schema)
      it.foreach { r =>
        val u = proj(r)
        doubles.foreach(i => if (!u.isNullAt(i)) u.setDouble(i, round6(u.getDouble(i))))
        floats.foreach(i => if (!u.isNullAt(i)) u.setFloat(i, round6(u.getFloat(i).toDouble).toFloat))
        acc.add(XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L))
      }
    }
    (acc.count, acc.sum)
  }

  def round6(d: Double): Double =
    if (d == 0.0 || d.isNaN || d.isInfinite) d + 0.0
    else {
      val scale = math.pow(10, 5 - math.floor(math.log10(math.abs(d))))
      math.rint(d * scale) / scale + 0.0
    }
}
