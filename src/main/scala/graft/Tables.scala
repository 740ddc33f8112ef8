package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Registers the driver's parquet test tables (TESTDATA.md / FIXTURES.md) as
  * temp views, plus synthesized `information_schema_*` views so catalog
  * introspection is queryable as plain SQL (the `list_tables` statement shape
  * of the reference, see `/root/reference/images/redshift/redshift.yaml:11-42`
  * which reads `information_schema.columns`).
  *
  * Registration runs no Spark job: each `<table>.parquet` file's schema is
  * read from its footer on the driver ([[footerSchema]], Spark's own footer
  * conversion) and handed to `spark.read.schema(...)`, instead of letting
  * Spark's parquet inference start one footer-reading job per file.
  *
  * Hazard handled here (SURVEY §7.4.1), the round-6 lesson: the driver may
  * REGENERATE fixtures between rounds with a different physical timestamp
  * type (`events.ts` was parquet `TIMESTAMP(NANOS)` through r5, `TIMESTAMP
  * (MICROS)` from r6). The reference's own model is dynamic introspection —
  * schemas are discovered at query time
  * (`/root/reference/images/redshift/redshift.yaml:11-42` reads
  * `information_schema.columns`) — so ingest here branches on the ACTUAL
  * schema of the file, never on a documented assumption:
  *   - ns fixtures surface as `LongType` (via
  *     `spark.sql.legacy.parquet.nanosAsLong`) → truncate-divide to µs,
  *     identical to DuckDB's `CAST(ts AS TIMESTAMP)` ns→µs truncation;
  *   - µs/ms fixtures surface as `TimestampNTZType` (pandas writes
  *     isAdjustedToUTC=false) or `TimestampType` → cast to `TimestampType`
  *     (the session is pinned to UTC, so NTZ ≡ instant and DuckDB reads the
  *     same values — oracle parity holds).
  */
object Tables {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, expr, unix_micros}
  import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampNTZType, TimestampType}

  /** A time column (whatever physical type the fixture carries) →
    * `TimestampType` at µs precision. The single place the physical-type
    * branch lives. */
  def asTimestamp(name: String, dt: DataType): Column = dt match {
    case LongType                          => expr(s"timestamp_micros($name div 1000)") // ns-as-long fixture
    case TimestampType                     => col(name)
    case TimestampNTZType                  => col(name).cast(TimestampType) // UTC session ⇒ same instant
    case other => throw new IllegalStateException(
      s"time column '$name' has unsupported physical type $other — fixture regenerated again? " +
      "Extend Tables.asTimestamp (see SURVEY §7.4.1).")
  }

  /** `ts` (events) → `TimestampType`, same branch. */
  def tsAsTimestamp(dt: DataType): Column = asTimestamp("ts", dt)

  /** `ts` → µs-since-epoch BIGINT, same branch. */
  def tsAsMicros(dt: DataType): Column = dt match {
    case LongType => expr("ts div 1000")
    case _        => unix_micros(tsAsTimestamp(dt))
  }

  /** Raw events read (physical `ts` type untouched) — streaming callers need
    * the raw schema for `readStream.schema(...)`. */
  def eventsRaw(spark: SparkSession, dir: String): DataFrame =
    parquet(spark, s"$dir/events.parquet")

  /** The schema Spark's parquet inference gives the single file `file`,
    * read from its footer on the driver: Spark's own conversion, so a
    * Spark-written file's row metadata wins and the session's parquet read
    * confs (`nanosAsLong` among them) apply as they do to inference. A
    * `required` column stays non-nullable here; the file source makes every
    * column nullable on read either way. None when `file` is a directory,
    * which keeps Spark's inference. */
  private[graft] def footerSchema(spark: SparkSession, file: String): Option[StructType] = {
    val path = new Path(file)
    val conf = spark.sparkContext.hadoopConfiguration
    val status = path.getFileSystem(conf).getFileStatus(path)
    if (status.isDirectory) None
    else {
      val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(status, conf), SKIP_ROW_GROUPS)
      Some(ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
    }
  }

  /** One fixture file, read with its footer schema (no inference job). */
  private def parquet(spark: SparkSession, file: String): DataFrame =
    footerSchema(spark, file).fold(spark.read)(spark.read.schema).parquet(file)

  /** Events with `ts` replaced by `ts_us: BIGINT` (µs since epoch) — the one
    * normalized shape every batch consumer of raw event time uses. */
  def eventsTsUs(spark: SparkSession, dir: String): DataFrame = {
    val df = eventsRaw(spark, dir)
    df.select(col("event_id"), col("user_id"), col("event_type"), col("value"),
      tsAsMicros(df.schema("ts").dataType).as("ts_us"))
  }

  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // Weakly keyed on the session object (temp views are per-session; a strong
  // key would retain every stopped session's state for the JVM lifetime).
  // Registration happens inside the lock so a concurrent second caller blocks
  // until the views exist; a throwing registration leaves no entry behind.
  // The value is the LAST dir registered — not a set of ever-registered
  // dirs: the temp views are one mutable binding per session, so after
  // registering dir B, a call for previously-seen dir A must RE-register
  // (a set made that call a no-op and left A's caller reading B's views —
  // caught when a test fixture registration left the info schema pointing
  // at a one-table temp dir).
  // The dir is compared FS-qualified, without a trailing slash, so two
  // spellings of one dir (`/x/sf`, `/x/sf/`, a relative path) register once.
  private val registered = new java.util.WeakHashMap[SparkSession, String]()

  /** Idempotent per (session, current dir): registers all test tables +
    * info schema; re-registers whenever the requested dir differs from the
    * session's LAST registered dir. */
  def register(spark: SparkSession, dir: String): Unit = registered.synchronized {
    val p = new Path(dir)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString
    if (registered.get(spark) != key) {
      doRegister(spark, dir)
      registered.put(spark, key)
    }
  }

  /** Every fixture column that is SEMANTICALLY a timestamp — all are
    * normalized on read, so a driver regen flipping any one of them to a
    * different physical type (the round-6 events.ts incident) is absorbed
    * in one place. Preflight additionally range-probes each one. */
  val timeColumns: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "orders" -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Reads one table, normalizing each declared time column to µs
    * TimestampType (branched on the file's ACTUAL physical type; a column
    * already TimestampType passes through untouched). ns-long fixtures
    * additionally require `spark.sql.legacy.parquet.nanosAsLong` on the
    * session (set once in [[register]]'s critical section). */
  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = parquet(spark, s"$dir/$name.parquet")
    timeColumns.getOrElse(name, Nil).foldLeft(df) { (d, c) =>
      d.withColumn(c, asTimestamp(c, d.schema(c).dataType))
    }
  }

  private def doRegister(spark: SparkSession, dir: String): Unit = {
    // Session posture for a large cluster: AQE on (runtime join re-plan,
    // skew handling, partition coalescing); UTC for oracle parity.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // ns-parquet read mode: session-level, set once here (inside register's
    // lock) rather than on every read() call, and before any footer schema
    // is converted, so ns fixtures surface as LongType.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Engine-native functions: this is their only registration path, so a
    // session built elsewhere gets exactly what the served one does.
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.DotProduct.register(spark)
    graft.functions.LshCodes.register(spark)
    graft.functions.BloomFns.register(spark)
    graft.functions.KmvSketchAgg.register(spark)
    graft.functions.CmsSketchAgg.register(spark)

    // Per-table isolation (round-6 lesson): one unreadable table must not
    // take down queries that never touch it. A failing table is skipped with
    // a LOUD one-line diagnosis; its queries then fail individually with
    // TABLE_OR_VIEW_NOT_FOUND while the other nine tables keep working.
    val dfs: Seq[(String, DataFrame)] = tableNames.flatMap { n =>
      try {
        val df = read(spark, dir, n)
        df.createOrReplaceTempView(n)
        Some(n -> df)
      } catch {
        case e: Throwable =>
          spark.catalog.dropTempView(n) // not a view of the previous dir either
          val msg = Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" / ")
          System.err.println(
            s"[graft.Tables] REGISTRATION FAILED for table '$n' at $dir: " +
            s"${e.getClass.getSimpleName}: $msg")
          None
      }
    }

    // Synthesized information_schema (driver-side metadata only — no jobs).
    val cols = for {
      (t, df) <- dfs
      (f, i)  <- df.schema.fields.zipWithIndex
    } yield Row("main", t, f.name, i + 1, f.dataType.simpleString,
      if (f.nullable) "YES" else "NO", null)
    val tabs = dfs.map { case (t, _) => Row("main", t) }
    spark.createDataFrame(java.util.Arrays.asList(cols: _*), infoColumnsSchema)
      .createOrReplaceTempView("information_schema_columns")
    spark.createDataFrame(java.util.Arrays.asList(tabs: _*), infoTablesSchema)
      .createOrReplaceTempView("information_schema_tables")
  }

  private def strings(names: String*): Seq[StructField] = names.map(StructField(_, StringType))

  private val infoColumnsSchema = StructType(strings("schema_name", "table_name", "column_name") ++
    Seq(StructField("column_position", IntegerType, nullable = false)) ++
    strings("data_type", "is_nullable", "column_default"))

  private val infoTablesSchema = StructType(strings("schema_name", "table_name"))
}
