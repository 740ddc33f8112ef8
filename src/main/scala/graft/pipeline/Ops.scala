package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators Spark lacks as builtins, composed scale-safely from
  * existing ones (SURVEY §2.C.3 as-of join; skew handling).
  */
object Ops {

  /** Session-scaled explicit partition count for repartition-before-explode
    * sites (round-14 §2): the fixtures are single-row-group parquet files,
    * so every scan is ONE task and per-row work below the first exchange is
    * a one-core straggler. An EXPLICIT count is required — AQE coalesces a
    * no-N repartition of a ~MB input back to one partition. Follows the
    * session's shuffle-partition setting (the SPARK_GRAFT_CPUS-derived
    * knob), never a constant, so the driver's core-count scaling
    * measurement is undisturbed; at production scale (many input files)
    * the same repartition is a load-balancing no-op before the expansion. */
  def sessionPartitions(s: org.apache.spark.sql.SparkSession): Int =
    s.conf.getOption("spark.sql.shuffle.partitions").flatMap(_.toIntOption)
      .getOrElse(s.sparkContext.defaultParallelism)

  /** Length threshold above which positional char-gram builds switch from
    * `substr(t, i, k)` to indexed access over a per-row char array.
    * `substr` locates character i by scanning from the string start (UTF-8
    * has no O(1) char index), so the transform-over-positions build is
    * O(L²) per document — invisible on short fixture docs, a single-row
    * straggler no repartition fixes on a heavy-tailed corpus (a 1 MB doc is
    * ~10⁶× the work of a 1 KB one). Above the threshold we pay one
    * `split(t, '')` (O(L) chars, one array allocation) and build each gram
    * by O(1) element access. Below it the substr path stays — the array
    * allocation measured slower than substr's scans on short strings. */
  val CharGramSplitThreshold = 4096

  /** The guarded char array for [[charGramArraySql]]: NULL (no allocation)
    * below the threshold, `split` above. Project this as `__ch` next to the
    * string column. */
  def charSplitGuardSql(t: String): String =
    s"CASE WHEN length($t) <= $CharGramSplitThreshold THEN NULL ELSE split($t, '') END"

  /** Positional char-k-gram ARRAY of `t` (the `transform(sequence(...),
    * i -> substr(t, i, k))` idiom), gated on [[CharGramSplitThreshold]]:
    * identical element order and values on both paths — gram i is chars
    * i..i+k-1 — so any downstream explode/distinct/aggregate is unchanged.
    * Requires `__ch` = [[charSplitGuardSql]] projected in scope. */
  def charGramArraySql(t: String, k: Int): String = {
    val cat = (0 until k).map(j => s"__ch[i-1+$j]").mkString("concat(", ", ", ")")
    s"CASE WHEN __ch IS NULL THEN transform(sequence(1, length($t) - ${k - 1}), i -> substr($t, i, $k)) " +
      s"ELSE transform(sequence(1, size(__ch) - ${k - 1}), i -> $cat) END"
  }

  /** As-of join: for every left row, the single latest right row with
    * `right.timeCol <= left.timeCol`, matched on `keyCol`.
    *
    * Union + window trick (no custom physical operator needed): tag both
    * sides, union on (key, time), propagate the last-seen right payload with
    * `last(ignoreNulls) over (partition key order time, tag)`, keep left
    * rows. One shuffle on the key — the same cost as the equi-join Spark
    * would do anyway; never a range cross-product. Right rows sort before
    * left rows at equal timestamps (tag order), so an exactly-simultaneous
    * right row IS visible to the left row, the usual as-of convention.
    */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.forall(!left.columns.contains(_)),
      s"payload columns ${payloadCols.filter(left.columns.contains(_))} collide with left-side columns")
    val lCols = left.columns.toSeq
    val l = left
      .withColumn("_tag", lit(1))
      .select(lCols.map(col) ++ Seq(col("_tag")) ++ payloadCols.map(c => lit(null).cast(right.schema(c).dataType).as(s"_p_$c")): _*)
    val r = right
      .withColumn("_tag", lit(0))
      .select(lCols.map(c => if (c == keyCol || c == timeCol) col(c) else lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(col("_tag")) ++ payloadCols.map(c => col(c).as(s"_p_$c")): _*)
    val w = Window.partitionBy(keyCol).orderBy(col(timeCol), col("_tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = l.unionByName(r)
      .select((lCols.map(col) :+ col("_tag")) ++
        payloadCols.map(c => last(col(s"_p_$c"), ignoreNulls = true).over(w).as(s"asof_$c")): _*)
    filled.where(col("_tag") === 1).drop("_tag")
  }

  /** As-of join through the engine's custom physical operator
    * (plans/AsOfJoinExec — LogicalPlan + SparkStrategy + SparkPlan): same
    * semantics and same shuffle envelope as [[asofJoin]], but a single
    * streaming merge pass instead of union widening + window buffering.
    * The strategy self-registers on the session (idempotent) — the only
    * way it is installed, so every session, built by GraftSession or
    * elsewhere, plans it the same. The right side is re-aliased so a
    * self-join (both sides from one table) can't leak duplicate
    * attribute ids into the custom node. */
  def asofJoinNative(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame = {
    require(payloadCols.forall(!left.columns.contains(_)),
      s"payload columns ${payloadCols.filter(left.columns.contains(_))} collide with left-side columns")
    val spark = left.sparkSession
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.AsOfJoinStrategy
    val rFresh = right.select(right.columns.map(c => col(c).as(c)).toSeq: _*)
    val plan = graft.plans.AsOfJoinPlan(
      left.queryExecution.analyzed, rFresh.queryExecution.analyzed,
      keyCol, timeCol, payloadCols)
    org.apache.spark.sql.GraftShims.ofRows(spark, plan)
  }

  /** Salted equi-join for skewed keys: explodes the build side `salt` ways
    * and scatters the probe side, so one hot key spreads over `salt`
    * reducers instead of melting a single task. AQE's skew-join handles the
    * sort-merge case at runtime; this is the explicit form for when the
    * build side is too big to broadcast but a few keys dominate. */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String, salt: Int): DataFrame = {
    val salted = probe.withColumn("_salt", pmod(hash(monotonically_increasing_id()), lit(salt)))
    val exploded = build.withColumn("_salt", explode(sequence(lit(0), lit(salt - 1))))
    salted.join(exploded, Seq(key, "_salt")).drop("_salt")
  }

  /** Binned range join: points to intervals with `lo <= point <= hi`.
    *
    * A raw interval predicate has no equi-key, so Spark plans it as a
    * BroadcastNestedLoopJoin — O(|points|·|intervals|) and a driver OOM when
    * neither side broadcasts. Binning restores an equi-key: each point maps
    * to `floor(point / binWidth)`; each interval explodes to every bin it
    * overlaps (`sequence(floor(lo/w), floor(hi/w))` — intervals spanning k
    * bins appear k times). The bucket equi-join shuffle-hash-partitions both
    * sides, then the exact containment predicate filters bin-mates. Cost is
    * O(points + intervals·span/binWidth + true matches): pick binWidth near
    * the median interval span so the fan-out stays small. A point falls in
    * exactly one bin, so no dedup is needed. */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      loCol: String,
      hiCol: String,
      binWidth: Double,
      maxBins: Int = 10000): DataFrame = {
    require(binWidth > 0, "binWidth must be positive")
    require(!points.columns.contains("_bin") && !intervals.columns.contains("_bin"),
      "inputs must not already have a _bin column")
    val shared = points.columns.toSet.intersect(intervals.columns.toSet)
    require(shared.isEmpty,
      s"points and intervals share column names $shared — the joined output would be ambiguous")
    val pb = points.withColumn("_bin", floor(col(pointCol) / binWidth))
    val loBin = floor(col(loCol) / binWidth)
    val hiBin = floor(col(hiCol) / binWidth)
    // An outlier interval spanning a huge number of bins (or a binWidth far
    // below the data's spans) would fan out pathologically — or overflow
    // Sequence's max length. Fail loudly with the fix instead of OOMing;
    // clamping would silently drop matches, so the predicate stays exact.
    val guardedHi = when(hiBin - loBin > maxBins,
      raise_error(concat(lit(s"rangeJoin: interval spans more than $maxBins bins " +
        s"(binWidth=$binWidth too small for interval ["), col(loCol), lit(", "), col(hiCol),
        lit("]) — raise binWidth or maxBins")))).otherwise(hiBin)
    val ib = intervals.withColumn("_bin", explode(sequence(loBin, guardedHi)))
    pb.join(ib, Seq("_bin"))
      .where(col(pointCol) >= col(loCol) && col(pointCol) <= col(hiCol))
      .drop("_bin")
  }

  /** Partitioned parquet ETL sink (SURVEY §2.C.1): hive-style partition
    * directories so later scans prune on `partitionCols`. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** CDC merge — the lakehouse MERGE INTO shape: apply a batch of keyed
    * change rows (full-row upserts plus delete markers) to a snapshot,
    * producing the next snapshot. Within the batch the LAST change per key
    * wins (ordered by `ordering`, e.g. (commit time, change id)); a key
    * whose last change is a delete drops out; keys untouched by the batch
    * keep their snapshot row. Cost at 100 TB: one window shuffle to compact
    * the batch (tiny vs the snapshot) + one equi-join shuffle on the key —
    * never a snapshot rewrite per change.
    *
    * `changes` must carry the snapshot's payload columns (same names), the
    * ordering columns, and a boolean `deleteFlag`. Applying a batch to an
    * EMPTY snapshot bootstraps the state, so `merge(merge(∅, b1), b2)`
    * must equal the batch recompute over b1 ∪ b2 — the invariant the q263
    * oracle checks end-to-end. */
  def cdcMerge(snapshot: DataFrame, changes: DataFrame, key: String,
      ordering: Seq[String], deleteFlag: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ordering.map(col(_).desc): _*)
    val last = changes
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    val payload = snapshot.columns.toSeq.filter(_ != key)
    val present = col(s"c.${ordering.head}").isNotNull
    snapshot.as("s").join(last.as("c"), Seq(key), "full_outer")
      .where(when(present, !col(s"c.$deleteFlag")).otherwise(lit(true)))
      .select(col(key) +: payload.map(p =>
        when(present, col(s"c.$p")).otherwise(col(s"s.$p")).as(p)): _*)
  }

  /** Out-of-order-safe CDC apply: merge a change batch into a snapshot that
    * RETAINS delete tombstones, keeping per key whichever row wins the
    * (ordering..., key) comparison — a max, so the merge is associative and
    * commutative over batches: ANY arrival order of change batches yields
    * the same final state (unlike [[cdcMerge]], which assumes in-order
    * batches and lets a late stale batch clobber newer state). Tombstones
    * must stay in the state so a late upsert older than a delete cannot
    * resurrect the key; filter `deleteFlag` only when PUBLISHING the
    * snapshot. The q283 streaming foreachBatch apply uses exactly this
    * merge; at 100 TB the state is a key-partitioned table and each merge
    * is one window over state ∪ batch — the merge-on-read compaction
    * shape. */
  def cdcMergeUnordered(state: DataFrame, changes: DataFrame, key: String,
      ordering: Seq[String]): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ordering.map(col(_).desc): _*)
    state.unionByName(changes)
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Lake maintenance: rewrite a directory of (typically many small)
    * parquet files into ceil(totalBytes / targetFileBytes) files. Streaming
    * ingest (the q255 foreachBatch sink shape) leaves one file per
    * micro-batch; at 100 TB scan cost is dominated by per-file overhead
    * (opens, footer reads, task scheduling), so compaction is a first-class
    * maintenance op. Sizing comes from the actual on-disk bytes, and the
    * rewrite is a round-robin repartition — pure layout, no semantic key.
    * Returns the target file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
      outDir: String, targetFileBytes: Long): Int = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.listStatus(path)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(inDir).repartition(n).write.mode("overwrite").parquet(outDir)
    n
  }

  /** Morton interleave of N `bits`-bit bucket values (dimension d's bit i
    * lands at position i·N + d) — N·bits codegen-friendly bit terms, no
    * UDF. */
  private def interleaveBits(dims: Seq[Column], bits: Int): Column = {
    val n = dims.length
    dims.zipWithIndex.flatMap { case (c, d) =>
      (0 until bits).map(i =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * n + d))
    }.reduce(_ bitwiseOR _)
  }

  /** Rank bucketing into [0, 2^bits): the bucket is the count of quantile
    * boundaries ≤ x. Quantile-space buckets stay uniformly occupied under
    * skew, where min-max range buckets would collapse onto the dense
    * region. Implemented as a nested-CASE upper-bound BINARY SEARCH over
    * the sorted boundary literals (round 14 optimization): the previous
    * `size(filter(array(255 literals), b -> b <= x))` evaluated the lambda
    * 255 times and allocated a result array per row per dimension — and
    * `repartitionByRange` evaluates the z-value twice (sampling pass +
    * shuffle write), so q260 paid ~100M lambda evaluations per run. The
    * CASE tree evaluates 8 comparisons per row, returns the identical
    * boundary count (upper_bound; duplicate boundaries and the
    * NULL-input-→-bucket-0 edge behave the same), and stays whole-stage
    * codegen. Measured: q260 zorderWrite 2.8 -> ~1.3 s warm at sf0.1. */
  private def bucketByQuantiles(c: Column, qs: Array[Double]): Column = {
    val x = c.cast("double")
    // answer = |{i : qs(i) <= x}| in [lo, hi]; qs is non-decreasing.
    def search(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2 // test boundary qs(mid): x >= qs(mid) ⇒ count > mid
        when(x >= lit(qs(mid)), search(mid + 1, hi)).otherwise(search(lo, mid))
      }
    search(0, qs.length)
  }

  /** Z-order (Morton-curve) layout write: clusters rows so that FILE-level
    * parquet min/max statistics are tight in BOTH dimensions at once —
    * the data-layout half of file skipping. A single-column sort gives
    * perfect pruning on that column and none on any other; interleaving the
    * two dimensions' RANK-bucket bits gives partial pruning on both, which
    * wins whenever queries carry 2-D box predicates (time × tenant,
    * key × value). At 100 TB this is the difference between scanning
    * ~sqrt(selectivity) of the files and scanning all of them.
    *
    * Mechanics: approx-quantile each dimension into 256 rank buckets (one
    * sketch pass for the boundaries — the same approximate-rank trick
    * production Z-order writers use, robust to skew), Morton-interleave to a
    * 16-bit z-value, `repartitionByRange` on z (each output file owns a
    * contiguous z range = a tile of the quantile-space grid), sort within
    * partitions so row-group stats are tight too, and drop the helper
    * column before writing — layout is storage, not schema. */
  def zorderWrite(df: DataFrame, path: String, d1: String, d2: String,
      nFiles: Int): Unit =
    zorderWriteN(df, path, Seq(d1, d2), nFiles)

  /** N-dimensional variant (d-dim bit at position i·N + d); 8 rank-bucket
    * bits per dimension, so the z-value stays in a long for up to 8 dims. */
  def zorderWriteN(df: DataFrame, path: String, dims: Seq[String],
      nFiles: Int): Unit = {
    require(dims.size >= 2 && dims.size <= 8, s"zorder needs 2-8 dims, got ${dims.size}")
    // Rank buckets per dimension, DERIVED from the output file count
    // (round 15; round 14 measured the constant 64 as the sweet spot at
    // this fixture's nFiles=16 — the derivation reproduces exactly that
    // point and scales past it). File-level min/max skipping resolves
    // ~nFiles contiguous z-ranges, i.e. ~nFiles^(1/N) files per dimension;
    // 16 grid tiles per file-per-dimension saturates pruning while keeping
    // the per-row boundary binary search shallow (log2(buckets) compares —
    // cutting 256 -> 64 measured 2.3 -> 1.4 s on the q260 write pass).
    // Power of 2 in [16, 256]; 8 interleave bits/dim bound the ceiling.
    val bucketsPerDim = {
      val perDimFiles = math.pow(nFiles.toDouble, 1.0 / dims.size)
      val raw = math.max(16, math.min(256, math.ceil(16.0 * perDimFiles).toInt))
      if (Integer.bitCount(raw) == 1) raw else Integer.highestOneBit(raw) * 2
    }
    val probs = (1 until bucketsPerDim).map(_.toDouble / bucketsPerDim).toArray
    val qs = df.stat.approxQuantile(dims.toArray, probs, 0.001)
    val z = interleaveBits(
      dims.zip(qs).map { case (d, q) => bucketByQuantiles(col(d), q) }, bits = 8)
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
