package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.GraftSession.scratch

/** Data-layout tests: Z-order clustering must (a) preserve semantics and
  * (b) actually deliver the 2-D file-skipping it exists for — measured from
  * the real per-file min/max extents of the written parquet, the same
  * statistics a scan's file/row-group pruning consults at 100 TB. */
class LayoutSpec extends SparkSpec {

  private def fileExtents(dir: String) =
    graft.TestSpark.spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        min("user_id").as("ulo"), max("user_id").as("uhi"),
        min("value").as("vlo"), max("value").as("vhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))

  test("z-order layout prunes more files than either single-column sort on a 2-D box") {
    // sf0.01 (10k events, 150 users): enough distinct keys that a 64-file
    // range layout is actually 64 files on every dimension. Register the
    // default dir only (for session conf) and read sf0.01 directly —
    // registering another SF's views here would leak into the shared
    // session and poison suites that count the default fixtures.
    Tables.register(spark, sfDir)
    val ev = Tables.read(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("value"))
    val nFiles = 64

    val zDir = scratch("layout_z").toString
    val uDir = scratch("layout_u").toString
    val vDir = scratch("layout_v").toString
    Ops.zorderWrite(ev, zDir, "user_id", "value", nFiles)
    ev.repartitionByRange(nFiles, col("user_id")).sortWithinPartitions("user_id")
      .write.mode("overwrite").parquet(uDir)
    ev.repartitionByRange(nFiles, col("value")).sortWithinPartitions("value")
      .write.mode("overwrite").parquet(vDir)

    // a box covering the middle ~20% of each dimension BY RANK (~4% of the
    // data); quantile bounds, not range fractions — `value` is skewed, and a
    // range-fraction box would land in a sparse region every layout prunes.
    val Array(uq, vq) =
      ev.stat.approxQuantile(Array("user_id", "value"), Array(0.4, 0.6), 0.001)
    val (ulo, uhi) = (uq(0), uq(1))
    val (vlo, vhi) = (vq(0), vq(1))
    // rows scanned = size of the files whose min/max box intersects the
    // predicate box — the honest proxy for bytes read after file skipping
    // (file COUNTS mislead when layouts produce different file sizes).
    def rowsScanned(ldir: String): Long = fileExtents(ldir).collect {
      case (n, fu0, fu1, fv0, fv1)
          if fu1 >= ulo && fu0 <= uhi && fv1 >= vlo && fv0 <= vhi => n
    }.sum

    val (zh, uh, vh) = (rowsScanned(zDir), rowsScanned(uDir), rowsScanned(vDir))
    info(s"rows scanned: zorder=$zh, sort(user_id)=$uh, sort(value)=$vh")
    // single-column sort cannot prune on the other dimension: it scans the
    // full ~20% rank slice; z-order tiles both dimensions and must beat both.
    assert(zh < uh, s"z-order ($zh rows) should prune better than user_id sort ($uh)")
    assert(zh < vh, s"z-order ($zh rows) should prune better than value sort ($vh)")

    // layout is invisible in the data: boxed read-back matches the source
    val cond = col("user_id").between(ulo, uhi) && col("value").between(vlo, vhi)
    val got = spark.read.parquet(zDir).where(cond)
      .orderBy("event_id").collect().map(_.getLong(0))
    val want = ev.where(cond).orderBy("event_id").collect().map(_.getLong(0))
    assert(got.sameElements(want))
    assert(want.nonEmpty, "box predicate should select some rows")
  }

  test("3-dim z-order beats every single-column sort on a 3-D rank box") {
    Tables.register(spark, sfDir)
    val ev = Tables.read(spark, "/root/testdata/sf0.01", "events")
      .select(col("event_id"), col("user_id"), col("value"),
        expr("unix_micros(ts)").as("us"))
    val nFiles = 64
    val dims = Seq("user_id", "value", "us")
    val zDir = scratch("layout_z3").toString
    Ops.zorderWriteN(ev, zDir, dims, nFiles)
    val sortDirs = dims.map { d =>
      val dir = scratch(s"layout_s_$d").toString
      ev.repartitionByRange(nFiles, col(d)).sortWithinPartitions(d)
        .write.mode("overwrite").parquet(dir)
      dir
    }
    // ~30% of each dimension by rank, OFF-CENTER (0.55–0.85): with 64 files
    // and 3 dims each dimension only contributes 2 z-bits, so a box
    // straddling the dyadic 0.5 boundary defeats the top bit of every
    // dimension at once (measured: 42% scanned vs ~31% for single sorts) —
    // the classic Morton-curve boundary caveat. Off-center boxes keep the
    // top bit selective; finer bucketing (more files) shrinks the boundary
    // effect at scale.
    val qs = ev.stat.approxQuantile(dims.toArray, Array(0.55, 0.85), 0.001)
    val boxes = dims.zip(qs).map { case (d, q) => d -> (q(0), q(1)) }.toMap
    def rowsScanned(dir: String): Long =
      graft.TestSpark.spark.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("rows"),
          struct(dims.flatMap(d => Seq(min(d).as(s"${d}_lo"), max(d).as(s"${d}_hi"))): _*).as("ext"))
        .collect().collect {
          case r if dims.forall { d =>
            val e = r.getStruct(2)
            e.getAs[Any](s"${d}_hi").toString.toDouble >= boxes(d)._1 &&
              e.getAs[Any](s"${d}_lo").toString.toDouble <= boxes(d)._2
          } => r.getLong(1)
        }.sum
    val zh = rowsScanned(zDir)
    val singles = sortDirs.map(rowsScanned)
    info(s"rows scanned: zorder3=$zh, singles=${dims.zip(singles)}")
    singles.foreach(s => assert(zh < s, s"z-order ($zh) should beat single sorts ($singles)"))
  }

  test("compaction sizes output files from on-disk bytes and preserves content") {
    Tables.register(spark, sfDir)
    val small = scratch("compact_in").toString
    val out = scratch("compact_out").toString
    spark.table("events").select("event_id", "event_type", "value")
      .repartition(50).write.mode("overwrite").parquet(small)
    def parquetFiles(d: String) =
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parquetFiles(small).length == 50)
    val totalBytes = parquetFiles(small).map(_.length()).sum
    val target = totalBytes / 4 // expect ~4-5 output files
    val n = Ops.compact(spark, small, out, targetFileBytes = target)
    assert(n == math.ceil(totalBytes.toDouble / target).toInt)
    assert(parquetFiles(out).length == n)
    assert(n < 50 && n >= 4, s"expected real consolidation, got $n files")
    val a = spark.read.parquet(small).orderBy("event_id").collect()
    val b = spark.read.parquet(out).orderBy("event_id").collect()
    assert(a.sameElements(b))
  }
}
