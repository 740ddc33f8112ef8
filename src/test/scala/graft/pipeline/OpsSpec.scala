package graft.pipeline

import java.nio.file.Files
import java.sql.Timestamp

import graft.{SparkSpec, Tables}

class OpsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("cdc merge: last change wins, deletes drop keys, untouched keys survive, reinsert works") {
    import graft.TestSpark.spark.implicits._
    val snapshot = Seq((1L, 10.0, 100L), (2L, 20.0, 100L), (3L, 30.0, 100L))
      .toDF("k", "v", "seq")
    val changes = Seq(
      (1L, 11.0, 200L, 1L, false), (1L, 12.0, 201L, 2L, false), // upsert twice: 12.0 wins
      (2L, 0.0, 200L, 3L, true),                                // delete key 2
      (4L, 40.0, 200L, 4L, false),                              // brand-new key
      (5L, 50.0, 200L, 5L, false), (5L, 0.0, 201L, 6L, true)    // insert then delete: gone
    ).toDF("k", "v", "seq", "cid", "del")
    val out = Ops.cdcMerge(snapshot, changes, "k", Seq("seq", "cid"), "del")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 12.0, 201L), (3L, 30.0, 100L), (4L, 40.0, 200L)))

    // a deleted key can be re-inserted by a later batch
    val snap2 = Ops.cdcMerge(snapshot, changes, "k", Seq("seq", "cid"), "del")
    val reinsert = Seq((2L, 21.0, 300L, 7L, false)).toDF("k", "v", "seq", "cid", "del")
    val out2 = Ops.cdcMerge(snap2, reinsert, "k", Seq("seq", "cid"), "del")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out2.toSeq == Seq((1L, 12.0), (2L, 21.0), (3L, 30.0), (4L, 40.0)))
  }

  test("unordered cdc merge: any batch arrival order yields the same state; tombstones block resurrection") {
    import graft.TestSpark.spark.implicits._
    def df(rows: Seq[(Long, Double, Long, Long, Boolean)]) =
      rows.toDF("k", "v", "seq", "cid", "del")
    val b1 = Seq((1L, 11.0, 200L, 1L, false), (2L, 20.0, 100L, 2L, false))
    val b2 = Seq((1L, 12.0, 300L, 3L, false), (2L, 0.0, 250L, 4L, true))
    val b3 = Seq((2L, 25.0, 150L, 5L, false), (3L, 30.0, 100L, 6L, false)) // stale upsert for 2
    val empty = df(b1).limit(0)
    def applyAll(order: Seq[Seq[(Long, Double, Long, Long, Boolean)]]) =
      order.foldLeft(empty)((st, b) => Ops.cdcMergeUnordered(st, df(b), "k", Seq("seq", "cid")))
        .orderBy("k").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getBoolean(4))).toSeq
    val forward = applyAll(Seq(b1, b2, b3))
    // key 1: 12.0@300 wins; key 2: tombstone@250 wins over the stale 25.0@150
    // arriving LAST; key 3 untouched
    assert(forward == Seq((1L, 12.0, 300L, false), (2L, 0.0, 250L, true), (3L, 30.0, 100L, false)))
    for (perm <- Seq(b1, b2, b3).permutations)
      assert(applyAll(perm) == forward, s"order-dependent state for $perm")
    // publishing filters tombstones: key 2 is gone
    val pub = applyAll(Seq(b1, b2, b3)).filter(!_._4).map(_._1)
    assert(pub == Seq(1L, 3L))
  }

  test("as-of join picks the latest earlier (or simultaneous) right row per key") {
    import graft.TestSpark.spark.implicits._
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:03"), "t1"),
      (1L, ts("2024-01-01 10:00:10"), "t2"),
      (2L, ts("2024-01-01 10:00:05"), "t3"),
      (3L, ts("2024-01-01 10:00:01"), "t4"),
    ).toDF("k", "t", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:01"), 100.0),
      (1L, ts("2024-01-01 10:00:03"), 101.0), // simultaneous with t1 -> visible
      (1L, ts("2024-01-01 10:00:08"), 102.0),
      (2L, ts("2024-01-01 10:00:09"), 200.0), // after t3 -> not visible
    ).toDF("k", "t", "price")

    val out = Ops.asofJoin(trades, quotes, "k", "t", Seq("price"))
      .orderBy("k", "t").collect()
    val got = out.map(r => (r.getAs[String]("trade"), Option(r.getAs[Any]("asof_price"))))
    assert(got.toSeq == Seq(
      ("t1", Some(101.0)), // simultaneous quote wins
      ("t2", Some(102.0)),
      ("t3", None),        // only later quotes exist for k=2
      ("t4", None),        // no quotes at all for k=3
    ))
  }

  test("as-of join window formulation agrees with q35 on the fixture") {
    Tables.register(spark, sfDir)
    val events = spark.table("events")
    // self as-of: value as of each event == the event's own value (simultaneous visible)
    val out = Ops.asofJoin(
      events.select("user_id", "ts", "event_id"),
      events.select("user_id", "ts", "value"),
      "user_id", "ts", Seq("value"))
    assert(out.where("asof_value IS NULL").count() == 0)
  }

  test("salted join equals plain join") {
    import graft.TestSpark.spark.implicits._
    val probe = (1 to 1000).map(i => (i % 3, i)).toDF("key", "v")
    val build = Seq((0, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("key", "name")
    val plain = probe.join(build, "key").groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Ops.saltedJoin(probe, build, "key", salt = 8).groupBy("name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(plain == salted)
  }

  test("binned range join equals the naive interval join, including edges and negatives") {
    import graft.TestSpark.spark.implicits._
    val points = Seq((1L, -7.5), (2L, 0.0), (3L, 2.5), (4L, 10.0), (5L, 99.0))
      .toDF("pid", "v")
    val intervals = Seq(
      (10L, -10.0, 0.0),  // hits -7.5 and 0.0 (inclusive hi edge)
      (11L, 0.0, 5.0),    // hits 0.0 (inclusive lo edge) and 2.5
      (12L, 2.5, 2.5),    // degenerate single-point interval
      (13L, 50.0, 60.0),  // no matches
    ).toDF("iid", "lo", "hi")
    val got = Ops.rangeJoin(points, intervals, "v", "lo", "hi", binWidth = 4.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = points.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want)
    assert(got == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (3L, 12L)))
  }

  test("binned range join plans as an equi-join, never a nested loop") {
    import graft.TestSpark.spark.implicits._
    val points = (1 to 100).map(i => (i.toLong, i * 1.0)).toDF("pid", "v")
    val intervals = (1 to 50).map(i => (i.toLong, i * 2.0 - 1, i * 2.0 + 1)).toDF("iid", "lo", "hi")
    val plan = Ops.rangeJoin(points, intervals, "v", "lo", "hi", binWidth = 2.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
    // the naive predicate join DOES nested-loop — the rewrite is the point
    val naive = points.join(intervals, $"v" >= $"lo" && $"v" <= $"hi")
      .queryExecution.executedPlan.toString
    assert(naive.contains("BroadcastNestedLoopJoin"))
  }

  test("range join rejects _bin collisions, shared names, and unbounded fan-out") {
    import graft.TestSpark.spark.implicits._
    val points = Seq((1L, 5.0)).toDF("pid", "v")
    val intervals = Seq((10L, 0.0, 10.0)).toDF("iid", "lo", "hi")
    // pre-existing _bin would be silently replaced -> refuse
    intercept[IllegalArgumentException] {
      Ops.rangeJoin(points.withColumn("_bin", $"pid"), intervals, "v", "lo", "hi", 2.0)
    }
    intercept[IllegalArgumentException] {
      Ops.rangeJoin(points, intervals.withColumn("_bin", $"iid"), "v", "lo", "hi", 2.0)
    }
    // shared column names become ambiguous after the join -> refuse
    intercept[IllegalArgumentException] {
      Ops.rangeJoin(points, intervals.withColumnRenamed("iid", "pid"), "v", "lo", "hi", 2.0)
    }
    // an interval spanning > maxBins bins fails loudly instead of exploding
    val wide = Seq((10L, 0.0, 1e9)).toDF("iid", "lo", "hi")
    val e = intercept[Exception] {
      Ops.rangeJoin(points, wide, "v", "lo", "hi", binWidth = 0.001, maxBins = 100)
        .collect()
    }
    assert(e.getMessage.contains("rangeJoin"), e.getMessage)
    // at-the-cap spans still work
    assert(Ops.rangeJoin(points, intervals, "v", "lo", "hi",
      binWidth = 0.1, maxBins = 1000).count() == 1)
  }

  test("partitioned sink enables partition pruning on read") {
    Tables.register(spark, sfDir)
    val dir = Files.createTempDirectory("graft_part").toString + "/orders_by_status"
    Ops.writePartitioned(spark.table("orders"), dir, Seq("o_orderstatus"))
    val back = spark.read.parquet(dir).where("o_orderstatus = 'F'")
    back.queryExecution.toRdd.foreach(_ => ())
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"partition pruning missing:\n$plan")
    assert(back.count() == spark.table("orders").where("o_orderstatus = 'F'").count())
  }
}
