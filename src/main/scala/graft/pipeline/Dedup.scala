package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Near-duplicate detection over `documents` (SURVEY §2.E).
  *
  * Scale design (100 TB posture): all-pairs comparison is never materialized.
  * MinHash signatures are one hash-shuffle (`groupBy(doc_id)` over exploded
  * shingles with 32 partial-aggregating `min`s), LSH banding turns candidate
  * generation into an equi-join on (band index, band hash) — i.e. only
  * documents agreeing on a full band collide — and the exact-Jaccard verify
  * runs only on the (tiny) candidate set. Everything is built from
  * codegen-friendly built-in expressions; no UDFs, no collect.
  */
object Dedup {

  private val NumHashes = 32
  private val Bands = 8 // 8 bands x 4 rows; P(collision | J=0.9) ~ 1 - (1-0.9^4)^8 ~ 0.999

  /** doc_id -> exploded distinct word-3-shingles ("a b c").
    * The explicit repartition distributes the explode itself: the fixture
    * parquet is a single row group, so without it the shingle build and the
    * 32-min partial aggregation run in ONE scan task (round-14 §2). */
  private def shingles(docs: DataFrame): DataFrame =
    docs
      .repartition(Ops.sessionPartitions(docs.sparkSession), col("doc_id"))
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(
        col("doc_id"),
        explode(
          array_distinct(
            expr("transform(sequence(1, size(w) - 2), i -> concat_ws(' ', w[i-1], w[i], w[i+1]))")
          )
        ).as("g"))

  /** MinHash + LSH banding + exact-Jaccard verification of candidates.
    * Output: (a_id, b_id, jaccard) for verified pairs with J >= minJaccard. */
  def minhashNearDup(spark: SparkSession, dir: String): DataFrame =
    minhashNearDupOn(sh = shinglesOf(spark, dir), minJaccard = 0.5)

  private def shinglesOf(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    shingles(spark.table("documents"))
  }

  /** (doc_id, band, bh) LSH band rows from exploded shingles: 32 MinHash
    * slots (xxhash64 families with literal seeds — deterministic across runs
    * and cluster layouts) folded into 8 band hashes. One partial-aggregating
    * shuffle on doc_id; this is the signature a production corpus would
    * persist next to the data. */
  private def bandsOf(sh: DataFrame): DataFrame = {
    val sigAggs: Seq[Column] =
      (0 until NumHashes).map(i => min(xxhash64(col("g"), lit(i))).as(s"h$i"))
    val sigs = sh.groupBy("doc_id").agg(sigAggs.head, sigAggs.tail: _*)
    // One row per (doc, band): band hash folds the band's 4 signature slots.
    val bandCols: Seq[Column] = (0 until Bands).map { b =>
      val slots = (0 until NumHashes / Bands).map(r => col(s"h${b * (NumHashes / Bands) + r}"))
      struct(lit(b).as("band"), xxhash64(slots :+ (lit(b): Column): _*).as("bh"))
    }
    sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private[pipeline] def minhashNearDupOn(sh: DataFrame, minJaccard: Double): DataFrame = {
    // Materialize the shingle explode ONCE (round 15; the q46 discipline):
    // `sh` feeds the signature aggregation, the size aggregation, and BOTH
    // verify-join sides — four references shuffling on different keys, so
    // ReuseExchange cannot dedupe them and the one-DataFrame form executed
    // the scan + split + explode subtree four times. (Same localCheckpoint
    // trade-off as everywhere in this file — see the decision record on
    // [[nearDupComponents]].)
    val shM = sh.localCheckpoint(true)
    val banded = bandsOf(shM)

    // Candidates: equi-join on (band, band-hash); a_id < b_id de-dupes pairs.
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()

    // Exact Jaccard on shingle sets, restricted to candidate pairs.
    val sizes = shM.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = candidates
      .join(shM.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(shM.as("sb"), col("b_id") === col("sb.doc_id") && col("sa.g") === col("sb.g"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("na"), col("a_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("b_id") === col("nb.doc_id"))
      .select(col("a_id"), col("b_id"),
        round(col("i").cast("double") / (col("na.n") + col("nb.n") - col("i")), 4).as("jaccard"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("a_id", "b_id")
  }

  /** Connected components over the verified near-dup pairs — the
    * canonical-document-selection step that follows pair generation in a
    * dedup pipeline: every document in a duplicate cluster maps to the
    * cluster's lowest doc_id (the survivor), plus the cluster size.
    *
    * Iterative min-label propagation: per round, every doc adopts the
    * minimum label in its neighborhood (one equi-join edges⋈labels + one
    * groupBy shuffle), converging in at most graph-diameter rounds —
    * near-dup clusters are dense, so 2–4 in practice; bounded by `maxIters`
    * with a loud failure, never a silent partial clustering. Edges and each
    * round's labels are persisted so the loop doesn't re-derive the MinHash
    * pipeline per iteration. This is the simple form of the
    * small-star/large-star CC family — the same per-round shuffle shape
    * scales to 100 TB edge sets.
    *
    * Output: (doc_id, canonical_id, cluster_size) for every doc appearing
    * in a verified pair (cluster_size >= 2 by construction). */
  def nearDupComponents(spark: SparkSession, dir: String, maxIters: Int = 20): DataFrame = {
    val pairs = minhashNearDup(spark, dir).select("a_id", "b_id")
    // Eager localCheckpoint, NOT persist (the starContract lesson applied
    // here too): persist caches blocks but leaves the logical lineage
    // intact, so after N propagation rounds the returned DataFrame's plan
    // nests the whole MinHash pipeline once per round per reference — the
    // executed q49b plan carried ~1350 parquet scan nodes and q343 (which
    // joins this output) re-analyzed the same tree. Checkpointing truncates
    // the plan each round; the algorithm (min-label propagation, diameter
    // rounds — the declared audit contract vs q332) is unchanged.
    //
    // DECISION RECORD — localCheckpoint vs reliable checkpoint (this is the
    // canonical note for every localCheckpoint in this repo): localCheckpoint
    // stores blocks on its executors, so on a real cluster an executor loss
    // mid-pipeline loses blocks WITHOUT lineage to recompute them and fails
    // the query — a reliable `checkpoint()` (HDFS/object store) survives it
    // at the cost of a distributed write + read per materialization. We use
    // localCheckpoint deliberately: (a) on local[*] the executor IS the
    // driver, so the failure mode cannot occur where these numbers are
    // measured; (b) these queries are single-shot drains, and a production
    // deployment restarts the whole query on executor loss anyway (the
    // re-run costs what the lineage recompute would have); (c) at 100 TB the
    // production posture is to PERSIST the expensive intermediates (the
    // signature/pair tables) as real tables next to the corpus, which
    // replaces the checkpoint entirely. Switching to reliable checkpoints
    // here is one setting (`spark.sparkContext.setCheckpointDir` +
    // s/localCheckpoint/checkpoint/), kept out because it doubles local I/O
    // for no local benefit.
    val edges = pairs
      .unionByName(pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .localCheckpoint(true)
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id")).localCheckpoint(true)
    // Convergence check without a per-round comparison join: labels only
    // ever move by taking a MIN, so any change strictly DECREASES some lbl
    // and the total sum — sum(lbl) unchanged ⟺ a fixed point. Decimal(38,0)
    // so the invariant survives id ranges where a bigint sum would overflow.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head().getDecimal(0)
    var prevSum = lblSum(labels)
    var changed = true
    var it = 0
    while (changed && it < maxIters) {
      val nbrMin = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst")).agg(min("lbl").as("nlbl"))
        .withColumnRenamed("dst", "doc_id")
      val next = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
        .localCheckpoint(true) // materializes next AND truncates its plan
      val s = lblSum(next)
      changed = s.compareTo(prevSum) != 0
      prevSum = s
      labels = next
      it += 1
    }
    require(!changed,
      s"near-dup component propagation did not converge in $maxIters rounds")
    val comp = labels.withColumnRenamed("lbl", "canonical_id")
    val sizes = comp.groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR edge
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") over the same verified near-dup pairs as
    * [[nearDupComponents]] — the O(log n)-ROUND algorithm, vs
    * graph-DIAMETER rounds for plain min-label propagation. On near-dup
    * clusters (dense, tiny diameter) both converge fast; on web-scale
    * edge sets with long chains the star contraction is the shape that
    * holds, which is why it exists here as the scale sibling.
    *
    * Per round: large-star hangs every strictly-larger neighbor of u onto
    * min(N(u) ∪ u); small-star (edges keyed by their larger endpoint)
    * hangs the smaller neighbors and u itself onto the minimum. Both are
    * one groupBy + one equi-join per round. Fixpoint detection: every
    * emission replaces an endpoint by a neighborhood MINIMUM, so the
    * decimal sum of all endpoint ids never increases; (sum, count)
    * unchanged for a round ⇒ stars are stable. The oracle (q49b's exact
    * recursive closure) independently verifies the labeling, so a false
    * convergence can never pass silently.
    *
    * Output contract identical to [[nearDupComponents]]:
    * (doc_id, canonical_id, cluster_size), cluster_size >= 2. */
  def starComponents(spark: SparkSession, dir: String, maxIters: Int = 12): DataFrame = {
    val pairs = minhashNearDup(spark, dir).select("a_id", "b_id")
    starContract(pairs.select(col("a_id").as("u"), col("b_id").as("v")), maxIters)
  }

  /** The contraction core over an arbitrary (u, v) edge DataFrame —
    * exposed so specs can drive it with adversarial topologies (long
    * chains, where plain label propagation needs diameter rounds). */
  private[pipeline] def starContract(rawEdges: DataFrame, maxIters: Int = 12): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // localCheckpoint (eager) rather than persist: each round's plan
    // references its inputs several times, so lineage branches ~4x per
    // round and CATALYST RE-ANALYSIS of the exponentially growing logical
    // plan comes to dominate (measured 47s -> ~8s at sf0.01 for the same
    // 2-round convergence). Checkpointing truncates the plan, which is the
    // standard posture for iterative DataFrame algorithms at any scale.
    var edges = rawEdges
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v")).distinct().localCheckpoint(true)

    def probe(df: DataFrame): (java.math.BigDecimal, Long) = {
      val r = df.agg(
        sum((col("u") + col("v")).cast(DecimalType(38, 0))).as("s"),
        count(lit(1)).as("c")).head()
      (r.getDecimal(0), r.getLong(1))
    }
    var prev = probe(edges)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // Large-star: symmetric neighborhoods; hang v > u onto m = min(N+(u)).
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mins, "u").where(col("v") > col("u"))
        .select(least(col("m"), col("v")).as("u"), greatest(col("m"), col("v")).as("v"))
        .where(col("u") =!= col("v")).distinct()
      // Small-star: key each edge by its LARGER endpoint; hang the smaller
      // neighbors and the key itself onto the minimum.
      val byLarger = ls // ls rows are already (small, large); key = v
        .select(col("v").as("u"), col("u").as("v"))
      val mins2 = byLarger.groupBy("u").agg(min("v").as("m"))
      val ss = byLarger.join(mins2, "u")
        .select(col("v"), col("m"))
        .unionByName(mins2.select(col("u").as("v"), col("m")))
        .select(least(col("m"), col("v")).as("u"), greatest(col("m"), col("v")).as("v"))
        .where(col("u") =!= col("v")).distinct().localCheckpoint(true)
      val cur = probe(ss)
      converged = cur == prev
      prev = cur
      edges = ss
      it += 1
    }
    require(converged, s"star contraction did not converge in $maxIters rounds")

    // Stable stars: every edge is (root, member). Label each node by the
    // minimum it touches; nodes appearing only as roots label themselves.
    val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val comp = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u").as("doc_id"), least(col("u"), col("mn")).as("canonical_id"))
    val sizes = comp.groupBy("canonical_id").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "canonical_id")
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup pairs within hamming distance `maxHamming` (default 3):
    * candidates from band equality over the 48-bit code, then verified by
    * popcount. Same scale shape as MinHash: equi-join on (band, value),
    * never all-pairs. For larger radii use minhashNearDup (shingle
    * Jaccard), which is the primary near-dup operator; simhash banding
    * loses recall beyond its pigeonhole radius.
    *
    * The BAND WIDTH IS ADAPTIVE (round 11, the q72b `dupBitsFor` pattern):
    * a fixed 4x12-bit band space (4096 buckets/band) saturates as the
    * corpus grows — bucket occupancy rises linearly, same-bucket candidate
    * pairs quadratically — the fixed-parameter candidate-generator class
    * BenchScale condemned in round 10 (q72b's 6-bit codes at 26x, q301's
    * slot join at 30x). [[simhashBandBits]] widens the bands with the
    * corpus count; recall stays EXACT at every width because the lost band
    * count is bought back with hamming-1 multiprobe inside the band (see
    * [[simhashNearDupFrom]]). The count is one deterministic statistic a
    * production index reads from table metadata. */
  def simhashNearDup(spark: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    // Eager checkpoint: the signature set feeds the count, the probe side
    // and the posting side — without it the token-explode groupBy runs
    // three times and the self-join reanalyzes an unbounded lineage.
    val hashes = simhash(spark, dir).localCheckpoint(true) // (doc_id, simhash)
    simhashNearDupFrom(hashes, simhashBandBits(hashes.count()), maxHamming)
  }

  /** Band width for the pigeonhole candidate join, adaptive from the corpus
    * count: the narrowest divisor-of-48 width whose per-band bucket space
    * 2^w holds the corpus at ~8 docs per bucket — 12 (4 bands, probe radius
    * 0), 16 (3 bands, radius 1), 24 (2 bands, radius 1). Past 2^24 * 8 the
    * next rung is widening the CODE (a second salted [[portableHash]] for
    * 96 bits and 4x24-bit bands), not the pair volume — the standard LSH
    * posture at 100 TB. */
  private[pipeline] def simhashBandBits(n: Long): Int =
    if (n <= 8L * 4096) 12 else if (n <= 8L * 65536) 16 else 24

  /** Core of [[simhashNearDup]] with the band width explicit (unit tests
    * drive every width against the exact all-pairs ground truth on the same
    * corpus). Exact recall for `maxHamming` <= bands-per-code * probe-radius
    * bound: with m = 48/bits bands, a pair differing in at most `maxHamming`
    * bits leaves some band with <= floor(maxHamming/m) differing bits
    * (pigeonhole); for m = 4 that band matches outright (radius 0), for
    * m = 3 or 2 the radius-1 probe set — the band value plus its `bits`
    * single-bit flips, exploded on ONE join side only — hits it. Candidate
    * generation stays an equi-join on (band, probe-value): m(1+bits) keys
    * per doc on the probe side, m postings per doc on the other, never
    * all-pairs. */
  private[graft] def simhashNearDupFrom(hashes: DataFrame, bits: Int,
      maxHamming: Int = 3): DataFrame = {
    val nBands = SimhashBits / bits
    require(nBands * bits == SimhashBits, s"band width $bits must divide $SimhashBits")
    require(maxHamming / nBands <= 1,
      s"radius floor($maxHamming/$nBands) > 1 needs multi-bit probes; widen the code instead")
    val mask = (1L << bits) - 1
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"), expr(s"(simhash >> ${b * bits}) & $mask").as("bv"))
    }
    val banded = hashes
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val probes =
      if (maxHamming / nBands == 0) banded
      else banded.select(col("doc_id"), col("simhash"), col("band"),
        explode(expr(s"array_union(array(bv), transform(sequence(0, ${bits - 1}), " +
          "b -> bv ^ shiftleft(CAST(1 AS BIGINT), b)))")).as("bv"))
    probes.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("bigint").as("hamming"))
      // filter BEFORE the dedup exchange: a popcount is cheap at the join
      // output, and every band/probe duplicate of an over-radius candidate
      // pruned here never pays the distinct's shuffle
      .where(col("hamming") <= maxHamming)
      // distinct() on all three columns, NOT groupBy(a_id, b_id) +
      // max(hamming): the grouped form emits identical rows (hamming is
      // functionally determined by the pair) and its exchange would be
      // reusable by downstream pair-key joins (q380 drops one ~1M-row
      // Exchange), but it was MEASURED to regress memory robustness — with
      // the exchange gone, the 52M-row final dedup aggregate and the
      // full-outer SMJ's external sorter run fused in ONE stage per task,
      // and q380's 32x BenchScale pass OOMed the 8g bench JVM
      // (UNABLE_TO_ACQUIRE_MEMORY in hashAgg spill, reproduced twice in
      // round 15; the r14 distinct() form passes both reps). The extra
      // exchange is the stage boundary that keeps peak per-task memory
      // bounded.
      .distinct()
      .orderBy("a_id", "b_id")
  }

  /** Cross-engine deterministic 53-bit polynomial string hash:
    * fold (acc*131 + codepoint) mod p over the characters, p the largest
    * prime under 2^53 so acc*131 never overflows a signed 64-bit int. The
    * SAME fold is expressible in DuckDB (`list_reduce`), which makes every
    * SimHash output oracle-verifiable end to end; a production deployment
    * would swap this one line for `xxhash64(tok)` (faster, 64 bits) since
    * cross-engine hash parity no longer matters there. */
  private[pipeline] val HashPrime = 9007199254740881L
  private[pipeline] val SimhashBits = 48 // within the hash's 53 usable bits
  private def portableHash(colName: String): Column =
    expr(s"aggregate(split($colName, ''), 0L, (acc, c) -> (acc * 131 + ascii(c)) % $HashPrime)")

  /** 48-bit SimHash per document from distinct tokens: bit j is the sign of
    * sum(+-1) over token-hash bit j. Deterministic (portable polynomial
    * hash); one shuffle (groupBy doc_id) with 48 partial-aggregating sums. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    Tables.register(spark, dir)
    val toks = spark.table("documents")
      // distribute the token explode + 48-sum partial agg off the single
      // row-group scan task (round-14 §2)
      .repartition(Ops.sessionPartitions(spark), col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(split(lower(col("text")), " "))).as("tok"))
      .where(col("tok") =!= "")
      .select(col("doc_id"), portableHash("tok").as("h"))
    val bitSums: Seq[Column] = (0 until SimhashBits).map { j =>
      sum(when(expr(s"(h >> $j) & 1") === 1, 1).otherwise(-1)).as(s"s$j")
    }
    val sums = toks.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val packed = (0 until SimhashBits)
      .map(j => when(col(s"s$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)): Column)
      .reduce(_ + _)
    sums.select(col("doc_id"), packed.as("simhash")).orderBy("doc_id")
  }

  /** Incremental near-dup ingest — the shape a 100 TB corpus actually runs
    * daily: dedup a NEW batch of documents against an already-deduplicated
    * corpus without ever touching corpus×corpus pairs. The corpus's band
    * signatures are computed once (in production: persisted alongside the
    * corpus and only READ here — the plan downstream of the signature store
    * is identical); the batch's bands equi-join them for cross candidates,
    * plus a batch self-join for within-batch dups, and exact Jaccard runs on
    * candidates only. Batch×corpus work is |batch|-proportional, never
    * |corpus|² or |batch|×|corpus|.
    *
    * Split: batch = doc_id % 10 == 0 (a stand-in for "today's crawl").
    * Output: (new_id, dup_of, jaccard, scope) — scope 'corpus' for a batch
    * doc duplicating the corpus, 'batch' for a pair inside the batch (the
    * higher id dedups against the lower, mirroring arrival order). */
  def incrementalNearDup(spark: SparkSession, dir: String,
      minJaccard: Double = 0.5): DataFrame = {
    Tables.register(spark, dir)
    val sh = shingles(spark.table("documents"))
    incrementalNearDupFrom(sh,
      bandsOf(sh.where(col("doc_id") % 10 === 0)),
      bandsOf(sh.where(col("doc_id") % 10 =!= 0)), minJaccard)
  }

  /** Core of the incremental path: batch bands join the corpus bands (in
    * production READ from the signature store, not recomputed per batch)
    * and each other for candidates; exact Jaccard on `sh` verifies them. */
  private def incrementalNearDupFrom(sh: DataFrame, batchBands: DataFrame,
      corpusBands: DataFrame, minJaccard: Double): DataFrame = {
    val crossCand = batchBands.as("a")
      .join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("dup_of"))
      .distinct()
      .withColumn("scope", lit("corpus"))
    val batchCand = batchBands.as("a")
      .join(batchBands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") > col("b.doc_id"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("dup_of"))
      .distinct()
      .withColumn("scope", lit("batch"))
    val cand = crossCand.unionByName(batchCand)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = cand
      .join(sh.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sh.as("sb"), col("dup_of") === col("sb.doc_id") && col("sa.g") === col("sb.g"))
      .groupBy("new_id", "dup_of", "scope").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.as("na"), col("new_id") === col("na.doc_id"))
      .join(sizes.as("nb"), col("dup_of") === col("nb.doc_id"))
      .select(col("new_id"), col("dup_of"),
        round(col("i").cast("double") / (col("na.n") + col("nb.n") - col("i")), 4).as("jaccard"),
        col("scope"))
      .where(col("jaccard") >= minJaccard)
      .orderBy("new_id", "dup_of")
  }
}
