package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured scaling laws for the flagship pipeline entries (VERDICT r9 #1):
  * synthesizes 1x/4x/10x fixtures from the driver parquet (plus a 32x
  * docs+embeddings fixture for the near-linear `deep` cohort, VERDICT r10
  * #5), runs each declared entry at every size, fits the growth exponent
  * alpha from the warm times, and FAILS (exit 1 + "pass": false) if any
  * entry's t(10x)/t(1x) — and t(32x)/t(1x) for deep entries — exceeds its
  * declared bound; entries whose t(1x) sits under the scheduling-overhead
  * floor are gated on the fitted alpha instead (a floored ratio could hide
  * a fast quadratic entry). This converts the catalog's "scale shape" annotations
  * (equi-joins, posting caps, bounded rounds) into numbers — a scale-killer
  * that slipped past the plan audits shows up here as a super-linear fit.
  *
  * Fixture methodology (salted copies, each materialized to its own dir):
  * every copy is a DISJOINT similarity/join universe, so true-match and
  * candidate volume grow k-fold, never k^2-fold —
  *  - documents: per-copy token salt `c<copy>_<word>` (replicas share no
  *    grams across copies; within-copy gram structure identical to base);
  *  - embeddings: per-(copy, dim) deterministic SIGN FLIPS — within-copy
  *    cosines are preserved EXACTLY (both vectors of a pair flip the same
  *    dims, dot products invariant) while cross-copy dots decorrelate to ~0,
  *    so each copy reproduces the base similarity graph verbatim;
  *  - events: per-copy event_type salt + user/event id shifts (q389b's LEAD
  *    sequence and co-occurrence graph stay disjoint per copy);
  *  - lineitem/orders: key shifts (each replica joins only its own copy;
  *    dims stay 1x — facts grow, dimensions don't, the 100 TB regime).
  * CRUCIALLY the k=1 fixture goes through the SAME transforms (copy 0), so
  * times are compared on identically-shaped rows and only SIZE varies.
  * Scaled tables are materialized to parquet once per size — generation cost
  * is never inside a timing window.
  */
object BenchScale {

  /** bound10x: declared ceiling on t(10x)/t(1x) warm-time growth. 13 allows
    * n log n plus measurement noise; a quadratic entry lands at ~100 and can
    * never sneak under it. deep: also measured at 32x (VERDICT r10 #5 — at
    * 10x a constant-overhead term can still mask a super-linear tail in the
    * near-linear cohort; one more decade separates alpha from noise) against
    * [[bound32x]], the same per-decade slope extended: 3.2x the 10x bound.
    * The first r11 deep run proved the point twice — q72b's ~8/bucket
    * candidate constant measured 91x and q301b's MIN(md5-string) sort-
    * fallback measured 54x at 32x, both invisible at 10x, both fixed.
    *
    * fixture selects the scaled-dir FAMILY (round 12 — VERDICT r11 #1
    * widened the catalog to the wall-clock-heavy tail, which needs two new
    * fixture variants):
    *  - "tpch"/"docs"/"emb"/"events": the standard disjoint-universe dirs;
    *  - "retrieval": documents scaled WITHOUT the per-copy token salt
    *    (plus standard embeddings) — BM25/RRF query terms are literals
    *    ('hash','join','scan'), and the realistic retrieval scaling is the
    *    SAME query over a k-fold corpus: postings and df grow k-fold, the
    *    top-k stays k-invariant; the token salt would zero the postings and
    *    time an empty ranking stage. No pair-explosion risk — BM25 has no
    *    self-join, so disjointness isn't needed;
    *  - "stream-events": events scaled WITHOUT the per-copy event_type salt
    *    (id/user shifts only) — q259/q264 filter event_type = 'view'/'click'
    *    literally and join strictly on the copy-disjoint user_id, so
    *    matches and join-buffer state grow exactly k-fold. (The standard
    *    events salt exists for q389b's LEAD PARTITION BY event_type, which
    *    these entries don't use.) */
  final case class Entry(name: String, fixture: String, bound10x: Double, note: String,
      deep: Boolean = false) {
    def bound32x: Double = bound10x * 3.2
  }

  val entries: Seq[Entry] = Seq(
    Entry("q21_tpch_q1", "tpch", 13.0, "scan+agg over lineitem; map-side partials"),
    Entry("q93_tpch_q5", "tpch", 13.0, "fact-fact join + broadcast dims"),
    Entry("q286b_perplexity_buckets_at_scale", "docs", 13.0, "fixed-cutoff buckets, no global NTILE", deep = true),
    Entry("q292_shard_packing", "docs", 13.0, "two-level prefix sum, 256-bucket spine"),
    Entry("q340_pipeline_funnel", "docs", 13.0, "[2,32]-capped gram join + intersection-bound prune"),
    Entry("q375_lsh_br_tradeoff", "docs", 13.0, "12-slot signature, 3 bandings, [2,32] bucket caps"),
    Entry("q383_minhash_portable", "docs", 13.0, "md5 minhash -> band equi-join -> capped verify", deep = true),
    // round-11 additions: the last fixed-parameter candidate generator
    // (VERDICT r10 #1) made adaptive and measured, with its consumer.
    //
    // ACCEPTED-LINEAR-IN-OUTPUT, bounds raised deliberately r14 (VERDICT
    // r13 #1 — both entries sat within ~25% of the old 13/18 bounds, one
    // noisy widening from a formal failure). The r13 record shows WHY the
    // ratios overshoot k: the OUTPUT pair set itself grows super-k in the
    // disjoint-universe fixtures (q50b rows: 1.594M -> 19.92M at 10x =
    // 12.5x; -> 52.67M at 32x = 33.0x — per-copy token salts redraw every
    // signature, so copy 0's pair mass is a ~0.8x draw), while time PER
    // PAIR stays flat (2.49 / 2.04 / 2.63 us at 1/10/32x). An r14 stage
    // profile confirms the warm time is the candidate-join + dedup of the
    // pair stream, not the signature pass. The bound is therefore the
    // measured output law (12.5x at 10x) plus headroom for draw variance —
    // NOT a loosened efficiency claim: a true super-linear regression
    // (per-pair time growing) would still blow through 16/20 long before
    // the old failure mode (quadratic candidate generation, ~100x) did.
    Entry("q50b_simhash_neardup", "docs", 16.0,
      "adaptive simhash bands (12/16/24 bits from corpus count) + hamming-1 multiprobe; " +
        "OUTPUT-PAIR-MASS bound, accepted-linear-in-output: rows grow 12.5x at 10x / 33x at 32x " +
        "while per-pair time stays ~2.0-2.6 us across all scales; bound 16 = measured output law + draw-variance headroom (r14, VERDICT r13 #1)",
      deep = true),
    Entry("q380_detector_agreement", "docs", 20.0,
      "consumes the adaptive simhash detector + [2,32]-capped exact Jaccard; FULL OUTER on pair sets; " +
        "OUTPUT-PAIR-MASS bound like q50b (its internal pair stream IS q50b's 12.5x/33x output); " +
        "bound 20 = q50b's 16 + the exact-Jaccard side's own draw variance (r14, VERDICT r13 #1)",
      deep = true),
    Entry("q49b_neardup_components", "docs", 13.0, "label-prop CC: rounds = cluster diameter (fixed per copy)"),
    Entry("q332_cc_star_contraction", "docs", 13.0, "star-contraction CC: O(log n) rounds"),
    Entry("q389b_link_prediction_capped", "events", 13.0, "hub-capped adjacency: n*32^2 pair bound"),
    Entry("q72b_embedding_neardup_scaled", "emb", 13.0, "LSH prefilter + exact verify; adaptive code bits = log2(n/8) + hamming-1 multiprobe (this harness measured the fixed-6-bit form at 26x)", deep = true),
    // round-10 session-2 widening: the remaining flagship families
    Entry("q41_dedup_exact", "docs", 13.0, "hash groupBy exact dedup"),
    Entry("q49_minhash_neardup", "docs", 13.0, "xxhash64 minhash -> banded equi-join -> capped verify"),
    Entry("q49c_incremental_neardup", "docs", 13.0, "batch bands vs corpus bands; batch-proportional"),
    Entry("q290_decontamination", "docs", 13.0, "tiny eval gram set broadcast; train side streams map-side"),
    Entry("q301b_fuzzy_decontamination_capped", "docs", 13.0, "sparse (slot, value) MinHash join + [1,32] train-bucket cap (this harness measured q301's slot-index join at 30x)", deep = true),
    Entry("q293_quality_classifier", "docs", 13.0, "per-row integer logits, one scan"),
    Entry("q343_quality_canonical", "docs", 13.0, "CC components + per-cluster keeper window (cluster-partitioned)"),
    Entry("q304_sessionization", "events", 13.0, "per-user LAG/session windows (user-partitioned)"),
    Entry("q298_triangle_count", "events", 13.0, "degree-oriented triangle join"),
    Entry("q276_pagerank", "events", 13.0, "3 unrolled iterations, one equi-join + groupBy each"),
    Entry("q281_semdedup", "emb", 13.0, "k-means cells + in-cell pairs; adaptive k = n/64 (fixed k is n^2/k — the q72b failure class)"),
    Entry("q371_stream_neardup_index", "docs", 13.0, "STREAMING ingest-time near-dup screen: stream-static join against the [2,32]-capped corpus gram index (micro-batch drain)"),
    // round-11 new capabilities, registered on arrival
    Entry("q394_dsir_selection", "docs", 13.0, "DSIR importance selection: O(n) tokenize, 64-row bucket-LM broadcast, distributed top-k"),
    Entry("q395_coreset_fps", "emb", 13.0, "FPS coreset: 8 rounds x (1-row broadcast + argmax); O(k*n) distances"),
    Entry("q396_image_phash_dedup", "docs", 13.0,
      "variant-media BMP decode + 16-bit aHash; pair-free window clustering on (w,h,ahash) — " +
        "cluster SIZES grow with the corpus, output rows and shuffle stay O(n) (q397 shares the shape)"),
    // round-12 widening (VERDICT r11 #1): the wall-clock-heavy uncovered
    // tail — stream-stream join state, retrieval ranking, media decode.
    Entry("q259_stream_stream_join_drain", "stream-events", 13.0,
      "stream-stream interval join across a checkpoint restart: watermark-evicted join buffers " +
        "are the state-growth axis the 32x point exists to catch; matches k-fold (user_id copy-disjoint)",
      deep = true),
    Entry("q264_stream_stream_outer_drain", "stream-events", 13.0,
      "stream-stream LEFT OUTER drain: adds null-emission on watermark eviction to q259's state shape",
      deep = true),
    Entry("q266_bm25_topk", "retrieval", 13.0,
      "BM25 top-k: one tf groupBy over k-fold postings, broadcastable df/stats, distributed top-k"),
    Entry("q342_chunk_bm25", "retrieval", 13.0,
      "chunk-level BM25: 32/24-stride re-chunk explode (the dominant k-fold pass) + chunk-granular stats"),
    Entry("q267_rrf_fusion", "retrieval", 13.0,
      "RRF hybrid fusion: BM25 top-50 + int8 brute-force cosine top-50 (one k-fold corpus scan) + rank join"),
    Entry("q377_maxsim_late_interaction", "emb", 13.0,
      "MaxSim late interaction: 20 query token-slices x 4(kn) doc slices — one k-fold broadcastable pass"),
    Entry("q265_bigram_lm_score", "docs", 13.0,
      "char-bigram LM scoring: bounded-vocabulary model side (broadcast at any scale) + per-doc aggregate"),
    Entry("q397_audio_fingerprint_dedup", "docs", 13.0,
      "variant-media WAV decode + DC-invariant frame-sign fingerprint; q396's pair-free clustering shape",
      deep = true),
    Entry("q401_multimodal_manifest", "docs", 13.0,
      "decoded-media dims x text token counts: O(n) decode + one equi-join + 15-group aggregate"),
    Entry("q386_stream_media_decode", "docs", 13.0,
      "in-stream WAV decode: codec pass executed by the micro-batch engine, per-doc integer summaries"),
    Entry("q399_stream_phash_screen", "docs", 13.0,
      "streaming perceptual ingest screen: in-stream BMP decode + stream-static LEFT join on the partial index"),
    Entry("q400_stream_decontamination", "docs", 13.0,
      "streaming decontamination: k-fold arrival grams vs the copy-salted eval gram set, matches within-copy"),
    Entry("q403_semantic_decontamination", "emb", 13.0,
      "semantic decontamination: adaptive LSH codes both sides, hamming-1 probes on the small eval side, " +
        "(table, probe-code) equi-join candidates + exact verify — train-linear, never eval x train",
      deep = true),
    // round-12 session-2 widening: the remaining stateful-streaming cohort
    // plus the streaming semantic screen
    Entry("q256_stream_watermark_drain", "events", 13.0,
      "phased windowed agg under a 30-min watermark: state = open windows (constant per copy — copies " +
        "share timestamps), input and per-window counts k-fold"),
    Entry("q257_stream_stateful_sessions", "events", 13.0,
      "flatMapGroupsWithState per-user session machine across a checkpoint restart: state rows k-fold " +
        "(copy-disjoint users), per-key work constant"),
    Entry("q283_stream_cdc_apply", "stream-events", 13.0,
      "streaming CDC apply: per-key upsert/delete state k-fold; literal 'error' deletes need unsalted types"),
    Entry("q285_stream_tws_totals", "stream-events", 13.0,
      "transformWithState (RocksDB) running totals over 'click' arrivals: per-user state k-fold"),
    Entry("q405_stream_semantic_decontamination", "emb", 13.0,
      "streaming semantic screen: q403's candidate geometry executed by the micro-batch engine — " +
        "broadcastable eval probe index, in-stream lsh_codes projection, complete-mode pair collapse"),
    // round-13 widening (VERDICT r12 #3): the decode-heavy media screens
    // and the incremental perceptual dedup — the last flagship entries with
    // plan-shape arguments only.
    Entry("q372_image_histogram", "docs", 13.0,
      "per-image BMP decode + 4-bucket channel histogram: O(n) codec pass, one doc-keyed aggregate"),
    Entry("q378_image_gradient", "docs", 13.0,
      "per-image BMP decode + forward-difference gradient energy: O(n pixels) codec pass"),
    Entry("q382_audio_silence_runs", "docs", 13.0,
      "per-clip WAV decode + gaps-and-islands silence runs: O(n samples) codec pass"),
    Entry("q402_incremental_phash_dedup", "docs", 13.0,
      "incremental perceptual dedup: one decode+hash pass (persisted), corpus index groupBy + two " +
        "16-bit-keyed equi-joins; the fixture keeps both branches live at every scale (asserted)"))

  private val scales = Seq(1, 4, 10)
  private val deepScaleK = 32

  // ADVICE r12: the retrieval family deliberately has no 32x fixture —
  // enforce the invariant structurally instead of by comment, so a future
  // deep-marked retrieval entry fails here, not as a NoSuchElementException
  // inside dirFor.
  require(entries.forall(e => !(e.fixture == "retrieval" && e.deep)),
    "retrieval-fixture entries cannot be deep: no 32x retrieval cohort is synthesized")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = if (args.length > 1) args(1) else "BENCH_SCALE_r14.json"
    // Dev-only subset filter (comma-separated name substrings): iterate on
    // one entry's scale law without paying the full catalog. The round
    // artifact is ALWAYS produced by an unfiltered run.
    val only = sys.env.get("GRAFT_SCALE_ONLY").map(_.split(',').toSeq.filter(_.nonEmpty))
    val entries = only match {
      case None => BenchScale.entries
      case Some(fs) => BenchScale.entries.filter(e => fs.exists(e.name.contains))
    }
    // long catalog passes: periodic driver GC keeps per-query shuffles from piling up
    val spark = GraftSession.create(Bench.sessionConf)
    Tables.register(spark, sfDir)

    val work = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), "graft_benchscale")
    // timings(entry) = scale -> (runs, rows)
    val timings = scala.collection.mutable.Map[String, Map[Int, (Seq[Double], Long)]]()
      .withDefaultValue(Map.empty)

    // Every fixture dir is synthesized exactly ONCE (re-writing a dir the
    // session has already registered leaves temp views over deleted part
    // files — caught as FAILED_READ_FILE in the sf0.01 smoke run).
    val dirs: Map[Int, String] =
      scales.map(k => k -> synthesize(spark, sfDir, k, work.resolve(s"x$k").toString)).toMap
    // Round-12 fixture families (see Entry.fixture): retrieval = plain-text
    // documents + standard embeddings; stream-events = unsalted event types.
    val dirsRetrieval: Map[Int, String] =
      scales.map(k => k -> synthesize(spark, sfDir, k, work.resolve(s"r$k").toString,
        Seq("documents", "embeddings"), variant = "plain")).toMap
    val dirsStream: Map[Int, String] =
      scales.map(k => k -> synthesize(spark, sfDir, k, work.resolve(s"s$k").toString,
        Seq("events"), variant = "stream")).toMap
    // The 32x fixtures scale only the tables each deep cohort reads
    // (documents + embeddings / events); the rest stays symlinked at 1x.
    val dir32 = synthesize(spark, sfDir, deepScaleK,
      work.resolve(s"x$deepScaleK").toString, Seq("documents", "embeddings"))
    val dir32Stream = synthesize(spark, sfDir, deepScaleK,
      work.resolve(s"s$deepScaleK").toString, Seq("events"), variant = "stream")

    def dirFor(e: Entry, k: Int): String = e.fixture match {
      case "retrieval" => dirsRetrieval(k) // no 32x retrieval cohort
      case "stream-events" => if (k == deepScaleK) dir32Stream else dirsStream(k)
      case _ => if (k == deepScaleK) dir32 else dirs(k)
    }

    // Untimed warmup on the 1x fixture: every entry's FIRST-ever execution
    // carries JIT/codegen compilation, which otherwise lands entirely in the
    // 1x timings and biases every ratio downward (measured at sf0.01:
    // negative fitted exponents on the cheap entries).
    System.err.println(s"[scale] warmup pass on the 1x fixture")
    entries.foreach { e =>
      Bench.seconds(SparkEntry.queries(e.name)(spark, dirFor(e, 1)),
        t => System.err.println(s"[scale] warmup ${e.name} FAILED: $t"))
    }
    // One timed run: seconds and output rows (rows prove the work actually
    // scaled). A failed run aborts the whole run — an exponent fitted over
    // a missing point would be meaningless.
    def timed(e: Entry, k: Int): (Double, Long) = {
      val rows = spark.sparkContext.longAccumulator
      var failure: Throwable = null
      val sec = Bench.seconds(SparkEntry.queries(e.name)(spark, dirFor(e, k)),
        t => failure = t, _ => rows.add(1))
      if (sec < 0) throw failure
      (sec, rows.value)
    }
    for (k <- scales) {
      System.err.println(s"[scale] ${k}x fixtures")
      // two passes over all entries (min absorbs one contention window;
      // pass 1's row count is the one recorded)
      val pass1 = entries.map { e =>
        val (sec, rows) = timed(e, k)
        System.err.println(f"[scale] ${k}x p1 ${e.name}%-36s $sec%8.3f s  rows=$rows")
        e.name -> (sec, rows)
      }.toMap
      System.gc()
      val pass2 = entries.map { e =>
        val (sec, _) = timed(e, k)
        System.err.println(f"[scale] ${k}x p2 ${e.name}%-36s $sec%8.3f s")
        e.name -> sec
      }.toMap
      for (e <- entries) {
        val (s1, rows) = pass1(e.name)
        timings(e.name) = timings(e.name) + (k -> (Seq(s1, pass2(e.name)), rows))
      }
    }

    // 32x deep pass, near-linear cohort only (VERDICT r10 #5)
    val deepEntries = entries.filter(_.deep)
    System.err.println(s"[scale] ${deepScaleK}x deep pass (${deepEntries.size} entries)")
    for (pass <- 1 to 2) {
      System.gc()
      for (e <- deepEntries) {
        val (sec, rows) = timed(e, deepScaleK)
        System.err.println(f"[scale] ${deepScaleK}x p$pass ${e.name}%-36s $sec%8.3f s  rows=$rows")
        val prior = timings(e.name).get(deepScaleK).map(_._1).getOrElse(Seq.empty)
        timings(e.name) = timings(e.name) + (deepScaleK -> (prior :+ sec, rows))
      }
    }

    // fit + verdict
    def f3(d: Double) = f"$d%.3f"
    val floorSec = 0.2 // below this, fixed job-scheduling overhead dominates t(1x)
    val flooredAlphaBound = 1.15 // sub-floor t(1x): gate the FIT, not a floored ratio
    val rows = entries.map { e =>
      val m = timings(e.name)
      val eScales = scales ++ (if (e.deep) Seq(deepScaleK) else Nil)
      val warm = eScales.map(k => k -> m(k)._1.min).toMap
      val xs = eScales.map(k => math.log(k.toDouble))
      val ys = eScales.map(k => math.log(math.max(warm(k), 1e-3)))
      val xm = xs.sum / xs.size; val ym = ys.sum / ys.size
      val alpha = (xs zip ys).map { case (x, y) => (x - xm) * (y - ym) }.sum /
        xs.map(x => (x - xm) * (x - xm)).sum
      val ratio10 = warm(10) / math.max(warm(1), floorSec)
      val ratio32 = if (e.deep) warm(deepScaleK) / math.max(warm(1), floorSec) else 0.0
      // A t(1x) under the floor makes the ratio a division by the floor
      // constant, which a fast quadratic entry could hide beneath — gate
      // the fitted exponent instead (ADVICE r10).
      val pass =
        if (warm(1) < floorSec) alpha <= flooredAlphaBound
        else ratio10 <= e.bound10x && (!e.deep || ratio32 <= e.bound32x)
      val runsJson = eScales.map { k =>
        val (rs, n) = m(k)
        s""""${k}":{"sec":[${rs.map(f3).mkString(",")}],"warm":${f3(warm(k))},"rows":$n}"""
      }.mkString(",")
      val deepJson = if (e.deep) s""","ratio_32x":${f3(ratio32)},"bound_32x":${e.bound32x}""" else ""
      System.err.println(f"[scale] ${e.name}%-36s alpha=${alpha}%5.2f  t10/t1=${ratio10}%6.2f  bound=${e.bound10x}  ${if (pass) "PASS" else "FAIL"}")
      (e, s""""${e.name}":{"runs":{$runsJson},"alpha":${f3(alpha)},"ratio_10x":${f3(ratio10)},"bound_10x":${e.bound10x}$deepJson,"pass":$pass,"note":"${e.note}"}""", pass)
    }
    val allPass = rows.forall(_._3)
    val json =
      s"""{"metric":"scale_law","sf":"$sfDir","scales":[${scales.mkString(",")}],""" +
      s""""deep_scale":$deepScaleK,"ratio_floor_sec":$floorSec,""" +
      s""""floored_alpha_bound":$flooredAlphaBound,"pass":$allPass,""" +
      s""""entries":{${rows.map(_._2).mkString(",")}}}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json + "\n")
    println(json)
    spark.stop()
    // best-effort fixture cleanup
    try deleteRec(work.toFile) catch { case _: Throwable => () }
    if (!allPass) sys.exit(1)
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRec)
    f.delete(): Unit
  }

  /** Writes the five scaled tables for copy-count k under outDir (plus
    * symlinks for the unscaled dims) and returns outDir — a COMPLETE
    * driver-layout fixture dir. Reads the ORIGINAL parquet via Tables.read
    * (time columns normalized) — NEVER spark.table, which once a scaled
    * dir has been registered resolves to the PREVIOUS scale's views and
    * compounds the copies (caught in the sf0.01 trial: the "10x" fixture
    * held 4x*10 = 40x rows with colliding ids, inflating every ratio and
    * even the row counts). */
  private def synthesize(spark: SparkSession, sfDir: String, k: Int, outDir: String,
      tables: Seq[String] = scaled, variant: String = "disjoint"): String = {
    def copies(name: String): DataFrame =
      spark.range(0, k).crossJoin(Tables.read(spark, sfDir, name))

    // Each scaled table lands as a SINGLE parquet FILE named <t>.parquet —
    // the driver fixture's layout — because the streaming sources select
    // their table from the shared dir with pathGlobFilter=<t>.parquet,
    // which never matches part files inside a directory-style write.
    def writeSingleFile(df: DataFrame, name: String): Unit = {
      val tmp = s"$outDir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      val dst = java.nio.file.Paths.get(outDir, s"$name.parquet")
      if (java.nio.file.Files.exists(dst)) deleteRec(dst.toFile)
      java.nio.file.Files.move(part.toPath, dst)
      deleteRec(new java.io.File(tmp))
    }

    if (tables.contains("documents")) {
      // "plain" (retrieval cohort): text unsalted — postings/df for literal
      // query terms grow k-fold, the realistic same-query-bigger-corpus
      // scaling; ids still shift so doc keys stay unique.
      val salted =
        if (variant == "plain") copies("documents")
        else copies("documents").withColumn("text", expr(
          "concat_ws(' ', transform(split(lower(text), ' '), w -> concat('c', CAST(id AS STRING), '_', w)))"))
      val docs = salted.select(
        (col("doc_id") + col("id") * 1000000L).as("doc_id"),
        col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      writeSingleFile(docs, "documents")
    }

    if (tables.contains("embeddings")) {
      val emb = copies("embeddings")
        .select(
          (col("vec_id") + col("id") * 10000000L).as("vec_id"),
          expr("transform(embedding, (x, j) -> " +
            "CAST(x * CAST(1 - 2 * pmod(xxhash64(id, j), 2) AS INT) AS FLOAT))").as("embedding"),
          col("label"))
      writeSingleFile(emb, "embeddings")
    }

    if (tables.contains("events")) {
      // "stream" (stream-stream join cohort): event_type unsalted — q259/
      // q264 filter 'view'/'click' literally and join on the copy-disjoint
      // user_id, so matches and join state grow exactly k-fold without the
      // salt; the salt exists for q389b's LEAD PARTITION BY event_type,
      // which never reads this family.
      val tpe =
        if (variant == "stream") col("event_type")
        else concat(lit("c"), col("id"), lit("_"), col("event_type"))
      val ev = copies("events")
        .select(
          (col("event_id") + col("id") * 100000000L).as("event_id"),
          col("ts"),
          (col("user_id") + col("id") * 10000000L).as("user_id"),
          tpe.as("event_type"),
          col("value"), col("props"))
      writeSingleFile(ev, "events")
    }

    if (tables.contains("lineitem")) {
      val li = copies("lineitem")
        .withColumn("l_orderkey", col("l_orderkey") + col("id") * 100000000L)
        .drop("id")
      writeSingleFile(li, "lineitem")
    }

    if (tables.contains("orders")) {
      val ord = copies("orders")
        .withColumn("o_orderkey", col("o_orderkey") + col("id") * 100000000L)
        .drop("id")
      writeSingleFile(ord, "orders")
    }

    // The dimension tables (and, on the 32x deep fixture, the tables the
    // deep cohort never reads) don't scale — symlink them in so outDir is a
    // COMPLETE fixture dir. Entries then receive outDir as their `dir`
    // argument (Tables.register re-registers on the dir change), which
    // also lets STREAMING entries scale: they read their sources from the
    // dir directly, bypassing any temp-view shadowing.
    for (t <- Tables.tableNames if !tables.contains(t)) {
      val link = java.nio.file.Paths.get(outDir, s"$t.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(sfDir, s"$t.parquet"))
    }

    // Fixture integrity (the compounding/collision failure mode must be
    // loud, never a silently wrong scaling law): row count exactly k * base
    // and the shifted key unique across copies.
    val keys = Map("documents" -> "doc_id", "embeddings" -> "vec_id",
      "events" -> "event_id", "lineitem" -> "", "orders" -> "o_orderkey")
    for (t <- tables) {
      val df = spark.read.parquet(s"$outDir/$t.parquet")
      val n = df.count()
      val base = Tables.read(spark, sfDir, t).count()
      require(n == k * base, s"$t at ${k}x: $n rows, expected ${k * base}")
      val key = keys(t)
      if (key.nonEmpty)
        require(df.select(key).distinct().count() == n,
          s"$t at ${k}x: $key collides across copies")
    }

    // Family-liveness assertions (VERDICT r12 #8): the unsalted fixture
    // variants exist so literal-matching entries see k-fold work — a silent
    // revert to the salted transform would zero their match volume and make
    // every alpha trivially flat while the row-count checks above still
    // pass. Pin the matched volume: non-zero and growing EXACTLY k-fold
    // (copies are verbatim replicas of the matched axis).
    if (variant == "plain" && tables.contains("documents")) {
      def postings(df: DataFrame): Long = df
        .selectExpr("explode(split(lower(text), ' ')) AS tok")
        .where(col("tok").isin("hash", "join", "scan")).count()
      val base = postings(Tables.read(spark, sfDir, "documents"))
      val got = postings(spark.read.parquet(s"$outDir/documents.parquet"))
      require(base > 0 && got == k * base,
        s"retrieval fixture at ${k}x: $got query-term postings, expected ${k * base} " +
          "(token salt regressed onto the plain variant?)")
    }
    if (variant == "stream" && tables.contains("events")) {
      def matches(df: DataFrame): Long =
        df.where(col("event_type").isin("view", "click")).count()
      val base = matches(Tables.read(spark, sfDir, "events"))
      val got = matches(spark.read.parquet(s"$outDir/events.parquet"))
      require(base > 0 && got == k * base,
        s"stream-events fixture at ${k}x: $got view/click events, expected ${k * base} " +
          "(event_type salt regressed onto the stream variant?)")
    }
    // q402's incremental split must keep BOTH branches live at every scale:
    // non-empty batch and corpus slices on the BMP side, plus at least one
    // batch doc resampling a corpus content key (cid = doc_id % 61 fully
    // determines the variant payload, so cid overlap = inheritable
    // representatives) and at least one batch-only cid (new clusters).
    if (variant == "disjoint" && tables.contains("documents")) {
      val bmp = spark.read.parquet(s"$outDir/documents.parquet")
        .where(col("doc_id") % 2 === 0)
        .select((col("doc_id") % 61).as("cid"),
          ((col("doc_id") % 61 >= 55) || (col("doc_id") % 5 === 4)).as("in_batch"))
      val batchCids = bmp.where(col("in_batch")).select("cid").distinct()
      val corpusCids = bmp.where(!col("in_batch")).select("cid").distinct()
      val nBatch = batchCids.count(); val nCorpus = corpusCids.count()
      val shared = batchCids.intersect(corpusCids).count()
      require(nBatch > 0 && nCorpus > 0 && shared > 0 && shared < nBatch,
        s"q402 split at ${k}x: batch cids=$nBatch corpus cids=$nCorpus shared=$shared — " +
          "the incremental fixture must exercise both the inherit and new-cluster branches")
    }
    outDir
  }

  private val scaled = Seq("documents", "embeddings", "events", "lineitem", "orders")
}
