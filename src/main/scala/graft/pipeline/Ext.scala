package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** [EXT] DataFrame-coded pipeline operators (SURVEY §2.E), registered in
  * SparkEntry.queries. Where the RESULT is independently recomputable in
  * portable SQL, a DuckDB oracle is declared here even though the Spark path
  * is algorithmically different — e.g. q49's banded-LSH candidate generation
  * is checked against an exact all-pairs Jaccard oracle, which proves both
  * the signature pipeline and the LSH recall on the corpus, and q52's real
  * BMP/WAV decoders are checked against the media generator's closed form.
  * Even the ANN entries (q51/q51b) are oracle-checked: approximate vs the
  * TRUE neighbors, but fully deterministic under the fixed seeds, so the
  * oracle embeds the hyperplane matrix as literals and re-runs the exact
  * same bucketing + ranking in DuckDB (the q51e unrolling trick). */
object Ext {
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q49_minhash_neardup" -> (Dedup.minhashNearDup _),
    // SCALE-AUDIT: q49b_neardup_components -> q332_cc_star_contraction
    "q49b_neardup_components" ->
      ((s: SparkSession, d: String) => Dedup.nearDupComponents(s, d)),
    "q332_cc_star_contraction" ->
      ((s: SparkSession, d: String) => Dedup.starComponents(s, d)),
    // Quality-based canonical selection: near-dup clusters keep their
    // HIGHEST-q293-logit member, not the minimum id — the production
    // keeper policy (dedup should discard the worse copies). The logit
    // ordering is the same double both engines compute from exact
    // integer numerators, tie-broken by doc_id. The logit side is a LEFT
    // join with NULL logits ranked LAST (ADVICE r7): a cluster member
    // with no computable logit can't vanish from keeper selection, and a
    // cluster whose members ALL lack one still emits exactly one keeper
    // (doc_id tie-break) instead of disappearing while q49b/q332 report it.
    "q343_quality_canonical" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      graft.Tables.register(s, d)
      val comp = Dedup.nearDupComponents(s, d)
      val logit = s.sql(
        """SELECT doc_id,
          |  CAST(CAST(wc AS BIGINT) * wc - 300 * wc + 50 * n_chars + 200 * stops + 300 * uniq AS BIGINT)
          |    AS lnum, wc
          |FROM (SELECT doc_id, n_chars, size(split(text, ' ')) AS wc,
          |        size(filter(split(text, ' '), w -> w = 'the' OR w = 'a')) AS stops,
          |        size(array_distinct(split(text, ' '))) AS uniq
          |      FROM documents) WHERE wc > 0""".stripMargin)
      comp.join(logit, Seq("doc_id"), "left")
        .withColumn("logit", col("lnum").cast("double") / (lit(100.0) * col("wc")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("canonical_id")
            .orderBy(col("logit").desc_nulls_last, col("doc_id"))))
        .where(col("rk") === 1)
        .select(col("canonical_id"), col("doc_id").as("keeper_id"),
          round(col("logit"), 4).as("keeper_logit"), col("cluster_size"))
        .orderBy("canonical_id")
    }),
    "q49c_incremental_neardup" ->
      ((s: SparkSession, d: String) => Dedup.incrementalNearDup(s, d)),
    // [EXT] leakage-free split GENERATOR — the fix whose absence q363
    // audits: instead of hashing each doc_id into train/val/test (which
    // tears near-dup clusters across the boundary — q363 measures the
    // resulting contamination), hash the CLUSTER CANONICAL, so every member
    // of a near-dup component lands in the same split by construction.
    // Components come from the O(log n)-round star contraction (q332's
    // algorithm, oracle-proven against the exact recursive closure);
    // singletons are their own canonical. The entry then MEASURES its own
    // guarantee with the same verified-pair universe: n_cross_pairs
    // (cluster-keyed split) must be 0 on every row while
    // n_cross_pairs_naive shows what the per-doc hash would have leaked.
    // Scale: assignment is a map-side md5 of the canonical; doc and pair
    // stats are one groupBy each over O(n) rows — no new pair enumeration
    // beyond the capped MinHash pipeline the components already ran.
    "q398_leakage_free_split" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      // ONE pair derivation feeds both the components and the self-audit
      // join (running starComponents + minhashNearDup separately would
      // execute the whole MinHash pipeline — the dominant cost — twice).
      val pairs = Dedup.minhashNearDup(s, d).select("a_id", "b_id").persist()
      val comp = Dedup
        .starContract(pairs.select(col("a_id").as("u"), col("b_id").as("v")))
        .select(col("doc_id"), col("canonical_id"))
      def bucket(c: Column): Column =
        conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long") % 100
      def splitOf(c: Column): Column =
        when(bucket(c) < 80, "train").when(bucket(c) < 90, "val").otherwise("test")
      val assigned = s.table("documents").select(col("doc_id"))
        .join(comp, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("canonical_id"), col("doc_id")).as("canon"))
        .withColumn("sp", splitOf(col("canon")))
        .withColumn("sp_naive", splitOf(col("doc_id")))
      val docStats = assigned.groupBy("sp").agg(
        count(lit(1)).cast("long").as("n_docs"),
        countDistinct("canon").cast("long").as("n_clusters"),
        sum(when(col("sp") =!= col("sp_naive"), 1L).otherwise(0L)).cast("long").as("n_moved"))
      val pa = assigned.select(col("doc_id").as("a_id"),
        col("sp").as("sp_a"), col("sp_naive").as("spn_a"))
      val pb = assigned.select(col("doc_id").as("b_id"),
        col("sp").as("sp_b"), col("sp_naive").as("spn_b"))
      val pairStats = pairs.join(pa, "a_id").join(pb, "b_id")
        .groupBy(least(col("sp_a"), col("sp_b")).as("sp"))
        .agg(
          sum(when(col("sp_a") =!= col("sp_b"), 1L).otherwise(0L)).cast("long").as("n_cross_pairs"),
          sum(when(col("spn_a") =!= col("spn_b"), 1L).otherwise(0L)).cast("long").as("n_cross_pairs_naive"))
      val out = docStats.join(pairStats, Seq("sp"), "left")
        .select(col("sp"), col("n_docs"), col("n_clusters"), col("n_moved"),
          coalesce(col("n_cross_pairs"), lit(0L)).as("n_cross_pairs"),
          coalesce(col("n_cross_pairs_naive"), lit(0L)).as("n_cross_pairs_naive"))
        .orderBy("sp")
        // eager localCheckpoint materializes the 3-row result through the
        // cached pair blocks, so the cache can be RELEASED before returning
        // (the nearDupComponents discipline — a bare persist would pin the
        // MinHash pair blocks in executor memory for the rest of the session)
        .localCheckpoint()
      pairs.unpersist()
      out
    }),
    // [EXT] cluster-size law: the distribution of near-dup cluster sizes
    // over the verified components — the telemetry that distinguishes a
    // mirror-dominated corpus (few huge clusters: contract the star early)
    // from pairwise near-dups (size-2 dominated: pair-level dedup suffices)
    // and sizes the CC work. One distinct + one groupBy over the (tiny)
    // component table; all integer. Built on q332's O(log n)-round star
    // contraction (NOT q49b's diameter-round label propagation) so the
    // histogram inherits the round count that holds on 100 TB edge sets;
    // q332's oracle proves the two component sets identical, and this
    // entry's own DuckDB oracle re-proves the histogram independently.
    "q391_cluster_size_law" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      Dedup.starComponents(s, d)
        .select(col("canonical_id"), col("cluster_size")).distinct()
        .groupBy("cluster_size")
        .agg(count(lit(1)).cast("long").as("n_clusters"))
        .select(col("cluster_size"),
          col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).cast("long").as("n_docs"))
        .orderBy("cluster_size")
    }),
    "q50_simhash" -> (Dedup.simhash _),
    // Round 11: no longer an sf-pinned audit — the band space adapts to the
    // corpus count (Dedup.simhashBandBits) with multiprobe recall, and the
    // entry is BenchScale-measured alongside q380 (VERDICT r10 #1).
    "q50b_simhash_neardup" -> ((s: SparkSession, d: String) => Dedup.simhashNearDup(s, d)),
    // PLAN-REGISTRY float-agg q51_ann_lsh: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q51_ann_lsh" -> (Similarity.lshTopK _),
    // PLAN-REGISTRY float-agg q335_ann_multiprobe: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q335_ann_multiprobe" -> (Similarity.multiprobeTopK _),
    // PLAN-REGISTRY float-agg q336_multiprobe_recall: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q336_multiprobe_recall" -> (Similarity.multiprobeRecall _),
    "q51b_ann_ivf" -> ((s: SparkSession, d: String) => Similarity.ivfTopK(s, d)),
    "q51c_ann_recall" -> ((s: SparkSession, d: String) => Similarity.annRecall(s, d)),
    "q51d_lsh_planted_recall" -> ((s: SparkSession, d: String) => Similarity.lshPlantedRecall(s, d)),
    "q72b_embedding_neardup_scaled" ->
      ((s: SparkSession, d: String) => Similarity.prefilteredNearDup(s, d)),
    "q403_semantic_decontamination" ->
      ((s: SparkSession, d: String) => Similarity.semanticDecontamination(s, d)),
    // PLAN-REGISTRY float-agg q51e_kmeans_cells: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q51e_kmeans_cells" ->
      ((s: SparkSession, d: String) => Similarity.kmeansCells(s, d)),
    "q51f_quantized_topk" ->
      ((s: SparkSession, d: String) => Similarity.quantizedTopK(s, d)),
    // PLAN-REGISTRY float-agg q271_ivf_kmeans_topk: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q271_ivf_kmeans_topk" ->
      ((s: SparkSession, d: String) => Similarity.ivfKmeansTopK(s, d)),
    // PLAN-REGISTRY float-agg q275_pq_adc_topk: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q275_pq_adc_topk" ->
      ((s: SparkSession, d: String) => Similarity.pqTopK(s, d)),
    // PLAN-REGISTRY float-agg q280_ivfpq_topk: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q280_ivfpq_topk" ->
      ((s: SparkSession, d: String) => Similarity.ivfPqTopK(s, d)),
    "q281_semdedup" ->
      ((s: SparkSession, d: String) => Similarity.semDedup(s, d)),
    "q297_heavy_hitters" ->
      ((s: SparkSession, d: String) => HeavyHitters.tokenHeavyHitters(s, d)),
    // Cross-source duplication matrix: WHICH ingestion sources copy from
    // which — q49's banded-LSH near-dup pairs (never all-pairs) labeled
    // with each side's source and aggregated into a canonicalized
    // (source_a <= source_b) matrix. The mirror-crawl / syndication
    // telemetry a multi-source 100 TB pipeline routes de-prioritization
    // decisions on; sources² output rows, corpus-linear work.
    "q327_crosssource_dup_matrix" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val src = s.table("documents").select(col("doc_id"), col("source"))
      Dedup.minhashNearDup(s, d)
        .join(src.select(col("doc_id").as("a_id"), col("source").as("sa")), "a_id")
        .join(src.select(col("doc_id").as("b_id"), col("source").as("sb")), "b_id")
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
        .groupBy("source_a", "source_b")
        // exact integer sum of the 4-dp jaccards (an AVG rounded to 4 dp can
        // land on a .00005 tie where the engines' rounding modes diverge)
        .agg(count(lit(1)).as("n_pairs"),
          sum(round(col("jaccard") * 10000, 0).cast("long")).cast("long")
            .as("sum_jaccard_x1e4"))
        .orderBy("source_a", "source_b")
    }),
    // Source-format coverage beyond parquet: the same corpus written to and
    // read back from CSV (header, explicit schema on read — inference is a
    // scale anti-pattern: it double-scans), JSON-lines, and ORC; each
    // round-trip must reproduce the parquet-direct aggregate exactly.
    "q305_multiformat_roundtrip" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val docs = s.table("documents")
      val schema = docs.schema
      def agg(df: DataFrame, fmt: String): DataFrame =
        df.agg(count(lit(1)).as("n_docs"), countDistinct(col("text")).as("n_texts"),
            sum("n_chars").cast("long").as("sum_chars"))
          .select(lit(fmt).as("fmt"), col("n_docs"), col("n_texts"), col("sum_chars"))
      val base = graft.GraftSession.scratch("graft_fmt").toString
      docs.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
      docs.write.mode("overwrite").json(s"$base/json")
      docs.write.mode("overwrite").orc(s"$base/orc")
      val csv = s.read.schema(schema).option("header", "true").csv(s"$base/csv")
      val json = s.read.schema(schema).json(s"$base/json")
      val orc = s.read.orc(s"$base/orc")
      agg(csv, "csv").unionAll(agg(json, "json")).unionAll(agg(orc, "orc")).orderBy("fmt")
    }),
    // Bucketed-layout round-trip as a driver-visible operator (BucketingSpec
    // asserts the no-shuffle plan property; this entry pins the RESULT):
    // both join sides written bucketed on the join key, then the repeated
    // orders⋈lineitem join runs shuffle-free off the bucket layout — at
    // 100 TB this converts every recurring join on the key into a local
    // zip of co-located buckets. Unique table names so concurrent cloned
    // sessions (ConcurrencySpec) never race on the shared catalog.
    // PLAN-REGISTRY float-agg q309_bucketed_join_readback: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q309_bucketed_join_readback" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
      val base = graft.GraftSession.scratch("graft_buckets").toString
      val ot = s"g_orders_bkt_$tag"
      val lt = s"g_lineitem_bkt_$tag"
      // repartition(16, key) before the bucketed write: same murmur3+pmod
      // as the bucket id, so each of the 16 tasks holds exactly one
      // bucket's rows — the write parallelizes 16x (it ran in the single
      // row-group scan task, round-14 §2) and still emits ONE file per
      // bucket, keeping the per-bucket sorted guarantee for the readback.
      s.table("orders").select("o_orderkey", "o_orderstatus")
        .repartition(16, col("o_orderkey")).write
        .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$base/orders").saveAsTable(ot)
      s.table("lineitem").select("l_orderkey", "l_returnflag", "l_extendedprice")
        .repartition(16, col("l_orderkey")).write
        .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$base/lineitem").saveAsTable(lt)
      s.sql(
        s"""SELECT l.l_returnflag, COUNT(*) AS n, ROUND(SUM(l.l_extendedprice), 4) AS revenue
           |FROM $lt l JOIN $ot o ON l.l_orderkey = o.o_orderkey
           |WHERE o.o_orderstatus = 'F'
           |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)
    }),
    "q52_multimodal_features" -> (Multimodal.features _),
    "q52b_multimodal_meta" -> (Multimodal.meta _),
    "q52c_frame_counts" -> (Multimodal.frameCounts _),
    "q52d_audio_frames" -> (Multimodal.audioFrames _),
    "q359_image_thumbnail" -> (Multimodal.thumbnails _),
    "q360_audio_decimate" -> (Multimodal.audioDecimate _),
    "q372_image_histogram" -> (Multimodal.bmpHistogram _),
    "q378_image_gradient" -> (Multimodal.bmpGradient _),
    "q382_audio_silence_runs" -> (Multimodal.audioSilenceRuns _),
    "q396_image_phash_dedup" -> (Multimodal.imagePerceptualDedup _),
    "q397_audio_fingerprint_dedup" -> (Multimodal.audioFingerprintDedup _),
    "q401_multimodal_manifest" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      Multimodal.multimodalManifest(s, d)
    }),
    // NOTE (ADVICE r12): q402 (like q398 above) eagerly localCheckpoints at
    // DataFrame-construction time to release its decode+hash cache, so
    // plan-only consumers (EXPLAIN paths, plan-registry audits) pay one
    // full execution when they CONSTRUCT it — acceptable in local mode (the
    // nearDupComponents precedent); a cluster deployment that only wants
    // the plan should call imagePerceptualHashes and inspect that instead.
    "q402_incremental_phash_dedup" -> (Multimodal.incrementalPerceptualDedup _),
    // [EXT] eval-release decontamination diff (q404): when the benchmark
    // suite rotates (release A = doc_id % 97 grams, release B = doc_id %
    // 89 grams), which train docs NEWLY quarantine, which clear, which
    // stay? Two broadcast gram screens (q290's shape twice) FULL OUTER
    // joined on the tiny contaminated sets; train side = docs in neither
    // eval set. The re-release delta a curation pipeline publishes with
    // each eval refresh instead of re-arguing the whole sweep.
    "q404_decontamination_diff" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql(
        """WITH w AS (SELECT doc_id, split(text, ' ') AS ws FROM documents),
          |g AS (SELECT doc_id, concat_ws(' ', ws[i-1], ws[i], ws[i+1]) AS g
          |      FROM (SELECT * FROM w WHERE size(ws) >= 3) w
          |      LATERAL VIEW explode(sequence(1, size(ws) - 2)) t AS i),
          |eva AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
          |evb AS (SELECT DISTINCT g FROM g WHERE doc_id % 89 = 0),
          |tr AS (SELECT DISTINCT doc_id, g FROM g
          |       WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0),
          |ca AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_a
          |       FROM tr JOIN eva USING (g) GROUP BY doc_id),
          |cb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_b
          |       FROM tr JOIN evb USING (g) GROUP BY doc_id)
          |SELECT COALESCE(ca.doc_id, cb.doc_id) AS doc_id,
          |  COALESCE(ca.n_shared_a, 0) AS n_shared_a,
          |  COALESCE(cb.n_shared_b, 0) AS n_shared_b,
          |  CASE WHEN ca.doc_id IS NULL THEN 'new'
          |       WHEN cb.doc_id IS NULL THEN 'cleared'
          |       ELSE 'still' END AS status
          |FROM ca FULL OUTER JOIN cb ON ca.doc_id = cb.doc_id
          |ORDER BY doc_id""".stripMargin)
    }),
    // [EXT] detector-agreement audit: precision/recall of the SimHash
    // hamming<=3 detector (q50b's banded pairs — exact within its pigeonhole
    // radius) against the exact 3-gram Jaccard >= 0.90 ground truth on the
    // capped [2,32] posting-window candidates (q363's pair universe). The
    // method-selection question a curation pipeline answers before committing
    // to a detector family: how much of the Jaccard near-dup mass does the
    // cheaper bit-signature detector capture, and how much of what it fires
    // on is below threshold. Both pair sets are banded/capped equi-joins
    // (never all-pairs); the FULL OUTER join runs on the tiny pair sets.
    // All-integer output (basis points via DIV with zero guards).
    // (Round 14 note: a staged/checkpointed variant of this entry was
    // measured SLOWER — its re-referenced subtrees are cheap codegen'd
    // explodes over a 2 MB parquet scan, and materializing their expanded
    // output cost more than recomputing it. Left in the one-statement form
    // deliberately; see OPTIMIZATION_r14.md.)
    "q380_detector_agreement" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      Dedup.simhashNearDup(s, d).createOrReplaceTempView("simhash_pairs_g380")
      // REPARTITION(np, doc_id): distribute the g8/s3 gram explodes off the
      // single-row-group scan task (round-14 §2); np = session setting.
      val np = Ops.sessionPartitions(s)
      s.sql(
        s"""WITH w AS (SELECT /*+ REPARTITION($np, doc_id) */ doc_id,
          |             split(lower(text), ' ') AS w FROM documents),
          |g8 AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w) - 7),
          |         i -> concat_ws(' ', slice(w, i, 8))))) AS g FROM w WHERE size(w) >= 8),
          |gc AS (SELECT g FROM g8 GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 32),
          |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
          |         FROM g8 a JOIN gc USING (g) JOIN g8 b USING (g) WHERE a.doc_id < b.doc_id),
          |s3 AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w) - 2),
          |         i -> concat_ws(' ', w[i-1], w[i], w[i+1])))) AS g FROM w WHERE size(w) >= 3),
          |sz AS (SELECT doc_id, COUNT(*) AS n FROM s3 GROUP BY doc_id),
          |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS i
          |          FROM cand c JOIN s3 sa ON sa.doc_id = c.a_id
          |          JOIN s3 sb ON sb.doc_id = c.b_id AND sa.g = sb.g
          |          GROUP BY c.a_id, c.b_id),
          |exact AS (SELECT a_id, b_id FROM inter
          |          JOIN sz na ON na.doc_id = a_id JOIN sz nb ON nb.doc_id = b_id
          |          WHERE (20000 * i + (na.n + nb.n - i)) DIV (2 * (na.n + nb.n - i)) >= 9000),
          |sim AS (SELECT a_id, b_id FROM simhash_pairs_g380),
          |m AS (SELECT (e.a_id IS NOT NULL) AS in_exact, (p.a_id IS NOT NULL) AS in_sim
          |      FROM exact e FULL OUTER JOIN sim p
          |        ON e.a_id = p.a_id AND e.b_id = p.b_id),
          |c AS (SELECT SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS n_exact,
          |             SUM(CASE WHEN in_sim THEN 1 ELSE 0 END) AS n_simhash,
          |             SUM(CASE WHEN in_exact AND in_sim THEN 1 ELSE 0 END) AS n_both
          |      FROM m)
          |SELECT CAST(n_exact AS BIGINT) AS n_exact,
          |  CAST(n_simhash AS BIGINT) AS n_simhash,
          |  CAST(n_both AS BIGINT) AS n_both,
          |  CAST(CASE WHEN n_exact > 0 THEN n_both * 10000 DIV n_exact ELSE -1 END AS BIGINT)
          |    AS recall_x1e4,
          |  CAST(CASE WHEN n_simhash > 0 THEN n_both * 10000 DIV n_simhash ELSE -1 END AS BIGINT)
          |    AS precision_x1e4
          |FROM c""".stripMargin)
    }),
    // [EXT] dataset card: the one-row summary a published corpus ships
    // with — population, source/modality mix, language split (q44's
    // stopword rule), quality-gate keep count (q293's integer logit), and
    // the boilerplate rate (q351's [2,32]-shared-8-gram label) — ONE
    // conditional-aggregation scan plus the capped gram pass, all integer.
    // The modality split joins Multimodal.mediaTable's format column
    // (Multimodal.formatOf — the generator invariant stated ONCE); the
    // DuckDB oracle restates doc_id parity independently, so a generator
    // change fails the hash instead of silently mis-reporting the card
    // (VERDICT r8 #2). The 1-row x 1-row CROSS JOIN at the end is the
    // sketch-law broadcast shape.
    "q362_dataset_card" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      Multimodal.mediaFormats(s, d).createOrReplaceTempView("media_fmt")
      val np = Ops.sessionPartitions(s)
      s.sql(
        s"""WITH wd AS (SELECT /*+ REPARTITION($np, doc_id) */ doc_id, source,
          |             n_chars, split(text, ' ') AS w, text
          |            FROM documents),
          |g8 AS (SELECT doc_id, explode(array_distinct(transform(sequence(1, size(w) - 7),
          |         i -> concat_ws(' ', slice(w, i, 8))))) AS g FROM wd
          |       WHERE size(w) >= 8),
          |gc AS (SELECT g FROM g8 GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 32),
          |bp AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN gc USING (g)),
          |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
          |        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
          |        CAST(SUM(size(w)) AS BIGINT) AS n_tokens,
          |        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          |        CAST(SUM(CASE WHEN (' ' || text || ' ') LIKE '% the %'
          |             THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
          |        CAST(SUM(CASE WHEN size(w) > 0 AND
          |               CAST(size(w) AS BIGINT) * size(w) - 300 * size(w) + 50 * n_chars
          |               + 200 * size(filter(w, x -> x = 'the' OR x = 'a'))
          |               + 300 * size(array_distinct(w)) > 0
          |             THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
          |        CAST(SUM(CASE WHEN mf.format = 'bmp' THEN 1 ELSE 0 END) AS BIGINT) AS n_bmp,
          |        CAST(SUM(CASE WHEN mf.format = 'wav' THEN 1 ELSE 0 END) AS BIGINT) AS n_wav
          |      FROM wd JOIN media_fmt mf ON mf.doc_id = wd.doc_id),
          |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_boiler FROM bp)
          |SELECT m.n_docs, m.n_sources, m.n_tokens, m.total_chars, m.n_en,
          |  m.n_keep, m.n_bmp, m.n_wav, b.n_boiler,
          |  CAST(b.n_boiler * 10000 DIV m.n_docs AS BIGINT) AS boiler_rate_x1e4,
          |  CAST(m.n_tokens DIV m.n_docs AS BIGINT) AS mean_tokens
          |FROM m CROSS JOIN b""".stripMargin)
    }),
    "q204_range_join_binned" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val points = s.table("customer").select(col("c_custkey"), col("c_acctbal"))
      val intervals = s.table("supplier").select(col("s_suppkey"),
        (col("s_acctbal") - 500).as("lo"), (col("s_acctbal") + 500).as("hi"))
      Ops.rangeJoin(points, intervals, "c_acctbal", "lo", "hi", binWidth = 250.0)
        .groupBy("s_suppkey").agg(count(lit(1)).as("n_cust"))
        .orderBy("s_suppkey")
    }),
    // PLAN-REGISTRY float-agg q205_asof_join_op: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q205_asof_join_op" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val left = s.table("events").select(col("event_id"), col("user_id"), col("ts"))
      // one row per (user, ts) so the as-of pick at a tied timestamp is
      // well-defined in both engines
      val clicks = s.table("events").where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(round(max(col("value")), 4).as("click_v"))
      Ops.asofJoin(left, clicks, "user_id", "ts", Seq("click_v"))
        .select("event_id", "user_id", "ts", "asof_click_v")
        .orderBy("event_id")
    }),
    // The SAME as-of query through the custom physical operator
    // (plans/AsOfJoinExec): one streaming merge pass after co-partitioned
    // sorts, against the identical DuckDB native-ASOF oracle as q205.
    // PLAN-REGISTRY float-agg q205b_asof_join_native: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q205b_asof_join_native" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val left = s.table("events").select(col("event_id"), col("user_id"), col("ts"))
      val clicks = s.table("events").where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(round(max(col("value")), 4).as("click_v"))
      Ops.asofJoinNative(left, clicks, "user_id", "ts", Seq("click_v"))
        .select("event_id", "user_id", "ts", "asof_click_v")
        .orderBy("event_id")
    }),

    // ETL write -> pruned read-back under the gate: land a hive-partitioned
    // lake, re-read with a partition filter (OpsSpec asserts the scan's
    // PartitionFilters actually prune), and aggregate the surviving
    // partition — the q255 backfill shape without the streaming leg.
    // PLAN-REGISTRY float-agg q258_etl_partitioned_readback: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q258_etl_partitioned_readback" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val out = graft.GraftSession.scratch("graft_etl_lake").toString
      Ops.writePartitioned(
        s.table("orders").select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"),
        out, Seq("o_orderstatus"))
      s.read.parquet(out)
        .where(col("o_orderstatus") === "F")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("total"))
        .orderBy("o_orderstatus")
    }),
    // Z-order layout round-trip under the gate: cluster events on
    // (user_id, value), read back through a 2-D box predicate, aggregate.
    // Layout must be invisible in the answer; the file-skipping win the
    // layout exists for is measured in LayoutSpec.
    // PLAN-REGISTRY float-agg q260_zorder_readback: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q260_zorder_readback" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val out = graft.GraftSession.scratch("graft_zorder").toString
      Ops.zorderWrite(
        s.table("events").select("event_id", "user_id", "event_type", "value"),
        out, "user_id", "value", nFiles = 16)
      s.read.parquet(out)
        .where(col("user_id").between(10, 40) && col("value").between(50, 150))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // Schema evolution on read: two ingest batches land with different
    // schemas (the later one adds a column), and a mergeSchema scan
    // reconciles them — early rows surface NULL for the added column. The
    // lake-evolution behavior every long-lived 100 TB dataset depends on.
    // PLAN-REGISTRY float-agg q270_schema_evolution: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q270_schema_evolution" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val lake = graft.GraftSession.scratch("graft_evolve").toString
      val ev = s.table("events")
      ev.where(col("event_type") === "view")
        .select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").parquet(s"$lake/batch=1")
      ev.where(col("event_type") === "click")
        .select(col("event_id"), col("event_type"), col("value"), col("user_id"))
        .write.mode("overwrite").parquet(s"$lake/batch=2")
      s.read.option("mergeSchema", "true").parquet(lake)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"),
          count(col("user_id")).as("n_with_user"))
        .orderBy("event_type")
    }),

    // Blocked fuzzy join — the entity-resolution shape: a cheap equi
    // blocking key (nation) bounds the candidate space, an edit-distance
    // verify runs only on blocked pairs (residual filter on the hash join,
    // never a nested loop over the cross product). At 100 TB blocking is
    // what makes record linkage joinable at all.
    "q268_blocked_fuzzy_join" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql("""SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_matches
              |FROM customer c JOIN supplier s
              |  ON c.c_nationkey = s.s_nationkey
              | AND levenshtein(substr(c.c_name, -4), substr(s.s_name, -4)) <= 1
              |GROUP BY c.c_nationkey ORDER BY nationkey""".stripMargin)
    }),

    // Partial-aggregate rollup — the materialized-view maintenance law:
    // daily (day, type) partials merge into per-type totals that must
    // equal the direct aggregate over raw events (cnt=Σcnt, sum=Σsum,
    // min=min(min), max=max(max), avg re-derived). This decomposability
    // is what makes incremental MV refresh valid at 100 TB.
    // PLAN-REGISTRY float-agg q269_partial_agg_rollup: declared-contract aggregate: ROUND over commutative exact-in-double inputs or statistical contract output (driver-green bitwise since r1-r4)
    "q269_partial_agg_rollup" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql("""WITH daily AS (
              |  SELECT to_date(ts) AS d, event_type,
              |         COUNT(*) AS cnt, SUM(value) AS sv,
              |         MIN(value) AS mn, MAX(value) AS mx
              |  FROM events GROUP BY to_date(ts), event_type)
              |SELECT event_type, SUM(cnt) AS cnt, ROUND(SUM(sv), 4) AS sum_value,
              |       ROUND(MIN(mn), 4) AS min_value, ROUND(MAX(mx), 4) AS max_value,
              |       ROUND(SUM(sv) / SUM(cnt), 4) AS avg_value
              |FROM daily GROUP BY event_type ORDER BY event_type""".stripMargin)
    }),

    // BM25 ranking (Lucene IDF form, k1=1.2, b=0.75) for a fixed term query
    // — the lexical half of a retrieval stack. Shuffle shape: one tf
    // groupBy, a broadcastable df/stats side, one per-doc score aggregate.
    // PLAN-REGISTRY global-window q266_bm25_topk: corpus-ranking window sees only TakeOrderedAndProject survivors (<=50 rows, plan-audited)
    // PLAN-REGISTRY float-agg q266_bm25_topk: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q266_bm25_topk" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql(bm25Sql(limit = 10))
    }),

    // Reciprocal-rank fusion of the lexical (BM25 top-50) and vector
    // (int8-quantized cosine top-50 for query vector 0) rankings —
    // rrf = Σ 1/(60 + rank) over the lists a doc appears in; the standard
    // hybrid-retrieval combiner. Both input rankings are deterministic
    // cross-engine (rounded BM25, integer-exact quantized cosine), and the
    // fusion arithmetic is two correctly-rounded double divisions.
    // PLAN-REGISTRY global-window q267_rrf_fusion: corpus-ranking window sees only TakeOrderedAndProject survivors (<=50 rows, plan-audited)
    // PLAN-REGISTRY float-agg q267_rrf_fusion: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY)
    "q267_rrf_fusion" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      graft.Tables.register(s, d)
      val vec = Similarity.quantizedTopK(s, d, k = 50)
        .where(col("qid") === 0)
        .select(col("did").as("doc_id"), col("rnk").as("vrank"))
      val bm = s.sql(bm25Sql(limit = 50)).select(col("doc_id"), col("rnk").as("brank"))
      vec.join(bm, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("vrank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("brank")), lit(0.0))).as("rrf"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("rrf").desc, col("doc_id"))).cast("bigint"))
        .where(col("rnk") <= 10)
        .select(col("rnk"), col("doc_id"), round(col("rrf"), 6).as("rrf"))
        .orderBy("rnk")
    }),

    // Corpus-level character-bigram language-model quality score — the
    // cheap-LM filtering step of a curation pipeline (KenLM-style scoring
    // at reduced fidelity): P(bg) is the corpus-wide bigram frequency, and
    // a document's score is the mean log-probability of its bigrams.
    // The char explode is the dominant linear pass (≈6 rows per token), so
    // it runs ONCE into per-doc bigram COUNTS (pb) — both the model side
    // (cnt, a re-aggregate of pb) and the scoring join consume pb above
    // its exchange, which Spark's ReuseExchange dedupes; the r12 form
    // exploded twice (the CTE had no shuffle boundary to reuse) and its
    // measured constant was the steepest in the catalog (VERDICT r12 #7).
    // The weighted mean SUM(k·ln p)/SUM(k) equals the per-instance AVG
    // exactly; summation-order ULP is absorbed by the same ROUND(,4).
    // PLAN-REGISTRY float-agg q265_bigram_lm_score: 6-dp-rounded ranking score or LN of exact integer ratios (rounded before ORDER BY). BOUNDARY HAZARD (ADVICE r13): the r13 single-explode factoring scores via SUM(k*LN p)/SUM(k) — different float summation order than the oracle's per-instance AVG(LN p); ROUND(,4) absorbs ULP except within ~1 ULP of a 0.00005 boundary, so a future fixture mismatch here is rounding, not logic.
    "q265_bigram_lm_score" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      // REPARTITION(np, doc_id): the single-row-group scan is one task, so
      // the bigram explode ran single-threaded (round-14 §2: 2.5 -> 0.4 s
      // distributed). np follows the session's shuffle-partition setting.
      val np = Ops.sessionPartitions(s)
      s.sql(s"""WITH t AS (SELECT /*+ REPARTITION($np, doc_id) */ doc_id,
              |             lower(text) AS t FROM documents
              |           WHERE length(text) >= 2),
              |tc AS (SELECT doc_id, t, ${Ops.charSplitGuardSql("t")} AS __ch FROM t),
              |pb AS (SELECT doc_id, bg, COUNT(*) AS k FROM (
              |         SELECT doc_id, explode(${Ops.charGramArraySql("t", 2)}) AS bg FROM tc)
              |       GROUP BY doc_id, bg),
              |cnt AS (SELECT bg, SUM(k) AS c FROM pb GROUP BY bg),
              |tot AS (SELECT SUM(c) AS n FROM cnt)
              |SELECT doc_id, SUM(k) AS n_bigrams,
              |  ROUND(SUM(k * LN(CAST(c AS DOUBLE) / n)) / SUM(k), 4) AS lm_score
              |FROM pb JOIN cnt USING (bg) CROSS JOIN tot
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
    }),

    // CDC merge invariant under the gate: events as a change stream keyed
    // by user (event_type 'error' = delete marker, anything else a full-row
    // upsert), split into two batches at the midpoint timestamp. Bootstrap
    // a snapshot from batch 1 on an empty state, merge batch 2 into it —
    // the result must equal the batch recompute over ALL events (last
    // change per user wins; users whose last change is a delete are gone).
    "q263_cdc_merge" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val ch = s.table("events").select(
        col("user_id"), expr("unix_micros(ts)").as("last_us"), col("event_id"),
        col("value"), (col("event_type") === "error").as("is_delete"))
      val bounds = ch.agg(min("last_us"), max("last_us")).head()
      val cut = (bounds.getLong(0) + bounds.getLong(1)) / 2
      val empty = ch.select("user_id", "value", "last_us").limit(0)
      val snap1 = Ops.cdcMerge(empty, ch.where(col("last_us") < cut),
        "user_id", Seq("last_us", "event_id"), "is_delete")
      Ops.cdcMerge(snap1, ch.where(col("last_us") >= cut),
        "user_id", Seq("last_us", "event_id"), "is_delete")
        .select(col("user_id"), round(col("value"), 4).as("value"), col("last_us"))
        .orderBy("user_id")
    }),

    // Small-file compaction round-trip: fragment events into 50 files (the
    // per-micro-batch debris a streaming sink leaves), compact by on-disk
    // bytes, and aggregate the compacted lake — content must be untouched.
    // PLAN-REGISTRY float-agg q261_compaction_readback: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q261_compaction_readback" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val small = graft.GraftSession.scratch("graft_small").toString
      val out = graft.GraftSession.scratch("graft_compact").toString
      s.table("events").select("event_id", "event_type", "value")
        .repartition(50).write.mode("overwrite").parquet(small)
      Ops.compact(s, small, out, targetFileBytes = 8L << 20)
      s.read.parquet(out)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("event_type")
    }),

    // Deterministic stratified sampling (the sample_corpus tool's statement
    // as a gated query): md5-bucket the doc id, keep buckets < 20 per
    // source stratum — seedless, so re-runs and both engines agree exactly.
    "q262_stratified_sample" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql("""SELECT source, count(*) AS n_docs, sum(n_chars) AS chars
              |FROM documents
              |WHERE CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100 < 20
              |GROUP BY source ORDER BY source""".stripMargin)
    }),

    // PLAN-REGISTRY float-agg q206_salted_join_op: ROUND(MAX/AVG) over a total-ordered or per-key-unique frame
    "q206_salted_join_op" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val probe = s.table("lineitem").select(col("l_orderkey").as("okey"), col("l_quantity"))
      val build = s.table("orders").select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      Ops.saltedJoin(probe, build, "okey", salt = 8)
        .groupBy("o_orderstatus")
        .agg(round(sum(col("l_quantity")), 4).as("qty"), count(lit(1)).as("n"))
        .orderBy("o_orderstatus")
    }),

    // [EXT] PageRank (q276), moved here from the one-statement Queries
    // spec in round 14 (optimization): each unrolled step referenced the
    // previous rank table TWICE (dangling-mass aggregate + incoming-mass
    // join), so the inlined tree doubled per round — 101 parquet scans
    // planned for 3 rounds — and every copy re-derived the edge list from
    // the events LEAD window. Edges/nodes/outdeg and each round's rank
    // table (all tiny) are now materialized once. Same integer fixed-point
    // arithmetic; oracle unchanged (Queries.pagerankSql("//") via
    // Ext.oracles).
    // PLAN-REGISTRY global-window q276_pagerank: post-aggregate small spine: final rank over 25 node scores
    "q276_pagerank" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql(
        """WITH s AS (SELECT event_type, user_id, ts, event_id,
          |     LEAD(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
          |   FROM events)
          |SELECT DISTINCT user_id AS src, nxt AS dst FROM s
          |WHERE nxt IS NOT NULL AND nxt <> user_id""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("edges_g276")
      s.sql("SELECT DISTINCT user_id AS id FROM events")
        .localCheckpoint(true).createOrReplaceTempView("nodes_g276")
      s.sql("SELECT src, COUNT(*) AS deg FROM edges_g276 GROUP BY src")
        .localCheckpoint(true).createOrReplaceTempView("outdeg_g276")
      s.sql("SELECT id, 1000000000000 DIV (SELECT COUNT(*) FROM nodes_g276) AS r FROM nodes_g276")
        .localCheckpoint(true).createOrReplaceTempView("r0_g276")
      for (r <- 1 to 3) {
        s.sql(
          s"""SELECT n.id,
             |  base.b + (85 * (COALESCE(inc.m, 0) + dang.share)) DIV 100 AS r
             |FROM nodes_g276 n
             |CROSS JOIN (SELECT (1000000000000 DIV (SELECT COUNT(*) FROM nodes_g276)) * 15 DIV 100 AS b) base
             |CROSS JOIN (SELECT COALESCE(CAST(SUM(r.r) AS BIGINT), 0) DIV (SELECT COUNT(*) FROM nodes_g276) AS share
             |            FROM r${r - 1}_g276 r LEFT JOIN outdeg_g276 o ON r.id = o.src WHERE o.src IS NULL) dang
             |LEFT JOIN (SELECT e.dst AS id, CAST(SUM(r.r DIV o.deg) AS BIGINT) AS m
             |           FROM edges_g276 e JOIN r${r - 1}_g276 r ON e.src = r.id
             |           JOIN outdeg_g276 o ON e.src = o.src
             |           GROUP BY e.dst) inc ON n.id = inc.id""".stripMargin)
          .localCheckpoint(true).createOrReplaceTempView(s"r${r}_g276")
      }
      s.sql(
        """SELECT id AS user_id, r AS pr_u,
          |  CAST(ROW_NUMBER() OVER (ORDER BY r DESC, id) AS INT) AS rnk
          |FROM r3_g276 ORDER BY rnk, user_id""".stripMargin)
    }),

    // [EXT] end-to-end pipeline funnel (q340), moved here from the
    // single-statement Queries spec in round 14 (optimization): Spark
    // inlines multiply-referenced CTEs, so the one-statement form
    // re-executed `sh` (the distinct trigram explode) up to seven times
    // (sz, gc, cp×2, hotg, hz, inter×2) and the drops chain several times —
    // 286 parquet scans in the executed plan. Each shared stage is now
    // materialized ONCE with an eager localCheckpoint; the per-stage SQL
    // text — including the [2,32] posting cap and the sound
    // intersection-bound prune — is byte-identical to the pre-move spec,
    // and the DuckDB oracle (UNPRUNED, in Ext.oracles) is unchanged, so the
    // gate keeps re-proving the prune's soundness. The PlanSpec cap-pin now
    // asserts on [[funnelDrops]]'s executed plan (the stage that carries
    // the cap). Measured sf0.1 warm: 4.9 -> ~1.5 s.
    "q340_pipeline_funnel" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      // (round-14 §2 note: an inner-subquery REPARTITION on d0 — the
      // single-row-group straggler fix that won elsewhere — measured
      // SLOWER here, 3.86 -> 4.70 s same-window A/B: the staged chain's
      // six checkpoint/broadcast stages pay 32-task scheduling per stage
      // while each stage's per-row work is too small to amortize it.
      // Left single-task deliberately.)
      s.sql(
        """SELECT doc_id, source, md5(text) AS h, lower(text) AS lt,
          |       size(split(text, ' ')) AS wc, n_chars, text FROM documents""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("d0_g340")
      // BROADCAST hints in this and the following stages restore the join
      // strategies the one-statement plan derived from parquet estimates
      // (tiny keeper/aggregate/candidate sides); checkpointed stage views
      // would otherwise flip them to sort-merge shuffles.
      s.sql(
        """SELECT /*+ BROADCAST(g) */ d0.* FROM d0_g340 d0
          |JOIN (SELECT h, MIN(doc_id) AS kid FROM d0_g340 GROUP BY h) g
          |  ON d0.h = g.h AND d0.doc_id = g.kid""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("ex_g340")
      s.sql(
        """SELECT DISTINCT doc_id, concat_ws(' ', slice(ws, i, 3)) AS gram FROM
          |(SELECT doc_id, split(lt, ' ') AS ws FROM ex_g340 WHERE size(split(lt, ' ')) >= 3) t
          |LATERAL VIEW explode(sequence(1, size(ws) - 2)) x AS i""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("sh_g340")
      funnelDrops(s).localCheckpoint(true).createOrReplaceTempView("drops_g340")
      s.sql(
        """SELECT nd.* FROM
          |(SELECT /*+ BROADCAST(drops) */ ex.* FROM ex_g340 ex LEFT ANTI JOIN drops_g340 drops
          | ON ex.doc_id = drops.b_id) nd
          |WHERE nd.wc > 0 AND
          |  CAST(nd.wc AS BIGINT) * nd.wc - 300 * nd.wc + 50 * nd.n_chars
          |  + 200 * size(filter(split(nd.text, ' '), w -> w = 'the' OR w = 'a'))
          |  + 300 * size(array_distinct(split(nd.text, ' '))) > 0""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("q_g340")
      s.sql(
        """WITH nd AS (SELECT /*+ BROADCAST(drops) */ ex.* FROM ex_g340 ex
          |            LEFT ANTI JOIN drops_g340 drops ON ex.doc_id = drops.b_id),
          |sq AS (SELECT source, COUNT(*) AS n FROM q_g340 GROUP BY source),
          |tw AS (SELECT SUM(POWER(CAST(n AS DOUBLE), 0.7)) AS t FROM sq),
          |qt AS (SELECT sq.source,
          |         CAST(FLOOR(ROUND(200 * POWER(CAST(sq.n AS DOUBLE), 0.7) / tw.t, 9)) AS BIGINT) AS quota
          |       FROM sq CROSS JOIN tw),
          |mx AS (SELECT /*+ BROADCAST(qt) */ q.doc_id, q.wc FROM
          |       (SELECT q.*, ROW_NUMBER() OVER (PARTITION BY q.source
          |          ORDER BY md5(CAST(q.doc_id AS STRING)), q.doc_id) AS rk FROM q_g340 q)
          |       q JOIN qt ON q.source = qt.source WHERE q.rk <= qt.quota)
          |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
          |FROM (
          |  SELECT 1 AS ord, 'raw' AS stage, COUNT(*) AS n_docs, SUM(wc) AS n_tokens FROM d0_g340
          |  UNION ALL SELECT 2, 'exact_dedup', COUNT(*), SUM(wc) FROM ex_g340
          |  UNION ALL SELECT 3, 'near_dedup', COUNT(*), SUM(wc) FROM nd
          |  UNION ALL SELECT 4, 'quality', COUNT(*), SUM(wc) FROM q_g340
          |  UNION ALL SELECT 5, 'mixed', COUNT(*), SUM(wc) FROM mx
          |) ORDER BY ord""".stripMargin)
    }),

    // [EXT] adjacent-doc trigram Jaccard (q46), moved here from the
    // single-statement Queries spec in round 14 (optimization): `ds` (the
    // char-trigram explode, the dominant linear pass) was referenced three
    // times — the sizes aggregate and both self-join sides, which shuffle
    // on different keys so ReuseExchange cannot dedupe them — and therefore
    // executed three times. Materialize it ONCE (eager localCheckpoint, the
    // q395/nearDupComponents discipline); the join/aggregate statement is
    // otherwise identical, as is the DuckDB oracle.
    "q46_ngram_jaccard" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      // inner-subquery REPARTITION: substr(text,i,3) scans from the string
      // start (O(i) per call), and the single-row-group scan would run the
      // whole O(L^2) trigram build in one task (round-14 §2). The hint must
      // sit BELOW the explode's block — a hint in the explode's own block
      // repartitions that block's output, above the Generate. Round 15
      // (VERDICT r14 #6): the trigram build is LENGTH-GATED — above
      // Ops.CharGramSplitThreshold it switches to O(L) indexed access over
      // a split-once char array (identical grams), so a heavy-tailed doc
      // is no longer an O(L²) single-row straggler.
      s.sql(
        s"""SELECT doc_id, explode(array_distinct(${Ops.charGramArraySql("text", 3)})) AS g
          |FROM (SELECT /*+ REPARTITION(${Ops.sessionPartitions(s)}, doc_id) */ doc_id, text,
          |             ${Ops.charSplitGuardSql("text")} AS __ch
          |      FROM documents WHERE length(text) >= 3) d""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("ds_g46")
      s.sql(
        """WITH sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds_g46 GROUP BY doc_id),
          |inter AS (
          |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
          |  FROM ds_g46 a JOIN ds_g46 b ON a.g = b.g AND b.doc_id = a.doc_id + 1
          |  GROUP BY a.doc_id, b.doc_id)
          |SELECT i.a_id, i.b_id, ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
          |FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id JOIN sizes sb ON sb.doc_id = i.b_id
          |ORDER BY i.a_id""".stripMargin)
    }),

    // [EXT] link prediction by common-neighbor Jaccard (q389), moved here
    // from the single-statement Queries spec in round 15 (optimization):
    // the undirected edge set `ed` (LEAD window over events + two DISTINCT
    // shuffles) is referenced by both `sym` branches, the `cn` self-join
    // (via sym), `deg` (via sym) and the `nonadj` anti side — the
    // one-statement plan executed that subtree 18 times (18 scans / 18
    // windows / 50 exchanges, plans/r15/q389_link_prediction_before.txt).
    // Materialize `ed` ONCE (eager localCheckpoint, the q46/q395
    // discipline); the scoring statement is verbatim otherwise, the Σdeg²
    // candidate enumeration — the audit contract — is untouched, and the
    // DuckDB oracle is unchanged (moved verbatim to [[oracles]]).
    "q389_link_prediction" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql(
        """SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
          |FROM (SELECT DISTINCT user_id AS a, nxt AS b
          |      FROM (SELECT user_id,
          |              LEAD(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
          |            FROM events) s
          |      WHERE nxt IS NOT NULL AND nxt <> user_id)""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("ed_g389")
      s.sql(
        """WITH sym AS (SELECT u, v FROM ed_g389 UNION ALL SELECT v AS u, u AS v FROM ed_g389),
          |deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
          |cn AS (SELECT x.v AS a, y.v AS b, COUNT(*) AS i
          |       FROM sym x JOIN sym y ON x.u = y.u AND x.v < y.v
          |       GROUP BY x.v, y.v),
          |nonadj AS (SELECT cn.a, cn.b, cn.i FROM cn
          |           LEFT JOIN ed_g389 ed ON ed.u = cn.a AND ed.v = cn.b WHERE ed.u IS NULL),
          |j AS (SELECT a, b, i, da.d + db.d - i AS un
          |      FROM nonadj JOIN deg da ON da.u = a JOIN deg db ON db.u = b)
          |SELECT a AS user_a, b AS user_b, CAST(i AS BIGINT) AS common_neighbors,
          |  CAST((20000 * i + un) DIV (2 * un) AS BIGINT) AS cn_jaccard_x1e4
          |FROM j ORDER BY cn_jaccard_x1e4 DESC, user_a, user_b LIMIT 20""".stripMargin)
    }),

    // [EXT] capped link prediction (q389b), moved with q389 (round 15):
    // same 18×-re-executed `ed` subtree (42 window executions — the
    // ROW_NUMBER cap re-ran per reference too); same single change, the
    // `ed` materialization. Capped-endorsement semantics and the oracle
    // are verbatim.
    "q389b_link_prediction_capped" -> ((s: SparkSession, d: String) => {
      graft.Tables.register(s, d)
      s.sql(
        """SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v
          |FROM (SELECT DISTINCT user_id AS a, nxt AS b
          |      FROM (SELECT user_id,
          |              LEAD(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
          |            FROM events) s
          |      WHERE nxt IS NOT NULL AND nxt <> user_id)""".stripMargin)
        .localCheckpoint(true).createOrReplaceTempView("ed_g389b")
      s.sql(
        """WITH sym0 AS (SELECT u, v FROM ed_g389b UNION ALL SELECT v AS u, u AS v FROM ed_g389b),
          |sym AS (SELECT u, v FROM (SELECT u, v,
          |          ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rk FROM sym0)
          |        WHERE rk <= 32),
          |deg AS (SELECT v AS u, COUNT(*) AS d FROM sym GROUP BY v),
          |cn AS (SELECT x.v AS a, y.v AS b, COUNT(*) AS i
          |       FROM sym x JOIN sym y ON x.u = y.u AND x.v < y.v
          |       GROUP BY x.v, y.v),
          |nonadj AS (SELECT cn.a, cn.b, cn.i FROM cn
          |           LEFT JOIN ed_g389b ed ON ed.u = cn.a AND ed.v = cn.b WHERE ed.u IS NULL),
          |j AS (SELECT a, b, i, da.d + db.d - i AS un
          |      FROM nonadj JOIN deg da ON da.u = a JOIN deg db ON db.u = b)
          |SELECT a AS user_a, b AS user_b, CAST(i AS BIGINT) AS common_neighbors,
          |  CAST((20000 * i + un) DIV (2 * un) AS BIGINT) AS cn_jaccard_x1e4
          |FROM j ORDER BY cn_jaccard_x1e4 DESC, user_a, user_b LIMIT 20""".stripMargin)
    }),

    // [EXT] farthest-point-sampling coreset (k-center greedy), moved here
    // from the single-statement Queries spec in round 14 (optimization):
    // Spark inlines multiply-referenced CTEs, and each unrolled FPS round
    // references the previous round's min-dist table twice (the top-1 pick
    // and the LEAST() update), so the one-statement form planned 748
    // parquet scans / 736 exchanges — the executed tree doubled per round.
    // Here each round's (vec_id, q, md) table is materialized ONCE with an
    // eager localCheckpoint (the starContract / nearDupComponents
    // discipline for iterative pipelines); per round the work is one
    // distributed argmax (TakeOrdered top-1) + one broadcast map pass —
    // O(k·n) distances total, the FPS ideal. Arithmetic is byte-identical
    // to the previous form (same quantization, same integer zip_with fold,
    // same DESC/vec_id tie-break); the DuckDB oracle is unchanged
    // (Queries.fpsSql), so the driver gate re-proves
    // equivalence every round. Measured sf0.1 warm: 5.6 -> ~0.9 s.
    "q395_coreset_fps" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, d)
      val rounds = 7
      def d2(a: String, b: String): Column = expr(
        s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
          "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
      val e = s.table("embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT))")
            .as("q"))
        .localCheckpoint(true)
      val s0 = e.where(col("vec_id") === 0).select(col("q").as("sq"))
      var m = e.crossJoin(broadcast(s0))
        .select(col("vec_id"), col("q"), d2("q", "sq").as("md"))
        .localCheckpoint(true)
      val picks = (1 to rounds).map { r =>
        val p = m.orderBy(col("md").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("md")).localCheckpoint(true) // 1 row
        if (r < rounds) {
          val sr = e.join(broadcast(p.select(col("vec_id"))), "vec_id")
            .select(col("q").as("sq"))
          m = m.crossJoin(broadcast(sr))
            .select(col("vec_id"), col("q"),
              least(col("md"), d2("q", "sq")).as("md"))
            .localCheckpoint(true)
        }
        p.select(lit(r + 1).cast("int").as("sel_rank"), col("vec_id"),
          col("md").as("gain_d2"))
      }
      val seed = s.range(1).select(lit(1).cast("int").as("sel_rank"),
        lit(0L).as("vec_id"), lit(0L).as("gain_d2"))
      picks.foldLeft(seed)(_ unionByName _).orderBy("sel_rank")
    }),
  )

  /** DuckDB CTE computing each document's distinct word-3-shingle set —
    * mirrors Dedup.shingles (1-based list indexing vs Spark's 0-based). */
  /** Spark-dialect BM25 (Lucene IDF, k1=1.2, b=0.75) over `documents` for
    * the fixed query terms (hash, join, scan): (rnk, doc_id, score ROUND 6).
    * Ranking is on the ROUNDED score (ties → doc_id) so both engines break
    * near-ties identically; the DuckDB mirror lives in [[oracles]]. */
  private def bm25Sql(limit: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, explode(split(lower(text), ' ')) AS tok FROM documents)
       |  WHERE tok IN ('hash', 'join', 'scan')),
       |lens AS (SELECT doc_id, size(split(lower(text), ' ')) AS len FROM documents),
       |stats AS (SELECT COUNT(*) AS n, AVG(len) AS avglen FROM lens),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tfreq FROM toks GROUP BY doc_id, tok),
       |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfreq FROM toks GROUP BY tok),
       |sc AS (SELECT tf.doc_id,
       |         ROUND(SUM(LN((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0) * tfreq * 2.2 /
       |           (tfreq + 1.2 * (0.25 + 0.75 * len / avglen))), 6) AS score
       |       FROM tf JOIN df USING (tok)
       |       JOIN lens ON tf.doc_id = lens.doc_id
       |       CROSS JOIN stats
       |       GROUP BY tf.doc_id),
       |top AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT $limit)
       |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
       |  doc_id, score FROM top ORDER BY rnk""".stripMargin

  /** DuckDB-dialect BM25, identical math (string_split/unnest/len). */
  private def bm25DuckSql(limit: Int): String =
    s"""toks AS (
       |  SELECT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents)
       |  WHERE tok IN ('hash', 'join', 'scan')),
       |lens AS (SELECT doc_id, len(string_split(lower(text), ' ')) AS len FROM documents),
       |stats AS (SELECT COUNT(*) AS n, AVG(len) AS avglen FROM lens),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS tfreq FROM toks GROUP BY doc_id, tok),
       |df AS (SELECT tok, COUNT(DISTINCT doc_id) AS dfreq FROM toks GROUP BY tok),
       |sc AS (SELECT tf.doc_id,
       |         ROUND(SUM(LN((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0) * tfreq * 2.2 /
       |           (tfreq + 1.2 * (0.25 + 0.75 * len / avglen))), 6) AS score
       |       FROM tf JOIN df USING (tok)
       |       JOIN lens ON tf.doc_id = lens.doc_id
       |       CROSS JOIN stats
       |       GROUP BY tf.doc_id),
       |topd AS (SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT $limit),
       |r AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
       |        doc_id, score FROM topd)""".stripMargin

  private val shingleCte =
    """WITH w AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
      |  WHERE len(string_split(lower(text), ' ')) >= 3
      |), sh AS (
      |  SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |  FROM w, UNNEST(range(1, len(w) - 1)) AS t(i)
      |)""".stripMargin

  /** DuckDB CTE chain rebuilding every variant BMP's (doc_id, w, h, ahash)
    * from the generator's closed form — shifted pixels (content keyed on
    * doc_id % 61 mod 200 plus the per-doc brightness shift), 4×4 floor-NN
    * resize, and the 16 mean-relative bits (16·gray > total; the shift
    * cancels exactly). Stated ONCE and shared by the q396/q402 oracles
    * here and q399's in streaming/Streams.scala, so the hash definition
    * cannot silently diverge between consumers. */
  private[graft] val ahashCte: String =
    """WITH m AS (
      |  SELECT doc_id, doc_id % 61 AS cid, (doc_id * 37) % 56 AS d,
      |         4 + (doc_id % 61) % 5 AS w, 3 + (doc_id % 61) % 3 AS h
      |  FROM documents WHERE doc_id % 2 = 0),
      |px AS (SELECT doc_id, cid, d, w, h, p.i AS p,
      |         ((p.i % 4) * w) // 4 AS sx, ((p.i // 4) * h) // 4 AS sy
      |       FROM m, UNNEST(range(0, 16)) p(i)),
      |g AS (SELECT doc_id, w, h, p,
      |        (cid * 3 + sx * 29 + sy * 19) % 200
      |      + (cid * 11 + sx * 17 + sy * 5) % 200
      |      + (cid * 7 + sx * 13 + sy * 31) % 200 + 3 * d AS gray
      |      FROM px),
      |t AS (SELECT doc_id, w, h, p, gray,
      |        SUM(gray) OVER (PARTITION BY doc_id) AS total FROM g),
      |hh AS (SELECT doc_id, w, h,
      |         CAST(SUM(CASE WHEN 16 * gray > total THEN 1 << p ELSE 0 END) AS BIGINT) AS ahash
      |       FROM t GROUP BY doc_id, w, h)""".stripMargin

  /** DuckDB CTE computing the 48-bit SimHash per document with the same
    * portable polynomial token hash as Dedup.simhash (list_reduce over a
    * 0-prepended codepoint list = Spark's aggregate with 0 init). */
  private val simhashCte =
    s"""WITH toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
       |  ) WHERE tok <> ''
       |), hashed AS (
       |  SELECT doc_id,
       |    list_reduce(list_prepend(0::BIGINT,
       |      list_transform(string_split(tok, ''), c -> ord(c)::BIGINT)),
       |      (acc, c) -> (acc * 131 + c) % ${Dedup.HashPrime}) AS h
       |  FROM toks
       |), bits AS (
       |  SELECT doc_id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM hashed, (SELECT unnest(range(0, ${Dedup.SimhashBits})) AS j) js
       |  GROUP BY doc_id, j
       |), sh AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id
       |)""".stripMargin

  /** The LSH plane matrix as a DuckDB VALUES literal — the SAME deterministic
    * Gaussian sequence graft.functions.LshCodes draws (`Random(seed)` flat
    * fill), one row per plane: (plane_index, [dim doubles]). Scala's
    * `Double.toString` emits the shortest round-tripping decimal, which
    * DuckDB parses back to the identical bits. */
  private def planesValues(seed: Int, tables: Int, bits: Int, dim: Int): String = {
    val m = graft.functions.LshCodes.planes(seed, tables, bits, dim)
    (0 until tables * bits).map { p =>
      (0 until dim).map(j => m(p * dim + j).toString).mkString(s"($p, [", ", ", "])")
    }.mkString(",\n")
  }

  /** Sequential left-fold dot product — bit-identical to the native
    * expressions' accumulation loop (`list_reduce` folds left starting from
    * the first element; `0.0 + x == x` for every finite x, so the missing
    * zero init cannot change the bits). */
  private def seqDot(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), j -> $a[j] * $b[j]), (acc, x) -> acc + x)"

  /** DuckDB replica of graft.functions.CosineSimilarity, bit-for-bit: same
    * sequential sums, same `dot / (sqrt(nx) * sqrt(ny))` final expression —
    * so UNROUNDED affinity comparisons (the IVF argmax assignment) resolve
    * identically across engines. */
  private def exactCos(a: String, b: String): String =
    s"(${seqDot(a, b)} / (sqrt(${seqDot(a, a)}) * sqrt(${seqDot(b, b)})))"

  /** One cosine Lloyd iteration as DuckDB CTE text (assign `aout` +
    * recenter `cout`) — the q51e determinism contract, identical to the
    * local `step`/`iStep` defs inside the q271/q280 oracles. Shared so new
    * compositions (q281 SemDeDup) can't drift from the fit they claim. */
  private def lloydCosStep(ein: String, cin: String, aout: String, cout: String): String =
    s"""$aout AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_cosine_similarity(e.emb,
       |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
       |        c.cell) AS rn
       |    FROM $ein e, $cin c) WHERE rn = 1),
       |$cout AS (
       |  SELECT cell, list(round(m, 6) ORDER BY j) AS cemb FROM (
       |    SELECT a.cell, t.j, AVG(e.emb[t.j]) AS m
       |    FROM $aout a JOIN $ein e USING (vec_id),
       |         UNNEST(range(1, len(e.emb) + 1)) AS t(j)
       |    GROUP BY a.cell, t.j)
       |  GROUP BY cell)""".stripMargin

  /** Final Lloyd assignment (no recenter) of every `ein` vector to its
    * best `cin` cell — rounded float-cast affinity, ties to lowest cell. */
  private def lloydCosAssign(ein: String, cin: String, out: String): String =
    s"""$out AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
       |        round(list_cosine_similarity(e.emb,
       |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
       |        c.cell) AS rn
       |    FROM $ein e, $cin c) WHERE rn = 1)""".stripMargin

  /** q340's near-dup drops stage over the materialized `sh_g340` gram view:
    * [2,32]-capped candidate generation, the sound intersection-bound prune
    * (i·29999 >= 9999·(na+nb) with the hot-gram allowance), and the exact
    * Jaccard verify on surviving candidates only. Factored out so PlanSpec
    * can pin the posting cap on THIS stage's executed plan (the final
    * funnel statement no longer contains it — the stage is checkpointed). */
  private[graft] def funnelDrops(s: SparkSession): DataFrame = s.sql(
    """WITH sz AS (SELECT doc_id, COUNT(*) AS n FROM sh_g340 GROUP BY doc_id),
      |gc AS (SELECT gram FROM sh_g340 GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 32),
      |cp AS (SELECT /*+ BROADCAST(gc) */ a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS ic
      |       FROM sh_g340 a JOIN gc USING (gram) JOIN sh_g340 b USING (gram)
      |       WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |hotg AS (SELECT gram FROM sh_g340 GROUP BY gram HAVING COUNT(*) > 32),
      |hz AS (SELECT /*+ BROADCAST(hotg) */ doc_id, COUNT(*) AS hn
      |       FROM sh_g340 JOIN hotg USING (gram) GROUP BY doc_id),
      |cand AS (SELECT /*+ BROADCAST(na, nb, ha, hb) */ cp.a_id, cp.b_id FROM cp
      |         JOIN sz na ON cp.a_id = na.doc_id JOIN sz nb ON cp.b_id = nb.doc_id
      |         LEFT JOIN hz ha ON cp.a_id = ha.doc_id
      |         LEFT JOIN hz hb ON cp.b_id = hb.doc_id
      |         WHERE 29999 * (cp.ic + LEAST(COALESCE(ha.hn, 0), COALESCE(hb.hn, 0)))
      |               >= 9999 * (na.n + nb.n)),
      |inter AS (SELECT /*+ BROADCAST(c) */ c.a_id, c.b_id, COUNT(*) AS i
      |          FROM cand c JOIN sh_g340 sa ON sa.doc_id = c.a_id
      |          JOIN sh_g340 sb ON sb.doc_id = c.b_id AND sa.gram = sb.gram
      |          GROUP BY c.a_id, c.b_id)
      |SELECT /*+ BROADCAST(na, nb) */ DISTINCT i.b_id FROM inter i
      |JOIN sz na ON i.a_id = na.doc_id JOIN sz nb ON i.b_id = nb.doc_id
      |WHERE ROUND(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 4) >= 0.5""".stripMargin)

  val oracles: Seq[(String, String)] = Seq(
    // q340's oracle, unchanged from its pre-round-14 Queries spec (and
    // deliberately UNPRUNED — it re-proves the Spark side's candidate
    // prune is sound on every driver run).
    "q340_pipeline_funnel" ->
      """WITH d0 AS (SELECT doc_id, source, md5(text) AS h, lower(text) AS lt,
        |             len(string_split(text, ' ')) AS wc, n_chars, text FROM documents),
        |ex AS (SELECT d0.* FROM d0
        |       JOIN (SELECT h, MIN(doc_id) AS kid FROM d0 GROUP BY h) g
        |         ON d0.h = g.h AND d0.doc_id = g.kid),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram FROM
        |       (SELECT doc_id, string_split(lt, ' ') AS ws FROM ex
        |        WHERE len(string_split(lt, ' ')) >= 3) t,
        |       UNNEST(range(1, len(ws) - 1)) AS x(i)),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |gc AS (SELECT gram FROM sh GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 32),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM sh a JOIN gc USING (gram) JOIN sh b USING (gram)
        |         WHERE a.doc_id < b.doc_id),
        |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS i
        |          FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
        |          JOIN sh sb ON sb.doc_id = c.b_id AND sa.gram = sb.gram
        |          GROUP BY c.a_id, c.b_id),
        |drops AS (SELECT DISTINCT i.b_id FROM inter i
        |          JOIN sz na ON i.a_id = na.doc_id JOIN sz nb ON i.b_id = nb.doc_id
        |          WHERE ROUND(CAST(i.i AS DOUBLE) / (na.n + nb.n - i.i), 4) >= 0.5),
        |nd AS (SELECT ex.* FROM ex ANTI JOIN drops ON ex.doc_id = drops.b_id),
        |q AS (SELECT nd.* FROM nd WHERE nd.wc > 0 AND
        |        CAST(nd.wc AS BIGINT) * nd.wc - 300 * nd.wc + 50 * nd.n_chars
        |        + 200 * len(list_filter(string_split(nd.text, ' '), w -> w = 'the' OR w = 'a'))
        |        + 300 * len(list_distinct(string_split(nd.text, ' '))) > 0),
        |sq AS (SELECT source, COUNT(*) AS n FROM q GROUP BY source),
        |tw AS (SELECT SUM(POWER(CAST(n AS DOUBLE), 0.7)) AS t FROM sq),
        |qt AS (SELECT sq.source,
        |         CAST(FLOOR(ROUND(200 * POWER(CAST(sq.n AS DOUBLE), 0.7) / tw.t, 9)) AS BIGINT) AS quota
        |       FROM sq CROSS JOIN tw),
        |mx AS (SELECT q.doc_id, q.wc FROM
        |       (SELECT q.*, ROW_NUMBER() OVER (PARTITION BY q.source
        |          ORDER BY md5(CAST(q.doc_id AS VARCHAR)), q.doc_id) AS rk FROM q) q
        |       JOIN qt ON q.source = qt.source WHERE q.rk <= qt.quota)
        |SELECT stage, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens
        |FROM (
        |  SELECT 1 AS ord, 'raw' AS stage, COUNT(*) AS n_docs, SUM(wc) AS n_tokens FROM d0
        |  UNION ALL SELECT 2, 'exact_dedup', COUNT(*), SUM(wc) FROM ex
        |  UNION ALL SELECT 3, 'near_dedup', COUNT(*), SUM(wc) FROM nd
        |  UNION ALL SELECT 4, 'quality', COUNT(*), SUM(wc) FROM q
        |  UNION ALL SELECT 5, 'mixed', COUNT(*), SUM(wc) FROM mx
        |) ORDER BY ord""".stripMargin,
    // q395's oracle is unchanged from its pre-round-14 Queries spec — the
    // Spark side was restructured (materialized FPS rounds, identical
    // integer arithmetic), the DuckDB side re-proves the same result.
    "q395_coreset_fps" -> graft.Queries.fpsSql(),
    // q276's oracle, likewise unchanged from its pre-round-14 Queries spec.
    "q276_pagerank" -> graft.Queries.pagerankSql("//"),
    // q46's oracle, likewise unchanged from its pre-round-14 Queries spec.
    "q46_ngram_jaccard" ->
      """WITH ds AS (
        |  SELECT DISTINCT doc_id, substr(text, i, 3) AS g
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 1)) AS i
        |        FROM documents WHERE length(text) >= 3) x),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
        |  FROM ds a JOIN ds b ON a.g = b.g AND b.doc_id = a.doc_id + 1
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT i.a_id, i.b_id, ROUND(CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i), 4) AS jaccard
        |FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id JOIN sizes sb ON sb.doc_id = i.b_id
        |ORDER BY i.a_id""".stripMargin,
    // q389 / q389b oracles, unchanged from their pre-round-15 Queries
    // specs - the Spark side materializes `ed` once, the DuckDB side
    // re-proves the same result.
    "q389_link_prediction" ->
      """WITH s AS (SELECT event_type, user_id, ts, event_id,
        |    LEAD(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |e0 AS (SELECT DISTINCT user_id AS a, nxt AS b FROM s
        |       WHERE nxt IS NOT NULL AND nxt <> user_id),
        |ed AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM e0),
        |sym AS (SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed),
        |deg AS (SELECT u, COUNT(*) AS d FROM sym GROUP BY u),
        |cn AS (SELECT x.v AS a, y.v AS b, COUNT(*) AS i
        |       FROM sym x JOIN sym y ON x.u = y.u AND x.v < y.v
        |       GROUP BY x.v, y.v),
        |nonadj AS (SELECT cn.a, cn.b, cn.i FROM cn
        |           LEFT JOIN ed ON ed.u = cn.a AND ed.v = cn.b WHERE ed.u IS NULL),
        |j AS (SELECT a, b, i, da.d + db.d - i AS un
        |      FROM nonadj JOIN deg da ON da.u = a JOIN deg db ON db.u = b)
        |SELECT a AS user_a, b AS user_b, CAST(i AS BIGINT) AS common_neighbors,
        |  CAST((20000 * i + un) // (2 * un) AS BIGINT) AS cn_jaccard_x1e4
        |FROM j ORDER BY cn_jaccard_x1e4 DESC, user_a, user_b LIMIT 20""".stripMargin,
    "q389b_link_prediction_capped" ->
      """WITH s AS (SELECT event_type, user_id, ts, event_id,
        |    LEAD(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |e0 AS (SELECT DISTINCT user_id AS a, nxt AS b FROM s
        |       WHERE nxt IS NOT NULL AND nxt <> user_id),
        |ed AS (SELECT DISTINCT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM e0),
        |sym0 AS (SELECT u, v FROM ed UNION ALL SELECT v AS u, u AS v FROM ed),
        |sym AS (SELECT u, v FROM (SELECT u, v,
        |          ROW_NUMBER() OVER (PARTITION BY u ORDER BY v) AS rk FROM sym0) z
        |        WHERE rk <= 32),
        |deg AS (SELECT v AS u, COUNT(*) AS d FROM sym GROUP BY v),
        |cn AS (SELECT x.v AS a, y.v AS b, COUNT(*) AS i
        |       FROM sym x JOIN sym y ON x.u = y.u AND x.v < y.v
        |       GROUP BY x.v, y.v),
        |nonadj AS (SELECT cn.a, cn.b, cn.i FROM cn
        |           LEFT JOIN ed ON ed.u = cn.a AND ed.v = cn.b WHERE ed.u IS NULL),
        |j AS (SELECT a, b, i, da.d + db.d - i AS un
        |      FROM nonadj JOIN deg da ON da.u = a JOIN deg db ON db.u = b)
        |SELECT a AS user_a, b AS user_b, CAST(i AS BIGINT) AS common_neighbors,
        |  CAST((20000 * i + un) // (2 * un) AS BIGINT) AS cn_jaccard_x1e4
        |FROM j ORDER BY cn_jaccard_x1e4 DESC, user_a, user_b LIMIT 20""".stripMargin,
    // LSH ANN, recomputed END-TO-END by the oracle: the 64 hyperplanes are
    // embedded as literals (same Random(42) Gaussian sequence as the native
    // lsh_codes expression), bucket codes are re-derived with a bit-exact
    // sequential dot, and candidate generation + top-10 ranking re-run in
    // SQL. Approximate vs the TRUE neighbors, exact vs the algorithm —
    // deterministic under the fixed seeds, so a full rows+schema+hash check.
    "q51_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |pl(p, plane) AS (VALUES
         |${planesValues(42, 8, 8, 64)}),
         |dots AS (
         |  SELECT e.vec_id, pl.p // 8 AS t, pl.p % 8 AS b,
         |         ${seqDot("e.emb", "pl.plane")} AS dot
         |  FROM e, pl),
         |codes AS (
         |  SELECT vec_id, t, SUM(CASE WHEN dot > 0 THEN (1 << b) ELSE 0 END) AS code
         |  FROM dots GROUP BY vec_id, t),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, d.vec_id AS did
         |  FROM codes q JOIN codes d ON q.t = d.t AND q.code = d.code
         |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id),
         |scored AS (
         |  SELECT c.qid, c.did, round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
         |  FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.did),
         |ranked AS (SELECT qid, did, cos_sim,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, did) AS rnk FROM scored)
         |SELECT qid, did, cos_sim, rnk FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    // Multiprobe: the q51 derivation with the query-side Hamming-1 code
    // expansion re-run verbatim (xor with each single-bit mask).
    "q335_ann_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |pl(p, plane) AS (VALUES
         |${planesValues(42, 8, 8, 64)}),
         |dots AS (
         |  SELECT e.vec_id, pl.p // 8 AS t, pl.p % 8 AS b,
         |         ${seqDot("e.emb", "pl.plane")} AS dot
         |  FROM e, pl),
         |codes AS (
         |  SELECT vec_id, t, SUM(CASE WHEN dot > 0 THEN (1 << b) ELSE 0 END) AS code
         |  FROM dots GROUP BY vec_id, t),
         |probes AS (
         |  SELECT vec_id, t, code AS pcode FROM codes WHERE vec_id < 5
         |  UNION
         |  SELECT c.vec_id, c.t, xor(c.code, 1 << f.b) AS pcode
         |  FROM codes c, (SELECT unnest(range(0, 8)) AS b) f WHERE c.vec_id < 5),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS qid, d.vec_id AS did
         |  FROM probes q JOIN codes d ON q.t = d.t AND q.pcode = d.code
         |  WHERE d.vec_id <> q.vec_id),
         |scored AS (
         |  SELECT c.qid, c.did, round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
         |  FROM cand c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.did),
         |ranked AS (SELECT qid, did, cos_sim,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, did) AS rnk FROM scored)
         |SELECT qid, did, cos_sim, rnk FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    // Recall@10 comparison plain-vs-multiprobe against the exact brute
    // top-10: all three rankings re-derived; recalls are exact tenths.
    "q336_multiprobe_recall" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |pl(p, plane) AS (VALUES
         |${planesValues(42, 8, 8, 64)}),
         |dots AS (
         |  SELECT e.vec_id, pl.p // 8 AS t, pl.p % 8 AS b,
         |         ${seqDot("e.emb", "pl.plane")} AS dot
         |  FROM e, pl),
         |codes AS (
         |  SELECT vec_id, t, SUM(CASE WHEN dot > 0 THEN (1 << b) ELSE 0 END) AS code
         |  FROM dots GROUP BY vec_id, t),
         |bs AS (
         |  SELECT q.vec_id AS qid, d.vec_id AS did,
         |         round(list_cosine_similarity(q.emb, d.emb), 4) AS cos_sim
         |  FROM e q JOIN e d ON q.vec_id <> d.vec_id WHERE q.vec_id < 5),
         |bt AS (SELECT qid, did FROM (
         |  SELECT qid, did, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos_sim DESC, did) AS rnk FROM bs) WHERE rnk <= 10),
         |pc AS (
         |  SELECT DISTINCT q.vec_id AS qid, d.vec_id AS did
         |  FROM codes q JOIN codes d ON q.t = d.t AND q.code = d.code
         |  WHERE q.vec_id < 5 AND d.vec_id <> q.vec_id),
         |ps AS (
         |  SELECT c.qid, c.did, round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
         |  FROM pc c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.did),
         |pt AS (SELECT qid, did FROM (
         |  SELECT qid, did, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos_sim DESC, did) AS rnk FROM ps) WHERE rnk <= 10),
         |probes AS (
         |  SELECT vec_id, t, code AS pcode FROM codes WHERE vec_id < 5
         |  UNION
         |  SELECT c.vec_id, c.t, xor(c.code, 1 << f.b) AS pcode
         |  FROM codes c, (SELECT unnest(range(0, 8)) AS b) f WHERE c.vec_id < 5),
         |mc AS (
         |  SELECT DISTINCT q.vec_id AS qid, d.vec_id AS did
         |  FROM probes q JOIN codes d ON q.t = d.t AND q.pcode = d.code
         |  WHERE d.vec_id <> q.vec_id),
         |ms AS (
         |  SELECT c.qid, c.did, round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
         |  FROM mc c JOIN e a ON a.vec_id = c.qid JOIN e b ON b.vec_id = c.did),
         |mt AS (SELECT qid, did FROM (
         |  SELECT qid, did, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY cos_sim DESC, did) AS rnk FROM ms) WHERE rnk <= 10),
         |pr AS (SELECT b.qid, COUNT(p.did) / 10.0 AS pr FROM bt b
         |       LEFT JOIN pt p ON b.qid = p.qid AND b.did = p.did GROUP BY b.qid),
         |mr AS (SELECT b.qid, COUNT(m.did) / 10.0 AS mr FROM bt b
         |       LEFT JOIN mt m ON b.qid = m.qid AND b.did = m.did GROUP BY b.qid)
         |SELECT pr.qid, ROUND(pr.pr, 4) AS plain_recall, ROUND(mr.mr, 4) AS multiprobe_recall,
         |  (mr.mr >= pr.pr) AS gain_nonneg
         |FROM pr JOIN mr ON pr.qid = mr.qid ORDER BY pr.qid""".stripMargin,

    // IVF ANN, recomputed END-TO-END: deterministic seed cells (vec_id < 16),
    // argmax assignment re-derived with the bit-exact cosine replica (the
    // assignment compares UNROUNDED doubles, so the oracle must reproduce the
    // native expression's exact bits), nprobe=3 probe set, candidate scoring
    // + top-10 ranking re-run in SQL.
    "q51b_ann_ivf" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |seeds AS (SELECT CAST(vec_id AS INT) AS cell, emb AS semb FROM e WHERE vec_id < 16),
         |aff AS (
         |  SELECT e.vec_id, s.cell, ${exactCos("e.emb", "s.semb")} AS aff
         |  FROM e, seeds s),
         |cells AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY aff DESC, cell) AS rn
         |    FROM aff) WHERE rn = 1),
         |qprobe AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY aff DESC, cell) AS crnk
         |    FROM aff WHERE vec_id < 5) WHERE crnk <= 3),
         |scored AS (
         |  SELECT q.vec_id AS qid, d.vec_id AS did,
         |    round(list_cosine_similarity(eq.emb, ed.emb), 4) AS cos_sim
         |  FROM qprobe q JOIN cells d ON q.cell = d.cell AND q.vec_id <> d.vec_id
         |  JOIN e eq ON eq.vec_id = q.vec_id JOIN e ed ON ed.vec_id = d.vec_id),
         |ranked AS (SELECT qid, did, cos_sim,
         |  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, did) AS rnk FROM scored)
         |SELECT qid, did, cos_sim, rnk FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,
    // The binned equi-join path must reproduce the naive interval theta
    // join exactly (binning is a partitioning of the match space, not an
    // approximation).
    "q204_range_join_binned" ->
      """SELECT s_suppkey, COUNT(*) AS n_cust
        |FROM supplier JOIN customer
        |  ON c_acctbal >= s_acctbal - 500 AND c_acctbal <= s_acctbal + 500
        |GROUP BY s_suppkey ORDER BY s_suppkey""".stripMargin,

    // The union+window as-of formulation must agree with DuckDB's native
    // ASOF LEFT JOIN (latest click at-or-before each event, per user).
    "q205_asof_join_op" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, ROUND(MAX(value), 4) AS click_v
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, e.ts, c.click_v AS asof_click_v
        |FROM events e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts
        |ORDER BY e.event_id""".stripMargin,

    // The custom physical as-of operator must reproduce DuckDB's native
    // ASOF LEFT JOIN exactly — same oracle as the union+window form.
    "q205b_asof_join_native" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, ROUND(MAX(value), 4) AS click_v
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT e.event_id, e.user_id, e.ts, c.click_v AS asof_click_v
        |FROM events e ASOF LEFT JOIN clicks c
        |  ON e.user_id = c.user_id AND e.ts >= c.ts
        |ORDER BY e.event_id""".stripMargin,

    // Z-order is a storage layout: the boxed read-back must equal the
    // direct filtered aggregate over the source table.
    "q260_zorder_readback" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events
        |WHERE user_id BETWEEN 10 AND 40 AND value BETWEEN 50 AND 150
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Schema evolution: pre-evolution rows must read as NULL in the added
    // column — so the per-type user counts are 0 for the old batch and
    // full for the new one.
    "q270_schema_evolution" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value,
        |  CASE WHEN event_type = 'click' THEN COUNT(*) ELSE 0 END AS n_with_user
        |FROM events WHERE event_type IN ('view', 'click')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Fuzzy blocked join: DuckDB's levenshtein agrees with Spark's
    // (classic DP edit distance, no weights) on these ASCII names.
    "q268_blocked_fuzzy_join" ->
      """SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_matches
        |FROM customer c JOIN supplier s
        |  ON c.c_nationkey = s.s_nationkey
        | AND levenshtein(substr(c.c_name, -4), substr(s.s_name, -4)) <= 1
        |GROUP BY c.c_nationkey ORDER BY nationkey""".stripMargin,

    // MV law: the rolled-up partials must equal the direct aggregate.
    "q269_partial_agg_rollup" ->
      """SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 4) AS sum_value,
        |       ROUND(MIN(value), 4) AS min_value, ROUND(MAX(value), 4) AS max_value,
        |       ROUND(SUM(value) / COUNT(*), 4) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // BM25: identical math in DuckDB dialect; ranking on the rounded score.
    "q266_bm25_topk" ->
      s"""WITH ${bm25DuckSql(limit = 10)}
         |SELECT rnk, doc_id, score FROM r ORDER BY rnk""".stripMargin,

    // RRF: DuckDB recomputes both input rankings (BM25 top-50 and the
    // int8-quantized cosine top-50 for query vector 0 — the q51f pipeline
    // filtered to qid 0) and fuses with 1/(60+rank).
    "q267_rrf_fusion" ->
      s"""WITH ${bm25DuckSql(limit = 50)},
         |qbase AS (
         |  SELECT vec_id, embedding,
         |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS s
         |  FROM embeddings),
         |qq AS (
         |  SELECT vec_id,
         |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / s) AS BIGINT)) AS q
         |  FROM qbase),
         |qn AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM qq),
         |qscored AS (
         |  SELECT d.vec_id AS did,
         |    list_dot_product(a.q, d.q) / (sqrt(a.n2) * sqrt(d.n2)) AS qcos
         |  FROM qn a JOIN qn d ON a.vec_id = 0 AND d.vec_id <> a.vec_id),
         |vrankt AS (
         |  SELECT did AS doc_id, ROW_NUMBER() OVER (ORDER BY qcos DESC, did) AS vrank
         |  FROM qscored QUALIFY vrank <= 50),
         |fused AS (
         |  SELECT COALESCE(v.doc_id, r.doc_id) AS doc_id,
         |    COALESCE(1.0 / (60 + v.vrank), 0.0) + COALESCE(1.0 / (60 + r.rnk), 0.0) AS rrf
         |  FROM vrankt v FULL OUTER JOIN r ON v.doc_id = r.doc_id)
         |SELECT ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS rnk, doc_id,
         |  ROUND(rrf, 6) AS rrf
         |FROM fused QUALIFY rnk <= 10 ORDER BY rnk""".stripMargin,

    // Bigram LM: same corpus model and scoring in DuckDB (AVG summation
    // order differs across engines only at ulp scale; round(4) absorbs it,
    // the q51e precedent).
    "q265_bigram_lm_score" ->
      """WITH t AS (SELECT doc_id, lower(text) AS t FROM documents
        |           WHERE length(text) >= 2),
        |bg AS (SELECT doc_id, substr(t, i, 2) AS bg
        |       FROM t, UNNEST(range(1, length(t))) u(i)),
        |cnt AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg),
        |tot AS (SELECT SUM(c) AS n FROM cnt)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(LN(CAST(c AS DOUBLE) / n)), 4) AS lm_score
        |FROM bg JOIN cnt USING (bg) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // CDC merge ≡ batch recompute: last change per user wins; a user whose
    // final change is a delete marker is absent from the state.
    "q263_cdc_merge" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, event_type, value
        |           FROM events),
        |r AS (SELECT user_id, value, us, event_type,
        |        ROW_NUMBER() OVER (PARTITION BY user_id
        |          ORDER BY us DESC, event_id DESC) AS rn
        |      FROM e)
        |SELECT user_id, round(value, 4) AS value, us AS last_us
        |FROM r WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // Compaction is a layout rewrite: the compacted lake must aggregate to
    // exactly the source table.
    "q261_compaction_readback" ->
      """SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // Same md5-bucket arithmetic, DuckDB spelling (hex-literal cast instead
    // of conv); seedless determinism makes the sample exactly comparable.
    "q262_stratified_sample" ->
      """SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS chars
        |FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 20
        |GROUP BY source ORDER BY source""".stripMargin,

    // The partitioned lake round-trip must reproduce the direct filtered
    // aggregate (partitioning is storage layout, not semantics).
    "q258_etl_partitioned_readback" ->
      """SELECT o_orderstatus, COUNT(*) AS n, ROUND(SUM(o_totalprice), 4) AS total
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // Salting is an execution-layer rewrite only — the salted join must
    // aggregate to exactly the plain equi-join's result.
    "q206_salted_join_op" ->
      """SELECT o_orderstatus, ROUND(SUM(l_quantity), 4) AS qty, COUNT(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // ANN audit: the exact top-10 id list is recomputed cross-engine
    // (list_cosine_similarity); the IVF recall bound is deterministic
    // under the fixed seeds (observed 0.7-1.0 at sf0.01, floor 0.6).
    "q51c_ann_recall" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS qid, d.vec_id AS did,
        |    round(list_cosine_similarity(q.emb, d.emb), 4) AS cos_sim
        |  FROM e q JOIN e d ON q.vec_id < 5 AND d.vec_id <> q.vec_id),
        |ranked AS (
        |  SELECT qid, did, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY cos_sim DESC, did) AS rnk FROM scored)
        |SELECT qid, string_agg(did, ',' ORDER BY did) AS exact_top10, true AS ivf_ok
        |FROM ranked WHERE rnk <= 10 GROUP BY qid ORDER BY qid""".stripMargin,

    // Int8-quantized top-k: same symmetric quantization in SQL. The codes
    // are exact integers in both engines (identical double divide + round
    // half-away), the integer sums are exact in doubles, and IEEE
    // sqrt/divide are correctly rounded — so ranking and scores hash-match.
    "q51f_quantized_topk" ->
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) / 127.0 AS s
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / s) AS BIGINT)) AS q
        |  FROM base),
        |n AS (SELECT vec_id, q, list_dot_product(q, q) AS n2 FROM q),
        |scored AS (
        |  SELECT a.vec_id AS qid, d.vec_id AS did,
        |    list_dot_product(a.q, d.q) / (sqrt(a.n2) * sqrt(d.n2)) AS qcos
        |  FROM n a JOIN n d ON a.vec_id < 5 AND d.vec_id <> a.vec_id),
        |ranked AS (
        |  SELECT qid, did, qcos, ROW_NUMBER() OVER (PARTITION BY qid
        |    ORDER BY qcos DESC, did) AS rnk FROM scored)
        |SELECT qid, rnk, did, round(qcos, 6) AS qcos
        |FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin,

    // LSH planted-twin audit: the planted count is the vec_id < 20
    // cardinality; the catch bound is deterministic under the fixed
    // hyperplanes (per-pair miss probability < 3%, 20 trials, floor 80%).
    "q51d_lsh_planted_recall" ->
      "SELECT COUNT(*) AS n_planted, true AS recall_ok FROM embeddings WHERE vec_id < 20",

    // Exact all-pairs shingle Jaccard >= 0.5 — the ground truth the
    // banded MinHash/LSH path must reproduce (P[miss | J>=0.98] ~ 1e-9,
    // and both engines are deterministic, so this is a stable equality).
    "q49_minhash_neardup" ->
      s"""$shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT a_id, b_id,
         |  round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard
         |FROM inter
         |JOIN sizes na ON a_id = na.doc_id
         |JOIN sizes nb ON b_id = nb.doc_id
         |WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |ORDER BY a_id, b_id""".stripMargin,

    // Cross-source matrix over the SAME exact pair ground truth as q49,
    // labeled by source and canonicalized with least/greatest.
    "q327_crosssource_dup_matrix" ->
      s"""$shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT a_id, b_id,
         |    round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard
         |  FROM inter
         |  JOIN sizes na ON a_id = na.doc_id
         |  JOIN sizes nb ON b_id = nb.doc_id
         |  WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |),
         |lab AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b, p.jaccard
         |  FROM pairs p
         |  JOIN documents da ON p.a_id = da.doc_id
         |  JOIN documents db ON p.b_id = db.doc_id
         |)
         |SELECT source_a, source_b, COUNT(*) AS n_pairs,
         |  CAST(SUM(CAST(round(jaccard * 10000, 0) AS BIGINT)) AS BIGINT)
         |    AS sum_jaccard_x1e4
         |FROM lab GROUP BY 1, 2
         |ORDER BY source_a, source_b""".stripMargin,

    // Incremental ingest dedup: the exact ground truth is the all-pairs
    // Jaccard restricted to pairs touching the batch (doc_id % 10 = 0) —
    // the banded incremental path must find every one of them (same recall
    // contract q49 already pins) and classify the scope by which side(s)
    // are batch docs.
    "q49c_incremental_neardup" ->
      s"""$shingleCte,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT a_id, b_id,
         |    round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) AS jaccard
         |  FROM inter
         |  JOIN sizes na ON a_id = na.doc_id
         |  JOIN sizes nb ON b_id = nb.doc_id
         |  WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |)
         |SELECT CASE WHEN b_id % 10 = 0 THEN b_id ELSE a_id END AS new_id,
         |       CASE WHEN b_id % 10 = 0 THEN a_id ELSE b_id END AS dup_of,
         |       jaccard,
         |       CASE WHEN a_id % 10 = 0 AND b_id % 10 = 0 THEN 'batch'
         |            ELSE 'corpus' END AS scope
         |FROM pairs
         |WHERE a_id % 10 = 0 OR b_id % 10 = 0
         |ORDER BY new_id, dup_of""".stripMargin,

    // Canonical-doc selection: DuckDB computes the SAME components via a
    // recursive transitive closure over its own exact pair derivation —
    // Spark's iterative min-label propagation must land on identical
    // (doc -> cluster-min, cluster size) rows.
    "q49b_neardup_components" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sizes na ON a_id = na.doc_id
         |  JOIN sizes nb ON b_id = nb.doc_id
         |  WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |),
         |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
         |         FROM reach GROUP BY u),
         |csizes AS (SELECT canonical_id, COUNT(*) AS cluster_size
         |           FROM comp GROUP BY canonical_id)
         |SELECT doc_id, canonical_id, cluster_size
         |FROM comp JOIN csizes USING (canonical_id)
         |ORDER BY doc_id""".stripMargin,

    // Cluster-size histogram over the SAME recursive exact closure as the
    // q49b oracle — sizes per canonical, then clusters per size.
    "q391_cluster_size_law" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sizes na ON a_id = na.doc_id
         |  JOIN sizes nb ON b_id = nb.doc_id
         |  WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |),
         |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
         |         FROM reach GROUP BY u),
         |csizes AS (SELECT canonical_id, COUNT(*) AS cluster_size
         |           FROM comp GROUP BY canonical_id)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |  CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
         |FROM csizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // Quality-keeper selection over the same exact closure: per component,
    // the member with the highest q293 logit (tie: lowest doc_id) wins.
    "q343_quality_canonical" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |prs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sizes na ON a_id = na.doc_id
         |  JOIN sizes nb ON b_id = nb.doc_id
         |  WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |),
         |edges AS (SELECT a_id AS u, b_id AS v FROM prs
         |          UNION SELECT b_id, a_id FROM prs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
         |         FROM reach GROUP BY u),
         |csz AS (SELECT canonical_id, COUNT(*) AS cluster_size FROM comp GROUP BY canonical_id),
         |lg AS (SELECT doc_id,
         |         CAST(CAST(wc AS BIGINT) * wc - 300 * wc + 50 * n_chars + 200 * stops + 300 * uniq AS BIGINT)
         |           AS lnum, wc
         |       FROM (SELECT doc_id, n_chars, len(string_split(text, ' ')) AS wc,
         |               len(list_filter(string_split(text, ' '), w -> w = 'the' OR w = 'a')) AS stops,
         |               len(list_distinct(string_split(text, ' '))) AS uniq
         |             FROM documents) WHERE wc > 0),
         |rk AS (SELECT comp.canonical_id, comp.doc_id,
         |         CAST(lg.lnum AS DOUBLE) / (100.0 * lg.wc) AS logit,
         |         ROW_NUMBER() OVER (PARTITION BY comp.canonical_id
         |           ORDER BY CAST(lg.lnum AS DOUBLE) / (100.0 * lg.wc)
         |             DESC NULLS LAST, comp.doc_id) AS r
         |       FROM comp LEFT JOIN lg ON comp.doc_id = lg.doc_id)
         |SELECT rk.canonical_id, rk.doc_id AS keeper_id,
         |  ROUND(rk.logit, 4) AS keeper_logit, csz.cluster_size
         |FROM rk JOIN csz ON rk.canonical_id = csz.canonical_id
         |WHERE rk.r = 1 ORDER BY rk.canonical_id""".stripMargin,

    // Leakage-free split: DuckDB recomputes the exact recursive closure
    // (q49b's oracle), derives each doc's canonical (singletons = self),
    // assigns splits by md5 of the CANONICAL (vs doc_id for the naive
    // counterfactual), and re-counts cross-split verified pairs both ways —
    // the cluster-keyed count must be zero on every row, measured with the
    // same pair universe, not asserted.
    "q398_leakage_free_split" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |prs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sizes na ON a_id = na.doc_id
         |  JOIN sizes nb ON b_id = nb.doc_id
         |  WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |),
         |edges AS (SELECT a_id AS u, b_id AS v FROM prs
         |          UNION SELECT b_id, a_id FROM prs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
         |         FROM reach GROUP BY u),
         |alldocs AS (SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS canon
         |            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
         |asg AS (SELECT doc_id, canon,
         |    CASE WHEN ('0x' || substr(md5(CAST(canon AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5(CAST(canon AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS sp,
         |    CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80 THEN 'train'
         |         WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90 THEN 'val'
         |         ELSE 'test' END AS spn
         |  FROM alldocs),
         |ds AS (SELECT sp, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |         CAST(COUNT(DISTINCT canon) AS BIGINT) AS n_clusters,
         |         CAST(SUM(CASE WHEN sp <> spn THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |       FROM asg GROUP BY sp),
         |ps AS (SELECT LEAST(aa.sp, ab.sp) AS sp,
         |         CAST(SUM(CASE WHEN aa.sp <> ab.sp THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_pairs,
         |         CAST(SUM(CASE WHEN aa.spn <> ab.spn THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_pairs_naive
         |       FROM prs JOIN asg aa ON prs.a_id = aa.doc_id
         |       JOIN asg ab ON prs.b_id = ab.doc_id
         |       GROUP BY LEAST(aa.sp, ab.sp))
         |SELECT ds.sp, ds.n_docs, ds.n_clusters, ds.n_moved,
         |  COALESCE(ps.n_cross_pairs, CAST(0 AS BIGINT)) AS n_cross_pairs,
         |  COALESCE(ps.n_cross_pairs_naive, CAST(0 AS BIGINT)) AS n_cross_pairs_naive
         |FROM ds LEFT JOIN ps ON ds.sp = ps.sp ORDER BY ds.sp""".stripMargin,

    // The star-contraction CC must land on the IDENTICAL labeling as the
    // label-propagation form — both are checked against the same exact
    // recursive transitive closure (the q49b oracle, repeated verbatim).
    "q332_cc_star_contraction" ->
      s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
         |  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT a_id, b_id FROM inter
         |  JOIN sizes na ON a_id = na.doc_id
         |  JOIN sizes nb ON b_id = nb.doc_id
         |  WHERE round(CAST(i AS DOUBLE) / (na.n + nb.n - i), 4) >= 0.5
         |),
         |edges AS (SELECT a_id AS u, b_id AS v FROM pairs
         |          UNION SELECT b_id, a_id FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, v FROM edges
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
         |),
         |comp AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS canonical_id
         |         FROM reach GROUP BY u),
         |csizes AS (SELECT canonical_id, COUNT(*) AS cluster_size
         |           FROM comp GROUP BY canonical_id)
         |SELECT doc_id, canonical_id, cluster_size
         |FROM comp JOIN csizes USING (canonical_id)
         |ORDER BY doc_id""".stripMargin,

    "q50_simhash" ->
      s"""$simhashCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin,

    // Exact all-pairs hamming <= 3 — ground truth for the pigeonhole-banded
    // candidate join (recall is exact within radius 3 by construction).
    "q50b_simhash_neardup" ->
      s"""$simhashCte
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    // Distributed k-means, recomputed END-TO-END by the oracle: DuckDB runs
    // the same two unrolled Lloyd iterations (deterministic init, 6-decimal
    // rounded affinities/centroids, float-cast scoring, ties to the lowest
    // cell) — assignment logic, per-dimension means, and the final cell
    // stats must all agree across engines.
    "q51e_kmeans_cells" -> {
      // one Lloyd step: assignment vs `cin` centroids, then per-dim means
      def step(ein: String, cin: String, aout: String, cout: String): String =
        s"""$aout AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_cosine_similarity(e.emb,
           |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
           |        c.cell) AS rn
           |    FROM $ein e, $cin c) WHERE rn = 1),
           |$cout AS (
           |  SELECT cell, list(round(m, 6) ORDER BY j) AS cemb FROM (
           |    SELECT a.cell, t.j, AVG(e.emb[t.j]) AS m
           |    FROM $aout a JOIN $ein e USING (vec_id),
           |         UNNEST(range(1, len(e.emb) + 1)) AS t(j)
           |    GROUP BY a.cell, t.j)
           |  GROUP BY cell)""".stripMargin
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cemb FROM e WHERE vec_id < 8),
         |${step("e", "c0", "a1", "c1")},
         |${step("e", "c1", "a2", "c2")},
         |a3 AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(list_cosine_similarity(e.emb,
         |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
         |        c.cell) AS rn
         |    FROM e, c2 c) WHERE rn = 1)
         |SELECT a3.cell, COUNT(*) AS n_members,
         |  round(list_sum(c2.cemb), 4) AS centroid_sum,
         |  round(sqrt(list_sum(list_transform(c2.cemb, x -> x * x))), 4) AS centroid_norm
         |FROM a3 JOIN c2 USING (cell)
         |GROUP BY a3.cell, c2.cemb ORDER BY a3.cell""".stripMargin
    },

    // Learned-centroid IVF: DuckDB re-runs the ENTIRE pipeline — the two
    // unrolled Lloyd iterations (the q51e contract), the nprobe=3 cell
    // probe, and exact scoring of probed members — and must agree on every
    // (query, rank, neighbor, score) row.
    "q271_ivf_kmeans_topk" -> {
      def step(ein: String, cin: String, aout: String, cout: String): String =
        s"""$aout AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_cosine_similarity(e.emb,
           |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
           |        c.cell) AS rn
           |    FROM $ein e, $cin c) WHERE rn = 1),
           |$cout AS (
           |  SELECT cell, list(round(m, 6) ORDER BY j) AS cemb FROM (
           |    SELECT a.cell, t.j, AVG(e.emb[t.j]) AS m
           |    FROM $aout a JOIN $ein e USING (vec_id),
           |         UNNEST(range(1, len(e.emb) + 1)) AS t(j)
           |    GROUP BY a.cell, t.j)
           |  GROUP BY cell)""".stripMargin
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cemb FROM e WHERE vec_id < 8),
         |${step("e", "c0", "a1", "c1")},
         |${step("e", "c1", "a2", "c2")},
         |a3 AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(list_cosine_similarity(e.emb,
         |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
         |        c.cell) AS rn
         |    FROM e, c2 c) WHERE rn = 1),
         |q AS (SELECT vec_id AS qid, emb AS qemb FROM e WHERE vec_id < 5),
         |probes AS (
         |  SELECT qid, qemb, cell FROM (
         |    SELECT q.qid, q.qemb, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
         |        round(list_cosine_similarity(q.qemb,
         |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
         |        c.cell) AS rn
         |    FROM q, c2 c) WHERE rn <= 3),
         |scored AS (
         |  SELECT p.qid, a3.vec_id AS did,
         |    round(list_cosine_similarity(p.qemb, e.emb), 4) AS cos_sim
         |  FROM probes p JOIN a3 ON p.cell = a3.cell JOIN e ON e.vec_id = a3.vec_id
         |  WHERE a3.vec_id <> p.qid),
         |ranked AS (
         |  SELECT qid, did, cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, did) AS rnk
         |  FROM scored)
         |SELECT qid, rnk, did, cos_sim FROM ranked WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin
    },

    // PQ/ADC: DuckDB re-runs the ENTIRE pipeline — subspace split, the two
    // unrolled Lloyd iterations keyed (sub, cell), code assignment, the
    // query LUT, and the ADC sum — on exact integer micro-unit distances,
    // and must agree on every (qid, rnk, did, adist) row.
    "q275_pq_adc_topk" -> {
      // assignment of every sub-vector to its nearest centroid of `cin`
      def assignSql(cin: String, aout: String): String =
        s"""$aout AS (
           |  SELECT vec_id, sub, sv, cell FROM (
           |    SELECT s.vec_id, s.sub, s.sv, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
           |        CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
           |          list_transform(range(1, 17), j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))),
           |          (acc, x) -> acc + x) * 1e6, 0) AS BIGINT), c.cell) AS rn
           |    FROM subs s JOIN $cin c USING (sub)) WHERE rn = 1)""".stripMargin
      def step(cin: String, aout: String, cout: String): String =
        s"""${assignSql(cin, aout)},
           |$cout AS (
           |  SELECT sub, cell, list(round(mv, 6) ORDER BY j) AS cv FROM (
           |    SELECT a.sub, a.cell, t.j, AVG(a.sv[t.j]) AS mv
           |    FROM $aout a, UNNEST(range(1, 17)) t(j)
           |    GROUP BY a.sub, a.cell, t.j)
           |  GROUP BY sub, cell)""".stripMargin
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |subs AS (SELECT vec_id, s AS sub, emb[(s*16+1):(s*16+16)] AS sv
         |         FROM e, UNNEST(range(0, 4)) t(s)),
         |cb0 AS (SELECT sub, CAST(vec_id AS INT) AS cell, sv AS cv FROM subs WHERE vec_id < 4),
         |${step("cb0", "a1", "cb1")},
         |${step("cb1", "a2", "cb2")},
         |${assignSql("cb2", "codes")},
         |lut AS (
         |  SELECT s.vec_id AS qid, s.sub, c.cell,
         |    CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, 17), j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))),
         |      (acc, x) -> acc + x) * 1e6, 0) AS BIGINT) AS du
         |  FROM subs s JOIN cb2 c USING (sub) WHERE s.vec_id < 5),
         |adc AS (
         |  SELECT l.qid, c.vec_id AS did, SUM(l.du) AS adist_u
         |  FROM codes c JOIN lut l ON c.sub = l.sub AND c.cell = l.cell
         |  WHERE c.vec_id <> l.qid
         |  GROUP BY l.qid, c.vec_id HAVING COUNT(*) = 4),
         |ranked AS (
         |  SELECT qid, did, adist_u,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_u, did) AS rnk
         |  FROM adc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, did, round(adist_u / 1e6, 4) AS adist
         |FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
    },

    // IVF-PQ composition: the q271 coarse-quantizer fit+probe AND the q275
    // product-quantizer fit+encode+LUT, re-run end-to-end in DuckDB, joined
    // exactly as Spark joins them — probed-cell members scored by ADC.
    "q280_ivfpq_topk" -> {
      // --- q271's cosine Lloyd fit (identical text; names prefixed i) ---
      def iStep(ein: String, cin: String, aout: String, cout: String): String =
        s"""$aout AS (
           |  SELECT vec_id, cell FROM (
           |    SELECT e.vec_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
           |        round(list_cosine_similarity(e.emb,
           |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
           |        c.cell) AS rn
           |    FROM $ein e, $cin c) WHERE rn = 1),
           |$cout AS (
           |  SELECT cell, list(round(m, 6) ORDER BY j) AS cemb FROM (
           |    SELECT a.cell, t.j, AVG(e.emb[t.j]) AS m
           |    FROM $aout a JOIN $ein e USING (vec_id),
           |         UNNEST(range(1, len(e.emb) + 1)) AS t(j)
           |    GROUP BY a.cell, t.j)
           |  GROUP BY cell)""".stripMargin
      // --- q275's L2 micro-unit PQ fit (identical text; names prefixed p) ---
      def pAssign(cin: String, aout: String): String =
        s"""$aout AS (
           |  SELECT vec_id, sub, sv, cell FROM (
           |    SELECT s.vec_id, s.sub, s.sv, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub ORDER BY
           |        CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
           |          list_transform(range(1, 17), j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))),
           |          (acc, x) -> acc + x) * 1e6, 0) AS BIGINT), c.cell) AS rn
           |    FROM subs s JOIN $cin c USING (sub)) WHERE rn = 1)""".stripMargin
      def pStep(cin: String, aout: String, cout: String): String =
        s"""${pAssign(cin, aout)},
           |$cout AS (
           |  SELECT sub, cell, list(round(mv, 6) ORDER BY j) AS cv FROM (
           |    SELECT a.sub, a.cell, t.j, AVG(a.sv[t.j]) AS mv
           |    FROM $aout a, UNNEST(range(1, 17)) t(j)
           |    GROUP BY a.sub, a.cell, t.j)
           |  GROUP BY sub, cell)""".stripMargin
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cemb FROM e WHERE vec_id < 8),
         |${iStep("e", "c0", "ia1", "ic1")},
         |${iStep("e", "ic1", "ia2", "ic2")},
         |ia3 AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT e.vec_id, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
         |        round(list_cosine_similarity(e.emb,
         |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
         |        c.cell) AS rn
         |    FROM e, ic2 c) WHERE rn = 1),
         |probes AS (
         |  SELECT qid, cell AS ivf_cell FROM (
         |    SELECT q.vec_id AS qid, c.cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        round(list_cosine_similarity(q.emb,
         |          list_transform(c.cemb, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))), 6) DESC,
         |        c.cell) AS rn
         |    FROM (SELECT vec_id, emb FROM e WHERE vec_id < 5) q, ic2 c) WHERE rn <= 3),
         |subs AS (SELECT vec_id, s AS sub, emb[(s*16+1):(s*16+16)] AS sv
         |         FROM e, UNNEST(range(0, 4)) t(s)),
         |cb0 AS (SELECT sub, CAST(vec_id AS INT) AS cell, sv AS cv FROM subs WHERE vec_id < 4),
         |${pStep("cb0", "pa1", "cb1")},
         |${pStep("cb1", "pa2", "cb2")},
         |${pAssign("cb2", "codes")},
         |lut AS (
         |  SELECT s.vec_id AS qid, s.sub, c.cell,
         |    CAST(round(list_reduce(list_prepend(0.0::DOUBLE,
         |      list_transform(range(1, 17), j -> (s.sv[j] - c.cv[j]) * (s.sv[j] - c.cv[j]))),
         |      (acc, x) -> acc + x) * 1e6, 0) AS BIGINT) AS du
         |  FROM subs s JOIN cb2 c USING (sub) WHERE s.vec_id < 5),
         |cand AS (
         |  SELECT p.qid, a.vec_id AS did
         |  FROM probes p JOIN ia3 a ON p.ivf_cell = a.cell
         |  WHERE a.vec_id <> p.qid),
         |adc AS (
         |  SELECT cand.qid, cand.did, SUM(l.du) AS adist_u
         |  FROM cand JOIN codes c ON cand.did = c.vec_id
         |            JOIN lut l ON l.qid = cand.qid AND l.sub = c.sub AND l.cell = c.cell
         |  GROUP BY cand.qid, cand.did HAVING COUNT(*) = 4),
         |ranked AS (
         |  SELECT qid, did, adist_u,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adist_u, did) AS rnk
         |  FROM adc)
         |SELECT qid, CAST(rnk AS BIGINT) AS rnk, did, round(adist_u / 1e6, 4) AS adist
         |FROM ranked WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
    },

    // SemDeDup: the q271 Lloyd fit re-run end-to-end, then the in-cluster
    // pair scan and kept/dropped flagging — DuckDB must agree on every
    // vector's cell AND flag (a drifted clustering would flip cells; a
    // drifted cosine would flip flags).
    "q281_semdedup" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cell, emb AS cemb FROM e
         |       WHERE vec_id < (SELECT GREATEST(8, COUNT(*) // 64) FROM e)),
         |${lloydCosStep("e", "c0", "sa1", "sc1")},
         |${lloydCosStep("e", "sc1", "sa2", "sc2")},
         |${lloydCosAssign("e", "sc2", "sa3")},
         |dropped AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM sa3 a JOIN sa3 b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  JOIN e ea ON ea.vec_id = a.vec_id JOIN e eb ON eb.vec_id = b.vec_id
         |  WHERE round(list_cosine_similarity(ea.emb, eb.emb), 6) >= 0.35)
         |SELECT a.vec_id, a.cell,
         |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
         |FROM sa3 a LEFT JOIN dropped d ON d.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin,

    // Misra–Gries heavy hitters: the MG-candidate + exact-verify path must
    // equal the oracle's naive full groupBy (the MG union is a guaranteed
    // superset of every 1/30-support item — see HeavyHitters scaladoc).
    "q297_heavy_hitters" -> HeavyHitters.oracle,

    // Format round-trips are storage layout, not semantics: every format's
    // aggregate must equal the parquet-direct one.
    "q305_multiformat_roundtrip" ->
      """SELECT 'csv' AS fmt, COUNT(*) AS n_docs, COUNT(DISTINCT text) AS n_texts,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars FROM documents
        |UNION ALL
        |SELECT 'json', COUNT(*), COUNT(DISTINCT text), CAST(SUM(n_chars) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'orc', COUNT(*), COUNT(DISTINCT text), CAST(SUM(n_chars) AS BIGINT) FROM documents
        |ORDER BY fmt""".stripMargin,

    // Bucketing is storage layout, not semantics: the bucketed join must
    // reproduce the plain join aggregate.
    "q309_bucketed_join_readback" ->
      """SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_extendedprice), 4) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // Scale-path near-dup vs the full exact all-pairs join over the same
    // corpus ∪ planted twins (the oracle does all-pairs; Spark must reproduce
    // it from LSH candidates + exact verify — recall AND scores, both
    // engines' twins computed with identical rational arithmetic).
    "q72b_embedding_neardup_scaled" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |p AS (SELECT vec_id + 1000000 AS pid,
        |        list_transform(range(0, len(emb)), j ->
        |          CAST(CAST(emb[j + 1] + 0.05 * ((((vec_id + j) * 7) % 11) - 5) / 5.0
        |               AS FLOAT) AS DOUBLE)) AS emb
        |      FROM e WHERE vec_id < 20),
        |u AS (SELECT vec_id, emb FROM e UNION ALL SELECT pid AS vec_id, emb FROM p)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cos_sim
        |FROM u a JOIN u b ON a.vec_id < b.vec_id
        |WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) >= 0.85
        |ORDER BY a_id, b_id""".stripMargin,

    // Semantic decontamination vs the FULL exact eval x train join over the
    // same train ∪ planted-twin universe (q72b's rational twin arithmetic,
    // cross-set: eval = vec_id % 20 = 0, twins shifted +7e6 into train).
    // Spark must reproduce the exact join from eval-side hamming-1 probes +
    // LSH candidates + exact verify — recall AND scores cross-engine.
    "q403_semantic_decontamination" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |ev AS (SELECT vec_id, emb FROM e WHERE vec_id % 20 = 0),
        |tw AS (SELECT vec_id + 7000000 AS tid,
        |        list_transform(range(0, len(emb)), j ->
        |          CAST(CAST(emb[j + 1] + 0.05 * ((((vec_id + j) * 7) % 11) - 5) / 5.0
        |               AS FLOAT) AS DOUBLE)) AS emb
        |      FROM ev),
        |tr AS (SELECT vec_id, emb FROM e WHERE vec_id % 20 <> 0
        |       UNION ALL SELECT tid AS vec_id, emb FROM tw)
        |SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
        |  ROUND(list_cosine_similarity(ev.emb, tr.emb), 4) AS cos_sim
        |FROM ev JOIN tr ON ROUND(list_cosine_similarity(ev.emb, tr.emb), 4) >= 0.85
        |ORDER BY eval_id, train_id""".stripMargin,

    // Real-decoder check: Spark parses the ACTUAL container bytes (header
    // layout, row padding, little-endian PCM); the oracle recomputes every
    // decoded statistic from the generator's closed form. A parser bug in
    // padding/offset/endianness diverges the means and fails the hash.
    "q52_multimodal_features" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h,
        |         64 + doc_id % 64 AS n
        |  FROM documents),
        |bmp AS (
        |  SELECT doc_id,
        |    CAST(54 + ((3*w + 3) // 4) * 4 * h AS INT) AS n_bytes,
        |    CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |    ROUND(AVG((doc_id*3 + x.i*29 + y.i*19) % 256), 4) AS mean_r,
        |    ROUND(AVG((doc_id*11 + x.i*17 + y.i*5) % 256), 4) AS mean_g,
        |    ROUND(AVG((doc_id*7 + x.i*13 + y.i*31) % 256), 4) AS mean_b
        |  FROM m, UNNEST(range(0, w)) AS x(i), UNNEST(range(0, h)) AS y(i)
        |  WHERE doc_id % 2 = 0 GROUP BY doc_id, w, h),
        |wav AS (
        |  SELECT doc_id, CAST(44 + 2*n AS INT) AS n_bytes,
        |    CAST(n AS INT) AS n_samples, 8000 AS sample_rate,
        |    ROUND(AVG((doc_id*31 + t.i*73) % 4001 - 2000), 4) AS mean_sample,
        |    CAST(MAX((doc_id*31 + t.i*73) % 4001 - 2000) AS INT) AS peak
        |  FROM m, UNNEST(range(0, n)) AS t(i)
        |  WHERE doc_id % 2 = 1 GROUP BY doc_id, n)
        |SELECT doc_id, 'bmp' AS format, n_bytes, width, height,
        |       mean_r, mean_g, mean_b,
        |       CAST(NULL AS INT) AS n_samples, CAST(NULL AS INT) AS sample_rate,
        |       CAST(NULL AS DOUBLE) AS mean_sample, CAST(NULL AS INT) AS peak
        |FROM bmp
        |UNION ALL
        |SELECT doc_id, 'wav', n_bytes, CAST(NULL AS INT), CAST(NULL AS INT),
        |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |       n_samples, sample_rate, mean_sample, peak
        |FROM wav
        |ORDER BY doc_id""".stripMargin,

    // Media-pipeline metadata: format by doc_id parity; octet length checked
    // against the containers' size arithmetic (54 + rowSize*h BMP, 44+2n WAV).
    "q52b_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'wav' END AS format,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN 54 + ((3*(4 + doc_id % 5) + 3) // 4) * 4 * (3 + doc_id % 3)
        |       ELSE 44 + 2*(64 + doc_id % 64) END AS INT) AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Frame sampling: boundaries are a pure function of payload length
    // (one frame per started 1024-byte stride), so the per-doc count is
    // recomputable from octet_length alone.
    "q52c_frame_counts" ->
      """SELECT doc_id,
        |  CAST(CEIL(GREATEST(octet_length(encode(text)), 1) / 1024.0) AS INT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Audio frame features: the WAV generator's samples are the affine
    // closed form (doc_id*31 + i*73) % 4001 - 2000 over n = 64 + doc_id%64
    // samples, so DuckDB rebuilds every 16-sample frame and recomputes RMS
    // (integer sum of squares, exact in doubles) and the strict
    // sign-change count.
    "q52d_audio_frames" ->
      """WITH wav AS (
        |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 2 = 1),
        |fr AS (SELECT doc_id, f FROM wav, UNNEST(range(0, n // 16)) t(f)),
        |s AS (SELECT doc_id, f, i, (doc_id * 31 + i * 73) % 4001 - 2000 AS v
        |      FROM fr, UNNEST(range(16 * f, 16 * f + 16)) u(i)),
        |rms AS (
        |  SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |    round(sqrt(CAST(SUM(v * v) AS DOUBLE) / 16.0), 4) AS rms
        |  FROM s GROUP BY 1, 2),
        |zc AS (
        |  SELECT s1.doc_id, CAST(s1.f AS INT) AS frame_idx,
        |    CAST(COUNT(*) FILTER (WHERE s1.v * s2.v < 0) AS INT) AS n_zero_cross
        |  FROM s s1 JOIN s s2
        |    ON s1.doc_id = s2.doc_id AND s1.f = s2.f AND s2.i = s1.i + 1
        |  GROUP BY 1, 2)
        |SELECT rms.doc_id, rms.frame_idx, rms.rms, zc.n_zero_cross
        |FROM rms JOIN zc ON rms.doc_id = zc.doc_id AND rms.frame_idx = zc.frame_idx
        |ORDER BY rms.doc_id, rms.frame_idx""".stripMargin,

    // 2x2 nearest-neighbor thumbnail of each BMP: output (px, py) samples
    // source (px*w DIV 2, py*h DIV 2) of the generator's closed-form
    // affine-mod-256 pixels (R = id*3+x*29+y*19, G = id*11+x*17+y*5,
    // B = id*7+x*13+y*31) — the Spark side decodes and samples the REAL
    // bytes, so equality proves the whole decode+resize path.
    "q359_image_thumbnail" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (SELECT doc_id, w, h, py.i AS py, qx.i AS px
        |       FROM m, UNNEST(range(0, 2)) AS py(i), UNNEST(range(0, 2)) AS qx(i)),
        |s AS (SELECT doc_id, CAST(py AS INT) AS py, CAST(px AS INT) AS px,
        |        px * w // 2 AS sx, py * h // 2 AS sy FROM px)
        |SELECT doc_id, py, px,
        |  CAST((doc_id * 3 + sx * 29 + sy * 19) % 256 AS INT) AS r,
        |  CAST((doc_id * 11 + sx * 17 + sy * 5) % 256 AS INT) AS g,
        |  CAST((doc_id * 7 + sx * 13 + sy * 31) % 256 AS INT) AS b
        |FROM s ORDER BY doc_id, py, px""".stripMargin,

    // 4:1 decimation of each WAV's closed-form samples (keep i % 4 = 0;
    // sample i = (id*31 + i*73) % 4001 - 2000); the Spark side decimates
    // the REAL decoded PCM16 bytes, so equality proves decode+resample.
    "q360_audio_decimate" ->
      """WITH m AS (
        |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 2 = 1),
        |s AS (SELECT doc_id, (doc_id * 31 + i * 73) % 4001 - 2000 AS v
        |      FROM m, UNNEST(range(0, n)) t(i) WHERE i % 4 = 0)
        |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_out,
        |  CAST(SUM(v) AS BIGINT) AS sum_out,
        |  CAST(MIN(v) AS INT) AS min_out, CAST(MAX(v) AS INT) AS max_out
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // 8-bucket per-channel pixel histogram over every BMP's closed-form
    // affine pixels (bucket = v // 32); the Spark side decodes and buckets
    // the REAL bytes, so equality proves decode + binning end to end.
    "q372_image_histogram" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (SELECT doc_id, x.i AS x, y.i AS y
        |       FROM m, UNNEST(range(0, w)) AS x(i), UNNEST(range(0, h)) AS y(i)),
        |c AS (SELECT 'r' AS channel, (doc_id * 3 + x * 29 + y * 19) % 256 AS v FROM px
        |      UNION ALL SELECT 'g', (doc_id * 11 + x * 17 + y * 5) % 256 FROM px
        |      UNION ALL SELECT 'b', (doc_id * 7 + x * 13 + y * 31) % 256 FROM px)
        |SELECT channel, CAST(v // 32 AS INT) AS bucket, CAST(COUNT(*) AS BIGINT) AS n
        |FROM c GROUP BY channel, bucket ORDER BY channel, bucket""".stripMargin,

    // Forward-difference R-channel gradients over every BMP's closed-form
    // affine pixels (dx at x<w-1, dy at y<h-1, strong = |dx|+|dy| >= 128 on
    // the interior grid); the Spark side differences the REAL decoded bytes
    // in logical top-down coordinates, so equality proves the 2-D neighbor
    // addressing (row stride + bottom-up order) end to end.
    "q378_image_gradient" ->
      """WITH m AS (
        |  SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |px AS (SELECT doc_id, w, h, x.i AS x, y.i AS y
        |       FROM m, UNNEST(range(0, w)) AS x(i), UNNEST(range(0, h)) AS y(i)),
        |g AS (SELECT doc_id,
        |        CASE WHEN x < w - 1 THEN abs((doc_id * 3 + (x + 1) * 29 + y * 19) % 256
        |                                   - (doc_id * 3 + x * 29 + y * 19) % 256) END AS adx,
        |        CASE WHEN y < h - 1 THEN abs((doc_id * 3 + x * 29 + (y + 1) * 19) % 256
        |                                   - (doc_id * 3 + x * 29 + y * 19) % 256) END AS ady
        |      FROM px)
        |SELECT doc_id,
        |  CAST(SUM(adx) AS BIGINT) AS sum_abs_dx,
        |  CAST(SUM(ady) AS BIGINT) AS sum_abs_dy,
        |  CAST(MAX(adx) AS INT) AS max_abs_dx,
        |  CAST(MAX(ady) AS INT) AS max_abs_dy,
        |  CAST(COUNT(*) FILTER (WHERE adx IS NOT NULL AND ady IS NOT NULL
        |                          AND adx + ady >= 128) AS BIGINT) AS n_strong
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Quiet-run (gaps-and-islands over i - ROW_NUMBER) and clipping counts
    // over each WAV's closed-form samples; the Spark side scans the REAL
    // decoded PCM16 bytes in order, so equality proves 1-D sample ordering
    // (a reorder or stride error preserves per-sample stats but not runs).
    "q382_audio_silence_runs" ->
      """WITH m AS (
        |  SELECT doc_id, 64 + doc_id % 64 AS n FROM documents WHERE doc_id % 2 = 1),
        |s AS (SELECT doc_id, i, (doc_id * 31 + i * 73) % 4001 - 2000 AS v
        |      FROM m, UNNEST(range(0, n)) t(i)),
        |r AS (SELECT doc_id, i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        |      FROM s WHERE abs(v) <= 200),
        |runs AS (SELECT doc_id, grp, COUNT(*) AS len FROM r GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_quiet_runs,
        |          CAST(MAX(len) AS BIGINT) AS longest_quiet_run,
        |          CAST(SUM(len) AS BIGINT) AS n_quiet
        |        FROM runs GROUP BY doc_id),
        |c AS (SELECT doc_id,
        |        CAST(COUNT(*) FILTER (WHERE abs(v) >= 1900) AS BIGINT) AS n_clipped
        |      FROM s GROUP BY doc_id)
        |SELECT c.doc_id,
        |  COALESCE(a.n_quiet_runs, 0) AS n_quiet_runs,
        |  COALESCE(a.longest_quiet_run, 0) AS longest_quiet_run,
        |  COALESCE(a.n_quiet, 0) AS n_quiet,
        |  c.n_clipped
        |FROM c LEFT JOIN agg a ON c.doc_id = a.doc_id
        |ORDER BY c.doc_id""".stripMargin,

    // Perceptual image dedup: DuckDB rebuilds every variant BMP's shifted
    // pixels from the generator's closed form (content keyed on cid =
    // doc_id % 61 mod 200, plus the per-doc brightness shift d), recomputes
    // the 4x4 floor-NN resize and the 16-bit mean-relative aHash
    // (16*gray_p > total — brightness cancels exactly: +3d per gray, +48d on
    // the total), then the same (w, h, ahash) clustering. The Spark side
    // decodes and hashes the REAL bytes, so equality proves decode + resize
    // + hash + the invariance claim end to end.
    "q396_image_phash_dedup" ->
      s"""$ahashCte,
         |c AS (SELECT w, h, ahash, MIN(doc_id) AS rep_id, COUNT(*) AS n
         |      FROM hh GROUP BY w, h, ahash)
         |SELECT hh.doc_id, c.rep_id, CAST(c.n AS BIGINT) AS cluster_size,
         |  hh.doc_id = c.rep_id AS is_canonical
         |FROM hh JOIN c USING (w, h, ahash) ORDER BY hh.doc_id""".stripMargin,

    // DC-invariant audio fingerprint dedup: DuckDB rebuilds every variant
    // WAV's offset samples from the closed form (content keyed on cid =
    // doc_id % 61 mod 3001, plus the per-doc DC offset), recomputes the
    // 8-sample frame sums and the sign pattern of consecutive differences
    // (DC adds 8*dc to every frame sum and cancels), then the same
    // (n_samples, fp) clustering. The Spark side decodes and fingerprints
    // the REAL PCM16 bytes, so equality proves decode + framing + the
    // DC-invariance claim end to end.
    "q397_audio_fingerprint_dedup" ->
      """WITH m AS (
        |  SELECT doc_id, doc_id % 61 AS cid, (doc_id * 13) % 801 - 400 AS dc,
        |         64 + (doc_id % 61) % 64 AS n
        |  FROM documents WHERE doc_id % 2 = 1),
        |s AS (SELECT doc_id, n, t.i AS i, t.i // 8 AS f,
        |        (cid * 31 + t.i * 73) % 3001 - 1500 + dc AS v
        |      FROM m, UNNEST(range(0, (n // 8) * 8)) t(i)),
        |fr AS (SELECT doc_id, n, f, SUM(v) AS fs FROM s GROUP BY doc_id, n, f),
        |d AS (SELECT doc_id, n, f, fs,
        |        LEAD(fs) OVER (PARTITION BY doc_id ORDER BY f) AS nxt FROM fr),
        |hh AS (SELECT doc_id, n,
        |         CAST(COALESCE(SUM(CASE WHEN nxt > fs THEN 1 << f ELSE 0 END), 0) AS BIGINT) AS fp
        |       FROM d WHERE nxt IS NOT NULL GROUP BY doc_id, n),
        |c AS (SELECT n, fp, MIN(doc_id) AS rep_id, COUNT(*) AS cnt
        |      FROM hh GROUP BY n, fp)
        |SELECT hh.doc_id, c.rep_id, CAST(c.cnt AS BIGINT) AS cluster_size,
        |  hh.doc_id = c.rep_id AS is_canonical
        |FROM hh JOIN c USING (n, fp) ORDER BY hh.doc_id""".stripMargin,

    // Cross-modal manifest: dims from the BMP generator's closed form,
    // token counts from the text, identical grouping — the Spark side
    // decodes the REAL bytes and joins, so equality proves decode + the
    // cross-modal equi-join.
    "q401_multimodal_manifest" ->
      """WITH m AS (SELECT doc_id, 4 + doc_id % 5 AS w, 3 + doc_id % 3 AS h
        |           FROM documents WHERE doc_id % 2 = 0),
        |tk AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
        |SELECT CAST(m.w AS INT) AS w, CAST(m.h AS INT) AS h,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST((COUNT(*) + 63) // 64 AS BIGINT) AS n_batches,
        |  CAST(SUM(tk.n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(m.w * m.h) AS BIGINT) AS sum_pixels,
        |  CAST(SUM(tk.n_tokens) * 10000 // SUM(m.w * m.h) AS BIGINT) AS tpp_x1e4
        |FROM m JOIN tk USING (doc_id)
        |GROUP BY m.w, m.h ORDER BY w, h""".stripMargin,

    // Incremental perceptual dedup: the q396 aHash CTEs split 80/20 into
    // corpus index vs batch, batch cells inherit the corpus rep or found a
    // new cluster at the batch min — recomputed entirely from the variant
    // generator's closed form.
    "q402_incremental_phash_dedup" ->
      s"""$ahashCte,
         |idx AS (SELECT w, h, ahash, MIN(doc_id) AS corpus_rep FROM hh
         |        WHERE NOT (doc_id % 61 >= 55 OR doc_id % 5 = 4) GROUP BY w, h, ahash),
         |b AS (SELECT * FROM hh WHERE doc_id % 61 >= 55 OR doc_id % 5 = 4),
         |br AS (SELECT w, h, ahash, MIN(doc_id) AS batch_rep FROM b GROUP BY w, h, ahash)
         |SELECT b.doc_id,
         |  COALESCE(idx.corpus_rep, br.batch_rep) AS rep_id,
         |  (idx.corpus_rep IS NULL) AS is_new_cluster
         |FROM b LEFT JOIN idx USING (w, h, ahash) JOIN br USING (w, h, ahash)
         |ORDER BY b.doc_id""".stripMargin,

    // Decontamination diff: both gram screens and the FULL OUTER status
    // join restated in DuckDB list idioms.
    "q404_decontamination_diff" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
        |      FROM w, UNNEST(range(1, len(ws) - 1)) t(i) WHERE len(ws) >= 3),
        |eva AS (SELECT DISTINCT g FROM g WHERE doc_id % 97 = 0),
        |evb AS (SELECT DISTINCT g FROM g WHERE doc_id % 89 = 0),
        |tr AS (SELECT DISTINCT doc_id, g FROM g
        |       WHERE doc_id % 97 <> 0 AND doc_id % 89 <> 0),
        |ca AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_a
        |       FROM tr JOIN eva USING (g) GROUP BY doc_id),
        |cb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_b
        |       FROM tr JOIN evb USING (g) GROUP BY doc_id)
        |SELECT COALESCE(ca.doc_id, cb.doc_id) AS doc_id,
        |  COALESCE(ca.n_shared_a, 0) AS n_shared_a,
        |  COALESCE(cb.n_shared_b, 0) AS n_shared_b,
        |  CASE WHEN ca.doc_id IS NULL THEN 'new'
        |       WHEN cb.doc_id IS NULL THEN 'cleared'
        |       ELSE 'still' END AS status
        |FROM ca FULL OUTER JOIN cb ON ca.doc_id = cb.doc_id
        |ORDER BY doc_id""".stripMargin,

    // Detector agreement: DuckDB recomputes BOTH detectors end to end — the
    // 48-bit portable-hash SimHash (q50b's all-pairs hamming <= 3, which the
    // Spark side's pigeonhole banding reproduces exactly within radius 3)
    // and the capped-window exact Jaccard >= 0.90 ground truth (q363's pair
    // universe, same [2,32] posting filter both sides) — then the same
    // FULL OUTER agreement counts.
    "q380_detector_agreement" ->
      s"""$simhashCte,
         |spairs AS (
         |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |w2 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |g8 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 7),
         |         i -> array_to_string(list_slice(w, i, i + 7), ' ')))) AS g FROM w2
         |       WHERE len(w) >= 8),
         |gc AS (SELECT g FROM g8 GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 32),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |         FROM g8 a JOIN gc USING (g) JOIN g8 b USING (g) WHERE a.doc_id < b.doc_id),
         |s3 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(2, len(w) - 1),
         |         i -> concat_ws(' ', w[i-1], w[i], w[i+1])))) AS g FROM w2
         |       WHERE len(w) >= 3),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM s3 GROUP BY doc_id),
         |inter AS (SELECT c.a_id, c.b_id, COUNT(*) AS i
         |          FROM cand c JOIN s3 sa ON sa.doc_id = c.a_id
         |          JOIN s3 sb ON sb.doc_id = c.b_id AND sa.g = sb.g
         |          GROUP BY c.a_id, c.b_id),
         |ex AS (SELECT a_id, b_id FROM inter
         |       JOIN sz na ON na.doc_id = a_id JOIN sz nb ON nb.doc_id = b_id
         |       WHERE (20000 * i + (na.n + nb.n - i)) // (2 * (na.n + nb.n - i)) >= 9000),
         |m AS (SELECT (e.a_id IS NOT NULL) AS in_exact, (p.a_id IS NOT NULL) AS in_sim
         |      FROM ex e FULL OUTER JOIN spairs p
         |        ON e.a_id = p.a_id AND e.b_id = p.b_id),
         |c AS (SELECT SUM(CASE WHEN in_exact THEN 1 ELSE 0 END) AS n_exact,
         |             SUM(CASE WHEN in_sim THEN 1 ELSE 0 END) AS n_simhash,
         |             SUM(CASE WHEN in_exact AND in_sim THEN 1 ELSE 0 END) AS n_both
         |      FROM m)
         |SELECT CAST(n_exact AS BIGINT) AS n_exact,
         |  CAST(n_simhash AS BIGINT) AS n_simhash,
         |  CAST(n_both AS BIGINT) AS n_both,
         |  CAST(CASE WHEN n_exact > 0 THEN n_both * 10000 // n_exact ELSE -1 END AS BIGINT)
         |    AS recall_x1e4,
         |  CAST(CASE WHEN n_simhash > 0 THEN n_both * 10000 // n_simhash ELSE -1 END AS BIGINT)
         |    AS precision_x1e4
         |FROM c""".stripMargin,

    // Dataset card: the oracle restates the generator's modality invariant
    // (doc_id parity) INDEPENDENTLY of Multimodal.formatOf, which the
    // Spark side joins — the hash is the cross-check between the two
    // statements of the rule (VERDICT r8 #2).
    "q362_dataset_card" ->
      """WITH wd AS (SELECT doc_id, source, n_chars, string_split(text, ' ') AS w, text
        |            FROM documents),
        |g8 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w) - 7),
        |         i -> array_to_string(list_slice(w, i, i + 7), ' ')))) AS g FROM wd
        |       WHERE len(w) >= 8),
        |gc AS (SELECT g FROM g8 GROUP BY g HAVING COUNT(*) BETWEEN 2 AND 32),
        |bp AS (SELECT DISTINCT g8.doc_id FROM g8 JOIN gc USING (g)),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |        CAST(SUM(len(w)) AS BIGINT) AS n_tokens,
        |        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |        CAST(SUM(CASE WHEN (' ' || text || ' ') LIKE '% the %'
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
        |        CAST(SUM(CASE WHEN len(w) > 0 AND
        |               CAST(len(w) AS BIGINT) * len(w) - 300 * len(w) + 50 * n_chars
        |               + 200 * len(list_filter(w, x -> x = 'the' OR x = 'a'))
        |               + 300 * len(list_distinct(w)) > 0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        |        CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bmp,
        |        CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_wav
        |      FROM wd),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_boiler FROM bp)
        |SELECT m.n_docs, m.n_sources, m.n_tokens, m.total_chars, m.n_en,
        |  m.n_keep, m.n_bmp, m.n_wav, b.n_boiler,
        |  CAST(b.n_boiler * 10000 // m.n_docs AS BIGINT) AS boiler_rate_x1e4,
        |  CAST(m.n_tokens // m.n_docs AS BIGINT) AS mean_tokens
        |FROM m CROSS JOIN b""".stripMargin,
  )
}
