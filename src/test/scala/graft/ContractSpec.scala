package graft

/** Guards on the driver contract (SparkEntry): the correctness gate only
  * checks queries that DECLARE an oracle, so a name drift or a silently
  * shadowed duplicate would weaken the gate without failing anything.
  */
class ContractSpec extends SparkSpec {

  /** The documented rows-only set: by-contract-approximate ANN top-k
    * (audited via q51c/q51d). Everything else — including the multimodal
    * decode (q52, real codecs since r5) — carries a DuckDB oracle. */
  // Since the q51/q51b oracles landed (seeded hyperplanes / Lloyd unrolling
  // embedded as literals), EVERY entry carries a DuckDB oracle.
  private val rowsOnly = Set.empty[String]

  test("query names are unique (ListMap would silently shadow duplicates)") {
    val sqlNames = Queries.specs.map(_.name)
    assert(sqlNames.distinct.size == sqlNames.size,
      s"duplicate spec names: ${sqlNames.diff(sqlNames.distinct).distinct}")
    val extNames = pipeline.Ext.queries.map(_._1)
    assert((sqlNames ++ extNames).distinct.size == sqlNames.size + extNames.size,
      "Ext query names collide with SQL spec names")
  }

  test("every query has a DuckDB oracle except the documented rows-only set") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == rowsOnly,
      s"oracle coverage drifted: rows-only should be $rowsOnly, found $noOracle")
  }

  test("Verify takes two or three args; any other count is a usage error, not a MatchError") {
    assert(Verify.parseArgs(Array("sf", "out")).contains(("sf", "out", "")))
    assert(Verify.parseArgs(Array("sf", "out", "q1,q2")).contains(("sf", "out", "q1,q2")))
    for (n <- Seq(0, 1, 4)) assert(Verify.parseArgs(Array.fill(n)("x")).isEmpty)
  }

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("entry (flagship) returns rows on sf0.001") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty, "driver smoke contract: entry must return rows")
  }

  test("no all-pairs gram self-join escapes the [2,32] posting-list cap") {
    // The k²-per-hot-gram blowup (VERDICT r6/r7): `a JOIN b ON a.gram =
    // b.gram AND a.doc_id < b.doc_id` over an exploded n-gram table pairs
    // every co-occurrence — boilerplate grams in a crawl corpus make that
    // quadratic. Every such join must sit in a query that first windows
    // the posting list to [2, 32] docs per gram (singletons pair nothing,
    // hotter grams are boilerplate handled by q287's spread ranking).
    // Adjacent-id joins (b.doc_id = a.doc_id + 1, q46's shape) are linear
    // by construction and exempt.
    // Lint the SPARK dialect only: it is the production path that must
    // hold at 100 TB. The DuckDB oracles of the banded-LSH entries
    // (q49/q49b/q49c/q327/q332/q343) DELIBERATELY recompute the exact
    // all-pairs ground truth — that quadratic runs once, in DuckDB, at the
    // sf-pinned gate, and is the point of having an oracle.
    val allPairs =
      """JOIN\s+\w+\s+b\s+ON\s+a\.(g|gram|h|bh)\s*=\s*b\.\1\s+AND\s+a\.doc_id\s*<\s*b\.doc_id""".r
    val uncapped = Queries.specs.collect {
      case s if allPairs.findFirstIn(s.spark).isDefined &&
        !s.spark.contains("BETWEEN 2 AND 32") => s.name
    }
    assert(uncapped.isEmpty, s"uncapped all-pairs gram self-join in: $uncapped")
  }
}
