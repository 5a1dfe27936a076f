package graft

import graft.functions.Hashing
import graft.operators.TextQueries
import org.apache.spark.sql.functions._

/** Pins `text_bm25_topk` beyond the DuckDB hash gate: the retrieval
  * invariants (probe membership, self-exclusion, dense descending ranks),
  * the candidate-generation contract (n_shared recomputed by an
  * INDEPENDENT shingle-intersection chain), and the plan shape the 100 TB
  * argument rests on (probe batch broadcast, no cartesian). */
class Bm25Spec extends SparkTestBase {

  private lazy val out =
    SparkEntry.queries("text_bm25_topk")(spark, Sf).cache()

  test("probes are the stride batch; self never retrieved; ranks dense, scores descending") {
    val rows = out.collect()
    assert(rows.nonEmpty)
    val n = Tables.countOf(spark, Sf, "documents")
    val stride = graft.operators.SimilarityQueries.probeStride(n)
    rows.foreach { r =>
      assert(r.getAs[Long]("probe_id") % stride === 0L)
      assert(r.getAs[Long]("probe_id") !== r.getAs[Long]("neighbor_id"))
      assert(r.getAs[Long]("bm25_micro") > 0L)
      assert(r.getAs[Long]("n_shared") >= 1L)
    }
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq === (1L to byRank.length).toSeq)
      val scores = byRank.map(_.getAs[Long]("bm25_micro")).toSeq
      assert(scores === scores.sorted.reverse, s"scores not descending: $scores")
      assert(g.length <= TextQueries.Bm25TopK)
    }
  }

  test("n_shared equals an independently computed df-capped shingle intersection") {
    val docs = Tables.load(spark, Sf, "documents")
    // independent chain: distinct shingles per doc via the dedup helper
    // (NOT the query's tf/groupBy path), df from those, pairwise intersect
    val sh = graft.operators.DedupQueries.shingles(docs).cache()
    val capped = sh.join(
      sh.groupBy("shingle").count()
        .filter(col("count").between(2, TextQueries.Bm25DfCap))
        .select("shingle"),
      "shingle")
    val expected = capped.select(col("doc_id").as("probe_id"), col("shingle"))
      .join(capped.select(col("doc_id").as("neighbor_id"), col("shingle")), "shingle")
      .filter(col("probe_id") =!= col("neighbor_id"))
      .groupBy("probe_id", "neighbor_id").agg(count(lit(1)).as("exp_shared"))
    val mismatches = out.join(expected, Seq("probe_id", "neighbor_id"), "left_outer")
      .filter(col("exp_shared").isNull || col("exp_shared") =!= col("n_shared"))
      .count()
    assert(mismatches === 0L)
  }

  test("top-1 neighbor maximizes the independently recomputed BM25 score for one probe") {
    // recompute the full score for the FIRST probe with scalars pulled to
    // the driver and the arithmetic done in Scala — a different execution
    // path from both the query (columnar) and the oracle (DuckDB)
    val docs = Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), Hashing.tokens(col("text")).as("toks")).collect()
    val shOf: Map[Long, Seq[String]] = docs.map { r =>
      val t = r.getSeq[String](1)
      r.getAs[Long]("doc_id") -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
    }.toMap
    val nDocs = docs.length.toLong
    val ts = shOf.values.map(_.length.toLong).sum
    val df = shOf.values.flatMap(_.distinct).groupBy(identity).map { case (s, o) => s -> o.size }
    val stride = graft.operators.SimilarityQueries.probeStride(nDocs)
    val probe = shOf.keys.filter(_ % stride == 0).min
    val qTerms = shOf(probe).distinct.filter(s => df(s) >= 2 && df(s) <= TextQueries.Bm25DfCap)
    def score(cand: Long): Long = {
      val terms = shOf(cand)
      val dl = terms.length.toDouble
      qTerms.flatMap { t =>
        val tf = terms.count(_ == t).toDouble
        if (tf == 0) None
        else {
          val norm = TextQueries.Bm25OneMinusB + TextQueries.Bm25B * (dl * nDocs / ts)
          val idf = nDocs.toDouble / df(t)
          Some(math.floor(idf * ((tf * TextQueries.Bm25K1Plus1) /
            (tf + TextQueries.Bm25K1 * norm)) * 1000000.0 + 0.5).toLong)
        }
      }.sum
    }
    val expTop = shOf.keys.filter(_ != probe).map(c => (score(c), c))
      .filter(_._1 > 0).minBy { case (s, c) => (-s, c) }
    val got = out.filter(col("probe_id") === probe && col("rank") === 1)
      .select("neighbor_id", "bm25_micro").head()
    assert((got.getLong(1), got.getLong(0)) === expTop)
  }

  test("plan: probe batch broadcast into the posting join, no cartesian blowup") {
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
  }

  test("persisted index: full build + query == inline text_bm25_topk") {
    val dir = tempDir("graft_bm25_full")
    try {
      TextQueries.buildBm25Index(spark, Sf, dir)
      val fromIndex = TextQueries.queryBm25Index(spark, dir).collect().map(_.toSeq).toSet
      assert(fromIndex.nonEmpty && fromIndex == out.collect().map(_.toSeq).toSet)
    } finally CacheScope.releaseAll()
  }

  test("buildBm25Index releases its postings cache when a write fails") {
    spark.catalog.clearCache()
    // a regular file where the index directory should be: the first write throws
    val file = java.io.File.createTempFile("graft_bm25_file", ".bin")
    try {
      intercept[Exception](TextQueries.buildBm25Index(spark, Sf, file.getPath))
      assert(spark.sharedState.cacheManager.isEmpty, "postings frame left cached")
    } finally file.delete()
  }

  test("indexed query plan: no corpus rescan, probe side broadcast") {
    val df = SparkEntry.queries("text_bm25_indexed")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    // every FileScan must read index files, never documents.parquet —
    // the serving path may not re-tokenize the corpus
    val scans = p.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scans.nonEmpty)
    scans.foreach(s => assert(!s.contains("documents"), s))
    assert(!p.contains("regexp_extract_all"), "tokenizer in the serving plan")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    CacheScope.releaseAll()
  }

  test("standing index: one directory per session, deleted at releaseSession") {
    // the index directory every input file of the served plan sits under
    def indexDir(): java.io.File = {
      val dirs = SparkEntry.queries("text_bm25_indexed")(spark, Sf).inputFiles.toSeq
        .map(f => Iterator.iterate(new java.io.File(new java.net.URI(f)))(_.getParentFile)
          .find(_.getName.startsWith("graft_bm25_idx")).get)
        .distinct
      assert(dirs.size == 1, dirs)
      dirs.head
    }
    try {
      CacheScope.releaseSession()
      val first = indexDir()
      CacheScope.releaseAll() // the between-queries point keeps the index
      assert(indexDir() == first, "index rebuilt within one session")
      CacheScope.releaseSession()
      assert(!first.exists, s"$first survived releaseSession")
      val fresh = indexDir()
      assert(fresh != first && fresh.isDirectory)
    } finally {
      CacheScope.releaseSession()
      CacheScope.releaseAll()
    }
  }
}
