package graft

import org.apache.spark.sql.functions._

/** Cross-cutting checks over the full query registry + targeted assertions
  * for text/multimodal operators. */
class OperatorSmokeSpec extends SparkTestBase {
  import spark.implicits._

  test("every query has either oracle SQL or a documented reason; names are unique") {
    val qs = SparkEntry.queries
    val missing = qs.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs.keySet))
  }

  test("flagship entry returns changed lineitem rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("text_stats n_chars agrees with the fixture's own n_chars column") {
    val stats = SparkEntry.queries("text_stats")(spark, Sf).select("doc_id", "n_chars")
    val fixture = Tables.load(spark, Sf, "documents")
      .select(col("doc_id"), col("n_chars").as("expected"))
    val mismatches = stats.join(fixture, "doc_id")
      .filter(col("n_chars") =!= col("expected")).count()
    assert(mismatches == 0)
  }

  test("text_bpe_merges trains the full merge ladder with consistent rows") {
    val m = SparkEntry.queries("text_bpe_merges")(spark, Sf).collect()
    assert(m.length == graft.operators.TextQueries.BpeMerges)
    assert(m.map(_.getAs[Long]("step")).sorted.toSeq ==
      (1L to graft.operators.TextQueries.BpeMerges).toSeq)
    m.foreach { r =>
      assert(r.getAs[String]("merged") ==
        r.getAs[String]("left_sym") + r.getAs[String]("right_sym"))
      assert(r.getAs[Long]("pair_count") > 0)
    }
    // merged symbols are distinct (each round consumes its pair)
    assert(m.map(_.getAs[String]("merged")).distinct.length == m.length)
  }

  test("text_bpe_merges stops when a degenerate corpus exhausts adjacent pairs") {
    // one two-char word: round 1 merges (a,b) into a single symbol, after
    // which no adjacent pair exists — the trainer must emit exactly that
    // one merge and stop (mirroring the oracle's ORDER BY … LIMIT 1 over
    // an empty frame = no row), never an all-NULL row per leftover round
    val dir = tempDir("bpe-degenerate")
    Seq((0L, "ab ab ab", "en", "web", 8L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val m = SparkEntry.queries("text_bpe_merges")(spark, dir).collect()
    assert(m.length == 1, m.mkString("; "))
    assert(m.head.getAs[String]("left_sym") == "a" &&
      m.head.getAs[String]("right_sym") == "b" &&
      m.head.getAs[String]("merged") == "ab" &&
      m.head.getAs[Long]("pair_count") == 3L)
  }

  test("bpe decode round-trips every trained segmentation to its word") {
    // the lossless-tokenizer property: decode(encode(word)) == word for
    // EVERY word the trainer segmented — concatenating a word's symbol
    // sequence in position order reproduces the word exactly
    val dec = SparkEntry.queries("text_bpe_decode")(spark, Sf)
    CacheScope.requireLive(dec)
    val bad = dec.filter(!col("roundtrip")).count()
    assert(bad == 0, s"$bad words failed decode(encode(word)) == word")
    // and the decoded vocabulary covers exactly the trainer's word set
    val nWords = Tables.load(spark, Sf, "documents")
      .select(explode(graft.functions.Hashing.tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 2).select(col("w")).distinct().count()
    assert(dec.count() == nWords)
    // doc-level corollary: rejoining each document's (length>=2) words
    // after a word-level decode reproduces the normalized document
    val docWords = Tables.load(spark, Sf, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.Hashing.tokens(col("text"))).as(Seq("p", "w")))
      .filter(length(col("w")) >= 2)
    val viaDecode = docWords
      .join(dec.select(col("word").as("w"), col("decoded")), "w")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("decoded")))),
        x => x.getField("decoded")), " ").as("rebuilt"))
    val direct = docWords.groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("p"), col("w")))),
        x => x.getField("w")), " ").as("expected"))
    val docBad = viaDecode.join(direct, "doc_id")
      .filter(col("rebuilt") =!= col("expected")).count()
    assert(docBad == 0, s"$docBad documents failed doc-level decode round-trip")
    CacheScope.releaseAll()
  }

  test("multimodal decode is deterministic and complete") {
    val f1 = SparkEntry.queries("mm_decode_features")(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint")).toMap
    val f2 = SparkEntry.queries("mm_decode_features")(spark, Sf).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fingerprint")).toMap
    assert(f1 == f2)
    assert(f1.size == Tables.load(spark, Sf, "documents").count())
  }

  test("langid detects the dominant language of an english marker text") {
    // fixture text is synthetic english-ish word salad: detector should
    // never pick a language with zero marker hits over one with hits
    val d = SparkEntry.queries("text_langid")(spark, Sf)
    val bad = d.filter(col("detected_lang") === "en" && col("score_en") === 0).count()
    assert(bad == 0)
  }
}
