package graft

import graft.operators.TextQueries
import org.apache.spark.sql.functions._

/** Focused gates for the round-14 optimizations that changed operator
  * internals (the oracle gates every registry row end-to-end; these pin
  * the specific rewritten mechanisms on hand-checkable inputs).
  *
  *  - The BPE merge loop was rewritten from filtered-window + two winner
  *    joins to one-pass window arithmetic (run break = running max of
  *    non-candidate positions); the degenerate-repeat corpus below makes
  *    every greedy-overlap rule observable: even offsets within a run
  *    win, a winner's successor drops, odd runs leave a tail symbol.
  *  - `bpeTrainShared` serves the session-pinned standing tokenizer; it
  *    must be bit-equal to a fresh trainer run, and a second call must
  *    serve the same frames (memo hit) rather than retraining.
  *  - The column profile was rewritten from one multi-countDistinct agg
  *    (Expand + SortAggregate) to per-column group-then-reduce; equality
  *    against the direct formulation is asserted on a real fixture table.
  */
class Round14OpsSpec extends SparkTestBase {

  private def trainOn(texts: Seq[String])(
      f: String => Unit): Unit = {
    val dir = tempDir("graft_r14_bpe_")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "src", t.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    f(dir)
  }

  test("greedy overlap resolution on degenerate repeats (aaaa/aaa)") {
    // doc1: 'aaaa' x3, doc2: 'aaa' x2 — round 1 merges (a,a) with count
    // 3*3 + 2*2 = 13; within 'aaaa' candidates sit at pos 1,2,3 and only
    // the even offsets (pos 1, 3) win -> [aa, aa]; within 'aaa' only pos 1
    // wins -> [aa, a]. Round 2 merges (aa,aa) count 3; round 3 (aa,a)
    // count 2; then the pair space is exhausted before the 8-round cap.
    trainOn(Seq("aaaa aaaa aaaa", "aaa aaa")) { dir =>
      val (merges, syms) = TextQueries.bpeTrain(spark, dir)
      val m = merges.orderBy(col("step")).collect()
        .map(r => (r.getAs[Long]("step"), r.getAs[String]("left_sym"),
          r.getAs[String]("right_sym"), r.getAs[String]("merged"),
          r.getAs[Long]("pair_count"))).toSeq
      assert(m === Seq(
        (1L, "a", "a", "aa", 13L),
        (2L, "aa", "aa", "aaaa", 3L),
        (3L, "aa", "a", "aaa", 2L)))
      val segs = syms.orderBy(col("word"), col("pos")).collect()
        .map(r => (r.getAs[String]("word"), r.getAs[String]("sym")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      assert(segs("aaaa") === Seq("aaaa"))
      assert(segs("aaa") === Seq("aaa"))
      CacheScope.releaseAll()
    }
  }

  test("mid-word run breaks keep even-offset winners (abaaaab)") {
    // 'abaaaab': after nothing merges but (a,a)... round 1 argmax is
    // (a,a) (count 3 within the word's aaaa run, freq 1). Candidates sit
    // at pos 3,4,5 (the run 'aaaa' at offsets 3..6); run break = pos 2
    // ('b'), so pos 3 and 5 win -> a b [aa][aa] b -> 'ab' + 2 merges + 'b'.
    trainOn(Seq("abaaaab abaaaab")) { dir =>
      val (merges, syms) = TextQueries.bpeTrain(spark, dir)
      val first = merges.orderBy(col("step")).collect().head
      assert((first.getAs[String]("left_sym"), first.getAs[String]("right_sym"))
        === ("a", "a"))
      // decode roundtrip must hold after every round of any corpus
      val bad = syms.groupBy(col("word"))
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("sym")))),
          x => x.getField("sym")), "").as("decoded"))
        .filter(col("decoded") =!= col("word")).count()
      assert(bad === 0L)
      CacheScope.releaseAll()
    }
  }

  test("bpeTrainShared == fresh trainer, and the second call is a memo hit") {
    val (m1, s1) = TextQueries.bpeTrainShared(spark, Sf)
    val (mRaw, sRaw) = TextQueries.bpeTrain(spark, Sf)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    assert(canon(m1) === canon(mRaw))
    assert(canon(s1.select(col("word"), col("pos"), col("sym")))
      === canon(sRaw.select(col("word"), col("pos"), col("sym"))))
    CacheScope.releaseAll() // drops the raw trainer's pins, NOT the memo
    val (m2, s2) = TextQueries.bpeTrainShared(spark, Sf)
    // memo hit: same checkpointed frames are served again, still readable
    assert(canon(m2) === canon(m1))
    assert(s2.count() === s1.count())
  }

  test("per-column profile equals the direct countDistinct formulation") {
    val got = SparkEntry.queries("profile_orders")(spark, Sf)
      .collect().map(_.toString).sorted.toSeq
    val t = Tables.orders
    val df = Tables.load(spark, Sf, "orders")
    val expected = t.cols.map { c =>
      df.agg(
        count(when(col(c).isNull, lit(1))).as("n_nulls"),
        countDistinct(col(c)).as("n_distinct"),
        min(col(c)).cast("string").as("min_val"),
        max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_nulls"), col("n_distinct"),
          col("min_val"), col("max_val"))
        .collect().head.toString
    }.sorted
    assert(got === expected)
  }
}
