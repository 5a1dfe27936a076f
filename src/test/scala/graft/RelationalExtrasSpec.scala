package graft

import org.apache.spark.sql.functions._

/** Round-3 additions to the relational and pipeline surface: Q2-style
  * min-cost join, pivot reshaping, sequence packing, and chunk-overlap
  * dedup. Semantics cross-checked against independent formulations; plan
  * shapes pinned where scale depends on them.
  */
class RelationalExtrasSpec extends SparkTestBase {
  import spark.implicits._
  private val B = graft.operators.DedupQueries.DeltaBase // synthetic-dup band base

  test("q2 min-cost join == window-based min (independent formulation)") {
    val viaJoin = SparkEntry.queries("q2_min_cost_supp")(spark, Sf)
      .select("p_partkey", "s_name", "min_cost")
      .as[(Long, String, Double)].collect().toSet
    // alternative: rank offers per part with a window, keep cost == min
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l_partkey"))
    val p = Tables.load(spark, Sf, "part").filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_name"))
    val offers = Tables.load(spark, Sf, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_cost"))
      .withColumn("mc", min(col("unit_cost")).over(w))
      .filter(col("unit_cost") === col("mc"))
      .select(col("l_partkey"), col("l_suppkey"), col("mc")).distinct()
    val s = Tables.load(spark, Sf, "supplier")
    val n = Tables.load(spark, Sf, "nation")
    // identical total order to the query under test (incl. n_name), so the
    // two LIMIT 100 cuts select the same rows even on acctbal ties
    val viaWindow = offers.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"), col("l_partkey"))
      .limit(100)
      .select("l_partkey", "s_name", "mc")
      .as[(Long, String, Double)].collect().toSet
    assert(viaJoin == viaWindow && viaJoin.nonEmpty)
  }

  test("pivot equals the long-form groupBy reshaped") {
    val wide = SparkEntry.queries("q_pivot_status")(spark, Sf)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val long = Tables.load(spark, Sf, "orders")
      .groupBy("o_orderpriority", "o_orderstatus").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1).map { case (p, rows) =>
        val m = rows.map(r => r._2 -> r._3).toMap
        p -> (m.getOrElse("F", 0L), m.getOrElse("O", 0L), m.getOrElse("P", 0L))
      }
    assert(wide == long && wide.nonEmpty)
  }

  test("sequence packing: offsets in range, cumulative ids, one exchange, no global sort") {
    val df = SparkEntry.queries("pipeline_pack_sequences")(spark, Sf)
    val rows = df.select("source", "doc_id", "n_tokens", "seq_id", "seq_offset")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, _, off) => assert(off >= 0 && off < 2048) }
    // within each source, seq_id is nondecreasing in doc_id and the first
    // document starts at (0, 0)
    rows.groupBy(_._1).values.foreach { g =>
      val sorted = g.toSeq.sortBy(_._2)
      assert(sorted.head._4 == 0L && sorted.head._5 == 0L)
      assert(sorted.map(_._4).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
      // token-stream conservation: each doc starts where the previous ended
      sorted.sliding(2).foreach {
        case Seq((_, _, n1, s1, o1), (_, _, _, s2, o2)) =>
          assert(s2 * 2048 + o2 == s1 * 2048 + o1 + n1)
        case _ =>
      }
    }
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan.take(2000))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(2000))
  }

  test("chunk-overlap dedup: exact copies pair with their originals") {
    val pairs = SparkEntry.queries("dedup_chunk_overlap")(spark, Sf)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // the synthesized corpus duplicates doc_id % 50 == 0 as doc_id+B
    // (exact copy) — every such pair must share all of the original's chunks
    val docs = Tables.load(spark, Sf, "documents")
      .filter(col("doc_id") % 50 === 0).select("doc_id").as[Long].collect()
    assert(docs.nonEmpty)
    docs.foreach { d =>
      assert(pairs.contains((d, d + B)), s"missing exact-dup pair for $d")
    }
    // and the appended-tail near-copies (+2*B) share at least the leading
    // chunk whenever the original has >= 1 full chunk boundary intact
    val nearHits = docs.count(d => pairs.contains((d, d + (2*B))))
    assert(nearHits > 0)
  }

  test("scd2: open rows reconstruct the after snapshot; closed+open partition the keys") {
    import graft.operators.{DiffQueries, Normalize, SnapshotDiff}
    val t = Tables.orders
    val before = Tables.load(spark, Sf, t.name)
    val after = DiffQueries.after(spark, Sf, t)
    val hist = SnapshotDiff.scd2(before, after, t.pk)
    val dataCols = hist.columns.filterNot(c =>
      c == Normalize.KeyCol || c == "valid_from" || c == "valid_to")
    // current rows (valid_to IS NULL) == the normalized one-winner after
    val current = hist.filter(col("valid_to").isNull)
      .select(dataCols.map(col): _*).collect().map(_.toSeq).toSet
    val an = SnapshotDiff.oneRowPerKey(Normalize.withKey(after, t.pk))
    val expected = an.select(dataCols.map(col): _*).collect().map(_.toSeq).toSet
    assert(current == expected && current.nonEmpty)
    // rows starting at version 0 == the normalized one-winner before
    val v0 = hist.filter(col("valid_from") === 0)
      .select(dataCols.map(col): _*).collect().map(_.toSeq).toSet
    val bn = SnapshotDiff.oneRowPerKey(Normalize.withKey(before, t.pk))
    assert(v0 == bn.select(dataCols.map(col): _*).collect().map(_.toSeq).toSet)
    // no key carries two open rows
    val dupOpen = hist.filter(col("valid_to").isNull)
      .groupBy(col(Normalize.KeyCol)).count().filter(col("count") > 1).count()
    assert(dupOpen == 0)
  }

  test("q_window_range: band counts include value ties, single window exchange") {
    val df = SparkEntry.queries("q_window_range")(spark, Sf)
    val rows = df.as[(Long, String, Double, Long, Double)].collect()
    assert(rows.nonEmpty)
    // brute-force re-check on one priority class
    val urgent = rows.filter(_._2 == "1-URGENT")
    val prices = urgent.map(_._3)
    urgent.foreach { case (_, _, p, n, mn) =>
      val band = prices.filter(q => q >= p - 10000.0 && q <= p)
      assert(band.length == n && math.abs(band.min - mn) < 1e-9)
    }
    val plan = df.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1, plan.take(2000))
  }
}
