package graft

import graft.operators.{Normalize, SnapshotDiff}
import org.apache.spark.sql.DataFrame

/** Diff-algebra properties from SURVEY §5: reflexivity, swap symmetry,
  * UPDATED pairing, cardinality, and the normalization edge cases
  * (NULL sentinel, separator-less key concat, keyless path).
  * Property inputs are seeded-random snapshot pairs (deterministic runs).
  */
class SnapshotDiffSpec extends SparkTestBase {
  import spark.implicits._

  private def df(rows: Seq[(Int, String, String)]): DataFrame =
    rows.toDF("id", "c1", "c2")

  /** Random snapshot with unique keys; nulls included. */
  private def randSnap(rnd: scala.util.Random): Seq[(Int, String, String)] = {
    val c1s = Array("a", "b", "c", null)
    val c2s = Array("x", "y", null)
    (0 until rnd.nextInt(25))
      .map(_ => (rnd.nextInt(30), c1s(rnd.nextInt(4)), c2s(rnd.nextInt(3))))
      .groupBy(_._1).map(_._2.head).toSeq
  }

  private def cases: Seq[(Seq[(Int, String, String)], Seq[(Int, String, String)])] = {
    val rnd = new scala.util.Random(42)
    (0 until 8).map(_ => (randSnap(rnd), randSnap(rnd)))
  }

  test("diff(A, A) is empty") {
    for ((r1, _) <- cases)
      assert(SnapshotDiff.diff(df(r1), df(r1), Seq("id")).count() == 0)
  }

  test("swap flips INSERTED<->DELETED and BEFORE<->AFTER") {
    for ((r1, r2) <- cases) {
      val (a, b) = (df(r1), df(r2))
      val fwd = SnapshotDiff.diff(a, b, Seq("id"))
        .select("__key", "diff_status", "side").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val bwd = SnapshotDiff.diff(b, a, Seq("id"))
        .select("__key", "diff_status", "side").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
      val flipped = bwd.map {
        case (k, "INSERTED", _) => (k, "DELETED", "BEFORE")
        case (k, "DELETED", _) => (k, "INSERTED", "AFTER")
        case (k, s, "BEFORE") => (k, s, "AFTER")
        case (k, s, "AFTER") => (k, s, "BEFORE")
        case other => other
      }
      assert(fwd == flipped)
    }
  }

  test("every UPDATED key appears exactly twice with identical modified_columns") {
    for ((r1, r2) <- cases) {
      val d = SnapshotDiff.diff(df(r1), df(r2), Seq("id"))
        .filter($"diff_status" === "UPDATED")
        .select("__key", "modified_columns", "side").collect()
      d.groupBy(_.getString(0)).foreach { case (_, rows) =>
        assert(rows.length == 2)
        assert(rows.map(_.getString(1)).distinct.length == 1)
        assert(rows.map(_.getString(2)).toSet == Set("BEFORE", "AFTER"))
      }
    }
  }

  test("NULL renders as sentinel and NULL == NULL") {
    val before = Seq((1, null: String, "x"), (2, "<NULL>", "y")).toDF("id", "c1", "c2")
    val after = Seq((1, null: String, "x"), (2, null: String, "y")).toDF("id", "c1", "c2")
    val d = SnapshotDiff.diff(before, after, Seq("id"))
    // row 1: NULL==NULL → NOT_MODIFIED → filtered; row 2: literal '<NULL>'
    // vs NULL are indistinguishable post-normalize (reference fidelity bug,
    // extract_data.go:111-115) → also filtered.
    assert(d.count() == 0)
  }

  test("key concat has no separator (reference collision semantics)") {
    val n = Normalize.withKey(Seq(("ab", "c"), ("a", "bc")).toDF("k1", "k2"), Seq("k1", "k2"))
    val keys = n.select("__key").as[String].collect()
    assert(keys.toSet == Set("abc")) // both rows collide, faithfully
  }

  test("keyless diff treats any change as delete+insert") {
    val before = Seq((1, "a"), (2, "b")).toDF("id", "v")
    val after = Seq((1, "a"), (2, "c")).toDF("id", "v")
    val d = SnapshotDiff.diff(before, after, Seq("id", "v")).collect()
    assert(d.map(_.getAs[String]("diff_status")).sorted.toSeq == Seq("DELETED", "INSERTED"))
  }

  test("modified_columns lists exactly the changed columns in column order") {
    val before = Seq((1, "a", "x"), (2, "a", "x"), (3, "a", "x")).toDF("id", "c1", "c2")
    val after = Seq((1, "b", "y"), (2, "a", "y"), (3, "a", "x")).toDF("id", "c1", "c2")
    val mods = SnapshotDiff.diff(before, after, Seq("id"))
      .select("__key", "modified_columns").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(mods == Map("1" -> "c1,c2", "2" -> "c2"))
  }

  test("negative paths fail loudly, not silently") {
    val a = df(Seq((1, "a", "x")))
    // plain diff demands identical shape — a dropped column must throw at
    // ANALYSIS time (diffEvolved is the sanctioned cross-shape path)
    intercept[org.apache.spark.sql.AnalysisException] {
      SnapshotDiff.diff(a, a.drop("c2"), Seq("id")).collect()
    }
    // schema evolution that drops a PK column is unanswerable
    intercept[IllegalArgumentException] {
      SnapshotDiff.diffEvolved(a,
        a.drop("id").withColumn("id2", org.apache.spark.sql.functions.lit(1)), Seq("id"))
    }
    // empty pk is disallowed (keyless tables pass ALL columns instead)
    intercept[IllegalArgumentException] {
      Normalize.withKey(a, Seq.empty)
    }
  }

  test("cardinality: counts by status are consistent") {
    for ((r1, r2) <- cases) {
      val d = SnapshotDiff.diff(df(r1), df(r2), Seq("id"))
      val byStatus = d.groupBy("diff_status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStatus.keySet.subsetOf(Set("INSERTED", "DELETED", "UPDATED")))
      assert(byStatus.getOrElse("UPDATED", 0L) % 2 == 0)
      assert(d.count() == byStatus.values.sum)
    }
  }

  test("compose(diff(A,B), diff(B,C)) == diff(A,C) on random triples") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 6) {
      val (a, b, c) = (df(randSnap(rnd)), df(randSnap(rnd)), df(randSnap(rnd)))
      val composed = SnapshotDiff.composeDiffs(
        SnapshotDiff.diffOneWinner(a, b, Seq("id")),
        SnapshotDiff.diffOneWinner(b, c, Seq("id")))
        .collect().map(_.toSeq).toSet
      val direct = SnapshotDiff.diffOneWinner(a, c, Seq("id"))
        .collect().map(_.toSeq).toSet
      assert(composed == direct)
    }
  }

  test("merkle-pruned diff == full diff on random pairs, every bucket count") {
    val rnd = new scala.util.Random(11)
    for ((nb, _) <- Seq(1, 4, 64).zipWithIndex; _ <- 0 until 2) {
      val (a, b) = (df(randSnap(rnd)), df(randSnap(rnd)))
      val full = SnapshotDiff.diff(a, b, Seq("id")).collect().map(_.toSeq).toSet
      val pruned = SnapshotDiff.merklePrunedDiff(a, b, Seq("id"), nb)
        .collect().map(_.toSeq).toSet
      assert(pruned == full, s"nBuckets=$nb")
    }
  }

  test("both merkle checksum profiles pick the same dirty buckets on random pairs") {
    val rnd = new scala.util.Random(13)
    for (nb <- Seq(1, 4, 64); _ <- 0 until 2) {
      val (bn, an) = (Normalize.withKey(df(randSnap(rnd)), Seq("id")),
        Normalize.withKey(df(randSnap(rnd)), Seq("id")))
      def buckets(lanes: SnapshotDiff.Lanes): Set[Long] =
        SnapshotDiff.merkleSummary(bn, an, nb, lanes)
          .select("bucket").collect().map(_.getLong(0)).toSet
      assert(buckets(SnapshotDiff.Lanes128) == buckets(SnapshotDiff.Md5Lane), s"nBuckets=$nb")
    }
  }
}
