package graft

import graft.functions.QuantizedVec
import graft.operators.SimilarityQueries
import org.apache.spark.sql.functions._

/** The custom Catalyst expressions: codegen path vs a plain-Scala reference
  * implementation, plus the cosine wiring. */
class QuantizedVecSpec extends SparkTestBase {
  import spark.implicits._

  private def refQ(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
  private def refDot(a: Seq[Float], b: Seq[Float]): Long =
    a.zip(b).map { case (x, y) => refQ(x) * refQ(y) }.sum
  private def refNorm(a: Seq[Float]): Long = a.map(x => { val q = refQ(x); q * q }).sum

  private val rnd = new scala.util.Random(7)
  private val vecs: Seq[(Long, Seq[Float])] =
    (0L until 20L).map(i => i -> Seq.fill(64)((rnd.nextDouble() - 0.5).toFloat))

  test("qdot/qnormsq match the reference implementation (codegen path)") {
    val df = vecs.toDF("id", "v")
    val paired = df.as("a").crossJoin(df.as("b"))
      .select($"a.id".as("ia"), $"b.id".as("ib"),
        QuantizedVec.qdot($"a.v", $"b.v").as("dot"),
        QuantizedVec.qnormsq($"a.v").as("nsq"))
      .collect()
    val byId = vecs.toMap
    paired.foreach { r =>
      val (ia, ib) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == refDot(byId(ia), byId(ib)), s"dot($ia,$ib)")
      assert(r.getLong(3) == refNorm(byId(ia)), s"nsq($ia)")
    }
  }

  test("quantization is floor(x*scale + 0.5): half-ties round toward +inf") {
    // scale=2: 1.25*2 = 2.5 (exact) → floor(3.0)=3; -1.25*2 = -2.5 →
    // floor(-2.0) = -2. Distinguishes floor(x+0.5) from banker's rounding
    // (2) and from round-half-away (-3).
    val df = Seq((Seq(1.25f, -1.25f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val dot = df.select(QuantizedVec.qdot($"a", $"b", scale = 2.0)).as[Long].head()
    assert(dot == 3L * 2L + -2L * 2L) // q(1.25)=3, q(-1.25)=-2, q(1.0)=2
  }

  test("ann_filtered_topk equals a driver-side exact top-10 over the label % 3 = 0 corpus") {
    val rows = Tables.load(spark, Sf, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue, r.getSeq[Float](2)))
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      refDot(a, b).toDouble / (math.sqrt(refNorm(a).toDouble) * math.sqrt(refNorm(b).toDouble))
    val stride = SimilarityQueries.probeStride(rows.length.toLong)
    val corpus = rows.filter(_._2 % 3 == 0)
    val expected = rows.filter(_._1 % stride == 0).flatMap { case (p, _, pe) =>
      corpus.filter(_._1 != p).map { case (v, _, e) => (v, cos(pe, e)) }
        .sortBy { case (v, c) => (-c, v) }.take(SimilarityQueries.TopK)
        .zipWithIndex.map { case ((v, _), i) => (p, v, i + 1L) }
    }.toSet
    val got = SparkEntry.queries("ann_filtered_topk")(spark, Sf)
      .select(col("probe_id"), col("neighbor_id"), col("rank")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.length == 500 && expected.nonEmpty && got == expected)
  }

  test("qcosine of identical vectors is 1.0") {
    val df = vecs.toDF("id", "v")
      .select($"id", $"v", QuantizedVec.qnormsq($"v").as("nsq"))
    val cos = df.select(
      QuantizedVec.qcosine($"v", $"v", $"nsq", $"nsq").as("c")).as[Double].collect()
    cos.foreach(c => assert(math.abs(c - 1.0) < 1e-12))
  }
}
