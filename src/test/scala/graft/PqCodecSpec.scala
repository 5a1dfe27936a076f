package graft

import graft.functions.{Hashing, PqCodec, QuantizedVec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins the codegen'd PQ codec expressions ([[graft.functions.PqCodec]])
  * against the RELATIONAL formulation they replaced (components ⋈ codebook
  * ⇒ groupBy argmin) — the formulation the DuckDB oracle still replays.
  * Every vector's codes and every probe's full ADC table must match
  * bit-for-bit, and argmin ties must keep the lowest codeword id exactly
  * like `min(struct(dist2, c))`. */
class PqCodecSpec extends SparkTestBase {

  private val Dim = 64
  private val PqM = 8
  private val Pqk = 16
  private val Sub = Dim / PqM

  test("PqEncode and PqDistTable match the relational argmin chain bit-for-bit") {
    val raw = Tables.load(spark, Sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val comp = raw
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("d", "v")))
      .select(col("vec_id"), col("d"),
        floor(col("v").cast("double") * QuantizedVec.Scale + 0.5)
          .cast("long").as("qv"))
    val wC = Window.orderBy(col("__h"), col("vec_id"))
    val seedCodes = raw.select(col("vec_id"))
      .withColumn("__h", Hashing.hashHex(col("vec_id").cast("string")))
      .orderBy(col("__h"), col("vec_id")).limit(Pqk)
      .withColumn("c", (row_number().over(wC) - 1).cast("long"))
      .select(col("vec_id").as("__sv"), col("c"))
    val cb = comp.join(broadcast(seedCodes), col("vec_id") === col("__sv"))
      .select(col("c"), col("d"), col("qv").as("qc"))
    val dist = comp.join(broadcast(cb), "d")
      .groupBy(col("vec_id"), expr(s"d div $Sub").as("m"), col("c"))
      .agg(sum((col("qv") - col("qc")) * (col("qv") - col("qc"))).as("dist2"))
    val refCodes = dist.groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("dist2"), col("c"))).as("__mc"))
      .select(col("vec_id"), col("m"), col("__mc.c").as("code"))

    val arr = Array.ofDim[Long](PqM, Pqk, Sub)
    cb.collect().foreach { r =>
      val d = r.getInt(1)
      arr(d / Sub)(r.getLong(0).toInt)(d % Sub) = r.getLong(2)
    }
    val gotCodes = raw
      .select(col("vec_id"),
        posexplode(PqCodec.pqEncode(col("embedding"), arr)).as(Seq("m", "code")))
      .select(col("vec_id"), col("m").cast("long").as("m"), col("code"))
    assert(gotCodes.count() === refCodes.count())
    assert(gotCodes.except(refCodes).isEmpty && refCodes.except(gotCodes).isEmpty)

    val refDt = dist.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"), col("m"), col("c"), col("dist2"))
    val gotDt = raw.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id"),
        posexplode(PqCodec.pqDistTable(col("embedding"), arr)).as(Seq("pos", "dist2")))
      .select(col("vec_id"), expr(s"CAST(pos div $Pqk AS BIGINT)").as("m"),
        (col("pos") % Pqk).cast("long").as("c"), col("dist2"))
    assert(gotDt.count() === refDt.count())
    assert(gotDt.except(refDt).isEmpty && refDt.except(gotDt).isEmpty)
  }

  test("argmin ties keep the lowest codeword id") {
    // two IDENTICAL codewords: every vector is equidistant to both, so the
    // encode must pick codeword 0 in every subspace — the min(struct(_, c))
    // tiebreak the relational chain had
    val arr = Array.fill(PqM, 2, Sub)(7L)
    val one = Tables.load(spark, Sf, "embeddings").limit(3)
    val codes = one
      .select(posexplode(PqCodec.pqEncode(col("embedding"), arr)).as(Seq("m", "code")))
      .select(col("code")).collect().map(_.getLong(0)).toSeq
    assert(codes.nonEmpty && codes.forall(_ == 0L), codes)
  }

  test("interpreted eval matches codegen") {
    // force the non-codegen path through a fresh local relation where
    // Spark may constant-fold / interpret, and compare against collect()
    // of the codegen pipeline on the same rows
    val arr = Array.ofDim[Long](PqM, Pqk, Sub)
    for (m <- 0 until PqM; c <- 0 until Pqk; j <- 0 until Sub)
      arr(m)(c)(j) = (m * 31 + c * 7 + j).toLong
    val rows = Tables.load(spark, Sf, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding")).orderBy("vec_id").collect()
    val viaEval = rows.map { r =>
      val emb = r.getSeq[Float](1)
      val expr = PqCodec.PqEncode(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          emb, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)),
        arr)
      expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
    }
    val viaCodegen = Tables.load(spark, Sf, "embeddings").filter(col("vec_id") < 5)
      .select(col("vec_id"), PqCodec.pqEncode(col("embedding"), arr).as("codes"))
      .orderBy("vec_id").collect().map(_.getSeq[Long](1).toSeq)
    assert(viaEval.toSeq === viaCodegen.toSeq)
  }

  test("an embedding shorter than Dim with a tied codebook: interpreted eval matches codegen") {
    // 20 < Dim components: subspaces past the array's end have no
    // dimensions (every distance 0, code 0), subspace 2 is cut short, and
    // codewords 2k and 2k+1 are identical, so every argmin is a tie that
    // must keep the even id on both paths.
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val arr = Array.tabulate(PqM, Pqk, Sub)((_, c, j) => (c / 2 - 4) * 100000L + j * 1000L)
    val n = 20
    val emb = Array.tabulate(n)(i => ((i * 37 % 11) - 5) / 10.0f)
    val in = InternalRow(ArrayData.toArrayData(emb))
    val child = BoundReference(0, ArrayType(FloatType, containsNull = false), nullable = false)
    for (kernel <- Seq(PqCodec.PqEncode(child, arr), PqCodec.PqDistTable(child, arr))) {
      val viaEval = kernel.eval(in).asInstanceOf[ArrayData].toLongArray().toSeq
      val viaCodegen = GenerateUnsafeProjection.generate(Seq(kernel)).apply(in)
        .getArray(0).toLongArray().toSeq
      assert(viaEval === viaCodegen, kernel.prettyName)
      val emptyFrom = (n + Sub - 1) / Sub // first subspace with no component
      kernel match {
        case _: PqCodec.PqEncode =>
          assert(viaEval.length == PqM && viaEval.forall(_ % 2 == 0), viaEval)
          assert(viaEval.drop(emptyFrom).forall(_ == 0L), viaEval)
        case _ =>
          assert(viaEval.length == PqM * Pqk && viaEval.drop(emptyFrom * Pqk).forall(_ == 0L))
      }
    }
    // the codebook compares by value, and the two kernels never compare equal
    val copy = arr.map(_.map(_.clone))
    assert(PqCodec.PqEncode(child, arr) == PqCodec.PqEncode(child, copy))
    assert(PqCodec.PqEncode(child, arr).hashCode == PqCodec.PqEncode(child, copy).hashCode)
    assert(PqCodec.PqEncode(child, arr) != PqCodec.PqDistTable(child, arr))
  }
}
