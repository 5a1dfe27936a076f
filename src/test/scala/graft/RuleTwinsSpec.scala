package graft

import graft.functions.{Hashing, QuantizedVec}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** The JVM forms of the two cross-engine rules agree with their Column
  * and generated forms: the md5-60 hash of [[graft.functions.Hashing]] and
  * the 10⁶ quantization of [[graft.functions.QuantizedVec]]. */
class RuleTwinsSpec extends SparkTestBase {
  import spark.implicits._

  test("Hashing.hash60 and md5Hex agree with the Column hash64 and hashHex") {
    val inputs = Seq("", "hello world", "é", "日本", "\u0001", "x" * 10240)
    val cols = inputs.toDF("s")
      .select($"s", Hashing.hash64($"s"), Hashing.hashHex($"s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    inputs.foreach { s =>
      val bytes = s.getBytes("UTF-8")
      val (h64, hex) = cols(s)
      assert(Hashing.hash60(bytes) == h64, s.take(8))
      assert(Hashing.md5Hex(bytes, 0, bytes.length).take(15) == hex, s.take(8))
      // an offset window hashes exactly its own bytes
      val padded = Array[Byte](1, 2, 3) ++ bytes ++ Array[Byte](4)
      assert(Hashing.md5Hex(padded, 3, bytes.length) == Hashing.md5Hex(bytes, 0, bytes.length))
    }
  }

  test("quantize, the Column quantized and qdot against a one-hot agree, codegen and interpreted") {
    val h = 0.0078125 // 2^-7: ×10⁶ is exactly 7812.5
    val xs = Seq(h, -h)
    val jvm = xs.map(QuantizedVec.quantize)
    assert(jvm == Seq(7813L, -7812L))
    assert(xs.toDF("x").select(QuantizedVec.quantized($"x")).as[Long].collect().toSeq == jvm)
    // q(1e-6) = 1, so qdot(x, e_i) reads q(x_i)
    def vec(et: DataType, v: Seq[Double]): ArrayData = et match {
      case FloatType => ArrayData.toArrayData(v.map(_.toFloat).toArray)
      case _ => ArrayData.toArrayData(v.toArray)
    }
    for (et <- Seq(FloatType, DoubleType); i <- xs.indices) {
      val oneHot = xs.indices.map(j => if (j == i) 1e-6 else 0.0)
      val in = InternalRow(vec(et, xs), vec(et, oneHot))
      val ty = ArrayType(et, containsNull = false)
      val dot = QuantizedVec.QuantizedDot(
        BoundReference(0, ty, nullable = false), BoundReference(1, ty, nullable = false))
      val generated = GenerateUnsafeProjection.generate(Seq(dot)).apply(in).getLong(0)
      assert(dot.eval(in) == jvm(i) && generated == jvm(i), s"$et e_$i")
    }
  }
}
