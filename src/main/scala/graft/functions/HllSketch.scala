package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HyperLogLog distinct-count sketch as a native Catalyst
  * `TypedImperativeAggregate` — the canonical cardinality sketch next to
  * [[KmvSketch]] (Flajolet et al., "HyperLogLog: the analysis of a
  * near-optimal cardinality estimation algorithm", AofA 2007).
  *
  * State is M = 256 byte-registers: bucket = top 8 bits of the 60-bit
  * md5-derived hash, register = max over values of rho(lower 52 bits)
  * (leading-zero count + 1; 53 for the all-zeros tail). Update and merge
  * are elementwise MAX — commutative, associative, idempotent — so the
  * registers are a deterministic function of the input SET, independent of
  * partitioning, merge order, and duplication. Partial aggregation ships
  * 256 bytes per group; a 100 TB per-source cardinality profile shuffles
  * KBs, not keys. The same property makes the aggregate run unchanged as a
  * Structured Streaming aggregation.
  *
  * Cross-engine exactness (the driver's hash gate checks an APPROXIMATE
  * operator exactly): the raw-estimate denominator is kept in EXACT
  * integer arithmetic — S = Σ_j 2^(53 − M_j) as a BIGINT (≤ 256·2^53 <
  * 2^62) — because a float Σ 2^−M_j depends on summation order, which SQL
  * does not define. The estimate is then ONE double expression with a
  * pinned operation order, written identically here and in the DuckDB
  * oracle: floor(α·m²·2^53 / S · 1000 + 0.5) milli-units. The raw
  * estimator is emitted UNCORRECTED next to V (empty-register count):
  * the small-range linear-counting correction needs ln(), whose last-ulp
  * behavior differs across libm implementations — so the correction
  * belongs to the consumer, and both its inputs (S, V) are exact sketch
  * state the oracle replays bit-for-bit.
  *
  * Output: struct(s BIGINT, zero_regs BIGINT, raw_millis BIGINT).
  */
object HllSketch {
  val M = 256          // registers (b = 8 bucket bits)
  val WBits = 52       // tail bits observed for rho
  val RhoMax = 53      // rho of an all-zeros tail

  /** α_m·m²·2^53 double prefactor, in the exact literal/op order the
    * oracle SQL uses: (0.7213 / (1 + 1.079/256)) * 65536 * 2^53. */
  private val AlphaExpr: Double = 0.7213 / (1.0 + 1.079 / 256.0)

  case class HllDistinct(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Byte]]
    with UnaryLike[Expression] {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"hll_distinct expects a STRING input, got ${child.dataType.catalogString}")
    override def dataType: DataType = StructType(Seq(
      StructField("s", LongType, nullable = false),
      StructField("zero_regs", LongType, nullable = false),
      StructField("raw_millis", LongType, nullable = false)))
    override def nullable: Boolean = false
    override def prettyName: String = "hll_distinct"

    override def createAggregationBuffer(): Array[Byte] = new Array[Byte](M)

    override def update(b: Array[Byte], input: InternalRow): Array[Byte] = {
      val v = child.eval(input)
      if (v != null) {
        val h = Hashing.hash60(v.asInstanceOf[UTF8String].getBytes)
        val bucket = (h >>> WBits).toInt                 // top 8 bits
        val w = h & ((1L << WBits) - 1)
        val rho =
          if (w == 0L) RhoMax
          else RhoMax - (64 - java.lang.Long.numberOfLeadingZeros(w)) // 53 - bitlength
        if (rho > b(bucket)) b(bucket) = rho.toByte
      }
      b
    }

    override def merge(b: Array[Byte], other: Array[Byte]): Array[Byte] = {
      var i = 0
      while (i < M) { if (other(i) > b(i)) b(i) = other(i); i += 1 }
      b
    }

    override def eval(b: Array[Byte]): Any = {
      var s = 0L
      var zeros = 0L
      var i = 0
      while (i < M) {
        s += 1L << (RhoMax - b(i))
        if (b(i) == 0) zeros += 1
        i += 1
      }
      // pinned op order, mirrored by the oracle SQL text
      val raw = math.floor(
        AlphaExpr * 65536.0 * 9007199254740992.0 / s.toDouble * 1000.0 + 0.5).toLong
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](s, zeros, raw))
    }

    override def serialize(b: Array[Byte]): Array[Byte] = b
    override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

    override def withNewMutableAggBufferOffset(newOffset: Int): HllDistinct =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): HllDistinct =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): HllDistinct =
      copy(child = newChild)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column API: HLL sketch readout struct(s, zero_regs, raw_millis). */
  def hllDistinct(c: Column): Column =
    ColumnShim.column(HllDistinct(ColumnShim.expression(c)).toAggregateExpression())

  /** The oracle's replay of the same sketch over `src` (a relation with a
    * string column `expr` pre-rendered): registers via group-max of rho,
    * empty buckets joined in from range(m), exact S/V, and the SAME
    * pinned double expression for the raw estimate. */
  def oracleSql(valueExpr: String, src: String): String = {
    val hv = Hashing.hash60Sql(valueExpr)
    s"""SELECT
       |  CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s,
       |  CAST(SUM(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_regs,
       |  CAST(floor(0.7213 / (1 + 1.079/256) * 65536 * 9007199254740992
       |       / CAST(SUM(1::BIGINT << (53 - m)) AS DOUBLE) * 1000 + 0.5) AS BIGINT)
       |    AS raw_millis
       |FROM (
       |  SELECT g.bucket, COALESCE(r.m, 0) AS m
       |  FROM (SELECT unnest(range(0, 256)) AS bucket) g
       |  LEFT JOIN (
       |    SELECT hv >> 52 AS bucket,
       |      MAX(CASE WHEN (hv & ((1::BIGINT << 52) - 1)) = 0 THEN 53
       |          ELSE 53 - length(bin(hv & ((1::BIGINT << 52) - 1))) END) AS m
       |    FROM (SELECT $hv AS hv FROM $src) hh
       |    GROUP BY 1) r
       |  ON r.bucket = g.bucket) regs""".stripMargin
  }
}
