package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** KMV (k-minimum-values) distinct-count sketch as a native Catalyst
  * `TypedImperativeAggregate`.
  *
  * The cardinality-estimation counterpart of the reference's exact
  * `COUNT(*)` summaries (`/root/reference/dbutil.go:117-134`): at 100 TB a
  * per-key distinct count is a full shuffle of every key, while a KMV
  * sketch is a fixed k-longs state per group — partial-aggregated map-side,
  * merged by set-union, one shuffle of O(k) bytes per group.
  *
  * KMV estimator (Bar-Yossef et al., "Counting distinct elements in a data
  * stream", RANDOM 2002): hash every value uniformly into [0,1), keep the k
  * smallest distinct hashes; with u_k the k-th smallest, the estimate is
  * (k-1)/u_k — having seen fewer than k distinct hashes, the count is exact.
  *
  * Deliberately NOT HyperLogLog: md5-based KMV is a deterministic function
  * of the input SET — independent of partitioning, merge order, and row
  * order — so the DuckDB oracle reproduces the estimate bit-for-bit (the
  * driver's hash gate can check an *approximate* operator exactly). The
  * hash is the top 60 bits of md5, normalized by 2^60; the result is
  * returned as `floor(est * 1000 + 0.5)` milli-units in a LONG to stay off
  * float-rendering drift entirely.
  */
object KmvSketch {

  private val TwoPow60: Double = 1.152921504606846976e18

  case class KmvDistinct(
      child: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
    with UnaryLike[Expression] {

    require(k >= 2, s"kmv_distinct needs k >= 2, got $k")

    // input must already be a string (the Column API does not auto-cast:
    // the caller chooses the rendering the oracle's md5(CAST(..)) matches)
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"kmv_distinct expects a STRING input, got ${child.dataType.catalogString}")
    override def dataType: DataType = LongType
    override def nullable: Boolean = false
    override def prettyName: String = "kmv_distinct"

    override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
      new java.util.TreeSet[java.lang.Long]()

    private def trim(b: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      while (b.size > k) b.pollLast()
      b
    }

    override def update(b: java.util.TreeSet[java.lang.Long], input: InternalRow)
        : java.util.TreeSet[java.lang.Long] = {
      val v = child.eval(input)
      if (v != null) {
        val h = Hashing.hash60(v.asInstanceOf[UTF8String].getBytes)
        // only insert when it can make the k-smallest set
        if (b.size < k || h < b.last()) { b.add(h); trim(b) }
      }
      b
    }

    override def merge(b: java.util.TreeSet[java.lang.Long],
        other: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
      b.addAll(other)
      trim(b)
    }

    override def eval(b: java.util.TreeSet[java.lang.Long]): Any =
      if (b.size < k) b.size.toLong * 1000L
      else {
        val u = b.last().toDouble / TwoPow60
        math.floor((k - 1).toDouble / u * 1000.0 + 0.5).toLong
      }

    override def serialize(b: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 * b.size)
      bb.putInt(b.size)
      b.forEach(h => bb.putLong(h))
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val b = createAggregationBuffer()
      (0 until n).foreach(_ => b.add(bb.getLong))
      b
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildInternal(newChild: Expression): KmvDistinct =
      copy(child = newChild)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column API: KMV distinct estimate in milli-units (LONG). Non-string
    * inputs are implicit-cast to string before hashing, matching the
    * oracle's `md5(CAST(x AS VARCHAR))`. */
  def kmvDistinct(c: Column, k: Int): Column =
    ColumnShim.column(KmvDistinct(ColumnShim.expression(c), k).toAggregateExpression())
}
