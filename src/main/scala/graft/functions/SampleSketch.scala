package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Bottom-k uniform row sample as a native Catalyst
  * `TypedImperativeAggregate` — the quantile member of the sketch family
  * next to [[KmvSketch]] (distinct counts) and [[FreqSketch]] (heavy
  * hitters).
  *
  * The scale problem: an exact per-group quantile over 100 TB needs every
  * row of the group on one side of a sort (or the full rank-arithmetic
  * pass `events_value_quantiles` runs). A bottom-k sketch (Cohen & Kaplan,
  * "Summarizing data using bottom-k sketches", PODC 2007) instead keeps
  * the k rows whose id-hash is smallest — a deterministic uniform sample
  * of the group's rows. State is O(k) per group, partials merge by
  * set-union + trim (associative, commutative, idempotent), so map-side
  * combine does almost all the work and one fixed-size state crosses the
  * shuffle per group. Quantiles of the sample estimate quantiles of the
  * group with standard error ~ sqrt(p(1-p)/k), and a group with fewer
  * than k rows degrades to the EXACT sorted value set.
  *
  * Like the KMV sketch, the hash is the top 60 bits of md5 over a caller-
  * chosen unique row id — a deterministic function of the input row SET,
  * independent of partitioning, merge order, and row order — so the DuckDB
  * oracle reproduces the approximate result bit-for-bit: the sample IS the
  * k rows with lexicographically smallest (hash, value), in both engines.
  *
  * The aggregate returns the sampled values sorted ascending
  * (`ARRAY<DOUBLE>`); quantile extraction composes relationally on top
  * (`element_at(samp, 1 + floor(p * (size - 1)))`), keeping the sketch a
  * generic building block (the same sample serves mean/variance/histogram
  * estimates without another pass).
  *
  * Reference counterpart: the closest the reference gets to value
  * summaries is its exact global counts (`/root/reference/dbutil.go:117-134`);
  * this is the distribution-summary operator a 100 TB profile pass needs.
  */
object SampleSketch {

  /** (hash60(id), value) pairs, k smallest kept; ties collapse as in the
    * oracle's `SELECT DISTINCT hv, value` (only reachable via a 60-bit
    * md5 collision between distinct ids carrying equal values). */
  private type Pair = (Long, Double)

  /** (hash, value) order — a top-level serializable object so the
    * comparator ships inside the serialized task cleanly. */
  private object PairOrder extends java.util.Comparator[Pair] with Serializable {
    override def compare(a: Pair, b: Pair): Int = {
      val c = java.lang.Long.compare(a._1, b._1)
      if (c != 0) c else java.lang.Double.compare(a._2, b._2)
    }
  }

  case class BottomKSample(
      left: Expression,
      right: Expression,
      k: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[Pair]]
    with BinaryLike[Expression] {

    require(k >= 1, s"bottomk_sample needs k >= 1, got $k")

    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == DoubleType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"bottomk_sample expects (DOUBLE value, STRING id), got " +
          s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullable: Boolean = false
    override def prettyName: String = "bottomk_sample"

    override def createAggregationBuffer(): java.util.TreeSet[Pair] =
      new java.util.TreeSet[Pair](PairOrder)

    private def trim(b: java.util.TreeSet[Pair]): java.util.TreeSet[Pair] = {
      while (b.size > k) b.pollLast()
      b
    }

    override def update(b: java.util.TreeSet[Pair], input: InternalRow)
        : java.util.TreeSet[Pair] = {
      val v = left.eval(input)
      val id = right.eval(input)
      if (v != null && id != null) {
        val p = (Hashing.hash60(id.asInstanceOf[UTF8String].getBytes),
          v.asInstanceOf[java.lang.Double].doubleValue())
        // only insert when it can make the bottom-k set
        if (b.size < k || PairOrder.compare(p, b.last()) < 0) { b.add(p); trim(b) }
      }
      b
    }

    override def merge(b: java.util.TreeSet[Pair],
        other: java.util.TreeSet[Pair]): java.util.TreeSet[Pair] = {
      b.addAll(other)
      trim(b)
    }

    override def eval(b: java.util.TreeSet[Pair]): Any = {
      val vs = new Array[Double](b.size)
      var i = 0
      b.forEach { p => vs(i) = p._2; i += 1 }
      java.util.Arrays.sort(vs)
      new GenericArrayData(vs)
    }

    override def serialize(b: java.util.TreeSet[Pair]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(4 + 16 * b.size)
      bb.putInt(b.size)
      b.forEach { p => bb.putLong(p._1); bb.putDouble(p._2) }
      bb.array()
    }

    override def deserialize(bytes: Array[Byte]): java.util.TreeSet[Pair] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val n = bb.getInt
      val b = createAggregationBuffer()
      (0 until n).foreach(_ => b.add((bb.getLong, bb.getDouble)))
      b
    }

    override def withNewMutableAggBufferOffset(newOffset: Int): BottomKSample =
      copy(mutableAggBufferOffset = newOffset)
    override def withNewInputAggBufferOffset(newOffset: Int): BottomKSample =
      copy(inputAggBufferOffset = newOffset)
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): BottomKSample =
      copy(left = newLeft, right = newRight)
  }

  import org.apache.spark.sql.graftshim.ColumnShim

  /** Column API: deterministic bottom-k row sample of `value`, keyed by the
    * md5 order of the unique row id `id`; returns the sampled values sorted
    * ascending. */
  def bottomKSample(value: Column, id: Column, k: Int): Column =
    ColumnShim.column(
      BottomKSample(ColumnShim.expression(value), ColumnShim.expression(id), k)
        .toAggregateExpression())
}
