package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.execution.graftshim.TungstenShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The engine's Tungsten page size ([[GraftSession.PageSizeBytes]]): what a
  * broadcast hash relation holds follows from it, and it bounds no record. */
class TungstenPageSpec extends SparkTestBase {
  private val MiB = 1024L * 1024

  test("the running context grows Tungsten memory in the engine's 2 MiB pages") {
    assert(spark.conf.get("spark.buffer.pageSize") == GraftSession.PageSizeBytes.toString)
    assert(GraftSession.PageSizeBytes == 2 * MiB)
    assert(TungstenShim.pageSizeBytes == GraftSession.PageSizeBytes)
  }

  test("a string-keyed hash relation over ten rows, read back as a broadcast, holds at most 3 MiB") {
    spark // the relation takes its page size from the running context
    val project = UnsafeProjection.create(Array[DataType](StringType, LongType))
    val rows = (0 until 10).map { i =>
      project(InternalRow(UTF8String.fromString(s"shingle-$i"), i.toLong)).copy()
    }
    val (built, read) = TungstenShim.roundTripSizes(rows, 0, StringType)
    assert(built <= 3 * MiB, s"built relation holds $built bytes")
    assert(read <= 3 * MiB, s"deserialized relation holds $read bytes")
  }

  test("the page is a granule, not a cap: 5 MiB strings pass a broadcast join, shuffle, sort and aggregate") {
    val len = 5 * 1024 * 1024
    // three rows (id, k, s): s is id's digit followed by 5 MiB of 'x', built
    // on the executors (the count reads id, so no constant folding puts the
    // string into a task)
    val big = spark.range(3).select(col("id"), concat(lit("k"), col("id")).as("k"),
      concat(col("id").cast("string"), expr(s"repeat('x', CAST(id * 0 + $len AS INT))")).as("s"))
    val pad = "x" * len
    def s(id: Long) = s"$id$pad"
    def run(df: DataFrame, operator: String): Seq[Seq[Any]] = {
      val out = df.collect().map(_.toSeq).toSeq
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains(operator), s"no $operator in\n$plan")
      out
    }
    // compares without printing 5 MiB values on failure
    def same(got: Seq[Seq[Any]], want: Seq[Seq[Any]], what: String): Unit = {
      def shape(rows: Seq[Seq[Any]]) = rows.map(_.map {
        case v: String => s"${v.take(2)}..(${v.length})"
        case v => String.valueOf(v)
      })
      assert(got == want, s"$what: got ${shape(got)}, want ${shape(want)}")
    }

    val joined = big.join(broadcast(big.select(col("k"), col("s").as("s2"))), "k")
      .select("id", "s", "s2")
    same(run(joined, "BroadcastHashJoin").sortBy(_.head.asInstanceOf[Long]),
      (0L to 2L).map(i => Seq(i, s(i), s(i))), "broadcast hash join")

    // above spark.shuffle.sort.bypassMergeThreshold (200), so the map side
    // runs Tungsten's serialized sort-shuffle writer
    val shuffled = big.repartition(201, col("k")).select("id", "s")
    same(run(shuffled, "Exchange hashpartitioning").sortBy(_.head.asInstanceOf[Long]),
      (0L to 2L).map(i => Seq(i, s(i))), "shuffle")

    val sorted = big.orderBy(col("s").desc).select("id", "s")
    same(run(sorted, "Sort ["), (2L to 0L by -1).map(i => Seq(i, s(i))), "global sort")

    val grouped = big.union(big).groupBy("s").agg(count(lit(1)), sum("id"))
    same(run(grouped, "HashAggregate").sortBy(_(2).asInstanceOf[Long]),
      (0L to 2L).map(i => Seq(s(i), 2L, 2 * i)), "hash aggregate")
  }
}
