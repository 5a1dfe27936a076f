package graft

import graft.operators.SnapshotDiff
import graft.streaming.StreamingDiff
import graft.streaming.StreamingDiff.{DiffEvent, KeyedRow}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

/** The CDC streaming diff emits the same events as the batch diff over the
  * equivalent snapshot pair. */
class StreamingDiffSpec extends SparkTestBase {
  import spark.implicits._

  private val colNames = Seq("c1", "c2")

  test("streaming distribution drift equals the batch diff_dist_drift table exactly") {
    // the stream applies the mutation as stateless fan-out and aggregates
    // the histogram in Complete mode; after the feed drains, the monitor's
    // table must be the batch operator's answer row-for-row — including
    // the emergent 'X' bucket with before_n = 0
    val streamed = SparkEntry.queries("stream_dist_drift")(spark, Sf)
      .collect().map(_.toSeq).toSet
    val batch = SparkEntry.queries("diff_dist_drift")(spark, Sf)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.exists(r => r(0) == "o_orderstatus" && r(1) == "X"))
  }

  test("changelog diff matches batch snapshot diff") {
    // snapshot 1 and snapshot 2 of a tiny table keyed by id
    val before = Seq((1, "a", "x"), (2, "b", "y"), (3, "c", "z")).toDF("id", "c1", "c2")
    val after = Seq((1, "a", "x"), (2, "B", "y"), (4, "d", "w")).toDF("id", "c1", "c2")

    val batch = SnapshotDiff.diff(before, after, Seq("id"))
      .collect()
      .map(r => (r.getAs[String]("__key"), r.getAs[String]("diff_status"),
        r.getAs[String]("modified_columns"), r.getAs[String]("side"))).toSet

    // the same change set as a changelog: initial load + updates + tombstone
    val batch1 = Seq(
      KeyedRow("1", Seq("a", "x"), tombstone = false),
      KeyedRow("2", Seq("b", "y"), tombstone = false),
      KeyedRow("3", Seq("c", "z"), tombstone = false))
    val batch2 = Seq(
      KeyedRow("1", Seq("a", "x"), tombstone = false), // unchanged → no event
      KeyedRow("2", Seq("B", "y"), tombstone = false), // updated
      KeyedRow("3", Seq.empty, tombstone = true),      // deleted
      KeyedRow("4", Seq("d", "w"), tombstone = false)) // inserted

    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedRow]
    val q = StreamingDiff.diffStream(input.toDS(), colNames)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_cdc").start()
    input.addData(batch1)
    q.processAllAvailable()
    // capture the initial-load events, then feed the second snapshot
    val initial = spark.table("graft_cdc").as[DiffEvent].collect()
    input.addData(batch2)
    q.processAllAvailable()
    q.stop()

    val all = spark.table("graft_cdc").as[DiffEvent].collect()
    val secondBatch = all.drop(initial.length)
      .map(e => (e.key, e.diff_status, e.modified_columns, e.side)).toSet

    // initial load: every snapshot-1 row surfaces as INSERTED
    assert(initial.map(_.diff_status).toSet == Set("INSERTED") && initial.length == 3)
    // second batch reproduces the batch diff exactly
    assert(secondBatch == batch)
  }

  test("tombstone for unknown key is ignored; re-insert after delete works") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KeyedRow]
    val q = StreamingDiff.diffStream(input.toDS(), colNames)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("graft_cdc2").start()
    input.addData(Seq(
      KeyedRow("9", Seq.empty, tombstone = true),       // unknown delete
      KeyedRow("5", Seq("v", "w"), tombstone = false))) // insert
    q.processAllAvailable()
    input.addData(Seq(
      KeyedRow("5", Seq.empty, tombstone = true),       // delete
      KeyedRow("5", Seq("v2", "w"), tombstone = false))) // re-insert
    q.processAllAvailable()
    q.stop()
    val evs = spark.table("graft_cdc2").as[DiffEvent].collect()
      .map(e => (e.key, e.diff_status)).toList
    assert(evs == List(("5", "INSERTED"), ("5", "DELETED"), ("5", "INSERTED")))
  }

  test("two-phase parquet CDC run killed and resumed from its checkpoint equals the uninterrupted run") {
    // the REAL file-source pipeline (not MemoryStream): phase 1 drains the
    // before-snapshot changelog, the query is stopped, a fresh query
    // resumes from the same checkpoint (offset log + state store), and
    // phase 2's mutation batch arrives only after the restart — final
    // per-(status, side) counts must equal the uninterrupted session's
    def counts(restart: Boolean) = StreamingDiff.runCdc(spark, Sf, restart)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val uninterrupted = counts(restart = false)
    val resumed = counts(restart = true)
    assert(uninterrupted.exists { case (s, _, n) => s == "INSERTED" && n > 0 })
    assert(resumed == uninterrupted, s"resumed=$resumed uninterrupted=$uninterrupted")
  }

  test("keyed state survives a checkpointed query restart") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft_cdc_ckpt")
    val events = new java.util.concurrent.ConcurrentLinkedQueue[DiffEvent]()
    val input = MemoryStream[KeyedRow]
    def start() = StreamingDiff.diffStream(input.toDS(), colNames)
      .writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[DiffEvent], _: Long) =>
        ds.collect().foreach(events.add)
      }
      .start()

    val q1 = start()
    input.addData(Seq(
      KeyedRow("1", Seq("a", "x"), tombstone = false),
      KeyedRow("2", Seq("b", "y"), tombstone = false)))
    q1.processAllAvailable()
    q1.stop()
    assert(events.size == 2)
    assert(events.iterator().next().diff_status == "INSERTED")

    // restart from the checkpoint: the last-row-per-key state must be
    // RESTORED, so an unchanged re-send emits nothing and an update emits
    // exactly its before/after pair (lost state would re-emit INSERTED)
    val q2 = start()
    input.addData(Seq(
      KeyedRow("1", Seq("a", "x"), tombstone = false), // unchanged -> silent
      KeyedRow("2", Seq("B", "y"), tombstone = false))) // updated
    q2.processAllAvailable()
    q2.stop()

    import scala.jdk.CollectionConverters._
    val post = events.asScala.toSeq.drop(2)
    assert(post.map(_.diff_status).toSet == Set("UPDATED"), post.toString)
    assert(post.forall(_.key == "2"), post.toString)
    assert(post.map(_.side).toSet == Set("BEFORE", "AFTER"))
    assert(post.forall(_.modified_columns == "c1"))
  }
}
