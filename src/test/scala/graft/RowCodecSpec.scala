package graft

import graft.operators.{DiffQueries, Normalize, RowCodec, SnapshotDiff}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import scala.jdk.CollectionConverters._

/** The diff core's row codec: the pack/unpack round trip, the codec as the
  * only owner of the separator, agreement of the two `row_fp` routes, and
  * the known separator defect, named by a pending case.
  */
class RowCodecSpec extends SparkTestBase {
  import spark.implicits._

  /** Values without the separator, weighted toward the edge cases: empty
    * strings (so rows often end in empties), the NULL sentinel literal,
    * regex metacharacters and non-ASCII text. */
  private val value: Gen[String] = Gen.frequency(
    3 -> Gen.const(""),
    1 -> Gen.const(Normalize.NullSentinel),
    1 -> Gen.oneOf("\\", "|", ".*", ",", "\u0002", "表"),
    5 -> Gen.asciiStr.map(_.filterNot(_ == '\u0001')))

  test("unpack(pack(vs)) == vs for values without the separator") {
    val batches = for {
      width <- Gen.choose(1, 6)
      rows <- Gen.nonEmptyListOf(Gen.listOfN(width, value))
    } yield rows
    val p = Prop.forAll(batches) { rows =>
      val cols = rows.head.indices.map(i => s"c$i")
      val schema = StructType(cols.map(StructField(_, StringType, nullable = false)))
      val df = spark.createDataFrame(rows.map(Row.fromSeq).asJava, schema)
      df.select(RowCodec.unpack(RowCodec.pack(cols))).as[Seq[String]].collect().toList == rows
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), p)
    assert(r.passed, r.toString)
  }

  test("the separator literals appear in src/main only in RowCodec.scala") {
    val hits = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filter { p =>
        val text = Files.readString(p)
        text.contains("u0001") || text.contains("chr(1)")
      }
      .map(_.getFileName.toString).toList
    assert(hits == List("RowCodec.scala"))
  }

  test("feed over the wide diff and feedCompact give the same rows") {
    val t = Tables.orders
    val before = Tables.load(spark, Sf, t.name)
    val after = DiffQueries.after(spark, Sf, t)
    def bag(df: DataFrame): Map[Seq[Any], Int] =
      df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, rs) => r -> rs.size }
    val wide = bag(SnapshotDiff.feed(SnapshotDiff.diff(before, after, t.pk), t.name, t.cols))
    assert(wide.nonEmpty)
    assert(bag(SnapshotDiff.feedCompact(before, after, t.pk, t.name)) == wide)
  }

  test("known defect: a value containing the separator is not diffed column-wise") {
    pendingUntilFixed {
      // both rows pack to "1<sep>a<sep><sep>b", so a real change is lost
      val before = Seq((1, "a\u0001", "b")).toDF("id", "c1", "c2")
      val after = Seq((1, "a", "\u0001b")).toDF("id", "c1", "c2")
      for (d <- Seq(SnapshotDiff.diff(before, after, Seq("id")),
          SnapshotDiff.feedCompact(before, after, Seq("id"), "t")))
        assert(d.select("diff_status", "side").as[(String, String)].collect().sorted.toSeq ==
          Seq(("UPDATED", "AFTER"), ("UPDATED", "BEFORE")))
      // the unpacked row has one value too many: F1 misaligns and c1 is cut
      val b1 = Seq((1, "x\u0001y")).toDF("id", "c1")
      val a1 = Seq((1, "x\u0001z")).toDF("id", "c1")
      val d1 = SnapshotDiff.diff(b1, a1, Seq("id"))
        .select("modified_columns", "side", "c1").as[(String, String, String)].collect().toSet
      assert(d1 == Set(("c1", "BEFORE", "x\u0001y"), ("c1", "AFTER", "x\u0001z")))
    }
  }
}
