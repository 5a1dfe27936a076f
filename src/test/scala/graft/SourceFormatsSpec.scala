package graft

import org.apache.spark.sql.functions._

/** Source-format coverage beyond parquet: the engine's operators are
  * source-agnostic DataFrame transforms, so a table landed as CSV or
  * JSON-lines must flow through the same diff unchanged. (The reference's
  * only source is JDBC — `/root/reference/db_impl.go:20-61` — covered by
  * DerbyJdbcSpec; this pins the file-format half of the source matrix.) */
class SourceFormatsSpec extends SparkTestBase {
  import graft.operators.{DiffQueries, SnapshotDiff}

  private def roundTrip(fmt: String): Unit = {
    val dir = tempDir(s"graft_$fmt")
    val t = Tables.nation
    val parquetDf = Tables.load(spark, Sf, t.name)
    parquetDf.write.mode("overwrite").format(fmt)
      .option("header", "true").save(dir)
    // read back through the SAME schema (CSV/JSON carry no types)
    val back = spark.read.format(fmt)
      .option("header", "true").schema(parquetDf.schema).load(dir)
    assert(back.collect().map(_.toSeq).toSet == parquetDf.collect().map(_.toSeq).toSet)
    // and the diff operator runs over it bit-identically
    val after = DiffQueries.after(spark, Sf, t)
    val viaParquet = SnapshotDiff.diff(parquetDf, after, t.pk)
      .collect().map(_.toSeq).toSet
    val viaFmt = SnapshotDiff.diff(back, after, t.pk)
      .collect().map(_.toSeq).toSet
    assert(viaFmt == viaParquet && viaFmt.nonEmpty)
  }

  test("CSV source round-trips and diffs identically to parquet")(roundTrip("csv"))
  test("JSON-lines source round-trips and diffs identically to parquet")(roundTrip("json"))
  test("ORC source round-trips and diffs identically to parquet")(roundTrip("orc"))

  test("JSON-lines with schema inference recovers the long/string columns") {
    val dir = tempDir("graft_jsoninfer")
    Tables.load(spark, Sf, "region").write.mode("overwrite").json(dir)
    val inferred = spark.read.json(dir)
    assert(inferred.schema("r_regionkey").dataType.typeName == "long")
    assert(inferred.schema("r_name").dataType.typeName == "string")
    assert(inferred.count() == Tables.load(spark, Sf, "region").count())
  }
}
