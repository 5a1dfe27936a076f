package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Static catalog for the parquet test fixtures.
  *
  * Mirrors the reference's catalog introspection surface
  * (`/root/reference/dbutil.go:9-38` table list, `dbutil.go:41-146` PK map,
  * `dbutil.go:148-166` all-columns fallback for PK-less tables) as a static
  * `Seq[TableDef]`: with parquet the schema comes from the file footer, so
  * no catalog queries are needed — only the primary-key metadata, which a
  * file-based lake has to declare out of band anyway.
  */
final case class TableDef(name: String, cols: Seq[String], pk: Seq[String]) {
  /** Reference fallback path (`dbutil.go:136-141`): no PK → all columns key. */
  def keyless: TableDef = copy(pk = cols)
}

object Tables {
  val region   = TableDef("region", Seq("r_regionkey", "r_name"), Seq("r_regionkey"))
  val nation   = TableDef("nation", Seq("n_nationkey", "n_name", "n_regionkey"), Seq("n_nationkey"))
  val customer = TableDef("customer",
    Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"), Seq("c_custkey"))
  val supplier = TableDef("supplier",
    Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), Seq("s_suppkey"))
  val part = TableDef("part",
    Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"), Seq("p_partkey"))
  val orders = TableDef("orders",
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    Seq("o_orderkey"))
  val lineitem = TableDef("lineitem",
    Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    Seq("l_orderkey", "l_linenumber")) // composite key: exercises concat order (P3)
  val events = TableDef("events",
    Seq("event_id", "ts", "user_id", "event_type", "value", "props"), Seq("event_id"))
  val documents = TableDef("documents",
    Seq("doc_id", "text", "lang", "source", "n_chars"), Seq("doc_id"))
  val embeddings = TableDef("embeddings", Seq("vec_id", "embedding", "label"), Seq("vec_id"))

  /** Table list, sorted by name like the reference (`dbutil.go:15-19`). */
  val all: Seq[TableDef] =
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents, embeddings)
      .sortBy(_.name)

  /** Tables the snapshot-diff harness exercises (scalar columns only; the
    * reference scans every cell as a string, `extract_data.go:61-69` —
    * `embeddings` is excluded: its array column has no faithful
    * stringification in the reference's model, FIXTURES.md). */
  val diffable: Seq[TableDef] =
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents)

  /** Snapshot scan (reference S6, `extract_data.go:19-95`): one lazy
    * distributed DataFrame per table — never driver-materialized.
    *
    * `events.parquet` stores TIMESTAMP(NANOS), which Spark's parquet reader
    * rejects; read it as nanos-since-epoch longs and truncate to microsecond
    * timestamps — the same truncation DuckDB applies, so oracles agree.
    * Lakes written by other engines often carry TIMESTAMP_NTZ instead;
    * normalize that to session-local TIMESTAMP too (the session is pinned
    * UTC, so the cast is a re-tag, not a value change). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** COUNT(*) of a fixture table (parquet metadata count): the
    * auto-selection rungs (IVF geometry, blocking-key width, probe stride)
    * each need it, so it lives in the [[CacheScope]] session store keyed
    * on the table's files — one driver job per session and version of
    * the table, zero after. */
  def countOf(spark: SparkSession, sfDir: String, name: String): Long =
    CacheScope.sessionCount("count", s"$sfDir/$name.parquet", spark)(
      load(spark, sfDir, name).count())
}
