package graft.sources

import graft.TableDef
import org.apache.spark.sql.{DataFrame, SparkSession}

/** JDBC snapshot source — the engine's equivalent of the reference's live
  * RDBMS scans (`/root/reference/db_impl.go:20-61` connections,
  * `dbutil.go:9-146` catalog, `extract_data.go:19-95` snapshot scan).
  *
  * The parquet harness never exercises this path (no database in the test
  * container), but a user of the reference switching to this engine points
  * these readers at the same PostgreSQL/MySQL/SQL Server instance:
  *
  *   - table list + PK discovery run the reference's own catalog SQL on
  *     one driver-side JDBC connection (the `information_schema` joins
  *     execute inside the source DB, exactly as in the reference — SURVEY
  *     §2.3 J2); the result is catalog-sized, so no Spark job runs;
  *   - [[snapshot]] is a one-partition Spark JDBC scan: the app's
  *     parallelism is across tables, one pin per table running
  *     concurrently;
  *   - `Normalize`/`SnapshotDiff` then apply unchanged — the diff operator
  *     is source-agnostic.
  */
object JdbcSnapshots {
  /** JDBC connection string per dialect — the engine-side analogue of the
    * reference's DSN builders (`db_impl.go:20-61`): postgres/mysql/mssql
    * from host+port+database, plus embedded Derby (database = path or
    * `memory:name`). Credentials travel as JDBC properties, not in the URL. */
  def jdbcUrl(dialect: String, host: String, port: String, database: String): String =
    dialect match {
      case "postgresql" => s"jdbc:postgresql://$host:$port/$database"
      case "mysql"      => s"jdbc:mysql://$host:$port/$database"
      case "mssql"      => s"jdbc:sqlserver://$host:$port;databaseName=$database"
      case "derby"      => s"jdbc:derby:$database"
      case d => throw new IllegalArgumentException(s"unsupported dialect: $d")
    }

  /** Reference catalog queries per dialect (`dbutil.go:9-38`). */
  def tableListSql(dialect: String, schema: String): String = dialect match {
    case "postgresql" =>
      s"SELECT relname AS table_name FROM pg_stat_user_tables ORDER BY relname"
    case "mysql" =>
      "SELECT table_name FROM information_schema.tables " +
        "WHERE table_schema = database() ORDER BY table_name"
    case "mssql" =>
      "SELECT name AS table_name FROM sys.objects WHERE type = 'U' ORDER BY name"
    // Embedded-test dialect (also a real 4th production target): Derby has
    // no information_schema — its catalog is the SYS.* tables.
    case "derby" =>
      s"""SELECT t.tablename AS table_name FROM sys.systables t
         |JOIN sys.sysschemas s ON t.schemaid = s.schemaid
         |WHERE t.tabletype = 'T' AND s.schemaname = ${sqlStringLiteral(schema)}
         |ORDER BY t.tablename""".stripMargin
    case d => throw new IllegalArgumentException(s"unsupported dialect: $d")
  }

  /** Reference PK queries per dialect (`dbutil.go:41-114`), parameterized by
    * table; ordered by ordinal_position — PK column order is load-bearing
    * for key concat (SURVEY §2.6 O2). The table name comes from the live
    * catalog (the reference binds it as a prepared-statement parameter)
    * but is still escaped before interpolation: an unusual name (embedded
    * quote) must not break or inject into the source query. The constraint
    * joins match on catalog + schema + name, as the reference does —
    * constraint NAMES are only unique per schema, so the name-only join
    * would cross-pollute PKs between schemas. */
  def pkSql(dialect: String, rawTable: String, schema: String): String = {
    val table = sqlStringLiteral(rawTable, dialect)
    dialect match {
    case "postgresql" =>
      s"""SELECT kcu.column_name
         |FROM information_schema.table_constraints tc
         |JOIN information_schema.constraint_column_usage ccu
         |  ON tc.constraint_catalog = ccu.constraint_catalog
         | AND tc.constraint_schema = ccu.constraint_schema
         | AND tc.constraint_name = ccu.constraint_name
         |JOIN information_schema.key_column_usage kcu
         |  ON tc.constraint_catalog = kcu.constraint_catalog
         | AND tc.constraint_schema = kcu.constraint_schema
         | AND tc.constraint_name = kcu.constraint_name
         | AND ccu.column_name = kcu.column_name
         |WHERE tc.constraint_type = 'PRIMARY KEY' AND tc.table_name = $table
         |ORDER BY kcu.ordinal_position""".stripMargin
    case "mysql" =>
      s"""SELECT column_name FROM information_schema.columns
         |WHERE table_schema = database() AND table_name = $table
         |  AND column_key = 'PRI' ORDER BY ordinal_position""".stripMargin
    case "mssql" =>
      s"""SELECT kcu.column_name
         |FROM information_schema.table_constraints tc
         |JOIN information_schema.key_column_usage kcu
         |  ON tc.constraint_catalog = kcu.constraint_catalog
         | AND tc.constraint_schema = kcu.constraint_schema
         | AND tc.constraint_name = kcu.constraint_name
         |WHERE tc.constraint_type = 'PRIMARY KEY' AND tc.table_name = $table
         |ORDER BY kcu.ordinal_position""".stripMargin
    case d => throw new IllegalArgumentException(s"unsupported dialect: $d")
    }
  }

  /** A SQL single-quoted string literal of `v`: embedded quotes doubled,
    * the ANSI escape every target dialect shares. Control characters are
    * rejected outright — no real catalog emits them, and refusing beats
    * trusting dialect-specific backslash behavior. MySQL's default
    * `sql_mode` (without NO_BACKSLASH_ESCAPES) treats `\` inside a string
    * literal as an escape introducer, so a name ending in `\` would turn
    * the closing `''` into `\''` — an escaped quote plus a dangling quote,
    * unbalancing the literal. No single rendering is correct under both
    * sql_mode settings (`\\` means one backslash with escapes on, two with
    * them off), and the server's mode is invisible from here — so names
    * containing a backslash are rejected outright for mysql, the same
    * refuse-don't-guess posture as control characters. */
  def sqlStringLiteral(v: String, dialect: String = "ansi"): String = {
    require(!v.exists(_ < ' '), s"control character in identifier: ${v.map(_.toInt)}")
    if (dialect == "mysql")
      require(!v.contains('\\'),
        s"backslash in identifier is ambiguous under mysql sql_mode: $v")
    "'" + v.replace("'", "''") + "'"
  }

  /** The reference's snapshot-query qualification (`extract_data.go:29-35`):
    * `SELECT * FROM <schema><table>` where the configured schema INCLUDES
    * its trailing dot (`configuration_test.go:87`). Accepts all three
    * conventions a user writes — "sch." (reference form), "sch" (dot
    * added), "" (bare table) — and never produces `sch..table`. */
  def qualifiedTable(schema: String, table: String): String = {
    val s = schema.trim
    if (s.isEmpty) table
    else if (s.endsWith(".")) s + table
    else s + "." + table
  }

  /** Runs `f` on one driver-side connection to `url`, closed afterwards. */
  private def withConnection[A](url: String, props: Map[String, String])(
      f: java.sql.Connection => A): A = {
    val p = new java.util.Properties()
    props.foreach { case (k, v) => p.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, p)
    try f(conn) finally conn.close()
  }

  /** Every row of `rs` through `read`; the result set is closed even when
    * a read throws. */
  private def rows[A](rs: java.sql.ResultSet)(read: java.sql.ResultSet => A): Seq[A] =
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[A]
      while (rs.next()) buf += read(rs)
      buf.toSeq
    } finally rs.close()

  /** The first column of every row `sql` returns, as strings. */
  private def strings(conn: java.sql.Connection, sql: String): Seq[String] = {
    val st = conn.createStatement()
    try rows(st.executeQuery(sql))(_.getString(1)) finally st.close()
  }

  /** PK discovery via the JDBC driver's own metadata
    * (`DatabaseMetaData.getPrimaryKeys`), ordered by KEY_SEQ — the same
    * ordinal-position ordering the information_schema queries produce. Used
    * for Derby, whose PK catalog isn't reachable through plain SQL (it
    * exposes its index descriptors as opaque objects). */
  private def metadataPks(conn: java.sql.Connection, schema: String,
      table: String): Seq[String] =
    rows(conn.getMetaData.getPrimaryKeys(null, schema, table))(
      r => (r.getShort("KEY_SEQ"), r.getString("COLUMN_NAME"))).sortBy(_._1).map(_._2)

  /** Catalog introspection: (table, pk columns) pairs, all on one
    * driver-side connection — the table list and each table's PK query
    * return catalog-sized results, so no Spark job runs. The PK-less
    * fallback (all columns as key, `dbutil.go:136-141`) is applied by the
    * caller via `TableDef.keyless` once the snapshot's schema is known. */
  def catalog(dialect: String, url: String, schema: String,
      props: Map[String, String] = Map.empty): Seq[(String, Seq[String])] =
    withConnection(url, props) { conn =>
      strings(conn, tableListSql(dialect, schema)).map { t =>
        val pks = dialect match {
          case "derby" => metadataPks(conn, schema, t)
          case _ => strings(conn, pkSql(dialect, t, schema))
        }
        (t, pks)
      }
    }

  /** Single-partition snapshot scan of `table`; `props` pass through as
    * JDBC reader options (credentials, driver). The reference's ORDER BY pk
    * (`extract_data.go:31-42`) is dropped — semantically inert for the
    * diff (SURVEY §2.6 O1). */
  def snapshot(spark: SparkSession, url: String, table: String,
      props: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("jdbc").option("url", url).option("dbtable", table)
      .options(props).load()
}
