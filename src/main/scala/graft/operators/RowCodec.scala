package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The normalized-row format of the diff core, for both engines.
  *
  * A normalized row ([[Normalize.withKey]]: every column a non-null string,
  * plus `__key`) is compared, shipped and fingerprinted as its value
  * columns in column order. This object is the one place that decides how:
  *
  *   - [[pack]] joins the values into ONE U+0001-separated string — the
  *     diff's shuffle form, its equality test, and the input of the md5
  *     ([[fingerprint]]) and 60-bit Merkle (`Hashing.hash64`) row hashes;
  *   - [[unpack]] splits a packed row back into its values;
  *   - [[modifiedColumns]] is the positional per-column compare (F1);
  *   - [[fingerprint128]] is the internal two-lane xxhash64 fingerprint;
  *   - the `...Sql` twins render the same pack and md5 fingerprint for the
  *     DuckDB oracle, the way `Hashing.hash64`/`hash64Sql` pair up.
  *
  * The packed form assumes that no value contains U+0001. Under that
  * assumption packed-string equality is the column-wise compare, and
  * `unpack(pack(vs)) == vs`. A value that contains the separator breaks
  * both: `("a<sep>", "b")` and `("a", "<sep>b")` pack to the same string.
  * `RowCodecSpec` names that defect in a pending case.
  * [[fingerprint128]] hashes each value with its length and has no
  * separator, so it does not share the defect.
  */
object RowCodec {
  private val Sep = "\u0001"

  /** The value columns of a normalized frame (every column but `__key`),
    * in column order. */
  def valueCols(df: DataFrame): IndexedSeq[String] =
    df.columns.filterNot(_ == Normalize.KeyCol).toIndexedSeq

  /** The named value columns as one packed string. */
  def pack(cols: Seq[String]): Column = concat_ws(Sep, cols.map(col): _*)

  /** DuckDB rendering of [[pack]] over SQL expressions. */
  def packSql(exprs: Seq[String]): String = s"concat_ws(chr(1), ${exprs.mkString(", ")})"

  /** A packed row as `array<string>` of its values. The `-1` limit keeps
    * trailing empty values, so the array has one element per packed
    * column. */
  def unpack(packed: Column): Column = split(packed, "\\u0001", -1)

  /** F1: the comma-joined names of the columns whose values differ between
    * two packed rows of the same columns, in column order
    * (ModifiedColumnIndex, `extract_data.go:174-183`). It evaluates two
    * splits and interpreted lambdas, so callers compute it only for rows
    * already known to differ. */
  def modifiedColumns(cols: Seq[String], before: Column, after: Column): Column = {
    val names = array(cols.map(lit(_)): _*)
    val neq = zip_with(unpack(before), unpack(after), (bv, av) => bv =!= av)
    concat_ws(",", filter(zip_with(names, neq, (n, d) => when(d, n)), x => x.isNotNull))
  }

  /** md5 row fingerprint of a packed row: the `row_fp` the change feeds
    * emit and the three-way merge compares. */
  def fingerprint(packed: Column): Column = md5(packed)

  /** DuckDB rendering of `fingerprint(pack(...))` over SQL expressions. */
  def fingerprintSql(exprs: Seq[String]): String = s"md5(${packSql(exprs)})"

  /** 128-bit row fingerprint as two independent codegen'd xxhash64 lanes.
    * Multi-column hashing folds each value in with its length, so adjacent
    * columns cannot alias and no separator string is built. Only compared
    * inside the engine (Merkle checksums, the fused report), so no DuckDB
    * twin constrains it. */
  def fingerprint128(cols: Seq[String]): (Column, Column) = {
    val cs = cols.map(col)
    (xxhash64(cs: _*), xxhash64(lit(1L) +: cs: _*))
  }
}
