package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic cross-engine hashing.
  *
  * The LLM-pipeline operators (minhash, simhash, LSH) need a hash function
  * that produces identical values in the Spark engine and the DuckDB
  * oracle. Spark's `hash`/`xxhash64` and DuckDB's `hash` are different
  * algorithms, so we derive a 60-bit positive integer from the md5 hex
  * digest — md5 is identical everywhere and both engines evaluate it as a
  * codegen'd built-in. At 100 TB scale one would swap [[hash64]] for
  * `xxhash64` (cheaper, same distribution properties); the operator
  * structure is unchanged.
  *
  * This object is the one home of the md5 rule: the Column forms
  * ([[hash64]], [[hashHex]]), their DuckDB twins ([[hash60Sql]],
  * [[hash64Sql]], [[hashHexSql]]) and the JVM forms ([[hash60]],
  * [[md5Hex]]) the sketch aggregates and the decoders call.
  */
object Hashing {
  /** 60-bit positive hash of a string column (15 hex chars of md5). */
  def hash64(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL for the 60-bit md5 prefix of a VARCHAR expression. */
  def hash60Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e),1,15)) AS BIGINT)"

  /** DuckDB SQL equivalent of [[hash64]] for oracle generation. */
  def hash64Sql(e: String): String = hash60Sql(s"CAST($e AS VARCHAR)")

  /** Fixed-length hex hash as a STRING — for min-hash style aggregates,
    * lexicographic MIN over same-length hex ≡ numeric MIN, and skipping the
    * base conversion keeps the hot loop cheap. */
  def hashHex(c: Column): Column = substring(md5(c.cast("string")), 1, 15)

  /** DuckDB SQL equivalent of [[hashHex]]. */
  def hashHexSql(e: String): String = s"substr(md5(CAST($e AS VARCHAR)),1,15)"

  // One digest per thread: MessageDigest is stateful and not thread-safe,
  // and executor tasks of one JVM hash concurrently.
  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  private def digestOf(bytes: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val md = digest.get()
    md.reset()
    md.update(bytes, off, len)
    md.digest()
  }

  /** JVM twin of [[hash64]] over raw bytes: the top 60 bits of md5. */
  def hash60(bytes: Array[Byte]): Long = {
    val d = digestOf(bytes, 0, bytes.length)
    var be = 0L
    var i = 0
    while (i < 8) { be = (be << 8) | (d(i) & 0xffL); i += 1 }
    be >>> 4
  }

  /** Lower-case md5 hex digest of `bytes(off until off + len)`; its first
    * 15 characters are [[hashHex]] of the same bytes. */
  def md5Hex(bytes: Array[Byte], off: Int, len: Int): String =
    digestOf(bytes, off, len).map("%02x".format(_)).mkString

  /** Tokenization shared by the text/dedup operators: split on single
    * spaces, drop empties. */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => t =!= "")

  /** DuckDB SQL equivalent of [[tokens]]. */
  def tokensSql(e: String): String =
    s"list_filter(string_split($e, ' '), t -> t <> '')"
}
