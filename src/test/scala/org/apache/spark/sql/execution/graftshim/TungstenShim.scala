package org.apache.spark.sql.execution.graftshim

import org.apache.spark.SparkEnv
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeRow}
import org.apache.spark.sql.execution.joins.HashedRelation
import org.apache.spark.sql.types.DataType

/** Test-side reach into Spark's Tungsten memory: the running context's page
  * size (`private[spark]` `MemoryManager`) and the footprint of a broadcast
  * hash relation (`private[execution]` `HashedRelation`) as an executor
  * holds it. Like the two main-side shims in `org.apache.spark.sql.graftshim`,
  * re-verify this file on any Spark bump. */
object TungstenShim {
  /** The page size every task memory manager of the running context uses. */
  def pageSizeBytes: Long = SparkEnv.get.memoryManager.pageSizeBytes

  /** Builds the hash relation a broadcast join builds over `rows`, keyed on
    * column `keyOrdinal` of type `keyType`, and round-trips it through the
    * context's serializer, as an executor reads a broadcast. Returns the
    * `estimatedSize` of the built relation and of the deserialized copy;
    * both are closed, which frees their pages. */
  def roundTripSizes(rows: Seq[UnsafeRow], keyOrdinal: Int, keyType: DataType): (Long, Long) = {
    val built = HashedRelation(rows.iterator,
      Seq(BoundReference(keyOrdinal, keyType, nullable = false)), rows.size)
    try {
      val ser = SparkEnv.get.serializer.newInstance()
      val read = ser.deserialize[HashedRelation](ser.serialize(built))
      try (built.estimatedSize, read.estimatedSize) finally read.close()
    } finally built.close()
  }
}
