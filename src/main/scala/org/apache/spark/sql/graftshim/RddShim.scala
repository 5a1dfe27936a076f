package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Companion to [[ColumnShim]]: reaches the `private[sql]` plan node behind
  * a locally checkpointed frame so the engine can release its storage.
  *
  * `Dataset.localCheckpoint` persists an internal `RDD[InternalRow]` and
  * wraps it in a `LogicalRDD` leaf; `Dataset.unpersist` only consults the
  * `CacheManager`, which never knew about that RDD — so without this hook a
  * checkpointed frame's blocks are unreleasable through the public API.
  * [[graft.CacheScope]] uses it to give checkpoint blocks the same scoped
  * lifecycle as `persist()`ed plans, and to make a checkpoint whose job
  * fails release its blocks.
  */
object RddShim {
  /** Spark's eager local checkpoint of `df` at `level`, step for step:
    * one `localCheckpoint` SQL execution that plans `df`, persists
    * its RDD, runs the checkpoint job and only then builds the leaf, so the
    * leaf's statistics see any cache that job filled. The one difference:
    * when the job fails, the RDD persisted before it is released before
    * the error propagates. Spark's eager form returns no frame then, and
    * its lazy form builds the leaf's statistics before the job. */
  def localCheckpoint(df: DataFrame, level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      QueryExecution.withInternalError("""The "localCheckpoint" action failed.""") {
        qe.executedPlan.resetMetrics()
        val rdd = qe.executedPlan.execute().map(_.copy())
        rdd.persist(level).localCheckpoint()
        try rdd.doCheckpoint()
        catch { case e: Throwable => rdd.unpersist(blocking = false); throw e }
        classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
      }
    }
  }

  /** The checkpointed RDD behind `df`, if `df` is exactly a checkpoint /
    * existing-RDD leaf (possibly under a projection-free subquery alias). */
  def leafRdd(df: DataFrame): Option[RDD[_]] = df.queryExecution.analyzed match {
    case LogicalRDD(_, rdd, _, _, _, _) => Some(rdd)
    case _ => None
  }

  /** Every checkpoint / existing-RDD leaf anywhere in `df`'s plan — a
    * derived frame (filter/join/agg over a pinned frame) still references
    * the checkpointed RDD as one of its leaves. Used by
    * [[graft.CacheScope.requireLive]] to detect use-after-release. */
  def allLeafRdds(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case LogicalRDD(_, rdd, _, _, _, _) => rdd
    }
}
