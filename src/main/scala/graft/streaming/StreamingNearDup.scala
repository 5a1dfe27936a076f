package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.DedupQueries

/** Streaming MinHash-LSH NEAR-deduplication — the continuous twin of the
  * flagship batch `dedup_minhash_lsh` operator, for the ingest pipeline
  * that must flag a re-crawled near-copy the moment it arrives instead of
  * re-banding the lake nightly.
  *
  * The batch operator computes signatures with an explode → groupBy
  * min-aggregate — a shuffle a stream cannot afford per document. Here the
  * ENTIRE signature is stateless per-row array arithmetic
  * ([[statelessBands]]): shingle array → one md5 per shingle → 16 linear
  * permutations minimized by `array_min` — bit-identical lanes to the
  * batch aggregate (spec-pinned by `StreamingNearDupSpec`), zero shuffles
  * before the state op. The only stateful stage is candidate generation:
  * state per LSH band-bucket is the doc-id list seen in that bucket, and a
  * new arrival emits one candidate pair per prior occupant. Bucket
  * occupancy — not corpus size — bounds both the state row and the
  * emission fan-out, and the 4×4 banding spreads buckets uniformly unless
  * the docs really are near-dups, exactly the property that makes batch
  * LSH linear. State shards across executors by bucket hash; at 100 TB
  * the standing state is O(corpus bands) ≈ 4 longs + key per doc, the
  * same order as the standing index `dedup_incremental` maintains.
  *
  * Emission is order-dependent (who was "already there" depends on
  * arrival), but the candidate-pair SET is not: every co-bucketed pair is
  * emitted by whichever member arrives second. The run folds the sunk
  * pairs through the batch exact-Jaccard verify, so the final table is
  * the batch operator's answer exactly — one oracle gates both.
  *
  * The pairs land in a parquet file sink (never a driver-heap memory
  * sink) run under [[StreamRun]].
  */
object StreamingNearDup {
  final case class BandRow(bucket: String, doc_id: Long)
  final case class CandPair(doc_a: Long, doc_b: Long)

  /** The dedup corpus's synthetic "new arrivals" derived STATELESSLY on the
    * stream: every 50th document fans out to itself, an exact copy
    * (+DeltaBase) and an appended-tail near-copy (+2·DeltaBase) — the same
    * rows `DedupQueries.corpusSql` unions in batch, without a second
    * source. */
  def withDelta(docs: DataFrame): DataFrame = {
    val d = DedupQueries.DeltaBase
    docs
      .select(explode(expr(
        s"""CASE WHEN doc_id % 50 = 0 THEN array(
           |  named_struct('doc_id', doc_id, 'text', text),
           |  named_struct('doc_id', doc_id + ${d}L, 'text', text),
           |  named_struct('doc_id', doc_id + ${2 * d}L,
           |               'text', concat(text, ' zz yy xx ww vv')))
           |ELSE array(named_struct('doc_id', doc_id, 'text', text)) END"""
          .stripMargin)).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
  }

  /** Per-document LSH band rows with NO shuffle: distinct 3-shingles,
    * md5-derived 60-bit hashes and the 16 minhash lanes all as array
    * expressions over the token array, then the batch band layout
    * ([[DedupQueries.bands]]) over the resulting signature columns.
    * Lane-for-lane equal to the batch explode→groupBy signatures: the
    * same shingle-hash set feeds the same linear permutations, `array_min`
    * vs min-aggregate is the only difference. */
  def statelessBands(docs: DataFrame): DataFrame = {
    val p = DedupQueries.MinhashP
    val lanes = (0 until DedupQueries.NumHashes).map { j =>
      expr(s"array_min(transform(__hm, h -> (${DedupQueries.minhashA(j)} * h" +
        s" + ${DedupQueries.minhashB(j)}) % ${p}L))").as(s"m$j")
    }
    val sigs = docs
      .withColumn("__toks", graft.functions.Hashing.tokens(col("text")))
      .filter(size(col("__toks")) >= 3)
      .withColumn("__sh", expr(
        "array_distinct(transform(sequence(0, size(__toks) - 3), " +
          "i -> concat_ws(' ', __toks[i], __toks[i+1], __toks[i+2])))"))
      .withColumn("__hm", expr(
        s"transform(__sh, s -> pmod(cast(conv(substring(md5(s), 1, 15), 16, 10)" +
          s" AS bigint), ${p}L))"))
      .select(col("doc_id") +: lanes: _*)
    DedupQueries.bands(sigs)
      .select(concat_ws("#", col("band"), col("bkey")).as("bucket"), col("doc_id"))
  }

  /** The one stateful stage: per band-bucket, state = doc ids seen; each
    * arrival pairs with every prior occupant (and earlier arrivals in the
    * same micro-batch), normalized to doc_a < doc_b so the pair set is
    * arrival-order-free. */
  def candPairs(bandRows: Dataset[BandRow]): Dataset[CandPair] = {
    import bandRows.sparkSession.implicits._
    bandRows
      .groupByKey(_.bucket)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[BandRow], state: GroupState[Seq[Long]]) =>
          val seen = scala.collection.mutable.ArrayBuffer[Long]()
          seen ++= state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer[CandPair]()
          rows.foreach { r =>
            seen.foreach { s =>
              if (s != r.doc_id)
                out += CandPair(math.min(s, r.doc_id), math.max(s, r.doc_id))
            }
            seen += r.doc_id
          }
          state.update(seen.toSeq)
          out.iterator
      }
  }

  /** Stream the documents fixture through delta fan-out → stateless bands →
    * stateful candidate pairs → parquet sink, then batch-verify the sunk
    * candidates with the exact-Jaccard pass — final table == batch
    * `dedup_minhash_lsh`, hash-gated by the same oracle. */
  def runOnce(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = candPairs(
      statelessBands(withDelta(graft.Tables.stream(spark, sfDir, "documents"))).as[BandRow])
    StreamRun.parquet(pairs.toDF(), "neardup") { sunk =>
      // the sunk candidate set (distinct: a pair co-bucketed in k bands
      // surfaces k times, exactly like the batch self-join pre-distinct)
      // feeds the batch verify; the pin (CacheScope.pinned, registered for
      // releaseAll) materializes it before the temp dir disappears
      val cand = sunk.select(col("doc_a"), col("doc_b")).distinct()
        .transform(graft.CacheScope.pinned)
      val shh = DedupQueries.shingleHashes(DedupQueries.corpus(spark, sfDir))
        .transform(graft.CacheScope.pinned)
      DedupQueries.jaccard(cand, shh, 0.4)
    }
  }
}
