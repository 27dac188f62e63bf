package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Streaming face 15 — continuous kNN-GRAPH maintenance: an arriving
  * vector stream folds into the graph artifact pair — the
  * [[Similarity.writeClustered]] VECTOR layout and the
  * [[Similarity.writeGraphClustered]] EDGE layout — one micro-batch at
  * a time, against a FROZEN loaded index. The streaming analogue of
  * [[Similarity.appendToGraph]], completing the graph story the way
  * face 13 completed the IVF story: build offline
  * ([[Similarity.knnGraph]] + writeGraphClustered), serve
  * ([[Similarity.graphSearch]] walks the persisted edges), refine
  * ([[Similarity.knnGraphRefine]]), and now MAINTAIN.
  *
  * Exactly-once effect from an at-least-once sink, with NO transaction
  * log, across BOTH artifacts: each batch is first anti-joined against
  * the vector layout (the corpus is the delivery ledger), the GRAPH
  * folds in first (its own vertex-id anti-join makes a re-delivered
  * batch a no-op), then the vectors append
  * ([[Similarity.appendToClustered]]'s anti-join, same contract). The
  * ordering makes every crash point replay-safe: a crash after the
  * graph write but before the vector write re-delivers the batch,
  * the graph append no-ops on the vertex anti-join, and the vector
  * append completes — the pair converges to the same state as a
  * single clean delivery (spec-pinned: replay leaves both layouts
  * file-identical). The graph append also needs the PRE-batch corpus
  * as its scoring base, which the ordering provides for free: the
  * vector layout is read before it is appended to.
  *
  * Per-batch cost is bounded by the batch and the cells it touches:
  * the edge kernel re-ranks only affected vertices, and the layout
  * rewrite is dynamic-partition-overwrite of only the affected/newcomer
  * cells — never the graph ([[Similarity.appendToGraphClustered]]).
  */
object StreamGraphMaintain {

  /** Fold one batch of `vectors` (`vec_id`, `embedding`, `label`) into
    * the vector + graph layouts. Returns the rewritten graph cells
    * (empty = everything was a re-delivery).
    */
  def maintainBatch(
      spark: SparkSession,
      vectors: DataFrame,
      index: Similarity.IvfIndex,
      vecPath: String,
      graphPath: String,
      k: Int = 4,
      nProbe: Int = 4,
      maxFilesPerPartition: Int = 8): Seq[Long] = {
    // the corpus layout is the delivery ledger: already-present vertex
    // ids are re-deliveries (anti-joined distributively, never
    // collected)
    val corpus = spark.read.parquet(vecPath)
      .select(col("vec_id"), col("embedding"), col("label"))
    val fresh = vectors.select(col("vec_id"), col("embedding"), col("label"))
      .join(corpus.select("vec_id"), Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (fresh.isEmpty) Nil
      else {
        // GRAPH first (reads the PRE-batch corpus as its scoring base;
        // idempotent on its own vertex anti-join), THEN vectors — see
        // the crash-point analysis in the object scaladoc
        val cells = Similarity.appendToGraphClustered(
          spark, graphPath, corpus, fresh, index.centroids, k, nProbe)
        Similarity.appendToClustered(
          spark, vecPath, fresh, index, maxFilesPerPartition, portable = true)
        cells
      }
    } finally fresh.unpersist(blocking = false)
  }

  /** Writer: every micro-batch of `vectors` folds into the layout pair
    * via [[maintainBatch]]. Caller starts it (typically with a
    * checkpointLocation) and owns the query lifecycle.
    */
  def maintain(
      vectors: DataFrame,
      index: Similarity.IvfIndex,
      vecPath: String,
      graphPath: String,
      k: Int = 4,
      nProbe: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          maintainBatch(batch.sparkSession, batch, index, vecPath, graphPath,
            k, nProbe)
          ()
        }
      }

  /** [[maintainBatch]] for a LAYERED hierarchy (r16 verdict #2's
    * streaming half): the arriving batch folds into the vector layout
    * AND every layer of a [[Similarity.writeHnswClustered]] artifact
    * it hashes into ([[Similarity.appendToHnswClustered]] — kNN halves
    * re-ranked exactly, star halves appended, top entry invariant).
    * Same crash-point analysis as the flat face: the hierarchy folds
    * FIRST (reading the pre-batch corpus as its scoring base), then
    * the vectors append; every per-layer half is idempotent on its own
    * vertex anti-join, so a crash between ANY two writes (mid-
    * hierarchy included) replays to the single-clean-delivery state.
    */
  def maintainBatchHnsw(
      spark: SparkSession,
      vectors: DataFrame,
      index: Similarity.IvfIndex,
      vecPath: String,
      hnswPath: String,
      k: Int = 4,
      nProbe: Int = 4,
      maxFilesPerPartition: Int = 8): Map[Int, Seq[Long]] = {
    val corpus = spark.read.parquet(vecPath)
      .select(col("vec_id"), col("embedding"), col("label"))
    val fresh = vectors.select(col("vec_id"), col("embedding"), col("label"))
      .join(corpus.select("vec_id"), Seq("vec_id"), "left_anti")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (fresh.isEmpty) Map.empty
      else {
        val cells = Similarity.appendToHnswClustered(
          spark, hnswPath, corpus, fresh, index.centroids, k, nProbe)
        Similarity.appendToClustered(
          spark, vecPath, fresh, index, maxFilesPerPartition, portable = true)
        cells
      }
    } finally fresh.unpersist(blocking = false)
  }

  /** Writer for the layered face — every micro-batch folds into the
    * vector layout + the full HNSW hierarchy via [[maintainBatchHnsw]].
    */
  def maintainHnsw(
      vectors: DataFrame,
      index: Similarity.IvfIndex,
      vecPath: String,
      hnswPath: String,
      k: Int = 4,
      nProbe: Int = 4,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[org.apache.spark.sql.Row] =
    vectors.writeStream
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          maintainBatchHnsw(batch.sparkSession, batch, index, vecPath,
            hnswPath, k, nProbe)
          ()
        }
      }
}
