package graft.streaming

import graft.ext.Similarity
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming similarity search: online top-k retrieval of a PROBE
  * stream against a static, IVF-indexed vector corpus — the serving
  * face of the batch [[Similarity]] family (the one major family that
  * had no streaming counterpart). A query-embedding stream (user
  * queries, dedup probes, retrieval-augmentation lookups) flows through
  * `foreachBatch`; each micro-batch runs the SAME per-probe IVF plan a
  * batch job would, so replay equivalence is exact by construction and
  * spec-asserted.
  *
  * Scale shape per micro-batch:
  *   - per-probe centroid ranking is a LITERAL expression over the
  *     broadcast centroid matrix (k×dim, driver-resident — same
  *     argmin-as-array_min trick as batch IVF assignment): narrow, no
  *     exchange, no per-centroid row blowup;
  *   - the batch's probed cells collapse to ≤ nCentroids distinct ids,
  *     collected (bounded by the index size, NOT the corpus or the
  *     batch) and pushed as literals — against a
  *     [[Similarity.writeClustered]] layout they become
  *     `PartitionFilters`, so each micro-batch reads only the files of
  *     the cells it probes;
  *   - probe×cell pairs broadcast to the corpus side (a micro-batch is
  *     always small), candidates join on `centroid_id`, and the
  *     per-probe top-k is a rank window partitioned by `probe_id`
  *     (batch-bounded partitions, never corpus-bounded).
  */
object StreamSimilarity {

  /** Per-probe IVF top-k over one (micro-)batch of probes
    * (`probe_id`, `embedding`): for each probe, the `k` nearest corpus
    * vectors by cosine among the probe's `nProbe` closest centroids'
    * cells. Centroid ranking and final scores round at 6 dp with id
    * tie-breaks — the batch IVF family's portable-determinism
    * convention, so results are stable across replays and engines.
    */
  def topKBatch(
      probes: DataFrame,
      assigned: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 10,
      nProbe: Int = 4): DataFrame =
    // ONE retrieval kernel with the declared batch key
    // (`similarity_knn_join_embeddings`): the plan-shape notes and the
    // bounded cell-id collect live on [[Similarity.knnJoinAssigned]]
    Similarity.knnJoinAssigned(probes, assigned, centroids, k, nProbe)

  /** Attach the retrieval sink to a probe stream: every micro-batch is
    * answered with [[topKBatch]] against the static corpus and handed
    * to `sink` (write to a table, push to a serving store, ...).
    */
  def topKSink(
      probeStream: DataFrame,
      assigned: DataFrame,
      centroids: Seq[(Long, Seq[Float])],
      k: Int = 10,
      nProbe: Int = 4)(sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    probeStream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      if (!batch.isEmpty) sink(topKBatch(batch, assigned, centroids, k, nProbe), id)
      ()
    }
}
