package graft.streaming

import graft.ext.Similarity
import graft.functions.{CentroidMatrix, VectorOps}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming SEMANTIC dedup — the streaming face of
  * `Similarity.semanticPairs`/`semanticDedup` (SemDeDup): incoming
  * embeddings are assigned to their k-means cell with the SAME portable
  * 6-dp argmin the batch operator uses, and compared (exact cosine, 6 dp)
  * ONLY against vectors already admitted to that cell — online
  * dedup-before-ingest over a trained index.
  *
  * Replay parity with the batch drop set holds PROVIDED (a) vectors
  * arrive in vec_id order across micro-batches (the replay setting) and
  * (b) no cell overflows `maxCell` — batch has no cell cap, so from the
  * overflow point the stream stops tagging that cell (admits everything)
  * rather than tag against a truncated memory; spec-pinned like the
  * [[StreamNearDup]] bucket-overflow trade.
  *
  * Shape: per-vector argmin against the broadcast-serialized centroid
  * matrix (k×dim, closure-shipped — same trick as batch assignment) →
  * `flatMapGroupsWithState` keyed by `centroid_id`: state is the cell's
  * admitted (id, vector) list. State bound: per-cell cap plus the same
  * processing-time idle / event-time horizon eviction pair as
  * [[StreamNearDup.nearDupTags]].
  */
case class StreamVec(vec_id: Long, ts: Long, embedding: Seq[Float])

case class SemDupTag(vec_id: Long, dup_of: Long, centroid_id: Long, cos_sim: Double)

private[streaming] case class AssignedVec(
    centroid_id: Long, vec_id: Long, ts: Long, embedding: Seq[Float],
    event_time: java.sql.Timestamp)

private[streaming] case class CellState(
    vecIds: Seq[Long], embs: Seq[Seq[Float]], maxTsMicros: Long,
    overflowed: Boolean)

object StreamSemanticDedup {

  /** Round-half-up at 6 dp — [[VectorOps.round6]], the one shared JVM
    * twin of Spark's `round(col, 6)`, so stream-side scores/argmins
    * are bit-equal to the batch plan's.
    */
  private def r6(d: Double): Double = VectorOps.round6(d)

  /** The portable argmin of [[Similarity.nearestCentroidPortable]]
    * through the SAME kernel the batch expression calls
    * ([[VectorOps.nearestCentroid]]): min (−cosine@6dp, cid) under
    * Spark's double ordering, so NaN scores and near-ties resolve as
    * the batch plan resolves them.
    */
  private[streaming] def assignPortable(
      emb: Array[Float], centroids: CentroidMatrix): Long =
    VectorOps.nearestCentroid(
      UnsafeArrayData.fromPrimitiveArray(emb), centroids, rounded = true).getLong(1)

  /** Semantic-dup detections (append stream): one tag per vector that
    * has an already-admitted cell-mate with cosine ≥ `minCos`; `dup_of`
    * is the smallest such earlier vec_id (the batch keep-lowest-id
    * rule's counterpart), `cos_sim` the 6-dp score against it.
    *
    * Overflow observability (ADVICE r9): the FIRST time a cell crosses
    * `maxCell` it emits one MARKER row `(vec_id = -1, dup_of = -1,
    * centroid_id, cos_sim = 0.0)` — from that point the cell admits
    * silently (batch has no cap; tagging against truncated memory
    * would be wrong), and with no timeout configured it stays silent
    * for the query's lifetime, so the marker is the operator's way of
    * making "no duplicates" distinguishable from "stopped looking".
    * Downstream consumers MUST go through [[realTags]] (the
    * `dup_of >= 0` contract filter — [[survivors]] does); monitoring
    * reads [[overflowMarkers]]. With idle/event-time eviction
    * configured, timeout REMOVES the overflowed state and the next
    * arrival starts a fresh, armed cell — dedup re-arms after a quiet
    * period (spec-asserted); without eviction the silence is unbounded.
    */
  def semanticTags(
      vecs: Dataset[StreamVec],
      centroids: Seq[(Long, Seq[Float])],
      minCos: Double = Similarity.SemDedupMinCos,
      maxCell: Int = 8192,
      idleTimeout: Option[String] = None,
      eventTimeHorizon: Option[String] = None): Dataset[SemDupTag] = {
    import vecs.sparkSession.implicits._
    require(centroids.nonEmpty, "need a trained/seeded centroid set")
    require(idleTimeout.isEmpty || eventTimeHorizon.isEmpty,
      "choose one of idleTimeout (processing time) / eventTimeHorizon (event time)")
    val cents = CentroidMatrix(centroids)
    val horizonMs: Long = eventTimeHorizon
      .map(h => scala.concurrent.duration.Duration(h).toMillis).getOrElse(0L)
    val assigned0 = vecs.map { v =>
      AssignedVec(assignPortable(v.embedding.toArray, cents),
        v.vec_id, v.ts, v.embedding, new java.sql.Timestamp(v.ts / 1000))
    }
    val assigned = eventTimeHorizon match {
      case Some(horizon) => assigned0
        .withColumn("event_time", timestamp_micros(col("ts")))
        .withWatermark("event_time", horizon)
        .as[AssignedVec]
      case None => assigned0
    }
    val timeoutConf =
      if (eventTimeHorizon.isDefined) GroupStateTimeout.EventTimeTimeout()
      else idleTimeout
        .map(_ => GroupStateTimeout.ProcessingTimeTimeout())
        .getOrElse(GroupStateTimeout.NoTimeout())
    assigned
      .groupByKey(_.centroid_id)
      .flatMapGroupsWithState[CellState, SemDupTag](
        OutputMode.Append(), timeoutConf) {
        case (cid, it, state: GroupState[CellState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val s = state.getOption.getOrElse(
              CellState(Nil, Nil, Long.MinValue, overflowed = false))
            var ids = s.vecIds.toVector
            var embs = s.embs.toVector.map(_.toArray)
            var maxTs = s.maxTsMicros
            var over = s.overflowed
            val wasOver = s.overflowed
            val out = Vector.newBuilder[SemDupTag]
            // vec_id order inside the batch = replay-stable "earlier"
            it.toSeq.sortBy(_.vec_id).foreach { av =>
              if (av.ts > maxTs) maxTs = av.ts
              if (over || ids.length >= maxCell) {
                // batch has NO cell cap: past the cap the stream admits
                // silently instead of tagging against truncated memory
                over = true
              } else {
                val emb = av.embedding.toArray
                var best = -1L
                var bestCos = 0.0
                var i = 0
                while (i < embs.length) {
                  val c = r6(VectorOps.cosine(embs(i), emb))
                  if (c >= minCos && (best == -1L || ids(i) < best)) {
                    best = ids(i); bestCos = c
                  }
                  i += 1
                }
                if (best != -1L) out += SemDupTag(av.vec_id, best, cid, bestCos)
                // store tagged vectors too: batch compares every vector
                // against ALL lower ids, losers included
                ids :+= av.vec_id; embs :+= emb
              }
            }
            // one marker per overflow episode (re-arms only via state
            // eviction): the silence becomes observable downstream
            if (over && !wasOver) out += SemDupTag(-1L, -1L, cid, 0.0)
            state.update(CellState(ids, embs.map(_.toSeq), maxTs, over))
            idleTimeout.foreach(state.setTimeoutDuration)
            if (eventTimeHorizon.isDefined && maxTs != Long.MinValue)
              state.setTimeoutTimestamp(maxTs / 1000 + horizonMs)
            out.result().iterator
          }
      }
  }

  /** TAG-STREAM CONTRACT: [[semanticTags]]'s output interleaves real
    * duplicate tags (`dup_of >= 0`) with in-band overflow MARKER rows
    * (`vec_id = -1, dup_of = -1`). EVERY consumer that joins, counts,
    * or aggregates tags by `vec_id` must go through [[realTags]] (or
    * replicate its `dup_of >= 0` filter) — ingesting the sentinel as
    * data silently corrupts counts and joins. [[overflowMarkers]] is
    * the monitoring face of the same stream.
    */
  def realTags(tags: DataFrame): DataFrame = tags.filter(col("dup_of") >= 0)

  /** The overflow MARKER rows only — one per (cell, overflow episode);
    * alert on any row: that cell has stopped deduplicating until its
    * state evicts (see [[semanticTags]]).
    */
  def overflowMarkers(tags: DataFrame): DataFrame =
    tags.filter(col("vec_id") === -1L)

  /** Batch-side combine for the foreachBatch sink: this batch's vectors
    * minus every tagged vec_id. With arrival in vec_id order this equals
    * `Similarity.semanticDedup` on the replayed table (spec-asserted).
    * Consumes the stream through [[realTags]] — the contract filter.
    */
  def survivors(vecs: DataFrame, tags: DataFrame): DataFrame =
    vecs.join(
      realTags(tags).select(col("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
}
