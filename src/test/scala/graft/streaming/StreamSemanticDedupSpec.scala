package graft.streaming

import graft.SparkSpec
import graft.ext.Similarity
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

class StreamSemanticDedupSpec extends SparkSpec {

  private lazy val embs =
    graft.io.Sources.table(spark, "/root/testdata/sf0.001", "embeddings")

  test("replay equivalence: streamed drop set == batch semanticDedup drop set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val index = Similarity.buildIvfIndex(embs, nCentroids = 16, iterations = 3,
      portable = true)
    val batchKept = Similarity.semanticDedup(embs, index)
      .collect().map(_.getLong(0)).toSet
    val rows = embs.select("vec_id", "embedding").collect()
      .map(r => StreamVec(r.getLong(0), r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_.vec_id)
    val input = MemoryStream[StreamVec]
    val q = StreamSemanticDedup.semanticTags(input.toDS(), index.centroids)
      .writeStream.format("memory").queryName("sem_tags")
      .outputMode(OutputMode.Append()).start()
    try {
      // replay in vec_id order across several micro-batches
      rows.grouped(137).foreach { chunk =>
        input.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val tagged = spark.table("sem_tags").collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val all = rows.map(_.vec_id).toSet
      assert(all -- tagged == batchKept,
        s"streamed survivors ${(all -- tagged).size} != batch kept ${batchKept.size}")
      assert(tagged.nonEmpty, "corpus yields no semantic tags — threshold dead")
      // every tag names a smaller id at/above threshold — and the scores
      // are bit-equal to the batch pair scores (same kernel, same 6 dp)
      val batchPairs = Similarity.semanticPairs(embs, index).collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3))).toMap
      spark.table("sem_tags").collect().foreach { t =>
        val (v, dup, c) = (t.getAs[Long]("vec_id"), t.getAs[Long]("dup_of"),
          t.getAs[Double]("cos_sim"))
        assert(dup < v)
        assert(batchPairs.contains((dup, v)), s"tag ($dup,$v) not a batch pair")
        assert(batchPairs((dup, v)) == c, s"score drift on ($dup,$v)")
        // dup_of is the SMALLEST batch partner (keep-lowest-id rule)
        val minPartner = batchPairs.keys.collect { case (a, b) if b == v => a }.min
        assert(dup == minPartner)
      }
    } finally q.stop()
  }

  test("stream argmin ≡ batch plan: fixture rows, centroid ties, zero and NaN embeddings") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val cents = Similarity.seedCentroids(embs, 16)
    assert(cents.forall(_._2.exists(_ != 0f)), "the NaN case needs no zero centroid")
    val fixture = embs.select("embedding").collect().map(_.getSeq[Float](0).toSeq).toSeq
    val dim = cents.head._2.length
    val special = Seq(
      cents(3)._2,                                  // d = -1 at one centroid
      Seq.fill(dim)(0f),                            // every d = 0: smallest id
      cents(5)._2.updated(1, Float.NaN))            // every d NaN: smallest id
    val vecs = fixture ++ special
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }, 3), schema)
    val batch = df.select(col("vec_id"), Similarity.nearestCentroidPortable(cents),
      graft.functions.LiteralCentroidForms.argmin(cents, rounded = true).getField("cid"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val matrix = graft.functions.CentroidMatrix(cents)
    vecs.zipWithIndex.foreach { case (v, i) =>
      val stream = StreamSemanticDedup.assignPortable(v.toArray, matrix)
      assert((stream, stream) == batch(i.toLong), s"row $i: stream $stream, batch ${batch(i.toLong)}")
    }
    assert(batch((vecs.length - 1).toLong)._1 == cents.map(_._1).min,
      "a NaN embedding takes the smallest id, as array_min does")
  }

  test("event-time horizon: in-horizon duplicate tagged, post-eviction admitted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val hour = 3600L * 1000000 // µs
    val B = 1000 * hour
    // two antipodal centroids: e0-vectors land in cell 0, e1 in cell 1
    // (the watermark can only advance via a batch that does NOT touch
    // the cell under test — eviction fires on the NEXT invocation)
    val e0 = Seq.fill(64)(1.0f)
    val e1 = Seq.fill(64)(-1.0f)
    val cents = Seq(0L -> e0.toSeq, 1L -> e1.toSeq)
    val input = MemoryStream[StreamVec]
    val q = StreamSemanticDedup.semanticTags(input.toDS(), cents,
      eventTimeHorizon = Some("1 hour"))
      .writeStream.format("memory").queryName("sem_evict")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamVec(1L, B, e0))
      q.processAllAvailable()
      // 30 min later: an identical vector is tagged against vec 1
      input.addData(StreamVec(2L, B + hour / 2, e0))
      q.processAllAvailable()
      assert(spark.table("sem_evict").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"))).toSet
        == Set((2L, 1L)))
      // a cell-1 arrival advances the watermark to B+3h, past cell 0's
      // eviction timestamp (B+30min+1h) → cell 0's state drops
      input.addData(StreamVec(3L, B + 4 * hour, e1))
      q.processAllAvailable()
      // the same e0 vector re-arrives after eviction: ADMITTED silently
      input.addData(StreamVec(4L, B + 4 * hour + 1, e0))
      q.processAllAvailable()
      // ...and a fresh duplicate within the horizon is tagged against it
      input.addData(StreamVec(5L, B + 4 * hour + 2, e0))
      q.processAllAvailable()
      val tags = spark.table("sem_evict").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"))).toSet
      assert(!tags.exists(_._1 == 4L), "post-eviction arrival must be admitted")
      assert(tags.contains((5L, 4L)), "fresh state must tag within horizon")
    } finally q.stop()
  }

  test("an overflowed cell re-arms after event-time eviction (marker included)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val hour = 3600L * 1000000 // µs
    val B = 1000 * hour
    val e0 = Seq.fill(64)(1.0f)
    val e1 = Seq.fill(64)(-1.0f)
    val cents = Seq(0L -> e0.toSeq, 1L -> e1.toSeq)
    val input = MemoryStream[StreamVec]
    val q = StreamSemanticDedup.semanticTags(input.toDS(), cents,
      maxCell = 2, eventTimeHorizon = Some("1 hour"))
      .writeStream.format("memory").queryName("sem_rearm")
      .outputMode(OutputMode.Append()).start()
    try {
      // overflow cell 0: 2 tagged vs 1, 3 crosses the cap (ONE marker),
      // 4 admitted silently
      input.addData(StreamVec(1L, B, e0), StreamVec(2L, B + 1, e0),
        StreamVec(3L, B + 2, e0), StreamVec(4L, B + 3, e0))
      q.processAllAvailable()
      // a cell-1 arrival advances the watermark past cell 0's eviction
      // timestamp; the NEXT batch (no cell-0 data) fires the timeout
      input.addData(StreamVec(10L, B + 4 * hour, e1))
      q.processAllAvailable()
      input.addData(StreamVec(11L, B + 4 * hour + 1, e1))
      q.processAllAvailable()
      // fresh cell-0 state: dedup is ARMED again
      input.addData(StreamVec(20L, B + 4 * hour + 2, e0))
      q.processAllAvailable()
      input.addData(StreamVec(21L, B + 4 * hour + 3, e0))
      q.processAllAvailable()
      val tags = spark.table("sem_rearm").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"))).toSet
      assert(tags.contains((21L, 20L)),
        s"dedup must re-arm after the quiet period: $tags")
      assert(!tags.exists(_._1 == 4L), "overflow period stays silent")
      // the MARKER re-arms with the state: a second overflow episode
      // after eviction emits a second marker row
      input.addData(StreamVec(22L, B + 4 * hour + 4, e0))
      q.processAllAvailable()
      val markers = StreamSemanticDedup.overflowMarkers(spark.table("sem_rearm"))
        .collect().map(_.getAs[Long]("centroid_id")).toSeq
      assert(markers == Seq(0L, 0L),
        s"one marker per overflow episode expected, got $markers")
    } finally q.stop()
  }

  test("cell overflow goes silent (admits) instead of tagging against truncated memory") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val e0 = Seq.fill(64)(1.0f)
    val cents = Seq(0L -> e0.toSeq)
    val input = MemoryStream[StreamVec]
    val q = StreamSemanticDedup.semanticTags(input.toDS(), cents, maxCell = 2)
      .writeStream.format("memory").queryName("sem_overflow")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(StreamVec(1L, 0L, e0), StreamVec(2L, 1L, e0),
        StreamVec(3L, 2L, e0), StreamVec(4L, 3L, e0))
      q.processAllAvailable()
      // a later batch while still overflowed: NO second marker
      input.addData(StreamVec(5L, 4L, e0))
      q.processAllAvailable()
      val rows = spark.table("sem_overflow").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("dup_of"),
          r.getAs[Long]("centroid_id")))
      // 2 tagged against 1; 3 hits the cap boundary → cell goes silent
      // and emits ONE overflow marker; 4 and 5 admitted silently
      assert(rows.map(_._1).toSet == Set(2L, -1L))
      val markers = rows.filter(_._1 == -1L)
      assert(markers.toSeq == Seq((-1L, -1L, 0L)),
        s"exactly one marker naming the silenced cell: ${rows.toSeq}")
      // survivors ignores markers: no real vector is named -1
      val vecs = Seq(1L, 2L, 3L, 4L, 5L).toDF("vec_id")
      val kept = StreamSemanticDedup.survivors(vecs, spark.table("sem_overflow"))
        .collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 4L, 5L))
    } finally q.stop()
  }
}
