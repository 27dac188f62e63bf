package graft.streaming

import graft.ops.Loader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Streaming MERGE sink: continuous upsert of a changelog stream into a
  * catalog table — the streaming face of [[graft.ops.Loader.mergeInto]]
  * (the reference's MERGE semantics, gcp_function.py:67-113, driven by
  * micro-batches instead of batch jobs; the standard CDC-ingest shape).
  *
  * Spark's stateless sinks can't express MERGE, so the canonical form
  * is `foreachBatch`: each micro-batch keeps the LAST row per key by
  * `seqCol` (changelog order), mirroring how a CDC consumer compacts
  * before merging, and is then MERGEd by the batch loader's
  * [[graft.ops.Loader.mergeInto]] with staging broadcast (a micro-batch
  * is always small). The sink has exactly that path's behaviour: the
  * single-writer lease (and its loud refusal on an object-store
  * warehouse with no lease store registered), the touched-partition
  * rewrite of partitioned targets with its moved-row guard, and the
  * swap rewrite of unpartitioned targets. Before every micro-batch
  * [[graft.ops.Loader.recoverFromSwap]] repairs a crash in the swap's
  * drop→rename window, so the checkpoint replay finds the target again
  * and re-merges idempotently (the same compacted keys upserted twice).
  */
object StreamLoader {

  /** Compact a changelog frame: one row per key set, the row with the
    * greatest (`seqCol`, then arbitrary-but-deterministic payload) wins.
    */
  def compactLatest(batch: DataFrame, keys: Seq[String], seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc,
        struct(batch.columns.filterNot(keys.contains).map(col).toIndexedSeq: _*).desc)
    batch.withColumn("_sl_rn", row_number().over(w))
      .filter(col("_sl_rn") === 1).drop("_sl_rn")
  }

  /** One micro-batch merge: swap recovery, [[compactLatest]], then
    * [[graft.ops.Loader.mergeInto]]. Factored out of the sink so
    * batch-shaped specs can exercise it directly. The merge does not
    * read `checkpointDir`: the sink hands it to Spark as the stream's
    * checkpoint location, and the parameter stays for existing callers.
    */
  def mergeBatch(
      spark: SparkSession,
      batch: DataFrame,
      table: String,
      keys: Seq[String],
      seqCol: String,
      checkpointDir: String): Unit = {
    Loader.recoverFromSwap(spark, table)
    Loader.mergeInto(spark, table, compactLatest(batch, keys, seqCol), keys,
      broadcastStaging = Some(true))
  }

  /** Attach the merge sink to a streaming DataFrame: every micro-batch
    * is compacted by `seqCol` then MERGEd into `table` on `keys`.
    * The target must exist (create it with the first full load).
    */
  def mergeSink(
      stream: DataFrame,
      table: String,
      keys: Seq[String],
      seqCol: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          mergeBatch(batch.sparkSession, batch, table, keys, seqCol, checkpointDir)
        () // foreachBatch requires a Unit-typed closure
      }

  /** Convenience: start the merge sink. */
  def startMerge(
      stream: DataFrame,
      table: String,
      keys: Seq[String],
      seqCol: String,
      checkpointDir: String): StreamingQuery =
    mergeSink(stream, table, keys, seqCol, checkpointDir).start()
}
