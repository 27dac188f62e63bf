package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]` in Spark 4, so the one-line adapter lives in this
  * package — the standard pattern for libraries shipping custom
  * Catalyst expressions.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Catalog facts a loader needs to rewrite a table WITHOUT silently
    * changing its physical layout: provider, partition columns, bucket
    * spec. `SessionState`/`SessionCatalog` are `private[sql]`, hence the
    * accessor lives here.
    */
  final case class TableInfo(
      provider: Option[String],
      partitionColumnNames: Seq[String],
      bucketColumnNames: Seq[String],
      sortColumnNames: Seq[String],
      numBuckets: Option[Int])

  def tableInfo(spark: SparkSession, table: String): TableInfo = {
    val cs = spark.asInstanceOf[classic.SparkSession]
    val id = cs.sessionState.sqlParser.parseTableIdentifier(table)
    val m = cs.sessionState.catalog.getTableMetadata(id)
    TableInfo(
      m.provider,
      m.partitionColumnNames,
      m.bucketSpec.map(_.bucketColumnNames).getOrElse(Nil),
      m.bucketSpec.map(_.sortColumnNames).getOrElse(Nil),
      m.bucketSpec.map(_.numBuckets))
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes, as
    * the planner reads it (`-1` = broadcasting off). `SessionState` is
    * `private[sql]`, hence the accessor.
    */
  def autoBroadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Drain the async listener bus so `QueryExecutionListener` callbacks
    * registered by specs have fired before assertions read them.
    * `SparkContext.listenerBus` is `private[spark]`, hence the accessor.
    */
  def waitListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Release the block-storage pinned by `df.localCheckpoint(true)`.
    * `Dataset.unpersist` only clears CacheManager entries; the
    * checkpoint's data lives at RDD level inside the plan's
    * `LogicalRDD`, which is `private[sql]` — hence this accessor.
    * After this call the checkpoint is UNRECOVERABLE (lineage was
    * truncated): only release a round's checkpoint once the next
    * round has materialized.
    */
  def unpersistLocalCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    df match {
      case c: classic.Dataset[_] =>
        c.queryExecution.analyzed.foreach {
          case l: execution.LogicalRDD => l.rdd.unpersist(blocking)
          case _ => ()
        }
      case _ => ()
    }
}
