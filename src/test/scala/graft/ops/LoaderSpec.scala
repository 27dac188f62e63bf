package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class LoaderSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}

  /** Physical tree incl. AQE stage/reuse wrappers (the plan STRING
    * prints Final AND Initial plans under AQE — string-counting double
    * counts every node).
    */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(flatten)
  }

  private def shuffles(root: SparkPlan): Seq[ShuffleExchangeExec] =
    flatten(root).collect { case s: ShuffleExchangeExec => s }.distinct

  /** Shuffle exchanges whose subtree scans the given table dir: at scale
    * these move the whole table — the merge invariant is that none of
    * them touch the (bucketed) target.
    */
  private def shufflesReading(root: SparkPlan, tableDir: String): Seq[ShuffleExchangeExec] =
    shuffles(root).filter(e => flatten(e).exists {
      case f: FileSourceScanExec =>
        f.relation.location.rootPaths.exists(_.toString.endsWith(s"/$tableDir"))
      case _ => false
    })

  private def target: DataFrame = {
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
  }

  test("mixed upsert: updates overwrite, inserts append (gcp_function.py:82-92)") {
    import spark.implicits._
    val staging = Seq((2L, "b2", 22.0), (9L, "i", 90.0)).toDF("k", "name", "v")
    val out = Loader.upsert(target, staging, Seq("k")).orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L))
    assert(out(1).getString(1) == "b2" && out(1).getDouble(2) == 22.0)
    assert(out(3).getString(1) == "i")
  }

  test("stats-driven broadcast decision: small staging yes, comparable no") {
    import spark.implicits._
    val bigTarget = spark.range(0, 20000)
      .select(col("id").as("k"), concat(lit("name_"), col("id")).as("name"),
        col("id").cast("double").as("v"))
    val tinyStaging = Seq((2L, "b2", 22.0)).toDF("k", "name", "v")
    assert(Loader.shouldBroadcastStaging(bigTarget, tinyStaging))
    // staging ~ target size: shuffle both sides instead of building a
    // hash relation of the whole batch
    assert(!Loader.shouldBroadcastStaging(tinyStaging, tinyStaging))
    // result identical under both forced hints and under auto
    val auto = Loader.upsert(bigTarget, tinyStaging, Seq("k"))
      .orderBy("k").collect()
    val forced = Loader.upsert(bigTarget, tinyStaging, Seq("k"),
      broadcastStaging = Some(false)).orderBy("k").collect()
    assert(auto.sameElements(forced))
    assert(auto.count(_.getString(1) == "b2") == 1)
  }

  test("bucketed target: MERGE anti-join shuffles only the staging side") {
    import spark.implicits._
    dropWithLocation("bucketed_target_spec")
    val big = spark.range(0, 10000)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"),
        col("id").cast("double").as("v"))
    Loader.writeTableBucketed(big, "bucketed_target_spec", Seq("k"), buckets = 4)
    val staging = Seq((5L, "b2", 22.0), (20000L, "new", 1.0)).toDF("k", "name", "v")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val merged = Loader.upsert(spark.table("bucketed_target_spec"), staging,
        Seq("k"), broadcastStaging = Some(false))
      val root = merged.queryExecution.executedPlan
      // two staging-bounded exchanges (the both-branch uniqueness guard:
      // full-width union copy + keys-only pruned probe copy), and the
      // bucketed TARGET scan is never under an exchange — the side that
      // is 100 TB stays put
      assert(shuffles(root).size == 2,
        s"expected 2 staging exchanges, plan:\n$root")
      assert(shufflesReading(root, "bucketed_target_spec").isEmpty,
        s"target side shuffled, plan:\n$root")
      // and the merge is still correct
      val out = merged.orderBy("k").collect()
      assert(out.length == 10001)
      assert(out(5).getString(1) == "b2")
      assert(out.last.getLong(0) == 20000L)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("update-only: row count unchanged, all staging rows verbatim") {
    import spark.implicits._
    val staging = Seq((1L, "a9", 11.0)).toDF("k", "name", "v")
    val out = Loader.upsert(target, staging, Seq("k")).orderBy("k").collect()
    assert(out.length == 3)
    assert(out(0).getString(1) == "a9")
  }

  test("insert-only: |merged| = |target| + |staging|") {
    import spark.implicits._
    val staging = Seq((7L, "g", 70.0), (8L, "h", 80.0)).toDF("k", "name", "v")
    val out = Loader.upsert(target, staging, Seq("k"))
    assert(out.count() == 5)
  }

  test("merge invariant: key uniqueness preserved") {
    import spark.implicits._
    val staging = Seq((2L, "x", 0.0), (9L, "y", 1.0)).toDF("k", "name", "v")
    val out = Loader.upsert(target, staging, Seq("k"))
    assert(out.groupBy("k").count().filter(col("count") > 1).isEmpty)
  }

  test("duplicate staging keys rejected like BQ MERGE multiple-match (SURVEY §7.4.3)") {
    import spark.implicits._
    val staging = Seq((2L, "x", 0.0), (2L, "y", 1.0)).toDF("k", "name", "v")
    // the guard rides the merge job: plan construction is fine, the
    // ACTION fails with the descriptive duplicate-keys error
    val plan = Loader.upsert(target, staging, Seq("k"))
    val e = intercept[Exception] { plan.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate merge keys")),
      s"unexpected error: $e")
  }

  test("upsert plan construction triggers zero Spark jobs") {
    import spark.implicits._
    val staging = Seq((2L, "b2", 2.2), (4L, "d", 4.4)).toDF("k", "name", "v")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Thread.sleep(300) // drain in-flight listener events from prior tests
      jobs.set(0)
      Loader.upsert(target, staging, Seq("k")) // plan only — no action
      Thread.sleep(500) // listener delivery is async
      assert(jobs.get() == 0, s"plan construction ran ${jobs.get()} eager job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("empty staging is a no-op (gcp_function.py:156)") {
    import spark.implicits._
    val staging = Seq.empty[(Long, String, Double)].toDF("k", "name", "v")
    val out = Loader.upsertOrNoop(target, staging, Seq("k"))
    assert(out.count() == 3)
  }

  test("staging column order is aligned to target (gcp_function.py:63,76-80)") {
    import spark.implicits._
    val staging = Seq(("z", 9L, 99.0)).toDF("name", "k", "v")
      .select("name", "k", "v")
    val out = Loader.upsert(target, staging, Seq("k")).orderBy("k").collect()
    assert(out.last.getLong(0) == 9L && out.last.getString(1) == "z")
  }

  test("duplicate staging keys trip the guard even on an EMPTY target") {
    import spark.implicits._
    // PropagateEmptyRelation can eliminate the anti-join entirely when
    // the target is an empty LocalRelation — the guard must not ride
    // only that branch, or duplicates would silently pass here
    val empty = Seq.empty[(Long, String, Double)].toDF("k", "name", "v")
    val staging = Seq((2L, "x", 0.0), (2L, "y", 1.0)).toDF("k", "name", "v")
    val plan = Loader.upsert(empty, staging, Seq("k"))
    val e = intercept[Exception] { plan.collect() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("duplicate merge keys")),
      s"unexpected error: $e")
  }

  test("superset-bucketed target: dispatcher keeps the auto (broadcast) path") {
    import spark.implicits._
    // buckets (k, name) ⊃ keys (k): HashPartitioning(k, name) does NOT
    // satisfy ClusteredDistribution(k), so forcing the sort-merge path
    // would shuffle the full target — the dispatcher must treat this as
    // NOT bucketed-on-keys and let the tiny staging broadcast instead
    dropWithLocation("superset_bucketed_target")
    dropWithLocation("superset_bucketed_target_temp")
    dropWithLocation("superset_bucketed_target_merged_swap")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val regPath = java.nio.file.Files.createTempFile("sup_reg", ".json").toString
    val registry = new graft.core.SchemaRegistry(regPath)
    registry.save("superset_bucketed_target", schema, Seq("k"))
    val big = spark.range(0, 5000)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"),
        col("id").cast("double").as("v"))
    Loader.writeTableBucketed(big, "superset_bucketed_target",
      Seq("k", "name"), buckets = 4)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val staging = Seq((5L, "b2", 22.0), (9999999L, "new", 1.0)).toDF("k", "name", "v")
      Loader.load(spark, Loader.Update, staging, "superset_bucketed_target", registry)
      org.apache.spark.sql.GraftBridge.waitListeners(spark)
      val out = spark.table("superset_bucketed_target").orderBy("k").collect()
      assert(out.length == 5001)
      assert(out(5).getString(1) == "b2")
      import scala.jdk.CollectionConverters._
      val mergeQe = plans.asScala.find { qe =>
        val s = qe.analyzed.toString
        s.contains("superset_bucketed_target_merged_swap") ||
          (s.contains("superset_bucketed_target_temp") && s.contains("LeftAnti"))
      }
      assert(mergeQe.isDefined,
        s"no merge-write plan captured (got ${plans.size()} plans)")
      // the 'target never moves' invariant must hold HERE too — via the
      // broadcast path, since the bucket layout can't serve the join
      assert(shufflesReading(mergeQe.get.executedPlan, "superset_bucketed_target").isEmpty,
        s"superset-bucketed target was shuffled:\n${mergeQe.get.executedPlan}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("dispatcher Update path: bucketed layout survives, staging-only shuffle") {
    import spark.implicits._
    dropWithLocation("disp_bucketed_target")
    dropWithLocation("disp_bucketed_target_temp")
    dropWithLocation("disp_bucketed_target_merged_swap")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val regPath = java.nio.file.Files.createTempFile("disp_reg", ".json").toString
    val registry = new graft.core.SchemaRegistry(regPath)
    registry.save("disp_bucketed_target", schema, Seq("k"))
    val big = spark.range(0, 5000)
      .select(col("id").as("k"), concat(lit("n"), col("id")).as("name"),
        col("id").cast("double").as("v"))
    Loader.writeTableBucketed(big, "disp_bucketed_target", Seq("k"), buckets = 4)
    // capture the merge-write plan the dispatcher executes (listener API)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
        plans.add(qe)
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    try {
      val staging = Seq((5L, "b2", 22.0), (9999999L, "new", 1.0)).toDF("k", "name", "v")
      Loader.load(spark, Loader.Update, staging, "disp_bucketed_target", registry)
      org.apache.spark.sql.GraftBridge.waitListeners(spark)
      // layout preserved through the swap-rename
      val info = org.apache.spark.sql.GraftBridge.tableInfo(spark, "disp_bucketed_target")
      assert(info.numBuckets.contains(4) && info.bucketColumnNames == Seq("k"),
        s"dispatcher flattened the bucketed target: $info")
      // merged content correct
      val out = spark.table("disp_bucketed_target").orderBy("k").collect()
      assert(out.length == 5001)
      assert(out(5).getString(1) == "b2")
      assert(out.last.getLong(0) == 9999999L)
      // the merge job that wrote the swap shuffled ONLY the staging side
      // (target read pre-bucketed on k); bucket-spec writes add no
      // exchange. Traverse the FINAL physical tree (the plan STRING
      // prints AQE's Final AND Initial plans — string-counting double
      // counts every exchange).
      import scala.jdk.CollectionConverters._
      val mergeQe = plans.asScala.find { qe =>
        val s = qe.analyzed.toString
        s.contains("disp_bucketed_target_merged_swap") ||
          (s.contains("disp_bucketed_target_temp") && s.contains("LeftAnti"))
      }
      assert(mergeQe.isDefined,
        s"no merge-write plan captured (got ${plans.size()} plans)")
      val root = mergeQe.get.executedPlan
      // the bucketed target must never move: no shuffle subtree reads it
      assert(shufflesReading(root, "disp_bucketed_target").isEmpty,
        s"bucketed target was shuffled through the dispatcher:\n$root")
      // same shape as the direct-upsert plan: two staging-bounded
      // exchanges (guard union copy + pruned probe copy), nothing else
      assert(shuffles(root).size == 2,
        s"expected 2 staging exchanges through the dispatcher, got " +
          s"${shuffles(root).size}:\n$root")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.listenerManager.unregister(listener)
      spark.sql("DROP TABLE IF EXISTS disp_bucketed_target")
    }
  }

  /** Per-partition file inventory of a managed table's warehouse dir:
    * relative path → (size, mtime). Equality of an entry across a merge
    * proves that partition's files were not rewritten — the bounded-
    * rewrite invariant, asserted at the filesystem level.
    */
  private def fileInventory(table: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
    import scala.jdk.CollectionConverters._
    val s = java.nio.file.Files.walk(root)
    try s.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      .map(p => (root.relativize(p).toString,
        (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)))
      .toMap
    finally s.close()
  }

  test("partitioned target: a 1-row merge rewrites exactly 1 partition (r6 verdict #1)") {
    import spark.implicits._
    dropWithLocation("part_merge_target")
    val big = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 5).cast("int").as("p"),
        col("id").cast("double").as("v"))
    big.write.mode("overwrite").partitionBy("p").saveAsTable("part_merge_target")
    val before = fileInventory("part_merge_target")
    assert(before.keys.exists(_.startsWith("p=0")) && before.keys.exists(_.startsWith("p=4")))
    // one staged row, lands in partition p=2 (updates key 7)
    val staging = Seq((7L, 2, 777.0)).toDF("k", "p", "v")
      .select(col("k"), col("v"), col("p")) // column order must not matter
    // nothing staged outlives the merge: no parquet staging directory,
    // the slice's checkpoint released
    assertNoStagingLeft(Loader.mergeInto(spark, "part_merge_target", staging, Seq("k")))
    // content: merged row present, everything else untouched
    val out = spark.table("part_merge_target").orderBy("k").collect()
    assert(out.length == 1000)
    assert(out(7).getDouble(out(7).fieldIndex("v")) == 777.0)
    assert(out(8).getDouble(out(8).fieldIndex("v")) == 8.0)
    // filesystem: ONLY p=2 files changed — the other 4 partitions'
    // files are byte-for-byte the ones written before the merge
    val after = fileInventory("part_merge_target")
    val untouchedBefore = before.filterNot(_._1.startsWith("p=2"))
    val untouchedAfter = after.filterNot(_._1.startsWith("p=2"))
    assert(untouchedAfter == untouchedBefore,
      s"untouched partitions were rewritten:\n before=$untouchedBefore\n after=$untouchedAfter")
    assert(after.keys.exists(_.startsWith("p=2")))
    assert(before.filter(_._1.startsWith("p=2")) != after.filter(_._1.startsWith("p=2")),
      "touched partition p=2 was not rewritten")
    // layout preserved through the in-place overwrite
    val info = org.apache.spark.sql.GraftBridge.tableInfo(spark, "part_merge_target")
    assert(info.partitionColumnNames == Seq("p"), s"layout changed: $info")
    spark.sql("DROP TABLE IF EXISTS part_merge_target")
  }

  test("moved-row guard: staging that changes a matched key's partition leaves ONE copy (r7 verdict #1)") {
    import spark.implicits._
    dropWithLocation("moved_merge_target")
    val big = spark.range(0, 200)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("p"),
        col("id").cast("double").as("v"))
    big.write.mode("overwrite").partitionBy("p").saveAsTable("moved_merge_target")
    // key 6 lives in p=2; staging moves it to p=3 (and updates v).
    // BQ MERGE matches the key anywhere (gcp_function.py:82-92): the
    // result must hold exactly one copy of key 6, in its NEW partition.
    val staging = Seq((6L, 3, 666.0)).toDF("k", "p", "v")
    Loader.mergeInto(spark, "moved_merge_target", staging, Seq("k"))
    val copies = spark.table("moved_merge_target").filter(col("k") === 6).collect()
    assert(copies.length == 1,
      s"moved key left ${copies.length} copies: ${copies.mkString(",")}")
    assert(copies(0).getInt(copies(0).fieldIndex("p")) == 3 &&
      copies(0).getDouble(copies(0).fieldIndex("v")) == 666.0)
    assert(spark.table("moved_merge_target").count() == 200)
    // layout survives the fallback rewrite
    val info = org.apache.spark.sql.GraftBridge.tableInfo(spark, "moved_merge_target")
    assert(info.partitionColumnNames == Seq("p"), s"layout changed: $info")
    spark.sql("DROP TABLE IF EXISTS moved_merge_target")
  }

  test("moved-row guard: in-place updates WITHOUT a move keep the bounded rewrite") {
    import spark.implicits._
    dropWithLocation("unmoved_merge_target")
    val big = spark.range(0, 200)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("p"),
        col("id").cast("double").as("v"))
    big.write.mode("overwrite").partitionBy("p").saveAsTable("unmoved_merge_target")
    val before = fileInventory("unmoved_merge_target")
    // key 6 stays in its home partition p=2: the probe finds no outside
    // match, so only p=2 is rewritten (bounded path retained)
    val staging = Seq((6L, 2, 666.0)).toDF("k", "p", "v")
    Loader.mergeInto(spark, "unmoved_merge_target", staging, Seq("k"))
    val after = fileInventory("unmoved_merge_target")
    assert(after.filterNot(_._1.startsWith("p=2")) ==
      before.filterNot(_._1.startsWith("p=2")),
      "a no-move merge fell back to the full rewrite")
    val out = spark.table("unmoved_merge_target").filter(col("k") === 6).collect()
    assert(out.length == 1 && out(0).getDouble(out(0).fieldIndex("v")) == 666.0)
    spark.sql("DROP TABLE IF EXISTS unmoved_merge_target")
  }

  test("moved-row guard: keys that include the partition column read no untouched partition") {
    import spark.implicits._
    dropWithLocation("pinned_merge_target")
    spark.range(0, 40)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("p"),
        col("id").cast("double").as("v"))
      .write.mode("overwrite").partitionBy("p").saveAsTable("pinned_merge_target")
    // corrupt one data file of p=3, a partition the batch does not touch:
    // any read of it fails the merge
    val root = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), "pinned_merge_target")
    val victim = root.resolve(fileInventory("pinned_merge_target").keys
      .filter(_.startsWith("p=3/")).toSeq.sorted.head)
    java.nio.file.Files.write(victim, "not a parquet file".getBytes("UTF-8"))
    val corrupt = java.nio.file.Files.readAllBytes(victim)
    try {
      val staging = Seq((5L, 1, 55.0)).toDF("k", "p", "v")
      // keyed without the partition column, the moved-row probe reads the
      // key column of every untouched partition and trips on the file
      intercept[Exception](
        Loader.mergeInto(spark, "pinned_merge_target", staging, Seq("k")))
      // keyed with it, a match is pinned inside the touched slice: the
      // guard reads nothing outside p=1 and the merge lands
      Loader.mergeInto(spark, "pinned_merge_target", staging, Seq("k", "p"))
      assert(java.util.Arrays.equals(java.nio.file.Files.readAllBytes(victim), corrupt),
        "the untouched partition's file changed")
      val p1 = spark.table("pinned_merge_target").filter(col("p") === 1)
        .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(p1 == (1L until 40L by 4).map(k => (k, if (k == 5L) 55.0 else k.toDouble)),
        s"got $p1")
    } finally dropWithLocation("pinned_merge_target")
  }

  test("partitioned target: inserts into a NEW partition leave existing ones untouched") {
    import spark.implicits._
    dropWithLocation("part_insert_target")
    val big = spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 3).cast("int").as("p"),
        col("id").cast("double").as("v"))
    big.write.mode("overwrite").partitionBy("p").saveAsTable("part_insert_target")
    val before = fileInventory("part_insert_target")
    val staging = Seq((1000L, 9, 1.0), (1001L, 9, 2.0)).toDF("k", "p", "v")
    Loader.mergeInto(spark, "part_insert_target", staging, Seq("k"))
    val out = spark.table("part_insert_target")
    assert(out.count() == 102)
    assert(out.filter(col("p") === 9).count() == 2)
    val after = fileInventory("part_insert_target")
    assert(after.filterNot(_._1.startsWith("p=9")) == before,
      "pre-existing partitions were rewritten by a new-partition insert")
    spark.sql("DROP TABLE IF EXISTS part_insert_target")
  }

  test("unpartitioned target: mergeInto takes the swap path, recoverable mid-crash (r6 verdict #7)") {
    import spark.implicits._
    dropWithLocation("swap_merge_target")
    dropWithLocation("swap_merge_target_merged_swap")
    target.write.mode("overwrite").saveAsTable("swap_merge_target")
    val staging = Seq((2L, "b2", 22.0), (9L, "i", 90.0)).toDF("k", "name", "v")
    Loader.mergeInto(spark, "swap_merge_target", staging, Seq("k"))
    val out = spark.table("swap_merge_target").orderBy("k").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L))
    assert(!spark.catalog.tableExists("swap_merge_target_merged_swap"))
    // crash simulation: the drop-then-rename window — target name gone,
    // fully-committed swap present (a catalog-visible swap IS complete:
    // saveAsTable registers it only after the write commits)
    spark.table("swap_merge_target").write.mode("overwrite")
      .saveAsTable("swap_merge_target_merged_swap")
    spark.sql("DROP TABLE swap_merge_target")
    assert(Loader.recoverFromSwap(spark, "swap_merge_target"))
    val recovered = spark.table("swap_merge_target").orderBy("k").collect()
    assert(recovered.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 9L),
      "recovery lost the merged snapshot")
    // no-op when the target exists (the normal path)
    assert(!Loader.recoverFromSwap(spark, "swap_merge_target"))
    spark.sql("DROP TABLE IF EXISTS swap_merge_target")
  }

  test("dispatcher Update on a partitioned registry target: bounded rewrite end-to-end") {
    import spark.implicits._
    dropWithLocation("disp_part_target")
    dropWithLocation("disp_part_target_temp")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType)))
    val regPath = java.nio.file.Files.createTempFile("part_reg", ".json").toString
    val registry = new graft.core.SchemaRegistry(regPath)
    registry.save("disp_part_target", schema, Seq("k"))
    spark.range(0, 300)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("p"),
        col("id").cast("double").as("v"))
      .write.mode("overwrite").partitionBy("p").saveAsTable("disp_part_target")
    val before = fileInventory("disp_part_target")
    val staging = Seq((5L, 1, 55.0)).toDF("k", "p", "v")
    Loader.load(spark, Loader.Update, staging, "disp_part_target", registry)
    val out = spark.table("disp_part_target").orderBy("k").collect()
    assert(out.length == 300 && out(5).getDouble(out(5).fieldIndex("v")) == 55.0)
    val after = fileInventory("disp_part_target")
    assert(after.filterNot(_._1.startsWith("p=1")) ==
      before.filterNot(_._1.startsWith("p=1")),
      "dispatcher merge rewrote untouched partitions")
    val info = org.apache.spark.sql.GraftBridge.tableInfo(spark, "disp_part_target")
    assert(info.partitionColumnNames == Seq("p"))
    assert(!spark.catalog.tableExists("disp_part_target_temp"))
    spark.sql("DROP TABLE IF EXISTS disp_part_target")
  }

  test("multi-column merge keys (gcp_function.py:73 conjunctive ON)") {
    import spark.implicits._
    val t2 = Seq((1L, 1, "a"), (1L, 2, "b")).toDF("k1", "k2", "v")
    val staging = Seq((1L, 2, "b2"), (2L, 1, "c")).toDF("k1", "k2", "v")
    val out = Loader.upsert(t2, staging, Seq("k1", "k2"))
      .orderBy("k1", "k2").collect()
    assert(out.map(_.getString(2)).toSeq == Seq("a", "b2", "c"))
  }

  test("compact: fragmented partitions collapse, untouched partitions' files survive, data identical") {
    import spark.implicits._
    dropWithLocation("compact_part_target")
    // 3 partitions; fragment ONLY p=1 and p=2 with per-row appends (the
    // bounded-rewrite MERGE's file-accretion pattern)
    Seq((1L, 1, 1.0), (2L, 2, 2.0), (3L, 3, 3.0))
      .toDF("k", "p", "v").repartition(1)
      .write.partitionBy("p").saveAsTable("compact_part_target")
    // insertInto is positional: the managed table's schema is (k, v, p)
    // — data columns first, partition column last
    for (i <- 10 to 30) {
      Seq((i.toLong, i.toDouble, 1 + i % 2)).toDF("k", "v", "p").repartition(1)
        .write.mode("append").insertInto("compact_part_target")
    }
    val before = fileInventory("compact_part_target")
    val dataBefore = spark.table("compact_part_target")
      .orderBy("k").collect().map(_.toSeq).toSeq
    def filesIn(inv: Map[String, (Long, Long)], part: String): Int =
      inv.keys.count(_.startsWith(part))
    assert(filesIn(before, "p=1") > Loader.CompactMaxFiles &&
      filesIn(before, "p=2") > Loader.CompactMaxFiles,
      s"fixture must be fragmented: ${before.keys.toSeq.sorted}")
    val n = assertNoStagingLeft(Loader.compact(spark, "compact_part_target"))
    assert(n == 2, s"exactly the two overfull partitions rewrite, got $n")
    val after = fileInventory("compact_part_target")
    assert(filesIn(after, "p=1") <= Loader.CompactMaxFiles &&
      filesIn(after, "p=2") <= Loader.CompactMaxFiles,
      s"compaction must reduce file counts: ${after.keys.toSeq.sorted}")
    // the clean partition's files are BYTE-UNTOUCHED (same names, sizes,
    // mtimes — compaction never read or replaced them)
    assert(after.filter(_._1.startsWith("p=3")) ==
      before.filter(_._1.startsWith("p=3")),
      "compact rewrote a partition under the threshold")
    val dataAfter = spark.table("compact_part_target")
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(dataAfter == dataBefore, "compaction must be byte-identical on rows")
    // idempotent: a second pass is a clean no-op
    assert(Loader.compact(spark, "compact_part_target") == 0)
    // the partitioned branch goes through no swap table
    val swaps = spark.catalog.listTables().collect().map(_.name)
      .filter(t => t.startsWith("compact_part_target") && t.contains("swap"))
    assert(swaps.isEmpty, s"swap table left behind: ${swaps.toSeq}")
    spark.sql("DROP TABLE IF EXISTS compact_part_target")
  }

  test("compact: unpartitioned whole-table swap, layout preserved, no-op under threshold") {
    import spark.implicits._
    dropWithLocation("compact_flat_target")
    Seq((1L, "a")).toDF("k", "v").repartition(1)
      .write.saveAsTable("compact_flat_target")
    for (i <- 2 to 12) {
      Seq((i.toLong, s"v$i")).toDF("k", "v").repartition(1)
        .write.mode("append").insertInto("compact_flat_target")
    }
    val before = fileInventory("compact_flat_target")
    assert(before.size > Loader.CompactMaxFiles)
    val dataBefore = spark.table("compact_flat_target")
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(Loader.compact(spark, "compact_flat_target") == 1)
    val after = fileInventory("compact_flat_target")
    assert(after.size <= Loader.CompactMaxFiles,
      s"whole-table compaction must reduce files: ${after.keys.toSeq.sorted}")
    assert(spark.table("compact_flat_target").orderBy("k")
      .collect().map(_.toSeq).toSeq == dataBefore)
    assert(Loader.compact(spark, "compact_flat_target") == 0)
    spark.sql("DROP TABLE IF EXISTS compact_flat_target")
  }

  test("single-writer lease: a second writer gets a loud refusal, not a silent race (r12 verdict #6)") {
    import spark.implicits._
    dropWithLocation("lease_target")
    target.write.mode("overwrite").saveAsTable("lease_target")
    val staging = Seq((2L, "b2", 22.0)).toDF("k", "name", "v")
    // simulate a SECOND writer holding the lease: acquireLease creates
    // the file without registering it as held by this session's
    // rewriters, so the next mergeInto sees a foreign fresh lease
    Loader.acquireLease(spark, "lease_target")
    val e = intercept[IllegalStateException] {
      Loader.mergeInto(spark, "lease_target", staging, Seq("k"))
    }
    assert(e.getMessage.contains("lease_target") &&
      e.getMessage.contains("being written"), e.getMessage)
    // the refused merge must not have touched the table
    assert(spark.table("lease_target").count() == 3)
    // compact and zorder refuse through the same gate
    intercept[IllegalStateException] {
      Loader.compact(spark, "lease_target")
    }
    intercept[IllegalStateException] {
      Loader.zorder(spark, "lease_target", Seq("v"), nFiles = 2)
    }
    // writer done: lease released → the merge proceeds and RELEASES
    java.nio.file.Files.deleteIfExists(Loader.leaseFile(spark, "lease_target"))
    Loader.mergeInto(spark, "lease_target", staging, Seq("k"))
    assert(spark.table("lease_target").filter(col("k") === 2L)
      .collect()(0).getString(1) == "b2")
    assert(!java.nio.file.Files.exists(Loader.leaseFile(spark, "lease_target")),
      "lease must release after a successful merge")
    spark.sql("DROP TABLE IF EXISTS lease_target")
  }

  test("lease filename: sanitizer collisions are disambiguated by the raw-name hash (r13 advice)") {
    // `a b` and `a_b` sanitize identically; the FNV suffix keeps the
    // table→lease mapping injective so neither writer refuses on the other
    assert(Loader.leaseFileName("a b") != Loader.leaseFileName("a_b"))
    assert(Loader.leaseFileName("a b") == Loader.leaseFileName("a b"))
    assert(Loader.leaseFile(spark, "a b") != Loader.leaseFile(spark, "a_b"))
  }

  test("lease protocol per warehouse scheme: local links, HDFS renames, object stores refuse loudly (r13 verdict #1a)") {
    assert(Loader.leaseProtocolFor("file") == "link")
    assert(Loader.leaseProtocolFor("local") == "link")
    assert(Loader.leaseProtocolFor("hdfs") == "rename")
    assert(Loader.leaseProtocolFor("viewfs") == "rename")
    // non-atomic schemes: loud refusal by default, best-effort on opt-in
    for (s <- Seq("s3a", "gs", "wasbs", "abfss")) {
      val e = intercept[IllegalStateException] { Loader.leaseProtocolFor(s) }
      assert(e.getMessage.contains("no atomic"), e.getMessage)
      assert(Loader.leaseProtocolFor(s, allowNonAtomic = true) == "rename")
    }
    // the lease path preserves the warehouse scheme instead of silently
    // resolving to a LOCAL directory (the pre-r14 failure mode)
    val p = Loader.leasePath(spark, "t")
    assert(p.toString.contains("_graft_leases"))
  }

  test("lease heartbeat: a slow writer under a short TTL is refreshed, not reaped (r13 verdict #1b)") {
    import spark.implicits._
    dropWithLocation("lease_hb_target")
    target.write.mode("overwrite").saveAsTable("lease_hb_target")
    val prevTtl = spark.conf.getOption("spark.graft.lease.ttlMs")
    spark.conf.set("spark.graft.lease.ttlMs", "1200")
    try {
      val path = Loader.leaseFile(spark, "lease_hb_target")
      // a slow writer: holds the lease (heartbeating) for ~4 TTLs
      @volatile var writerDone = false
      val staging = Seq((2L, "hb", 2.0)).toDF("k", "name", "v")
      val writer = new Thread(() => {
        // a slow rewrite: hold the lease across ~4 TTLs of "work", then
        // merge (re-entrant under the same thread's lease)
        Loader.withLease(spark, "lease_hb_target") {
          Thread.sleep(5000)
          Loader.mergeInto(spark, "lease_hb_target", staging, Seq("k"))
        }
        writerDone = true
      })
      writer.start()
      // wait until the lease exists, then well past the TTL
      val deadline = System.currentTimeMillis() + 10000
      while (!java.nio.file.Files.exists(path) && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      Thread.sleep(3000) // 2.5× the TTL: an unrefreshed lease would be stale
      // a second acquirer must STILL be refused — the heartbeat kept it fresh
      val e = intercept[IllegalStateException] {
        Loader.acquireLease(spark, "lease_hb_target")
      }
      assert(e.getMessage.contains("being written"), e.getMessage)
      writer.join(30000)
      assert(writerDone, "slow writer must complete")
      // and the slow writer's own release still worked (it was never reaped)
      assert(!java.nio.file.Files.exists(path), "lease must release after the slow merge")
      assert(spark.table("lease_hb_target").filter(col("k") === 2L)
        .collect()(0).getString(1) == "hb")
    } finally {
      prevTtl match {
        case Some(v) => spark.conf.set("spark.graft.lease.ttlMs", v)
        case None    => spark.conf.unset("spark.graft.lease.ttlMs")
      }
      spark.sql("DROP TABLE IF EXISTS lease_hb_target")
    }
  }

  test("lease heartbeat self-release: a stop the owner could not wait out still releases the lease (r14 review)") {
    val prevTtl = spark.conf.getOption("spark.graft.lease.ttlMs")
    spark.conf.set("spark.graft.lease.ttlMs", "1200") // beat period 300 ms
    val path = Loader.leaseFile(spark, "lease_hb_selfrel")
    try {
      java.nio.file.Files.deleteIfExists(path)
      val acquired = Loader.acquireLease(spark, "lease_hb_selfrel")
      val hb = Loader.startHeartbeat(
        spark, "lease_hb_selfrel", Loader.leasePath(spark, "lease_hb_selfrel"),
        acquired)
      // wait for at least one beat (the lease content's third token
      // flips from the acquire nonce `acqN` to the beat marker `hbN`)
      def beaten(): Boolean =
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
          .split(' ').lift(2).exists(_.startsWith("hb"))
      val deadline = System.currentTimeMillis() + 10000
      while (!beaten() && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(beaten(), "heartbeat must have beaten at least once")
      // the owner signals stop but never interrupts or joins — the
      // bounded-join-gave-up shape of the shutdown race: a beat in
      // flight may re-create the lease AFTER the owner's release, so
      // the heartbeat itself must delete the beat-written lease
      hb.stop.set(true)
      hb.thread.join(10000)
      assert(!hb.thread.isAlive, "heartbeat must exit on the stop flag alone")
      assert(!java.nio.file.Files.exists(path),
        "heartbeat must self-release the lease it wrote")
    } finally {
      prevTtl match {
        case Some(v) => spark.conf.set("spark.graft.lease.ttlMs", v)
        case None    => spark.conf.unset("spark.graft.lease.ttlMs")
      }
      java.nio.file.Files.deleteIfExists(path)
    }
  }

  test("lease shutdown leaves the lease HELD while a beat is still in flight; releases once finished (r14 review)") {
    val path = Loader.leaseFile(spark, "lease_hb_stall")
    java.nio.file.Files.deleteIfExists(path)
    val acquired = Loader.acquireLease(spark, "lease_hb_stall")
    // a handle whose thread simulates a beat stalled in a slow FS op:
    // it survives the interrupt and keeps running past the bounded join
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val hb = new Loader.HeartbeatHandle(stop, acquired)
    val t = new Thread(() => {
      while (!stop.get) try Thread.sleep(20) catch { case _: InterruptedException => () }
      // the "stalled FS op": immune to a pending interrupt — a real
      // blocked filesystem call does not return early on interrupt
      val end = System.currentTimeMillis() + 2000
      while (System.currentTimeMillis() < end)
        try Thread.sleep(50) catch { case _: InterruptedException => () }
    })
    t.setDaemon(true)
    hb.thread = t
    t.start()
    Loader.shutdownHeartbeat(spark,
      Loader.leasePath(spark, "lease_hb_stall"), hb, joinMs = 300)
    assert(t.isAlive, "simulated stall must outlive the bounded join")
    assert(java.nio.file.Files.exists(path),
      "owner must NOT release while a beat may still be in flight")
    t.join(10000)
    assert(!t.isAlive)
    // once the heartbeat is provably finished, the shutdown releases
    Loader.shutdownHeartbeat(spark,
      Loader.leasePath(spark, "lease_hb_stall"), hb, joinMs = 1000)
    assert(!java.nio.file.Files.exists(path),
      "owner releases once the heartbeat is finished")
  }

  test("lease heartbeat never touches the same app's NEXT lease on the table (r14 review)") {
    val prevTtl = spark.conf.getOption("spark.graft.lease.ttlMs")
    spark.conf.set("spark.graft.lease.ttlMs", "1200")
    val path = Loader.leaseFile(spark, "lease_hb_decline")
    try {
      java.nio.file.Files.deleteIfExists(path)
      val acquired = Loader.acquireLease(spark, "lease_hb_decline")
      val hb = Loader.startHeartbeat(
        spark, "lease_hb_decline", Loader.leasePath(spark, "lease_hb_decline"),
        acquired)
      def content(): String =
        new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      val deadline = System.currentTimeMillis() + 10000
      while (!content().split(' ').lift(2).exists(_.startsWith("hb")) &&
          System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(content().split(' ').lift(2).exists(_.startsWith("hb")),
        "heartbeat must have beaten")
      // the owner releases and the same app immediately RE-ACQUIRES
      // (the stalled-old-heartbeat shape): same appId, fresh acquire
      // content — neither a still-live beat nor the old handle's
      // cleanup may refresh or delete it
      java.nio.file.Files.delete(path)
      val next = s"${spark.sparkContext.applicationId} ${System.currentTimeMillis()}"
      java.nio.file.Files.write(path, next.getBytes("UTF-8"))
      hb.stop.set(true)
      hb.thread.join(10000)
      assert(!hb.thread.isAlive)
      assert(java.nio.file.Files.exists(path),
        "the next operation's lease must survive the old heartbeat's shutdown")
      assert(content() == next,
        "the next operation's lease content must be untouched by old beats")
    } finally {
      prevTtl match {
        case Some(v) => spark.conf.set("spark.graft.lease.ttlMs", v)
        case None    => spark.conf.unset("spark.graft.lease.ttlMs")
      }
      java.nio.file.Files.deleteIfExists(path)
    }
  }

  test("lease Hadoop-FileContext protocol: acquire/refuse/reap/release round-trip on the warehouse FS (r13 verdict #1a)") {
    Loader.forceHadoopLeaseProtocol = true
    try {
      val path = Loader.leaseFile(spark, "lease_fc_target")
      java.nio.file.Files.deleteIfExists(path)
      Loader.acquireLease(spark, "lease_fc_target")
      assert(java.nio.file.Files.exists(path))
      // second acquire refuses (fresh foreign-held lease, content check)
      val e = intercept[IllegalStateException] {
        Loader.acquireLease(spark, "lease_fc_target")
      }
      assert(e.getMessage.contains("being written"), e.getMessage)
      // stale lease reaps through the FileContext move-aside path
      val old = System.currentTimeMillis() - Loader.leaseTtlMs(spark) - 1000
      java.nio.file.Files.write(path, s"app-dead-writer $old".getBytes("UTF-8"))
      Loader.acquireLease(spark, "lease_fc_target")
      val raw = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(raw.startsWith(spark.sparkContext.applicationId + " "),
        s"reap must install our lease: $raw")
      java.nio.file.Files.deleteIfExists(path)
    } finally Loader.forceHadoopLeaseProtocol = false
  }

  test("release claim-and-verify: a reaper's fresh lease landing inside the release window survives (r14 advice)") {
    val path = Loader.leaseFile(spark, "lease_rel_race")
    java.nio.file.Files.deleteIfExists(path)
    val acquired = Loader.acquireLease(spark, "lease_rel_race")
    val hb = new Loader.HeartbeatHandle(
      new java.util.concurrent.atomic.AtomicBoolean(true), acquired)
    val reaperLease = s"reaper-app ${System.currentTimeMillis()}"
    val real = new Loader.NioLeaseFs
    val hPath = Loader.leasePath(spark, "lease_rel_race")
    // the advice's exact window: the ownership read returns OUR content,
    // and before the release acts a TTL reaper replaces the lease — the
    // old read-then-delete destroyed the reaper's fresh lease here
    var armed = true
    val racy = new Loader.LeaseFs {
      def read(p: org.apache.hadoop.fs.Path): String = {
        val c = real.read(p)
        if (armed && p == hPath && c == acquired) {
          armed = false
          real.delete(p)
          real.write(p, reaperLease) // the reap lands right after the read
        }
        c
      }
      def write(p: org.apache.hadoop.fs.Path, s: String) = real.write(p, s)
      def delete(p: org.apache.hadoop.fs.Path) = real.delete(p)
      def exists(p: org.apache.hadoop.fs.Path) = real.exists(p)
      def promote(s: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path) =
        real.promote(s, d)
      def replace(s: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path) =
        real.replace(s, d)
      def mkdirs(p: org.apache.hadoop.fs.Path) = real.mkdirs(p)
    }
    Loader.releaseOwned(racy, hPath, hb, spark.sparkContext.applicationId)
    val after = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    assert(after == reaperLease,
      s"the reaper's fresh lease must survive the release: $after")
    java.nio.file.Files.deleteIfExists(path)
    // and no claim-aside files left behind adjudicating this lease
    val strays = java.nio.file.Files.list(path.getParent).toArray.map(_.toString)
      .filter(s => s.contains("lease_rel_race") && s.contains(".released."))
    assert(strays.isEmpty, s"restored release must clean its claim file: ${strays.toSeq}")
  }

  /** The wedged-heartbeat fixture (r14 verdict #7): runs `destructive`
    * inside a lease on `table` whose heartbeat writes wedge, after the
    * lease aged past a 1.2 s TTL and a second driver's reap took it;
    * `check` gets the owner's refusal while the successor's lease is
    * still on disk.
    */
  private def underReapedLease(table: String)(destructive: => Unit)(
      check: IllegalStateException => Unit): Unit = {
    val prevTtl = spark.conf.getOption("spark.graft.lease.ttlMs")
    spark.conf.set("spark.graft.lease.ttlMs", "1200") // beat period 300 ms
    val real = new Loader.NioLeaseFs
    val unwedge = new java.util.concurrent.CountDownLatch(1)
    @volatile var wedgedBeats = 0
    // a filesystem whose BEAT WRITES wedge: the thread blocks inside the
    // FS call, interrupt-immune (a blocked filesystem op does not return
    // on interrupt), until the spec releases it — then fails like a
    // timed-out FS op would
    val wedging = new Loader.LeaseFs {
      def write(p: org.apache.hadoop.fs.Path, s: String): Unit = {
        if (p.getName.contains(".hb.tmp")) {
          wedgedBeats += 1
          while (!unwedge.await(50, java.util.concurrent.TimeUnit.MILLISECONDS)) {
            if (Thread.interrupted()) () // swallow: a wedged FS op ignores interrupts
          }
          throw new java.io.IOException("simulated FS timeout after wedge")
        } else real.write(p, s)
      }
      def read(p: org.apache.hadoop.fs.Path) = real.read(p)
      def delete(p: org.apache.hadoop.fs.Path) = real.delete(p)
      def exists(p: org.apache.hadoop.fs.Path) = real.exists(p)
      def promote(s: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path) =
        real.promote(s, d)
      def replace(s: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path) =
        real.replace(s, d)
      def mkdirs(p: org.apache.hadoop.fs.Path) = real.mkdirs(p)
    }
    val path = Loader.leaseFile(spark, table)
    java.nio.file.Files.deleteIfExists(path)
    Loader.leaseFsOverride = Some(wedging)
    try {
      val err = intercept[IllegalStateException] {
        Loader.withLease(spark, table) {
          // wait out the TTL: every beat is wedged, so the lease ages
          val deadline = System.currentTimeMillis() + 15000
          while (wedgedBeats == 0 && System.currentTimeMillis() < deadline)
            Thread.sleep(50)
          assert(wedgedBeats > 0, "a beat must have wedged")
          Thread.sleep(Loader.leaseTtlMs(spark) + 500)
          // a second driver's TTL reap succeeds against the stale lease
          Loader.acquireLease(spark, table)
          destructive
        }
      }
      check(err)
    } finally {
      unwedge.countDown()
      Loader.leaseFsOverride = None
      prevTtl match {
        case Some(v) => spark.conf.set("spark.graft.lease.ttlMs", v)
        case None    => spark.conf.unset("spark.graft.lease.ttlMs")
      }
      java.nio.file.Files.deleteIfExists(path)
    }
  }

  test("wedged heartbeat: TTL reap fires, the owner's last-gate check refuses the destructive swap (r14 verdict #7)") {
    import spark.implicits._
    dropWithLocation("lease_wedge_t")
    Seq((1L, "a", 10.0)).toDF("k", "name", "v")
      .write.mode("overwrite").saveAsTable("lease_wedge_t")
    val path = Loader.leaseFile(spark, "lease_wedge_t")
    try underReapedLease("lease_wedge_t") {
      // the owner's rewrite is still running — its destructive swap
      // must fail LOUDLY at the last gate, before the drop
      Loader.mergeInto(spark, "lease_wedge_t",
        Seq((1L, "z", 0.0)).toDF("k", "name", "v"), Seq("k"))
    } { err =>
      assert(err.getMessage.contains("lost mid-rewrite"), err.getMessage)
      assert(spark.catalog.tableExists("lease_wedge_t"),
        "the refused swap must not have dropped the target")
      assert(spark.table("lease_wedge_t").collect()(0).getString(1) == "a",
        "the wedged writer's merge must not land")
      // the reaper's (successor's) lease survives the owner's shutdown:
      // the skip-release contract held while the beat was still wedged
      val content = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(content.split(' ').lift(2).exists(_.startsWith("acq")),
        s"the successor's acquire content must be untouched: $content")
    } finally {
      spark.sql("DROP TABLE IF EXISTS lease_wedge_t")
      spark.sql(s"DROP TABLE IF EXISTS ${Loader.swapName("lease_wedge_t")}")
    }
  }

  test("wedged heartbeat: a refused partition overwrite restores the overwrite mode, removes its staged slice and changes no partition") {
    import spark.implicits._
    dropWithLocation("lease_wedge_part")
    spark.range(0, 40)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("p"),
        col("id").cast("double").as("v"))
      .write.mode("overwrite").partitionBy("p").saveAsTable("lease_wedge_part")
    val before = fileInventory("lease_wedge_part")
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.get(confKey)
    try assertNoStagingLeft(underReapedLease("lease_wedge_part") {
      // key 5 stays in its home partition p=1: the bounded path stages
      // the slice, then its last gate finds the lease lost
      Loader.mergeInto(spark, "lease_wedge_part",
        Seq((5L, 1, 55.0)).toDF("k", "p", "v"), Seq("k"))
    } { err =>
      assert(err.getMessage.contains("lost mid-rewrite"), err.getMessage)
      assert(spark.conf.get(confKey) == modeBefore,
        s"the refused overwrite leaked $confKey=${spark.conf.get(confKey)}")
      assert(fileInventory("lease_wedge_part") == before,
        "the refused overwrite changed a partition")
      assert(spark.table("lease_wedge_part").filter(col("k") === 5L)
        .select("v").collect()(0).getDouble(0) == 5.0)
    }) finally spark.sql("DROP TABLE IF EXISTS lease_wedge_part")
  }

  test("checkpoint-staged overwrite: blocks lost before the insert fail it loudly, change no partition, and a replay lands") {
    import spark.implicits._
    dropWithLocation("ckpt_lost_part")
    spark.range(0, 40)
      .select(col("id").as("k"), (col("id") % 4).cast("int").as("p"),
        col("id").cast("double").as("v"))
      .write.mode("overwrite").partitionBy("p").saveAsTable("ckpt_lost_part")
    val before = fileInventory("ckpt_lost_part")
    val confKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.get(confKey)
    // key 5 updates in p=1, key 41 inserts into p=1: the bounded path
    val staging = Seq((5L, 1, 55.0), (41L, 1, 41.0)).toDF("k", "p", "v")
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val merging = Thread.currentThread()
    @volatile var fired = false
    @volatile var dropped = Set.empty[Int]
    // the merging thread's first lease read is the last gate, which sits
    // between the checkpoint and insertInto: drop the checkpoint's blocks
    // there, as an executor loss would
    val real = new Loader.NioLeaseFs
    val dropping = new Loader.LeaseFs {
      def read(p: org.apache.hadoop.fs.Path): String = {
        if (!fired && (Thread.currentThread() eq merging)) {
          fired = true
          val fresh = spark.sparkContext.getPersistentRDDs -- persistedBefore
          fresh.values.foreach(_.unpersist(blocking = true))
          dropped = fresh.keySet.toSet
        }
        real.read(p)
      }
      def write(p: org.apache.hadoop.fs.Path, s: String) = real.write(p, s)
      def delete(p: org.apache.hadoop.fs.Path) = real.delete(p)
      def exists(p: org.apache.hadoop.fs.Path) = real.exists(p)
      def promote(s: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path) =
        real.promote(s, d)
      def replace(s: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path) =
        real.replace(s, d)
      def mkdirs(p: org.apache.hadoop.fs.Path) = real.mkdirs(p)
    }
    java.nio.file.Files.deleteIfExists(Loader.leaseFile(spark, "ckpt_lost_part"))
    Loader.leaseFsOverride = Some(dropping)
    try {
      val err = try intercept[Exception](
        Loader.mergeInto(spark, "ckpt_lost_part", staging, Seq("k")))
      finally Loader.leaseFsOverride = None
      assert(dropped.nonEmpty, "the hook must have dropped the staged checkpoint")
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(e => Option(e.getMessage).exists(_.contains("Checkpoint block"))),
        s"the insert must fail on the lost checkpoint block: $err")
      assert(fileInventory("ckpt_lost_part") == before,
        "the failed overwrite changed a partition")
      assert(spark.conf.get(confKey) == modeBefore,
        s"the failed overwrite leaked $confKey=${spark.conf.get(confKey)}")
      assert((spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore).isEmpty,
        "the failed overwrite left an RDD persisted")
      // the replay of the same batch, without the fault, lands it
      Loader.mergeInto(spark, "ckpt_lost_part", staging, Seq("k"))
      spark.catalog.refreshTable("ckpt_lost_part")
      val out = spark.table("ckpt_lost_part").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(out.size == 41 && out(5L) == 55.0 && out(41L) == 41.0 && out(6L) == 6.0,
        s"got $out")
      val after = fileInventory("ckpt_lost_part")
      assert(after.filterNot(_._1.startsWith("p=1")) ==
        before.filterNot(_._1.startsWith("p=1")),
        "the replay rewrote an untouched partition")
    } finally spark.sql("DROP TABLE IF EXISTS ckpt_lost_part")
  }

  test("single-writer lease: a stale lease (dead writer) is reaped, not honored") {
    import spark.implicits._
    dropWithLocation("lease_stale_target")
    target.write.mode("overwrite").saveAsTable("lease_stale_target")
    val path = Loader.leaseFile(spark, "lease_stale_target")
    java.nio.file.Files.createDirectories(path.getParent)
    // a crashed writer's lease: older than the TTL
    val old = System.currentTimeMillis() - Loader.LeaseTtlMs - 1000
    java.nio.file.Files.write(path, s"app-dead-writer $old".getBytes("UTF-8"))
    val staging = Seq((3L, "c2", 33.0)).toDF("k", "name", "v")
    Loader.mergeInto(spark, "lease_stale_target", staging, Seq("k"))
    assert(spark.table("lease_stale_target").filter(col("k") === 3L)
      .collect()(0).getString(1) == "c2")
    assert(!java.nio.file.Files.exists(path), "reaped lease must also release")
    spark.sql("DROP TABLE IF EXISTS lease_stale_target")
  }
}
