package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.{ExtQueries, SparkEntry}
import graft.ext.Similarity
import graft.io.Sources
import graft.ops.{Bronze, Loader}
import graft.streaming.{StreamGraphMaintain, StreamLoader}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files => JF, Path}
import scala.jdk.CollectionConverters._

/** What one operation returned: the collected relation of a read, or
  * the cells a fold rewrote.
  */
final case class Out(
    rows: Option[(StructType, Array[Row])] = None,
    cells: Seq[Long] = Nil)

/** One operation of a pass. `family` names it in the `ext` layer (the
  * K batches of one MERGE share a family); `layer` is the `ops` or
  * `streaming` timer it also feeds; `key` is the declared query whose
  * DuckDB oracle checks a read's output; `target` is the storage a write
  * rewrites (for `ops.merge_rewrite_ratio`); `after` is an untimed check
  * of the operation's effect. A `setup` step is harness work that runs in
  * the pass but is kept out of every timing and layer figure.
  */
final case class Op(
    name: String,
    family: String,
    writes: Boolean,
    run: () => Out,
    key: Option[String] = None,
    layer: Option[String] = None,
    target: Option[Path] = None,
    after: Out => Option[String] = _ => None,
    setup: Boolean = false)

/** Persisted state checked after every pass: hashed each pass, dumped on
  * the checked pass. `owners` are the operations charged if it is wrong.
  */
final case class State(name: String, owners: Seq[String], df: () => DataFrame)

/** One pass's storage: every pass gets its own root, deleted afterwards. */
final class Pass(val spark: SparkSession, val index: Int, val root: Path, val input: String)

trait Workload {
  /** Input tables read by the set-up warm-up. */
  def tables: Seq[String]
  def ops(p: Pass): Seq[Op]
  def states(p: Pass): Seq[State]
  /** Declared keys whose oracle text the checker needs. */
  def oracleKeys: Seq[String]
  /** Cells in the maintained layout after the pass (0 = no layout). */
  def layoutCells(p: Pass): Long = 0L
  def endPass(p: Pass): Unit = ()
}

object Workloads {
  def apply(name: String, plan: JsonNode): Workload = name match {
    case "elt_merge" => new EltMerge(plan)
    case "vector_maintain" => new VectorMaintain(plan)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def collect(df: DataFrame): Out = Out(rows = Some((df.schema, df.collect())))
}

/** The paper's own surface: bronze full copies, then K CDC batches MERGEd
  * into a partitioned `orders` (bounded rewrite) and an unpartitioned
  * `customer` (swap rewrite), then analytics over the merged tables.
  */
final class EltMerge(plan: JsonNode) extends Workload {
  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events")
  private val reads = Seq("analytics_rollup_revenue", "analytics_top_customers",
    "analytics_pricing_summary")
  val oracleKeys = reads
  private val batches = plan.get("batches").elements().asScala.toSeq
  private val contract = Map(
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment"))

  private def db(p: Pass) = s"p${p.index}"

  def ops(p: Pass): Seq[Op] = {
    val spark = p.spark
    val wh = p.root.resolve("wh")
    val serve = p.root.resolve("serve")
    // set-up: the partitioned silver copy of orders that the bounded
    // rewrite MERGEs into, as it would exist before a CDC batch arrives
    val silver = Op("silver_orders", "silver_orders", writes = true, setup = true, run = () => {
      spark.sql(s"CREATE DATABASE `${db(p)}` LOCATION '${wh.toUri}'")
      spark.catalog.setCurrentDatabase(db(p))
      Sources.table(spark, p.input, "orders").write.partitionBy("o_orderpriority")
        .saveAsTable("orders_silver")
      Out()
    })
    val bronze = Op("bronze", "bronze", writes = true, layer = Some("ops.bronze_s"), run = () => {
      Bronze.buildAll(spark, p.input, targetDb = db(p))
      Out()
    })
    val merges = batches.zipWithIndex.flatMap { case (b, i) =>
      Seq(
        Op(s"merge_orders_$i", "merge_orders", writes = true,
          layer = Some("ops.merge_partitioned_s"), target = Some(wh.resolve("orders_silver")),
          run = () => {
            StreamLoader.mergeBatch(spark,
              spark.read.parquet(s"${p.input}/${b.get("orders").asText}"),
              "orders_silver", Seq("o_orderkey"), "seq", p.root.resolve("ckpt").toString)
            Out()
          }),
        Op(s"merge_customer_$i", "merge_customer", writes = true,
          layer = Some("ops.merge_swap_s"), target = Some(wh.resolve("customer")),
          run = () => {
            Loader.mergeInto(spark, "customer",
              spark.read.parquet(s"${p.input}/${b.get("customer").asText}"),
              Seq("c_custkey"))
            Out()
          }))
    }
    // set-up: the analytics read through graft.io.Sources, i.e. from one
    // directory of `<table>.parquet`; every table is linked in from the
    // warehouse, the merged ones included (their contract columns are in
    // order: the partition column o_orderpriority is the last one)
    val links = Map("orders" -> "orders_silver", "customer" -> "customer",
      "lineitem" -> "lineitem", "part" -> "part", "supplier" -> "supplier",
      "nation" -> "nation", "region" -> "region")
    val publish = Op("publish", "publish", writes = false, setup = true, run = () => {
      JF.createDirectories(serve)
      links.foreach { case (name, table) =>
        val dir = wh.resolve(table)
        require(JF.isDirectory(dir), s"table $table is not at $dir")
        JF.createSymbolicLink(serve.resolve(s"$name.parquet"), dir)
      }
      Out()
    })
    val analytics = reads.map { k =>
      Op(k.stripPrefix("analytics_"), k.stripPrefix("analytics_"), writes = false,
        key = Some(k), run = () => Workloads.collect(SparkEntry.queries(k)(spark, serve.toString)))
    }
    Seq(silver, bronze) ++ merges ++ Seq(publish) ++ analytics
  }

  def states(p: Pass): Seq[State] = {
    val mo = batches.indices.map(i => s"merge_orders_$i")
    val mc = batches.indices.map(i => s"merge_customer_$i")
    Seq(
      State("orders", Seq("silver_orders") ++ mo, () =>
        p.spark.table("orders_silver").select(contract("orders").map(col): _*)),
      State("customer", Seq("bronze") ++ mc, () =>
        p.spark.table("customer").select(contract("customer").map(col): _*)))
  }

  override def endPass(p: Pass): Unit = {
    p.spark.catalog.setCurrentDatabase("default")
    p.spark.sql(s"DROP DATABASE IF EXISTS `${db(p)}` CASCADE")
  }
}

/** Vector-index maintenance: build the IVF index and the clustered vector
  * and kNN-graph layouts over the base corpus, fold a seeded arrival
  * batch through the streaming face, re-deliver it (must be a no-op), and
  * serve seeded probes from the maintained layouts.
  */
final class VectorMaintain(plan: JsonNode) extends Workload {
  val tables = Seq("embeddings")
  val oracleKeys = Seq("knn_graph_appended_embeddings", "graph_search_clustered_embeddings")
  private val arriving = plan.get("arriving").elements().asScala.map(_.asLong).toSeq
  private val probeIds = plan.get("probes").elements().asScala.map(_.asLong).toSeq
  private val K = ExtQueries.KnnGraphK
  // the declared vector keys seed their quantizer with
  // `Similarity.seedCentroids(e, 16)`; gen.py's SEED_CENTROIDS matches it
  private val Centroids = 16

  def ops(p: Pass): Seq[Op] = {
    val spark = p.spark
    val e = Sources.table(spark, p.input, "embeddings")
    val isArriving = col("vec_id").isin(arriving: _*)
    val base = e.filter(!isArriving)
    val batch = e.filter(isArriving)
    val vec = p.root.resolve("vectors").toString
    val graph = p.root.resolve("graph").toString
    val indexPath = p.root.resolve("index").toString
    var index: Similarity.IvfIndex = null
    var beforeRedelivery = Set.empty[(String, Long, Long)]
    def layouts() = Files.listing(p.root.resolve("vectors")) ++
      Files.listing(p.root.resolve("graph"))
    Seq(
      Op("build_index", "build_index", writes = true, run = () => {
        Similarity.saveIndex(spark,
          Similarity.IvfIndex(Similarity.seedCentroids(base, Centroids)), indexPath)
        index = Similarity.loadIndex(spark, indexPath)
        Out()
      }),
      Op("write_vectors", "write_vectors", writes = true, run = () => {
        Similarity.writeClustered(Similarity.ivfAssignPortableTo(base, index.centroids), vec)
        Out()
      }),
      Op("write_graph", "write_graph", writes = true, run = () => {
        Similarity.writeGraphClustered(Similarity.knnGraph(base, k = K),
          Similarity.ivfAssignPortableTo(base, index.centroids), graph)
        Out()
      }),
      Op("graph_fold", "graph_fold", writes = true, layer = Some("streaming.graph_fold_s"),
        run = () => Out(cells = StreamGraphMaintain.maintainBatch(spark, batch, index, vec, graph, k = K)),
        after = o => {
          beforeRedelivery = layouts()
          if (o.cells.isEmpty) Some("fold of a fresh batch rewrote no cells") else None
        }),
      Op("redelivery", "redelivery", writes = true, layer = Some("streaming.redelivery_s"),
        run = () => Out(cells = StreamGraphMaintain.maintainBatch(spark, batch, index, vec, graph, k = K)),
        after = o =>
          if (o.cells.nonEmpty) Some(s"re-delivered batch rewrote cells ${o.cells}")
          else if (layouts() != beforeRedelivery) Some("re-delivered batch changed the layouts")
          else None),
      Op("graph_search", "graph_search", writes = false,
        key = Some("graph_search_clustered_embeddings"), run = () => {
          val corpus = spark.read.parquet(vec).select("vec_id", "embedding", "label")
          val probes = corpus.filter(col("vec_id").isin(probeIds: _*))
            .select(col("vec_id").as("probe_id"), col("embedding"))
          Workloads.collect(Similarity.graphSearchClustered(corpus, spark.read.parquet(graph),
            probes, index.centroids, index.centroids.map(_._1)))
        }))
  }

  def states(p: Pass): Seq[State] = Seq(
    State("graph_layout", Seq("write_graph", "graph_fold", "redelivery"), () =>
      p.spark.read.parquet(p.root.resolve("graph").toString)
        .select("probe_id", "vec_id", "label", "cosine")),
    State("vector_layout", Seq("write_vectors", "graph_fold", "redelivery"), () =>
      p.spark.read.parquet(p.root.resolve("vectors").toString)
        .select("vec_id", "embedding", "label")))

  override def layoutCells(p: Pass): Long = {
    val g = p.root.resolve("graph")
    if (!JF.isDirectory(g)) 0L
    else {
      val s = JF.list(g)
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("g_cell=")).toLong
      finally s.close()
    }
  }
}
