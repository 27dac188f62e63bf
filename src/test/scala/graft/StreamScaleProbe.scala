package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming._

/** Streaming-face throughput probe
  * (`Test/runMain graft.StreamScaleProbe <sfDir> <batchRows> [faces...]`):
  * replays the sf-dir corpus through a face as MemoryStream micro-batches
  * of `batchRows` rows and reports per-face wall time and rows/s — the
  * evidence behind SCALE.md's streaming-throughput entry. Faces span the
  * three state classes: `curate` (stateless narrow ops), `neardup`
  * (banded bucket state, the heaviest per-row kernel), `sessionize`
  * (per-user state), `budget` (single-key admission state — the
  * deliberately serial face).
  *
  * The number is a LOWER bound on production throughput: MemoryStream +
  * memory sink + processAllAvailable serializes micro-batch scheduling
  * on the driver, where a real source overlaps fetch/plan/execute.
  */
object StreamScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchRows = if (args.length > 1) args(1).toInt else 1000
    val faces =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("curate", "neardup", "sessionize", "budget")
    val spark = Harness.session(Harness.cpus)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    lazy val docRows: Array[(Long, String, String, String)] =
      graft.io.Sources.table(spark, sfDir, "documents")
        .select("doc_id", "text", "lang", "source").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    lazy val eventRows: Array[Event] =
      graft.io.Sources.table(spark, sfDir, "events")
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .collect()
        .map(r => Event(r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getDouble(4),
          if (r.isNullAt(5)) "" else r.getString(5)))

    def drive[T](name: String, rows: Seq[T],
        mk: MemoryStream[T] => org.apache.spark.sql.DataFrame,
        mode: OutputMode = OutputMode.Append())(
        implicit enc: org.apache.spark.sql.Encoder[T]): Unit = {
      val input = MemoryStream[T]
      val q = mk(input).writeStream.format("memory")
        .queryName(s"probe_$name").outputMode(mode).start()
      try {
        val t0 = System.nanoTime()
        rows.grouped(batchRows).foreach { b =>
          input.addData(b: _*); q.processAllAvailable()
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val out = spark.table(s"probe_$name").count()
        val nb = (rows.size + batchRows - 1) / batchRows
        println(f"STREAMSCALE $name rows=${rows.size} batches=$nb " +
          f"wall $sec%.2f s ${rows.size / sec}%.0f rows/s out=$out")
      } finally q.stop()
    }

    faces.foreach {
      case "curate" =>
        val bench = Seq((1L, "held out benchmark sentence for decontamination"))
          .toDF("doc_id", "text")
        drive[(Long, String, String)]("curate",
          docRows.toSeq.map(r => (r._1, r._2, r._3)),
          in => StreamCurate.curateStream(
            in.toDF().toDF("doc_id", "text", "lang"), bench))
      case "neardup" =>
        drive[StreamDoc]("neardup",
          docRows.toSeq.map(r => StreamDoc(r._1, r._1 * 1000000L, r._2)),
          in => StreamNearDup.nearDupTags(in.toDS()).toDF())
      case "sessionize" =>
        drive[Event]("sessionize", eventRows.toSeq,
          in => StreamSessionize.sessionize(in.toDS()).toDF())
      case "budget" =>
        drive[BudgetDoc]("budget",
          docRows.toSeq.map(r => BudgetDoc(r._1, r._3, r._4, r._2)),
          in => StreamSelectBudget.selectStream(
            in.toDF(), budgetTokens = Long.MaxValue).toDF())
      case "budget_sharded" =>
        // the production budget face: same admission fold, N=8 hash
        // strata — measures what the shard fan-out buys over the
        // single-key funnel at the same (effectively infinite) budget
        drive[BudgetDoc]("budget_sharded",
          docRows.toSeq.map(r => BudgetDoc(r._1, r._3, r._4, r._2)),
          in => StreamSelectBudget.selectStreamSharded(
            in.toDF(), budgetTokens = Long.MaxValue, shards = 8).toDF())
      case "perplexity" =>
        // the stateless frozen-model face: model + cutoffs train once
        // on the corpus (outside the timed window), then every row is
        // one codegen'd projection — the face's throughput ceiling is
        // the micro-batch scheduling overhead, not the kernel
        val df = graft.io.Sources.table(spark, sfDir, "documents")
        val cutoffs = graft.ext.Relevance.perplexityCutoffs(
          graft.ext.Relevance.perplexityBuckets(df))
        graft.core.CacheScope.releaseAll()
        val model = graft.ext.Relevance.bigramModel(df)
        drive[PerpDoc]("perplexity",
          docRows.toSeq.map(r => PerpDoc(r._1, r._3, r._4, r._2)),
          in => StreamPerplexity.classifyStream(
            in.toDF(), model, cutoffs, defaultCutoffs = (0.0, 0.0)))
      case "decontaminate" =>
        // the second stateless frozen-artifact face: bitmap + exact
        // gram set build once on the benchmark split (outside the timed
        // window), then every row is one codegen'd projection
        val df = graft.io.Sources.table(spark, sfDir, "documents")
        val bench = df.filter(col("doc_id") % 97 === 0)
        val art = graft.ext.Corpus.bloomArtifact(bench)
        val set = StreamDecontaminate.benchGramSet(bench)
        drive[DecontDoc]("decontaminate",
          docRows.toSeq.filter(_._1 % 97 != 0)
            .map(r => DecontDoc(r._1, r._2, r._3, r._4, 0L)),
          in => StreamDecontaminate.filterStream(in.toDF(), art, set))
      case "drift" =>
        // the running-aggregate monitoring face: state = k cells, the
        // smallest state class of the stateful faces
        val e = graft.io.Sources.table(spark, sfDir, "embeddings")
        val indexed = e.filter(col("vec_id") % 4 =!= 0)
        val index = graft.ext.Similarity.buildIvfIndex(indexed,
          nCentroids = 16, iterations = 3, portable = true)
        val base = StreamDriftMonitor.baseline(indexed, index)
        val vecRows = e.filter(col("vec_id") % 4 === 0).collect()
          .map(r => DriftVec(r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
        drive[DriftVec]("drift", vecRows,
          in => StreamDriftMonitor.driftStream(in.toDF(), index, base),
          OutputMode.Update())
      case other => sys.error(s"unknown face: $other")
    }
    spark.stop()
  }
}
