package graft.ext

import org.apache.spark.sql.functions.col

/** Stage probe for the composed corpus→trainer key (Test/runMain
  * graft.ext.CtProbe <sfDir>): times curation, the pinned survivor
  * materialization, and each trainer stage over the cached survivors —
  * for attributing the composed key's cost to its stages.
  */
object CtProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session(graft.Harness.cpus)
    val d = graft.io.Sources.table(spark, sfDir, "documents")
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"CTPROBE $tag ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }
    // two passes: pass 1 is cold (JVM/codegen/footers), pass 2 is the
    // attribution run — fresh pins each pass (releaseAll between)
    for (pass <- 1 to 2) {
      val curated = graft.core.CacheScope.persist(
        Corpus.curateFull(
          d.filter(col("doc_id") % 97 =!= 0),
          d.filter(col("doc_id") % 97 === 0))
          .select(col("doc_id"), col("clean_text").as("text")))
      val n = t(s"p$pass curate+pin")(curated.count())
      println(s"CTPROBE p$pass survivors $n")
      t(s"p$pass bpe_encode")(Bpe.bpeEncode(curated).count())
      t(s"p$pass pack_sequences")(Corpus.packSequences(curated).count())
      t(s"p$pass shuffle_blocks")(Corpus.shuffleBlocks(curated).count())
      t(s"p$pass trainer_order")(Corpus.trainerOrder(curated).count())
      t(s"p$pass composed_key")(Corpus.corpusToTrainer(
        d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0)).count())
      graft.Harness.release(spark)
    }
    spark.stop()
  }
}
