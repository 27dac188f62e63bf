package graft.ext

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale probe (Test/runMain graft.ext.BpeScaleProbe <sfDir> <m...>):
  * times the BPE TRAIN (driver merge loop over a binding top-16384
  * type table) and the codegen'd APPLY (one encode per type) at
  * production merge counts — the evidence behind SCALE.md's r13
  * production-vocab rung. The fixture corpus holds 31 word types, so
  * the type table is word TRIGRAMS over the same documents (~16k-27k
  * distinct types, real Zipf counts, shared affixes). The declared m=8
  * keys are untouched by this probe.
  */
object BpeScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    // optional `t=<n>` second arg raises the binding type bound (r15:
    // the m=32k rung runs over a ≥100k-type table per r14 verdict #4)
    val (maxTypes, mergeArgs) = args.drop(1).toSeq match {
      case t +: rest if t.startsWith("t=") => (t.drop(2).toInt, rest)
      case rest                            => (16384, rest)
    }
    val mergeCounts =
      if (mergeArgs.nonEmpty) mergeArgs.map(_.toInt) else Seq(8, 256, 1024)
    val spark = graft.Harness.session(graft.Harness.cpus)
    val docs = graft.io.Sources.table(spark, sfDir, "documents")
    docs.count()
    // digits survive the split (r15): the sf10/sf100 replica corpora
    // namespace words with digit prefixes (`r42word`) — an [a-z]-only
    // split collapsed them back to the base vocabulary and the type
    // table exhausted at ~28k; keeping digits yields the replica-scaled
    // type population the ≥100k-type rung needs
    val w = docs
      .select(col("doc_id"),
        posexplode(split(lower(col("text")), "[^a-z0-9]+")).as(Seq("i", "w")))
      .filter(length(col("w")) > 0)
    val win = Window.partitionBy("doc_id").orderBy("i")
    val trigram = w.withColumn("w2", lead("w", 1).over(win))
      .withColumn("w3", lead("w", 2).over(win))
      .filter(col("w2").isNotNull && col("w3").isNotNull)
      .select(concat(col("w"), col("w2"), col("w3")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .persist()
    val types = trigram.orderBy(col("cnt").desc, col("w")).limit(maxTypes)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    println(s"BPEPROBE $sfDir types=${types.length} (bound $maxTypes)")
    for (m <- mergeCounts; run <- 1 to 2) {
      val t0 = System.nanoTime()
      val ms = Bpe.mergeLoop(types, m)
      val tTrain = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      // apply over every distinct type (the shape bpeEncode/bpeTokens
      // pay: the kernel runs once per TYPE, never per occurrence)
      val total = trigram
        .withColumn("n", graft.functions.GraftFunctions.bpeCount(
          col("w"), Bpe.EndOfWord, ms.map(_.l).toArray, ms.map(_.r).toArray))
        .agg(sum("n")).collect()(0).getLong(0)
      val tApply = (System.nanoTime() - t1) / 1e9
      println(f"BPEPROBE m=$m%-5d run$run learned=${ms.length}%-5d " +
        f"train=$tTrain%.3f s apply=$tApply%.3f s totalSyms=$total")
    }
    spark.stop()
  }
}
