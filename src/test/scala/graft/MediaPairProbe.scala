package graft

import org.apache.spark.sql.functions._

import graft.ext.Multimodal

/** Scale probe (Test/runMain graft.MediaPairProbe <sfDir>...): for each
  * SF, reports the video/audio hash-pair counts and the fraction of
  * banding rows deleted by the oversized-bucket cap at band arity 1 vs
  * the declared arity 2 — the evidence behind SCALE.md's round-11
  * band-saturation entry (a 4-bit band key has 16 values regardless of
  * n, so past ~4k clips the single-band cap deletes nearly every row
  * and recall silently collapses; C(b,2) composite keys multiply
  * cardinality 256× and restore it).
  */
object MediaPairProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq else Seq("/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    for (dir <- dirs) {
      val docs = graft.io.Sources.table(spark, dir, "documents")
      val nDocs = docs.count()
      for ((name, hashed, hashCol, bands, cap, radius) <- Seq(
          ("video", Multimodal.videoHash(Multimodal.asVideoTable(docs)),
            "vhash", Multimodal.VideoBands, Multimodal.VideoMaxBucket,
            Multimodal.VideoMaxHamming),
          ("audio", Multimodal.audioHash(Multimodal.asAudioTable(docs)),
            "ahash", Multimodal.AudioBands, Multimodal.AudioMaxBucket,
            Multimodal.AudioMaxHamming));
          arity <- 1 to math.min(3, bands - radius)) {
        val bitsPer = 64 / bands
        val combos = (0 until bands).combinations(arity).toSeq
        val banded = hashed.select(
          explode(array(combos.zipWithIndex.map { case (combo, ci) =>
            struct(lit(ci).as("band"),
              combo.map(i => shiftright(col(hashCol), i * bitsPer)
                  .bitwiseAND(lit((1L << bitsPer) - 1)))
                .reduceLeft((acc, v) =>
                  shiftleft(acc, bitsPer).bitwiseOR(v)).as("bkey"))
          }: _*)).as("b"))
          .select(col("b.band"), col("b.bkey"))
        val stats = banded.groupBy("band", "bkey").count()
          .agg(count(lit(1)).as("buckets"),
            sum(when(col("count") > cap, 1).otherwise(0)).as("capped"),
            sum(when(col("count") > cap, col("count")).otherwise(0))
              .as("rows_dropped"),
            sum(col("count")).as("rows_total")).collect()(0)
        val t0 = System.nanoTime()
        val pairs = Multimodal.hammingPairs(
          hashed, hashCol, radius, bands, cap, arity).count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"MEDIAPROBE $dir $name arity=$arity docs=$nDocs " +
          f"buckets=${stats.getLong(0)} capped=${stats.getLong(1)} " +
          f"rowsDropped=${stats.getLong(2)}/${stats.getLong(3)} " +
          f"radius=$radius pairs=$pairs sec=$sec%.2f")
        graft.core.CacheScope.releaseAll()
      }
    }
    spark.stop()
  }
}
