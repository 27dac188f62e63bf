package graft

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** The session harness's loud paths: warm-up over partial and damaged
  * sf directories, key refusal, and the JSON string escaper every main
  * writes its artifacts with.
  */
class HarnessSpec extends SparkSpec {

  /** A copy of the sf0.001 tables in a temp dir, `skip` left out. */
  private def sfCopy(skip: String*): Path = {
    val src = Paths.get("/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("harness_sf")
    Harness.WarmUpTables.filterNot(skip.contains).foreach { t =>
      Files.copy(src.resolve(s"$t.parquet"), dir.resolve(s"$t.parquet"))
    }
    dir
  }

  test("warmUp: a present but truncated table throws, naming the table and the dir") {
    val dir = sfCopy()
    try {
      val orders = dir.resolve("orders.parquet")
      val bytes = Files.readAllBytes(orders)
      Files.write(orders, bytes.take(bytes.length / 2),
        StandardOpenOption.TRUNCATE_EXISTING)
      val e = intercept[IllegalStateException](Harness.warmUp(spark, dir.toString))
      assert(e.getMessage.contains("'orders'"), e.getMessage)
      assert(e.getMessage.contains(dir.toString), e.getMessage)
    } finally deleteTree(dir)
  }

  test("warmUp: an absent table is skipped and the others are read") {
    val dir = sfCopy(skip = "events")
    try {
      val (_, jobs) = jobsRun(Harness.warmUp(spark, dir.toString))
      // each of the 9 present tables' count() runs at least one job
      assert(jobs >= 9, s"$jobs jobs")
    } finally deleteTree(dir)
  }

  test("query: a declared key resolves, a misspelt key is refused by name") {
    Harness.query("knn_graph_embeddings")
    val e = intercept[IllegalArgumentException](Harness.query("knn_grpah_embeddings"))
    assert(e.getMessage.contains("'knn_grpah_embeddings'"), e.getMessage)
    assert(e.getMessage.contains("SparkEntry.queries"), e.getMessage)
  }

  test("jsonString escapes quote, backslash and control characters exactly") {
    val cases = Seq(
      "plain" -> "\"plain\"",
      "a\"b" -> "\"a\\\"b\"",
      "a\\b" -> "\"a\\\\b\"",
      "a\nb" -> "\"a\\nb\"",
      "a\rb" -> "\"a\\rb\"",
      "a\tb" -> "\"a\\tb\"",
      "a\u0001b" -> "\"a\\u0001b\"",
      "a\u001fb" -> "\"a\\u001fb\"",
      "café ✓ 日本" -> "\"café ✓ 日本\"",
      "" -> "\"\"")
    cases.foreach { case (in, out) =>
      assert(Harness.jsonString(in) == out, s"input ${in.map(_.toInt)}")
    }
  }
}
