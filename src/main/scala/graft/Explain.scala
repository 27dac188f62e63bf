package graft

/** Plan-inspection helper: prints `.explain("formatted")` for the named
  * queries (or the flagship by default). Runs on a 4-core [[Harness]]
  * session, the plans' shuffle width that `PlanShapeSpec` checks. Usage:
  *   sbt "runMain graft.Explain [sfDir] [query ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("flagship")
    names.filter(_ != "flagship").foreach(Harness.query)
    val spark = Harness.session(4)
    names.foreach { name =>
      println(s"\n========== $name ==========")
      val df =
        if (name == "flagship") QueryCatalog.flagship(spark, sfDir)
        else Harness.query(name)(spark, sfDir)
      df.explain("formatted")
    }
    spark.stop()
  }
}
