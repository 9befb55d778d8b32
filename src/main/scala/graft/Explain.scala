package graft

/** Plan-inspection helper: prints the formatted physical plan of the
  * named queries (all when none named) so shuffle/broadcast/pushdown
  * decisions are reviewable per query.
  * Usage: runMain graft.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.driver()
    SparkEntry.select(args.drop(1).toSeq).toSeq.sortBy(_._1).foreach { case (n, fn) =>
      println(s"\n===== $n =====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
