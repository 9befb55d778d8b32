package graft

/** Diagnostic (r18 optimization round): per query, how much wall is
  * driver-side plan construction+optimization vs distributed execution.
  * Prints one line per query: name, build+analyze+optimize seconds
  * (DataFrame construction through executedPlan), execution seconds.
  */
object PlanTimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.driver()
    Tables.names.foreach(t => Tables.load(spark, sfDir, t).count())
    val rows = SparkEntry.select(args.toSeq).toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      val t1 = System.nanoTime()
      Frames.drain(df)
      val t2 = System.nanoTime()
      Frames.scrubSession(spark)
      val planS = (t1 - t0) / 1e9
      val execS = (t2 - t1) / 1e9
      println(f"PLANTIME $name%-24s plan=$planS%7.3f exec=$execS%7.3f nodes=${plan.toString.linesIterator.size}%d")
      (name, planS, execS)
    }
    val tp = rows.map(_._2).sum
    val te = rows.map(_._3).sum
    println(f"PLANTIME TOTAL plan=$tp%.1f exec=$te%.1f n=${rows.size}")
    spark.stop()
  }
}
