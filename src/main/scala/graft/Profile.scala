package graft

/** Per-query layer profile: one [[Harness.run]] per named query (the
  * full suite, sorted, when none is named), each printed as
  *
  *   PROFILE <name> wall= plan= exec= jobs= nodes= run= cpu= gc=
  *
  * — wall seconds split into driver-side plan construction (build
  * through `executedPlan`) and execution, the Spark jobs the run
  * started, the printed plan's line count, and the task run/CPU/GC
  * milliseconds summed over its tasks — then a TOTAL line. Named
  * queries run in the order given, repeats included, so
  * `Profile a b a b …` is a same-JVM alternating A/B.
  *
  * Run: `SPARK_GRAFT_SF_DIR=<sfDir> sbt "runMain graft.Profile
  * [query...]"` (default sf0.1).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val byName = SparkEntry.select(args.toSeq)
    val names = if (args.isEmpty) byName.keys.toSeq.sorted else args.toSeq
    val spark = GraftSession.driver()
    Harness.warm(spark, sfDir)
    val runs = names.map { name =>
      val r = Harness.run(spark, sfDir, name, byName(name))
      println(f"PROFILE $name%-24s wall=${r.wall}%7.3f plan=${r.plan}%7.3f " +
        f"exec=${r.exec}%7.3f jobs=${r.m.jobs}%4d nodes=${r.nodes}%4d " +
        f"run=${r.m.runMs}%6d cpu=${r.m.cpuMs}%6d gc=${r.m.gcMs}%5d")
      r
    }.filter(_.wall >= 0)
    println(f"PROFILE TOTAL wall=${runs.map(_.wall).sum}%.3f " +
      f"plan=${runs.map(_.plan).sum}%.3f exec=${runs.map(_.exec).sum}%.3f " +
      f"jobs=${runs.map(_.m.jobs).sum}%d n=${runs.size}%d fails=${names.size - runs.size}%d")
    spark.stop()
  }
}
