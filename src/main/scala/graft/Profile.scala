package graft

/** Per-query layer profile: one [[Harness.run]] per named query (the
  * full suite, sorted, when none is named), each printed as
  *
  *   PROFILE <name> wall= build= plan= exec= jobs= gap= drv= tasks= nodes= run= cpu= gc=
  *
  * — wall seconds split into the builder (which runs jobs itself for
  * eager lifecycle queries), driver-side planning (`executedPlan`) and
  * execution, the Spark jobs, the inter-job gap (wall seconds no job
  * span covers), the driver thread's CPU seconds over the run (`drv`;
  * near `gap`, the gap is driver work, far under it, waiting; a chain
  * [[Frames.overlap]] runs on a scratch thread is not counted), the
  * tasks, the printed plan's line count, and the task run/CPU/GC
  * milliseconds summed over its tasks — then a TOTAL line.
  * Named queries run in the order given, repeats included, so
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
      println(f"PROFILE $name%-24s wall=${r.wall}%7.3f build=${r.build}%7.3f " +
        f"plan=${r.plan}%7.3f exec=${r.exec}%7.3f jobs=${r.m.jobs}%4d " +
        f"gap=${r.wall - r.m.jobMs / 1e3}%7.3f drv=${r.drv}%7.3f " +
        f"tasks=${r.m.tasks}%5d nodes=${r.nodes}%4d " +
        f"run=${r.m.runMs}%6d cpu=${r.m.cpuMs}%6d gc=${r.m.gcMs}%5d")
      r
    }.filter(_.wall >= 0)
    println(f"PROFILE TOTAL wall=${runs.map(_.wall).sum}%.3f " +
      f"build=${runs.map(_.build).sum}%.3f plan=${runs.map(_.plan).sum}%.3f " +
      f"exec=${runs.map(_.exec).sum}%.3f drv=${runs.map(_.drv).sum}%.3f " +
      f"jobs=${runs.map(_.m.jobs).sum}%d n=${runs.size}%d fails=${names.size - runs.size}%d")
    spark.stop()
  }
}
