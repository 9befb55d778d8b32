package graft

import org.apache.spark.graftbridge.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one timed query run behind every timing main (Bench, ScaleProbe,
  * Profile) and JobCountSpec.
  *
  * A run times build → `executedPlan` → [[Frames.drain]], which splits
  * its wall into the builder (eager lifecycle builders run jobs there),
  * driver-side planning and execution at no extra cost (`drain` forces
  * the same lazy `executedPlan`), and reads the calling thread's CPU
  * time over the same span (`drv`), which tells an inter-job gap of
  * driver work (drv near the gap) from one of waiting (far under it);
  * a chain [[Frames.overlap]] runs on a scratch thread is not counted.
  * Around the timer, and never inside it:
  *  - the 1-min load and CPU steal of the window are sampled
  *    ([[MachineWindow]]), so a contaminated run is discountable from
  *    the artifact;
  *  - the listener bus is drained BEFORE the telemetry reset, so late
  *    events of the previous run are not counted against this one, and
  *    again before the snapshot, so this run's own tail events are;
  *  - [[Frames.scrubSession]] restores isolation afterwards: BENCH_r12
  *    measured queries sitting after the checkpoint-heavy block reading
  *    6–29× slower in one long session when leaked storage was left
  *    behind.
  */
object Harness {

  /** One run: `wall` seconds (-1 when the query threw), its `build`
    * (the builder), `plan` (`executedPlan`) and `exec` (drain) parts,
    * the calling thread's CPU seconds `drv`, the printed plan's line
    * count, the window's `load` and `steal`, and the listener's per-run
    * telemetry. */
  case class Run(wall: Double, build: Double, plan: Double, exec: Double, drv: Double,
                 nodes: Int, load: Double, steal: Double, m: BenchTelemetry.Snap)

  /** Touch every table once so the first timed run does not absorb
    * session start-up, codegen and first-scan IO. */
  def warm(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach(t => Tables.load(spark, dir, t).count())

  /** The session's one [[BenchTelemetry]], registered on first use. */
  private def telemetry(spark: SparkSession): BenchTelemetry = synchronized {
    Bus.find[BenchTelemetry](spark.sparkContext).getOrElse {
      val t = new BenchTelemetry
      spark.sparkContext.addSparkListener(t)
      t
    }
  }

  def run(spark: SparkSession, dir: String, name: String,
          build: (SparkSession, String) => DataFrame): Run = {
    val telem = telemetry(spark)
    val load = MachineWindow.sysLoad
    val st0 = MachineWindow.stealRead()
    Bus.drain(spark.sparkContext)
    telem.reset()
    val cpu = java.lang.management.ManagementFactory.getThreadMXBean
    val c0 = cpu.getCurrentThreadCpuTime
    val t0 = System.nanoTime()
    val (wall, built, plan, exec, drv, nodes) =
      try {
        val df = build(spark, dir)
        val t1 = System.nanoTime()
        val p = df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        Frames.drain(df)
        val t3 = System.nanoTime()
        ((t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
          (cpu.getCurrentThreadCpuTime - c0) / 1e9, p.toString.linesIterator.size)
      } catch {
        case e: Throwable =>
          System.err.println(s"RUN FAIL $name: ${e.getClass.getName}: ${e.getMessage}")
          (-1.0, -1.0, -1.0, -1.0, -1.0, 0)
      }
    Bus.drain(spark.sparkContext)
    val m = telem.snapshot()
    val steal = MachineWindow.stealPct(st0, MachineWindow.stealRead())
    Frames.scrubSession(spark)
    Run(wall, built, plan, exec, drv, nodes, load, steal, m)
  }
}
