package perfbench

import scala.collection.mutable

/** Per-layer numbers of the traced phase. Ops run one at a time, so a job
  * belongs to the op (and to the build, plan or exec child span) whose
  * window holds the job's start; stages belong to their job and tasks to
  * their stage. A span's self time is its duration minus the part of it
  * that its children cover.
  */
object Attribution {
  final case class Iv(lo: Double, hi: Double) { def len: Double = math.max(0.0, hi - lo) }

  /** Length of the union of `ivs` clipped to `w`. */
  def covered(ivs: Seq[Iv], w: Iv): Double = {
    val c = ivs.map(i => Iv(math.max(i.lo, w.lo), math.min(i.hi, w.hi))).filter(_.len > 0)
      .sortBy(_.lo)
    var total = 0.0
    var cur: Option[Iv] = None
    c.foreach { i =>
      cur match {
        case Some(k) if i.lo <= k.hi => cur = Some(Iv(k.lo, math.max(k.hi, i.hi)))
        case Some(k) => total += k.len; cur = Some(i)
        case None => cur = Some(i)
      }
    }
    total + cur.map(_.len).getOrElse(0.0)
  }

  /** The per-layer metrics (name, value, unit), each for the phase and per
    * op, and a JSON table of the summed layers per op name, averaged over
    * the op's repetitions (the figures a workload's op list is chosen by). */
  def apply(r: Runner, recs: Seq[OpRec], jobs: Seq[JobRec], stages: Seq[StageRec],
            tasks: Seq[TaskRec], l: TraceListener): (Seq[(String, Double, String)], String) = {
    val slots = Main.Slots
    val stageById = stages.groupBy(_.id).map { case (k, v) => k -> v.maxBy(_.end) }
    val tasksByStage = tasks.groupBy(_.stage)
    def jobIv(j: JobRec) = Iv(j.start, if (j.end >= 0) j.end.toDouble else j.start.toDouble)
    def inWin(t: Double, w: Iv) = t >= w.lo - 1 && t <= w.hi + 1

    val sums = mutable.LinkedHashMap[String, Double]()
    val perOp = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val byName = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, Double]]()
    var name = ""
    def add(k: String, v: Double): Unit = {
      sums(k) = sums.getOrElse(k, 0.0) + v
      perOp.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
      val t = byName.getOrElseUpdate(name, mutable.LinkedHashMap())
      t(k) = t.getOrElse(k, 0.0) + v
    }
    var peakMb = 0.0
    var wallSlotMs = 0.0
    var cpuMs = 0.0
    val taken = mutable.Set[Int]()
    recs.foreach { o =>
      val op = Iv(r.epochMs(o.t0), r.epochMs(o.t3))
      val b = Iv(op.lo, r.epochMs(o.t1))
      val p = Iv(b.hi, r.epochMs(o.t2))
      val e = Iv(p.hi, op.hi)
      val sc = Iv(r.epochMs(o.s0), r.epochMs(o.s1))
      name = o.name
      byName.getOrElseUpdate(name, mutable.LinkedHashMap()).updateWith("op_ms")(
        v => Some(v.getOrElse(0.0) + op.len))
      val js = jobs.filter(j => !taken(j.id) && inWin(j.start.toDouble, op))
      taken ++= js.map(_.id)
      val ss = js.flatMap(_.stages).distinct.flatMap(stageById.get)
      val ts = ss.flatMap(s => tasksByStage.getOrElse(s.id, Nil))
      val jobIvs = js.map(jobIv)
      add(if (o.layer == "SparkEntry") "SparkEntry.build_ms" else "operators.build_ms", b.len)
      add(if (o.layer == "SparkEntry") "operators.build_ms" else "SparkEntry.build_ms", 0.0)
      add("catalyst.plan_ms", p.len)
      add("exec_ms", e.len)
      add("Frames.scrub_ms", sc.len)
      add("sched.jobs", js.size)
      add("sched.stages", ss.size)
      add("sched.tasks", ts.size)
      add("sched.task_wait_ms", ts.map { t =>
        stageById.get(t.stage).map(s => math.max(0L, t.launch - s.submit)).getOrElse(0L)
      }.sum.toDouble)
      val run = ts.map(_.runMs).sum.toDouble
      add("sched.gap_ms", op.len * slots - run)
      add("task.run_ms", run)
      val cpu = ts.map(_.cpuNs).sum / 1e6
      add("task.cpu_ms", cpu)
      add("task.gc_ms", ts.map(_.gcMs).sum.toDouble)
      add("task.deser_ms", ts.map(_.deserMs).sum.toDouble)
      perOp.getOrElseUpdate("task.cpu_util", mutable.ArrayBuffer()) +=
        (if (op.len > 0) cpu / (op.len * slots) else 0.0)
      wallSlotMs += op.len * slots
      cpuMs += cpu
      add("shuffle.write_bytes", ts.map(_.shufWrite).sum.toDouble)
      add("shuffle.read_bytes", ts.map(_.shufRead).sum.toDouble)
      add("shuffle.fetch_wait_ms", ts.map(_.fetchWaitMs).sum.toDouble)
      add("shuffle.spill_bytes", ts.map(_.spill).sum.toDouble)
      val peak = math.max(o.storageAtStart,
        Option(l.peakByTag.get(o.seq)).map(_.longValue).getOrElse(0L)) / 1048576.0
      perOp.getOrElseUpdate("storage.peak_mb", mutable.ArrayBuffer()) += peak
      peakMb = math.max(peakMb, peak)
      add("storage.evict_disk",
        Option(l.evictByTag.get(o.seq)).map(_.longValue).getOrElse(0L).toDouble)
      add("io.input_bytes", ts.map(_.inBytes).sum.toDouble)
      add("io.output_bytes", ts.map(_.outBytes).sum.toDouble)
      add("fs.meta_ops", o.fsOps.toDouble)
      add("fs.meta_ms", o.fsNanos / 1e6)
      add("fs.bytes_written", o.fsBytes.toDouble)
      add("jvm.gc_ms", o.gcMs.toDouble)
      // self times
      add("self.build_ms", b.len - covered(jobIvs, b))
      add("self.plan_ms", p.len - covered(jobIvs, p))
      add("self.exec_ms", e.len - covered(jobIvs, e))
      add("self.job_ms", js.map { j =>
        val w = jobIv(j)
        val sIvs = j.stages.flatMap(stageById.get).map(s => Iv(s.submit, s.end))
        w.len - covered(sIvs, w)
      }.sum)
      add("self.stage_ms", ss.map { s =>
        val w = Iv(s.submit, s.end)
        w.len - covered(tasksByStage.getOrElse(s.id, Nil).map(t => Iv(t.launch, t.finish)), w)
      }.sum)
      add("self.task_ms", ts.map(t => (t.finish - t.launch).toDouble).sum)
    }
    sums("task.cpu_util") = if (wallSlotMs > 0) cpuMs / wallSlotMs else 0.0
    sums("storage.peak_mb") = peakMb
    val n = math.max(1, recs.size)
    val layers = sums.toSeq.flatMap { case (k, total) =>
      val u = Units(k)
      val per = perOp(k)
      val mean = if (k == "task.cpu_util" || k == "storage.peak_mb") per.sum / per.size
        else total / n
      Seq((k, total, u), (s"$k.per_op", mean, u))
    }
    val reps = recs.groupBy(_.name).map { case (k, v) => k -> v.size }
    val table = Json.obj(byName.toSeq.map { case (op, t) =>
      val cols = t.toSeq.map { case (k, v) => k -> v / reps(op) } :+
        ("task.cpu_util" -> t.getOrElse("task.cpu_ms", 0.0) / (t("op_ms") * slots))
      op -> Json.obj(cols.map { case (k, v) => k -> Json.num(v) })
    })
    (layers, table)
  }

  def Units(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes") || k.endsWith("bytes_written")) "bytes"
    else if (k.endsWith("_mb")) "MiB"
    else if (k.endsWith("_util")) "ratio"
    else "count"
}

/** Writes the traced phase's spans as JSON lines: one per op with its
  * build, plan and exec children, one per scrub, and every job (parented
  * by the child span its start falls in) and stage (parented by its job). */
object Spans {
  def write(path: String, r: Runner, recs: Seq[OpRec], jobs: Seq[JobRec],
            stages: Seq[StageRec]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    def span(id: String, parent: String, name: String, lo: Double, hi: Double): Unit =
      out.println(Json.obj(Seq("id" -> Json.str(id), "parent" -> Json.str(parent),
        "name" -> Json.str(name), "start_ms" -> Json.num(lo), "end_ms" -> Json.num(hi))))
    val children = recs.flatMap { o =>
      val id = s"op${o.seq}"
      Seq((s"$id.build", o.t0, o.t1), (s"$id.plan", o.t1, o.t2), (s"$id.exec", o.t2, o.t3))
        .map { case (c, a, b) => (c, r.epochMs(a), r.epochMs(b)) }
    }
    def parentOf(t: Double): String =
      children.find { case (_, lo, hi) => t >= lo - 1 && t <= hi + 1 }.map(_._1).getOrElse("")
    try {
      recs.foreach { o =>
        val id = s"op${o.seq}"
        span(id, "", s"${o.layer}:${o.name}", r.epochMs(o.t0), r.epochMs(o.t3))
        span(s"scrub${o.seq}", "", "Frames.scrub", r.epochMs(o.s0), r.epochMs(o.s1))
      }
      children.foreach { case (c, lo, hi) => span(c, c.takeWhile(_ != '.'), c.dropWhile(_ != '.').tail, lo, hi) }
      // jobs of the set-up, warm and untraced phases are left out
      val traced = jobs.map(j => j -> parentOf(j.start.toDouble)).filter(_._2.nonEmpty)
      traced.foreach { case (j, p) => span(s"job${j.id}", p, "job", j.start, j.end) }
      val jobOfStage = traced.flatMap { case (j, _) => j.stages.map(_ -> s"job${j.id}") }.toMap
      stages.filter(s => jobOfStage.contains(s.id)).foreach(s =>
        span(s"stage${s.id}", jobOfStage(s.id), s"stage tasks=${s.tasks}", s.submit, s.end))
    } finally out.close()
  }
}
