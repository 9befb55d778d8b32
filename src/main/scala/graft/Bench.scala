package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.driver()
    Harness.warm(spark, sfDir)
    // optional args = query-name filter for iterating on hotspots; the
    // driver invokes with no args and gets the full suite. Sorted order
    // for run-to-run comparability.
    val ordered = SparkEntry.select(args.toSeq).toSeq.sortBy(_._1)
    // Fixed-work calibration spin (r19, r18 verdict next-round 1c):
    // same-code driver totals have spanned 250-349 s across windows
    // that load and steal telemetry CANNOT distinguish (r18 closed at
    // steal [0,0] both locally and at the driver, 20% apart). A
    // fixed-work single-thread spin timed before each rep measures the
    // one thing loadavg and /proc/stat both miss: how fast a core
    // actually executes in this window (frequency/thermal era,
    // co-tenant cache pressure). Med/p90 ride the totals line as
    // "cal":[m,p] (ms, 1dp) — a window with cal far above the quiet
    // baseline (~2-4 ms on this class of core) is mechanically
    // discountable from the artifact alone. Runs OUTSIDE every timer.
    def calSpin(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 4000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      if (x == 42L) System.err.print("") // defeat dead-code elimination
      math.floor((System.nanoTime() - t0) / 1e5) / 10
    }
    // warm the spin's JIT so rep samples measure the machine, not C2
    var calWarm = 0; while (calWarm < 20) { calSpin(); calWarm += 1 }
    // min of two runs: single-shot timings swing ±2-8× with machine
    // load, making round-over-round comparison meaningless; the min is
    // the stable "code speed" estimate and stays comparable. The two
    // reps are INTERLEAVED (full pass over every query, then a second
    // full pass) so a transient load spike lands on at most one rep of
    // any query — back-to-back reps were both poisoned by the same
    // spike, indistinguishable from a real regression.
    val calSamples = scala.collection.mutable.ArrayBuffer[Double]()
    def pass() = ordered.map { case (name, fn) =>
      calSamples += calSpin() // outside the timer, one sample per rep
      name -> Harness.run(spark, sfDir, name, fn)
    }
    val pass1 = pass()
    val pass2 = pass()
    val results = pass1.zip(pass2).map { case ((k, r1), (_, r2)) => k -> Seq(r1, r2) }
    val mins = results.map { case (k, rs) =>
      k -> (if (rs.exists(_.wall < 0)) -1.0 else rs.map(_.wall).min)
    }.toMap
    // Suite-level load summary for the TOTALS line (r16 verdict #1):
    // the per-rep load series lives on bench_diag, which the driver's
    // 2000-char tail cuts — so the hot-window question ("is this
    // round's drift machine heat or code?") must be answerable from
    // the surviving final line alone. med/p90 over all per-rep 1-min
    // samples, ~22 chars.
    def medP90(xs: Seq[Double]): String = {
      // empty sample set (e.g. /proc/stat unreadable → every steal
      // sample filtered out) must NOT read as a measured [0.0,0.0]
      // "genuinely uncontended" — emit the sentinel instead (ADVICE r17)
      if (xs.isEmpty) return "[-1,-1]"
      val v = xs.sorted
      def pct(p: Double): Double =
        v(math.min(v.size - 1, (v.size * p).toInt))
      s"[${pct(0.5)},${pct(0.9)}]"
    }
    val loadSummary = medP90(results.flatMap(_._2.map(_.load)))
    // per-rep CPU-steal med/p90 (percent; -1 samples = /proc/stat
    // unavailable, excluded): steal > 0 at the driver = hypervisor
    // co-tenancy that loadavg cannot see
    val stealSummary = medP90(results.flatMap(_._2.map(_.steal)).filter(_ >= 0))
    val qs = mins.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // {"name":[rep1,rep2],…}: one field of each rep per query
    def perRep(rows: Seq[(String, Seq[Harness.Run])])(f: Harness.Run => Any): String =
      rows.map { case (k, rs) => "\"" + k + "\":[" + rs.map(f).mkString(",") + "]" }
        .mkString("{", ",", "}")
    // Both raw timings per query: a loaded machine shows as BOTH runs
    // slow across the board, distinguishable from a real code regression
    // without a re-run. The min stays the headline comparison number.
    val runs = perRep(results)(_.wall)
    // 1-min system load sampled immediately before each rep: a rep taken
    // at load far above the allotted cpus is externally contaminated and
    // its timing should be discounted by the reader.
    val loads = perRep(results)(_.load)
    // Full per-rep storage telemetry: [peakMB, evictDisk, drops] per rep.
    val memFull = perRep(results)(r => s"[${r.m.peakMB},${r.m.evictDisk},${r.m.drops}]")
    // Per-rep task-metric decomposition for the slowest queries (r16
    // verdict #2): [runMs, cpuMs, gcMs, shufWriteMs] per rep. With the
    // rep's wall time (on "runs") and the slot count, one read
    // separates CPU starvation (runMs >> cpuMs), GC, shuffle-write IO,
    // and scheduler gap (wall*slots >> runMs) — the d4/d22/tc3
    // driver-vs-local anomalies become attributable from bench_diag
    // alone. Top 20 by min keeps the line bounded; the anomaly class
    // is always a heavy query.
    val slowest = mins.toSeq.sortBy(-_._2).take(20).map(_._1).toSet
    val taskFull = perRep(results.filter(r => slowest(r._1)))(r =>
      s"[${r.m.runMs},${r.m.cpuMs},${r.m.gcMs},${r.m.shufWriteMs}]")
    val total = mins.values.filter(_ >= 0).sum
    // The driver captures only the LAST ~2000 characters of output, so the
    // headline payload (per-query mins) must fit the tail: with 125+
    // queries the full-name map alone is ~3 KB (round-8's artifact lost it
    // behind the runs/loads diagnostics for exactly this reason). The
    // mins line ([[minsLine]]) is SELF-BOUNDING; the FINAL line carries
    // only totals + failures (< 250 chars at any suite size), so both
    // always fit the driver's ~2000-char tail together and the final
    // line stays json-parseable however many queries the suite grows
    // to. Full 3-decimal mins/runs/loads stay on the bench_diag line.
    val fails = mins.toSeq.filter(_._2 < 0).map(_._1).sorted
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failMap = mins.toSeq.filter(_._2 < 0).map(_._1).sorted
      .map("\"" + short(_) + "\":-1").mkString("{", ",", "}")
    val steals = perRep(results)(_.steal)
    val sfName = new java.io.File(sfDir).getName
    println(s"""{"metric":"bench_diag","queries_full":$qs,"runs":$runs,"loads":$loads,"mem":$memFull,"steals":$steals,"tasks":$taskFull}""")
    val minsStr = minsLine(mins.toSeq)
    val calSummary = medP90(calSamples.toSeq)
    val totalStr = s"""{"metric":"total","value":$total,"unit":"sec","cpus":"$cpus","sf":"$sfName","n_queries":${mins.size},"load":$loadSummary,"steal":$stealSummary,"cal":$calSummary,"fails":$fails,"queries":$failMap}"""
    // The compact mem line sits in the driver's ~2000-char stdout tail
    // above the mins line; its budget is whatever the tail has left
    // after the two must-fit lines, computed EXACTLY (not hoped about).
    // memLine returns "" when the budget can't even hold its header
    // (a high-failure round's long totals line) — printing a blank
    // line would waste tail chars, so skip it entirely and let the two
    // must-fit lines keep the whole
    // Top-3 slowest queries' min-rep task metrics ON THE TAIL (r17
    // verdict #5): bench_diag's full [run,cpu,gc,shufWrite] decomposition
    // doesn't survive the driver's 2000-char cut, so attributing a slow
    // driver query (CPU-starved vs scheduler-bound) needed a local
    // re-run. `id:runS:cpuS` — task-time sums in seconds (1dp) from the
    // rep that produced the min — rides the mem line: with the wall on
    // the mins line and the slot count on totals, one tail read
    // separates CPU-priced (cpuS ≈ runS, many core-seconds per wall
    // second) from scheduler-bound sequential DAGs (runS ≪ wall×slots).
    val slowStr = mins.toSeq.filter(_._2 >= 0).sortBy(-_._2).take(3)
      .map(_._1).flatMap { k =>
        results.find(_._1 == k).map { case (_, rs) =>
          val valid = rs.filter(_.wall >= 0)
          val m = (if (valid.isEmpty) rs.head else valid.minBy(_.wall)).m
          def s1(ms: Long): Double = math.floor(ms / 100.0) / 10
          s"${short(k)}:${s1(m.runMs)}:${s1(m.cpuMs)}"
        }
      }.mkString(",")
    val memBudget = 2000 - minsStr.length - totalStr.length - 8
    val memStr = memLine(
      results.map { case (k, rs) =>
        (k, rs.map(r => (r.m.peakMB, r.m.evictDisk, r.m.drops)), rs.map(_.load))
      }, memBudget, slowStr)
    if (memStr.nonEmpty) println(memStr)
    println(minsStr)
    println(totalStr)
    spark.stop()
  }

  /** Every query name's prefix before the first '_' is unique
    * (q1, g4, tq5, …) — the bench artifact's short id. */
  def short(name: String): String = name.takeWhile(_ != '_')

  /** The per-query mins line, provably tail-safe at ANY suite size: it
    * sits directly above the final totals line inside the driver's
    * ~2000-char stdout tail, so its length is HARD-BOUNDED here rather
    * than hoped about. Entries sort by short id and encode as integer
    * centiseconds. `fmt` says how `q` is packed:
    *  - `"packed"` — `id:centisec` pairs, comma-joined (~8 chars/query;
    *    fits up to ~190 queries);
    *  - `"csv"` — the centisec values alone, comma-joined in sorted-
    *    short-id order (the ids are recoverable from the query set,
    *    and the bench_diag line carries the full-name map) — ~4.5
    *    chars/query, fitting past 350 queries.
    * The switch triggers when the packed payload would exceed
    * [[MinsBudget]] chars, keeping line length < MinsBudget + ~60
    * header chars < 1800 at any n — spec-pinned at 280 queries.
    */
  val MinsBudget = 1650

  /** The compact tail-visible storage line (r15 verdict #2): per query
    * `shortid:peakMB:evictDisk:load` — peakMB/evictDisk are the max
    * over reps, and load is the 1-min system load at the start of THE
    * REP THAT PRODUCED THEM (most evictions, then highest peak; 1
    * decimal) — so the entry's heat context belongs to the same rep as
    * its eviction/peak evidence, not to whichever rep happened to be
    * hottest (r17 review: a cool-rep eviction next to the other rep's
    * high load would read as machine heat, the exact misattribution
    * the `:load` field exists to prevent). Sorted evictions-first then
    * peak-desc so
    * the anomaly evidence survives however tight the budget — entries
    * are appended only while they fit `budget` chars of payload, and a
    * `"cut":N` suffix names how many were cut (the no-silent-caps
    * rule). Full per-rep triples live on bench_diag. Returns "" when
    * `budget` can't hold even the header+suffix (a long totals line on
    * a high-failure round — ADVICE r17: emitting the header anyway
    * would push the three-line tail past the driver's window).
    */
  def memLine(mem: Seq[(String, Seq[(Long, Long, Long)], Seq[Double])],
              budget: Int, slow: String = ""): String = {
    val entries = mem.map { case (k, ms, ls) =>
      val pk = if (ms.isEmpty) 0L else ms.map(_._1).max
      val ev = if (ms.isEmpty) 0L else ms.map(_._2).max
      val worst =
        if (ms.isEmpty) -1
        else ms.zipWithIndex.maxBy { case ((p, e, _), _) => (e, p) }._2
      val ld =
        if (worst < 0 || worst >= ls.size) 0.0
        else math.floor(ls(worst) * 10) / 10
      (short(k), pk, ev, ld)
    }.sortBy { case (id, pk, ev, _) => (-ev, -pk, id) }
    // the slow field (top-3 mins' `id:runS:cpuS` task seconds, r17
    // verdict #5) rides inside the header so the exact budget
    // accounting below covers it too
    val slowField = if (slow.isEmpty) "" else s""""slow":"$slow","""
    val header = s"""{"metric":"mem","unit":"id:peakMB:evictDisk:load","n":${mem.size},$slowField"q":""""
    // closing quote + `,"cut":NNNN` + `}` worst case
    val room = budget - header.length - 16
    if (room <= 0) return ""
    val sb = new StringBuilder
    var kept = 0
    entries.foreach { case (id, pk, ev, ld) =>
      val piece = (if (kept == 0) "" else ",") + s"$id:$pk:$ev:$ld"
      if (sb.length + piece.length <= room) { sb.append(piece); kept += 1 }
    }
    val cut = entries.size - kept
    val suffix = if (cut > 0) s""","cut":$cut""" else ""
    header + sb.toString + "\"" + suffix + "}"
  }

  def minsLine(mins: Seq[(String, Double)]): String = {
    def cs(v: Double): String = if (v < 0) "-1" else (v * 100).round.toString
    val sorted = mins.sortBy(p => short(p._1))
    val packed = sorted.map { case (k, v) => short(k) + ":" + cs(v) }
      .mkString(",")
    val (fmt, payload) =
      if (packed.length <= MinsBudget) ("packed", packed)
      else ("csv", sorted.map(p => cs(p._2)).mkString(","))
    s"""{"metric":"mins","unit":"centisec","fmt":"$fmt","n":${mins.size},"q":"$payload"}"""
  }
}
