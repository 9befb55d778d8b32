package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional trailing args = query-name filter for local iteration;
    // the driver passes exactly two args and gets the full suite.
    val selected = SparkEntry.select(rest)
    val spark = GraftSession.driver()
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a visible trace in the artifact,
    // not just a stderr line: round 8 lost five queries from the
    // correctness report because they errored at analysis time and
    // simply had no parquet dir. _failures.json names them.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      // Between-query scrub, mirroring Bench's (ADVICE r17): operators
      // that stage via LAZY localCheckpoint (minhashPairs/simhashPairs,
      // the k-means/PQ training fronts) leave their blocks to driver
      // GC + ContextCleaner — across a 220-query session that is the
      // r12 storage-accumulation class (measured then at 6-29× timing
      // inflation on late-suite queries). Verify isn't timed, but an
      // executor-storage pileup can still evict persists mid-build or
      // OOM a long session; dropping every persistent RDD (which lazy
      // checkpoints register as, once materialized) after each query
      // keeps the session flat.
      Frames.scrubSession(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
