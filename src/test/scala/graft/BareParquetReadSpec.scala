package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps the operators' and sources' parquet reads free of schema
  * inference: a bare `spark.read.parquet(dir)` runs one Spark job just to
  * read a footer. A read there either declares its schema
  * (`read.schema(...)...parquet(`) or goes through
  * `SegmentFs.readCommitted`, which takes the schema from a footer on the
  * driver. `Tables.load` and the query families' own staged reads are
  * outside this scope.
  */
class BareParquetReadSpec extends AnyFunSuite {
  // a read chain: `read`, then calls (args nest two deep), then `.parquet(`
  private val chain =
    """\bread((?:\s*\.\w+\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\))*)\s*\.parquet\(""".r

  test("no parquet read under operators, sources or streaming infers its schema") {
    val roots = Seq("operators", "sources", "streaming")
      .map(d => Paths.get("src/main/scala/graft", d))
    assert(roots.forall(Files.isDirectory(_)), "src/main/scala/graft not found")
    val files = roots.flatMap(r => Files.walk(r).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq)
    val bare = files.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      chain.findAllMatchIn(text)
        .filterNot(_.group(1).contains(".schema("))
        .map(m => s"$p:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    assert(bare.isEmpty, bare.mkString(
      "parquet reads that infer their schema (one Spark job each) — declare " +
        "a schema or read through SegmentFs.readCommitted:\n", "\n", ""))
  }
}
