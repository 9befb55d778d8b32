package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps every main source file reviewable: a per-query diff must land
  * in a file a reader can hold, not in one that grows with the suite
  * (the query registry was one 12,461-line file before it was split
  * by family).
  */
class SourceSizeSpec extends AnyFunSuite {
  test("no src/main file is over 2,000 lines") {
    val files = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    assert(files.exists(_.endsWith("SparkEntry.scala")), "src/main not found")
    val big = files.map(p => (p, Files.readAllLines(p).size)).collect {
      case (p, n) if n > 2000 => s"$p:$n"
    }
    assert(big.isEmpty, big.mkString("files over 2,000 lines:\n", "\n", ""))
  }
}
