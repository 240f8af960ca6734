package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: a parquet read without a schema infers one
  * with a Spark job on every call, so untyped reads go through
  * [[Tables.read]], which infers each path's schema once per session.
  * Reads that pass `.schema(...)` are left alone. */
class TableReadSurfaceSpec extends AnyFunSuite {

  test("no untyped read.parquet( outside Tables.scala") {
    val untyped = """\bread\s*\.\s*parquet\(""".r
    // the code of each file joined, so a call split across lines matches
    val found = SourceScan.mainCode(exclude = Set("Tables.scala"))
      .flatMap { case (f, lines) =>
        untyped.findAllMatchIn(lines.map(_._2).mkString("\n"))
          .map(m => s"${f.getPath}: ${m.matched}")
      }
    assert(found.isEmpty,
      "untyped read.parquet( found — use Tables.read:\n" + found.mkString("\n"))
  }
}
