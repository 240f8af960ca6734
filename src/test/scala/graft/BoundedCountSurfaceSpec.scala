package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: a `limit(n).count()` compiles new classes on
  * every call (Spark's local limit names its counter from a JVM-wide
  * sequence), so bounded counts and existence probes go through
  * [[graft.operators.Serving.boundedCount]] instead. */
class BoundedCountSurfaceSpec extends AnyFunSuite {

  test("no limit(...).count() in src/main") {
    val limitCount = """\.limit\([^()]*\)\s*\.count\(\s*\)""".r
    // the code of each file joined, so a call split across lines matches
    val found = SourceScan.mainCode().flatMap { case (f, lines) =>
      limitCount.findAllMatchIn(lines.map(_._2).mkString("\n"))
        .map(m => s"${f.getPath}: ${m.matched}")
    }
    assert(found.isEmpty,
      "limit(...).count() found — use Serving.boundedCount:\n" +
        found.mkString("\n"))
  }
}
