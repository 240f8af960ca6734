package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: a `limit(n).count()` compiles new classes on
  * every call (Spark's local limit names its counter from a JVM-wide
  * sequence), so bounded counts and existence probes go through
  * [[graft.operators.Serving.boundedCount]] instead. */
class BoundedCountSurfaceSpec extends AnyFunSuite {

  test("no limit(...).count() in src/main") {
    val limitCount = """\.limit\([^()]*\)\s*\.count\(\s*\)""".r
    // comment lines (scaladoc, block and line comments) may name the idiom
    def isComment(line: String): Boolean = {
      val t = line.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }
    def scalaFiles(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "no sources found under src/main/scala")
    val found = files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val code = try src.getLines().filterNot(isComment).mkString("\n")
        finally src.close()
      limitCount.findAllMatchIn(code).map(m => s"${f.getPath}: ${m.matched}")
    }
    assert(found.isEmpty,
      "limit(...).count() found — use Serving.boundedCount:\n" +
        found.mkString("\n"))
  }
}
