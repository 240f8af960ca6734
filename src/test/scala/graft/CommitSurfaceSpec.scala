package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: every mutable state dir commits through a
  * version pointer ([[graft.domain.GenStore]]), so the `__tmp`/`__old`
  * rename swap, its recovery and its reader twins must not come back. The
  * hidden-sibling leaf swap (`Writers.compactPartition`) is the one rename
  * path left and uses neither name. */
class CommitSurfaceSpec extends AnyFunSuite {

  test("no rename-swap protocol or its reader twins in src/main") {
    val banned = Seq(
      """\bswapReplace\b""", """\bpromoteSwap\b""", """\brecoverSwap\b""",
      """\breadOrEmptyReadOnly\b""", """\bstateExistsReadOnly\b""",
      """Writers\.compact\(""",
      // a path built with the displaced-state suffix
      """\+\s*"__old"""", """s"[^"]*__old[^"]*"""", """"__tmp",\s*"__old""""
    ).map(_.r)
    // comment lines (scaladoc, block and line comments) may name them
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
      val lines = try src.getLines().toList finally src.close()
      lines.zipWithIndex.filterNot(l => isComment(l._1)).flatMap {
        case (line, i) =>
          banned.filter(_.findFirstIn(line).isDefined)
            .map(_ => s"${f.getPath}:${i + 1}: ${line.trim}")
      }
    }
    assert(found.isEmpty,
      s"${found.size} rename-swap hit(s) — commit through GenStore instead:\n" +
        found.mkString("\n"))
  }
}
