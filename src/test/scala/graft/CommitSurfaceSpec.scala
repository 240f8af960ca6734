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
    val found = SourceScan.mainCode().flatMap(_._2).flatMap {
      case (at, line) =>
        banned.filter(_.findFirstIn(line).isDefined)
          .map(_ => s"$at: ${line.trim}")
    }
    assert(found.isEmpty,
      s"${found.size} rename-swap hit(s) — commit through GenStore instead:\n" +
        found.mkString("\n"))
  }
}
