package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: the write half of the lakes' tombstone/edit
  * overlay is written once, in [[graft.domain.GenStore]]. `GenStore.delete`
  * is the one tombstone append and `GenStore.upsert` the one
  * last-writer-wins merge (the three lakes and the sync log call it), the
  * lakes take their lease from `StateLock.withRootLock` with no
  * per-lake pass-through, a writer's pin is released by
  * `Serving.withPinned`'s scope rather than a hand-written
  * `finally … unpersist`, and `Writers.compactLeaves` is the one
  * partition-leaf compaction loop. */
class OverlayWriteSurfaceSpec extends AnyFunSuite {

  /** Each main source file's code as one string, comments left out, so a
    * pattern may span lines. */
  private lazy val files: Seq[(java.io.File, String)] =
    SourceScan.mainCode().map { case (f, lines) =>
      f -> lines.map(_._2).mkString("\n") }

  private def hits(re: String): Seq[String] = {
    val r = re.r
    files.flatMap { case (f, code) =>
      r.findAllMatchIn(code).map { m =>
        val line = code.substring(0, m.start).count(_ == '\n')
        s"${f.getPath} (code line ${line + 1}): " +
          m.matched.replaceAll("\\s+", " ")
      }
    }
  }

  test("one overlay delete and upsert body, no lock pass-through, scoped pins, one leaf loop") {
    val once = Seq(
      // a delete's guarded append of the ids it counted as tombstones
      "tombstone append" -> """if\s*\(\w+\s*>\s*0\)[^\n]*[Tt]ombstones""",
      // the batch unioned over the member rows it did not replace, pinned
      // for its row cap and its commit (the read-side folds are not pinned)
      "last-writer-wins merge" ->
        """"left_anti"\)\s*\.unionByName\(\w+\)\s*(?:\.persist\(|\)\s*\{)""",
      // compaction of each leaf of a partitioned table
      "leaf-compaction loop" -> """\bcompactPartition\(spark,""")
    val release = """\bfinally\s*\{?\s*\w+\.unpersist\("""
    // exactly one of each body: zero would mean the pattern no longer sees it
    val faults = once.map { case (name, re) => s"copies of the $name" -> hits(re) }
      .filter(_._2.size != 1) ++
      Seq("per-lake lock pass-throughs" -> hits("""def\s+withWriterLock\b"""),
        "finally-unpersist releases outside Serving.withPinned" ->
          hits(release).filterNot(_.contains("Serving.scala")))
        .filter(_._2.nonEmpty)
    assert(faults.isEmpty, faults.map { case (what, found) =>
      s"${found.size} $what:\n" + found.mkString("\n") }.mkString("\n"))
    assert(hits(release).size == 1, "Serving.withPinned's own release is gone")
  }
}
