package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: each lexical-scoring decision is written
  * once. The BM25 term score lives in `TextStats.bm25TermScore`, the PRF
  * weight in `TextStats.prfExpandedTerms`, and the literal-IN-or-broadcast
  * term prune in `LexLake.termPrune`; every other scorer calls them.
  * `TextOracle.scala` is exempt: its SQL transcriptions are the independent
  * reference the oracle checks the engine against. */
class LexicalCoreSurfaceSpec extends AnyFunSuite {

  test("one BM25 term score, one PRF weight and one term prune in src/main") {
    val cores = Seq(
      // the numerator of BM25's saturating tf term, (tf · (k1 + 1))
      "BM25 term score" -> """(?i)k1\s*\+\s*1\b""",
      // the PRF weight's length normalization, floor(tf · 10⁶ / dl)
      "PRF weight" -> """\*\s*lit\(1000000\.0\)\s*/\s*col\("dl"\)""",
      // the switch between a literal IN filter and a broadcast semi-join
      "term prune" -> """\.size\s*<=\s*4096\b"""
    ).map { case (name, re) => name -> re.r }
    val lines = SourceScan.mainCode(exclude = Set("TextOracle.scala"))
      .flatMap(_._2)
    for ((name, re) <- cores) {
      val hits = lines.filter(l => re.findFirstIn(l._2).isDefined)
        .map { case (at, l) => s"$at: ${l.trim}" }
      // exactly one: zero would mean the pattern no longer sees the core
      assert(hits.size == 1,
        s"${hits.size} copies of the $name — keep one implementation and " +
          "call it:\n" + hits.mkString("\n"))
    }
  }
}
