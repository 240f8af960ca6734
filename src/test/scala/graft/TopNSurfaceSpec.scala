package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main`: the per-probe bounded top-n is written once,
  * as the native aggregate `graft.plans.TopN`. No typed `Aggregator` behind
  * `udaf` re-implements it (`GroupConcat`, a MySQL GROUP_CONCAT, is the one
  * `Aggregator` left), and no kNN join filters its cosines before the heap:
  * the heap skips null and NaN scores itself, and a filter on the cosine
  * lands in the join condition, which computes the cosine again. */
class TopNSurfaceSpec extends AnyFunSuite {

  private lazy val code = SourceScan.mainCode()

  private def hits(re: String, in: java.io.File => Boolean): Seq[String] = {
    val r = re.r
    code.filter(f => in(f._1)).flatMap(_._2)
      .filter(l => r.findFirstIn(l._2).isDefined)
      .map { case (at, l) => s"$at: ${l.trim}" }
  }

  test("one bounded top-n aggregate, no udaf, no cosine pre-filter in src/main") {
    val notGroupConcat = (f: java.io.File) => f.getName != "GroupConcat.scala"
    val aggs = hits("""extends\s+[\w.]*(?:Aggregator|TypedImperativeAggregate)\[""",
      notGroupConcat)
    assert(aggs.size == 1 && aggs.head.contains("TopN.scala"),
      s"${aggs.size} top-n aggregates — keep graft.plans.TopN and call it " +
        "through Serving.rankTopNMicros:\n" + aggs.mkString("\n"))
    val udafs = hits("""\budaf\(""", _ => true)
    assert(udafs.isEmpty, "udaf calls:\n" + udafs.mkString("\n"))
    val typed = hits("""extends\s+[\w.]*Aggregator\[""", notGroupConcat)
    assert(typed.isEmpty, "typed Aggregators:\n" + typed.mkString("\n"))
    val preFilters = hits("""isnan\(col\("cos"\)\)""",
      _.getName == "Similarity.scala")
    assert(preFilters.isEmpty, "cosine pre-filters:\n" + preFilters.mkString("\n"))
  }
}
