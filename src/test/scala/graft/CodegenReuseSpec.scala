package graft

import graft.operators.Serving
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** A steady-state rerun compiles no generated code: the session's codegen
  * cache holds a pass's working set ([[GraftSession]]), and the bounded
  * count behind every gate produces the same source on every call
  * ([[Serving.boundedCount]]). Compiles are read from Spark's own counter,
  * one sample per Janino compile. Nor does a rerun infer a table schema
  * again: building the warehouse queries runs no Spark job ([[Tables.read]]). */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass of the warehouse queries compiles nothing") {
    val queries = Seq("q01_agg_pricing", "q02_revenue_by_nation",
      "q04_left_join_fill", "q09_filter_regex", "q14_distinct_keys",
      "q19_global_topk", "q40_dim_assembly_multijoin", "q46_asof_join",
      "q48_rollup", "q50_sessionize", "q55_range_join", "q91_salted_join")
    def build(q: String) =
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
    // the Spark jobs the pass's query construction launches
    def pass(): Int = queries.map { q =>
      var df: org.apache.spark.sql.DataFrame = null
      val constructJobs = jobStarts { df = build(q) }
      df.write.format("noop").mode("overwrite").save()
      constructJobs.size
    }.sum
    val first = compiles(pass())
    assert(first > 0, "the first pass must compile the queries' code")
    var constructJobs = -1
    val second = compiles { constructJobs = pass() }
    assert(second == 0,
      s"the second pass compiled $second classes (first pass: $first)")
    // each table's schema is inferred once per session (Tables.read)
    assert(constructJobs == 0,
      s"the second pass ran $constructJobs Spark jobs while constructing")
  }

  test("a bounded-count gate compiles nothing on its second call, and keeps its threshold") {
    val cap = 5L
    // a fresh Dataset each call: a plan carrying a filter and a projection,
    // so a per-call name in the generated source would show as a compile
    def frame(n: Int) = spark.range(0, n, 1, 3)
      .filter(col("id") % 2 === 0).select((col("id") * 3).as("v"))
    def gate(n: Int): Unit = Serving.requireBroadcastable(frame(n), cap,
      "the test frame", "Shrink it.")
    gate(10) // 5 rows: at the cap
    assert(compiles(gate(10)) == 0, "the gate recompiled on its second call")
    val e = intercept[IllegalArgumentException](gate(12)) // 6 rows
    assert(e.getMessage.contains("the test frame exceeds 5 rows — it cannot " +
      "broadcast. Shrink it."), e.getMessage)
    // the count itself: capped, and exact below the cap
    assert(Serving.boundedCount(frame(12), 4) == 4)
    assert(Serving.boundedCount(frame(12), 100) == 6)
    assert(Serving.boundedCount(frame(0), 1) == 0)
  }
}
