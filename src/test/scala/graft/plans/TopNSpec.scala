package graft.plans

import graft.SparkSpec
import graft.operators.Serving
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The one bounded top-n aggregate ([[TopN]], reached through
  * [[Serving.rankTopNMicros]]): its total order (score desc, id asc), its
  * bound, the rows it skips or refuses, and its serialize/merge path
  * against a driver-side sort. */
class TopNSpec extends SparkSpec {
  import spark.implicits._

  private def ranked(df: org.apache.spark.sql.DataFrame, n: Int,
                     id: String, score: String): Seq[Row] =
    Serving.rankTopNMicros(df, n, id, score).orderBy("probe_id", "rank")
      .collect().toSeq

  test("equal scores tie to the lower id; rank runs 1..n best first") {
    val df = Seq((1L, 30L, 0.5), (1L, 10L, 0.5), (1L, 20L, 0.9), (1L, 5L, 0.1))
      .toDF("probe_id", "doc_id", "cos")
    val got = ranked(df, 3, "doc_id", "cos")
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got == Seq((20L, 0.9, 1L), (10L, 0.5, 2L), (30L, 0.5, 3L)))
  }

  test("n larger than the group keeps the whole group") {
    val df = Seq((1L, 1L, 3L), (1L, 2L, 2L), (2L, 3L, 1L))
      .toDF("probe_id", "doc_id", "micros")
    val got = ranked(df, 10, "doc_id", "micros")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(got == Seq((1L, 1L, 1L), (1L, 2L, 2L), (2L, 3L, 1L)))
  }

  test("an empty group aggregates to an empty list and ranks nothing") {
    val empty = Seq.empty[(Long, Long, Long)].toDF("probe_id", "doc_id", "micros")
    val whole = empty.agg(TopN.column(col("micros"), col("doc_id"), 3)).head()
    assert(whole.getSeq[Row](0).isEmpty)
    assert(ranked(empty, 3, "doc_id", "micros").isEmpty)
  }

  test("null and NaN scores are skipped; a group of only those ranks nothing") {
    val df = Seq[(Long, Long, java.lang.Double)](
      (1L, 1L, null), (1L, 2L, Double.NaN), (1L, 3L, 0.25), (1L, 4L, -1.0),
      (2L, 5L, null), (2L, 6L, Double.NaN))
      .toDF("probe_id", "doc_id", "cos")
    val got = ranked(df, 5, "doc_id", "cos").map(r => (r.getLong(0), r.getLong(1)))
    assert(got == Seq((1L, 3L), (1L, 4L)))
    val longs = Seq[(Long, Long, java.lang.Long)]((1L, 1L, null), (1L, 2L, 7L))
      .toDF("probe_id", "doc_id", "micros")
    assert(ranked(longs, 5, "doc_id", "micros").map(_.getLong(1)) == Seq(2L))
  }

  test("long scores compare exactly: 2^53 + 1 ranks above 2^53") {
    // as doubles both are 9007199254740992.0, a tie the lower id would win
    val df = Seq((1L, 1L, 1L << 53), (1L, 2L, (1L << 53) + 1))
      .toDF("probe_id", "doc_id", "micros")
    val got = ranked(df, 2, "doc_id", "micros").map(r => (r.getLong(1), r.getLong(2)))
    assert(got == Seq((2L, (1L << 53) + 1), (1L, 1L << 53)))
  }

  test("string ids order by their UTF-8 bytes, supplementary characters last") {
    // UTF-16 code units would put U+1F600 (surrogate 0xD83D) before U+FF21;
    // UTF-8 bytes (F0.. vs EF..) and SQL's binary ORDER BY put it after
    val terms = Seq("z", "é", "Ａ", "😀", "a", "b")
    val df = terms.map(t => (1L, t, 7L)).toDF("probe_id", "term", "w_micros")
    val got = ranked(df, 10, "term", "w_micros").map(_.getString(1))
    assert(got == Seq("a", "b", "z", "é", "Ａ", "😀"))
    val utf8 = terms.sortWith { (x, y) =>
      java.util.Arrays.compareUnsigned(x.getBytes("UTF-8"), y.getBytes("UTF-8")) < 0
    }
    assert(got == utf8)
  }

  test("a null id is refused, long or string") {
    def refused(f: => Any): Unit = {
      val e = intercept[Exception](f)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("null id")), e)
    }
    val df = Seq[(Long, java.lang.Long, Long)]((1L, 5L, 10L), (1L, null, 20L))
      .toDF("probe_id", "doc_id", "micros")
    refused(ranked(df, 3, "doc_id", "micros"))
    val terms = Seq[(Long, String, Long)]((1L, "a", 10L), (1L, null, 20L))
      .toDF("probe_id", "term", "w_micros")
    refused(ranked(terms, 3, "term", "w_micros"))
  }

  test("the double order key sorts as java.lang.Double.compare and round-trips") {
    val xs = Seq(Double.NegativeInfinity, -Double.MaxValue, -1.5, -Double.MinPositiveValue,
      -0.0, 0.0, Double.MinPositiveValue, 1e-300, 0.5, 1.0, Double.MaxValue,
      Double.PositiveInfinity)
    assert(xs.sortBy(TopN.orderKey) == xs.sortWith(java.lang.Double.compare(_, _) < 0))
    assert(xs.forall(x => java.lang.Double.doubleToRawLongBits(TopN.scoreOf(TopN.orderKey(x))) ==
      java.lang.Double.doubleToRawLongBits(x)))
  }

  test("repartitioned input (serialize + merge) equals a driver-side sort") {
    // many partial heaps per group, planted exact ties, n above the
    // buffer's initial capacity so it grows, and groups smaller than n
    val rnd = new scala.util.Random(7)
    val rowsL = (0 until 3000).map { i =>
      (i % 23L, i.toLong, rnd.nextInt(40).toLong, s"t${rnd.nextInt(500)}")
    }
    val df = rowsL.toDF("probe_id", "doc_id", "micros", "term").repartition(8)
    for (n <- Seq(1, 5, 40, 200)) {
      val got = Serving.rankTopNMicros(df, n, "doc_id", "micros").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val ref = rowsL.groupBy(_._1).flatMap { case (p, rs) =>
        rs.sortBy(r => (-r._3, r._2)).take(n).zipWithIndex
          .map { case (r, i) => (p, r._2, r._3, i + 1L) }
      }.toSet
      assert(got == ref, s"long ids, n=$n")
      // string ids: one (probe, term) row each, weight summed first
      val byTerm = df.groupBy("probe_id", "term").agg(sum("micros").as("w"))
      val gotS = Serving.rankTopNMicros(byTerm, n, "term", "w").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val refS = rowsL.groupBy(r => (r._1, r._4)).toSeq
        .map { case ((p, t), rs) => (p, t, rs.map(_._3).sum) }
        .groupBy(_._1).flatMap { case (p, rs) =>
          rs.sortBy(r => (-r._3, r._2)).take(n).zipWithIndex
            .map { case (r, i) => (p, r._2, r._3, i + 1L) }
        }.toSet
      assert(gotS == refS, s"string ids, n=$n")
    }
  }
}
