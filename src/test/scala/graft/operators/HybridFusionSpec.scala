package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Hybrid retrieval's reciprocal-rank fusion (q159, Similarity.rrfFuse):
  * the per-probe vector list and the query-global lexical list merge by
  * exact integer micro-unit RRF — hand-computed contributions, absence
  * semantics, tie order, the zero-vector-candidate probe, and the
  * broadcast cap's loud refusal. */
class HybridFusionSpec extends SparkSpec {
  import spark.implicits._

  // rr(rank) at kRrf = 60 in micro-units: floor(1e6 / (60 + rank))
  private def rr(rank: Long, kRrf: Long = 60L): Long = 1000000L / (kRrf + rank)

  private lazy val vec = Seq(
    // probe 1: docs 10 (rank 1) and 11 (rank 2)
    (1L, 10L, 1L), (1L, 11L, 2L),
    // probe 2: doc 11 only
    (2L, 11L, 1L)
  ).toDF("probe_id", "neighbor_id", "rank")
  private lazy val lex = Seq(
    (11L, 1L), (12L, 2L) // global lexical list: 11 then 12
  ).toDF("neighbor_id", "rank")
  private lazy val probes = Seq(1L, 2L, 3L).toDF("probe_id")

  test("rrfFuse sums exact micro-unit contributions; absence contributes 0") {
    val got = Similarity.rrfFuse(vec, lex, probes, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // probe 1, doc 11: in both lists (vec rank 2, lex rank 1)
    assert(got((1L, 11L)) == rr(2) + rr(1))
    // probe 1, doc 10: vector-only
    assert(got((1L, 10L)) == rr(1))
    // probe 1, doc 12: lexical-only
    assert(got((1L, 12L)) == rr(2))
    // probe 2, doc 11: vec rank 1 + lex rank 1
    assert(got((2L, 11L)) == rr(1) + rr(1))
  }

  test("rrfFuse re-ranks by fused score; ties break to the lower id") {
    val rows = Similarity.rrfFuse(vec, lex, probes, k = 10)
      .filter(col("probe_id") === 1).orderBy("rank").collect()
    // probe 1 order: 11 (both lists) > 10 (vec rank 1) > 12 (lex rank 2)
    assert(rr(2) + rr(1) > rr(1) && rr(1) > rr(2)) // the order is real
    assert(rows.map(_.getLong(1)).toSeq == Seq(11L, 10L, 12L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L))
    // tie case: two lexical-only docs in one probe differ only by id
    val lex2 = Seq((20L, 1L), (19L, 1L)).toDF("neighbor_id", "rank")
    val none = spark.emptyDataset[(Long, Long, Long)]
      .toDF("probe_id", "neighbor_id", "rank")
    val tied = Similarity.rrfFuse(none, lex2, Seq(7L).toDF("probe_id"), k = 2)
      .orderBy("rank").collect()
    assert(tied.map(_.getLong(1)).toSeq == Seq(19L, 20L))
  }

  test("a probe with zero vector candidates still fuses the lexical list") {
    val got = Similarity.rrfFuse(vec, lex, probes, k = 10)
      .filter(col("probe_id") === 3).orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(11L, 12L)) // lex order
    assert(got.map(_.getLong(2)).toSeq == Seq(rr(1), rr(2)))
  }

  test("k cuts per probe after fusion") {
    val got = Similarity.rrfFuse(vec, lex, probes, k = 1)
    val byProbe = got.collect().groupBy(_.getLong(0))
    assert(byProbe.keySet == Set(1L, 2L, 3L))
    assert(byProbe.values.forall(_.length == 1))
    assert(byProbe(1L).head.getLong(1) == 11L)
  }

  test("rrfFuseAll fuses three lists; a two-list call equals rrfFuse exactly") {
    val qual = Seq((1L, 10L, 1L), (1L, 12L, 2L), (2L, 10L, 1L), (3L, 10L, 1L))
      .toDF("probe_id", "neighbor_id", "rank")
    val lexp = probes.crossJoin(
      lex.withColumnRenamed("rank", "r")).select(
      col("probe_id"), col("neighbor_id"), col("r").as("rank"))
    val got = Similarity.rrfFuseAll(Seq(vec, lexp, qual), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // probe 1, doc 10: vec rank 1 + quality rank 1
    assert(got((1L, 10L)) == rr(1) + rr(1))
    // probe 1, doc 12: lex rank 2 + quality rank 2
    assert(got((1L, 12L)) == rr(2) + rr(2))
    // probe 3 (no vector candidates): lex + quality only
    assert(got((3L, 10L)) == rr(1))
    assert(got((3L, 11L)) == rr(1))
    // the general form degrades to the two-list special case bit-for-bit
    val viaAll = Similarity.rrfFuseAll(Seq(vec, lexp), k = 10)
      .collect().map(_.toSeq).toSet
    val viaPair = Similarity.rrfFuse(vec, lex, probes, k = 10)
      .collect().map(_.toSeq).toSet
    assert(viaAll == viaPair)
  }

  test("seeded-random parity with an in-memory reference fusion") {
    // the invariant a user relies on: rrfFuse IS the textbook RRF in
    // integer micro-units, for any rank lists — checked against a plain
    // Scala reimplementation over seeded-random inputs (no scalatestplus
    // bridge in this env; deterministic across runs)
    val rnd = new scala.util.Random(1142)
    (1 to 5).foreach { _ =>
      val nProbes = 1 + rnd.nextInt(4)
      val probeIds = (0 until nProbes).map(_.toLong)
      val vecRows = probeIds.flatMap { p =>
        val docs = rnd.shuffle((0L until 12L).toList).take(rnd.nextInt(6))
        docs.zipWithIndex.map { case (d, i) => (p, d, (i + 1).toLong) }
      }
      val lexRows = rnd.shuffle((0L until 12L).toList).take(rnd.nextInt(6))
        .zipWithIndex.map { case (d, i) => (d, (i + 1).toLong) }
      val k = 1 + rnd.nextInt(8)
      val got = Similarity.rrfFuse(
          vecRows.toDF("probe_id", "neighbor_id", "rank"),
          lexRows.toDF("neighbor_id", "rank"),
          probeIds.toDF("probe_id"), k = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // reference: per probe, union of candidates, exact integer micros,
      // sort by (micros desc, id asc), take k
      val vecByProbe = vecRows.groupBy(_._1)
        .map { case (p, rs) => p -> rs.map(r => r._2 -> r._3).toMap }
      val lexMap = lexRows.toMap
      val want = probeIds.flatMap { p =>
        val vm = vecByProbe.getOrElse(p, Map.empty[Long, Long])
        val cands = (vm.keySet ++ lexMap.keySet).toSeq
        cands.map { d =>
          val m = vm.get(d).map(r => 1000000L / (60L + r)).getOrElse(0L) +
            lexMap.get(d).map(r => 1000000L / (60L + r)).getOrElse(0L)
          (d, m)
        }.sortBy { case (d, m) => (-m, d) }.take(k).zipWithIndex
          .map { case ((d, m), i) => (p, d, m, (i + 1).toLong) }
      }.toSet
      assert(got == want, s"nProbes=$nProbes k=$k\n got=$got\nwant=$want")
    }
  }

  test("an over-cap lexical list is refused loudly (it broadcasts)") {
    val big = spark.range(0, 100)
      .select(col("id").as("neighbor_id"), (col("id") + 1).as("rank"))
    val e = intercept[IllegalArgumentException] {
      Similarity.rrfFuse(vec, big, probes, k = 5, maxBroadcastLex = 99L)
    }
    assert(e.getMessage.contains("cannot broadcast"))
    // at cap + 1 the refusal names the lexical list and its own cap, not
    // the kNN probe side and its parameter
    assert(e.getMessage.startsWith("requirement failed: lexical list exceeds 99 rows"),
      e.getMessage)
    assert(e.getMessage.contains("maxBroadcastLex"), e.getMessage)
    assert(!e.getMessage.contains("probe side") &&
      !e.getMessage.contains("maxBroadcastProbes"), e.getMessage)
    // at exactly the cap it proceeds
    assert(Similarity.rrfFuse(vec, big, probes, k = 5,
      maxBroadcastLex = 100L).count() > 0)
  }
}
