package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Batch kNN join (q83/q84): correctness on planted geometry, deterministic
  * tie-breaks, and the scale-critical plan shape — a bounded top-k heap that
  * PARTIALLY aggregates before the only exchange, so shuffle volume is
  * k x probes x partitions, never the candidate count. */
class KnnJoinSpec extends SparkSpec {
  import spark.implicits._

  // planted 2-d geometry: unit vectors at known angles from the +x axis.
  // cos(v0, v*) ranks v1 (15deg) > v2 (30deg) > v3 (60deg) > v4 (90deg).
  private def unit(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat)
  }
  private lazy val corpus = Seq(
    (0L, unit(0)), (1L, unit(15)), (2L, unit(30)), (3L, unit(60)), (4L, unit(90))
  ).toDF("vec_id", "embedding")

  test("knnJoin ranks neighbors by cosine, self excluded") {
    val probe = corpus.filter(col("vec_id") === 0)
    val got = Similarity.knnJoin(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 3, excludeSelf = true)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    assert(got.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L))
    assert(got.forall(_.getLong(0) == 0L))
    // scores are the rounded cosines of the planted angles
    val cos15 = got(0).getDouble(2)
    assert(math.abs(cos15 - math.cos(math.toRadians(15))) < 1e-6)
  }

  test("knnJoin returns every probe's block; k caps at corpus size") {
    val probe = corpus.filter(col("vec_id") <= 1)
    val got = Similarity.knnJoin(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 10, excludeSelf = true)
    val byProbe = got.collect().groupBy(_.getLong(0))
    assert(byProbe.keySet == Set(0L, 1L))
    assert(byProbe.values.forall(_.length == 4)) // 5 corpus - self
  }

  test("equal scores tie to the lower neighbor id (oracle row_number parity)") {
    // two corpus vectors identical to each other: same cosine to any probe
    val dup = Seq((10L, unit(45)), (11L, unit(45)), (12L, unit(0)))
      .toDF("vec_id", "embedding")
    val probe = Seq((99L, unit(45))).toDF("vec_id", "embedding")
    val got = Similarity.knnJoin(dup, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 2)
      .orderBy("rank").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(10L, 11L)) // not (11, 10)
  }

  test("zero-norm corpus vectors are dropped, not ranked as null") {
    val withZero = corpus.union(
      Seq((5L, Array(0f, 0f))).toDF("vec_id", "embedding"))
    val probe = corpus.filter(col("vec_id") === 0)
    val got = Similarity.knnJoin(withZero, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 10, excludeSelf = true)
    assert(!got.collect().map(_.getLong(1)).contains(5L))
  }

  test("plan: partial top-k aggregation before the single keyed exchange; probe broadcast") {
    val labeled = corpus.withColumn("label", col("vec_id") % 2)
    val probe = labeled.filter(col("vec_id") === 0)
    for ((name, df) <- Seq(
        "knnJoin" -> Similarity.knnJoin(corpus, "vec_id", "embedding",
          probe, "vec_id", "embedding", k = 3, excludeSelf = true),
        "hardNegatives" -> Similarity.hardNegatives(labeled, "vec_id",
          "embedding", "label", probe, "vec_id", "embedding", "label", k = 3))) {
      val p = s"$name:\n" + df.queryExecution.executedPlan.toString
      // the native TopN aggregate plans as ObjectHashAggregate, partial then final
      assert(p.contains("ObjectHashAggregate"), p)
      assert(p.contains("partial_"), p)
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
      assert(!p.contains("SortMergeJoin"), p)
      // exactly one shuffle: the k-bounded partial results keyed on probe_id
      assert("Exchange hashpartitioning\\(probe_id".r.findAllIn(p).size == 1, p)
      // each pair's cosine is computed once: a cosine filter ahead of the
      // heap lands in the nested-loop join condition, which gets no
      // subexpression elimination (twice there, once in the project)
      assert("cosinesim\\(".r.findAllIn(p.toLowerCase).size == 1, p)
    }
  }

  test("plan: ivfMultiProbeKnnJoin keeps the knnJoin shuffle shape — partial heap, probe broadcast, list equi-join") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val assigned = Similarity.ivfAssign(corpus, "embedding", cents)
    val probe = Seq((100L, unit(50)), (101L, unit(20))).toDF("vec_id", "embedding")
    val p = Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id", "embedding",
        "ivf_list", probe, "vec_id", "embedding", k = 3, cents, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(p.contains("ObjectHashAggregate") && p.contains("partial_"), p)
    // the exploded gate-list probe side broadcasts into a HASH join on the
    // list key — never a shuffle of the corpus side
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // exactly one shuffle: the k-bounded partial results keyed on probe_id
    assert("Exchange hashpartitioning\\(probe_id".r.findAllIn(p).size == 1, p)
  }

  test("property: heap aggregation == declarative window rank on random corpora") {
    // the risky part of a hand-rolled heap aggregate is merge order under
    // partitioning; pin it against the declarative row_number reference on
    // deterministic pseudo-random data WITH planted exact ties, across
    // different partition counts (different merge trees)
    val rnd = new scala.util.Random(42)
    val dims = 8
    val corpus = (0L until 200L).map { i =>
      // every 4th vector duplicates its predecessor -> exact cosine ties
      if (i % 4 == 3) (i, lastVec) else { lastVec = Array.fill(dims)(rnd.nextFloat() - 0.3f); (i, lastVec) }
    }.toDF("vec_id", "embedding")
    val probe = corpus.filter(col("vec_id") % 40 === 0)
    for (parts <- Seq(1, 7, 32)) {
      val c = corpus.repartition(parts)
      val got = Similarity.knnJoin(c, "vec_id", "embedding",
        probe, "vec_id", "embedding", k = 7, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getDouble(2))).toSet
      val cand = c.crossJoin(broadcast(probe.select(col("vec_id").as("probe_id"),
          col("embedding").as("pv"))))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos", round(graft.functions.VectorFunctions.cosine(
          col("embedding"), col("pv")), 6))
        .filter(col("cos").isNotNull)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
      val ref = cand.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 7)
        .collect().map(r => (r.getLong(r.fieldIndex("probe_id")),
          r.getLong(r.fieldIndex("rank")), r.getLong(r.fieldIndex("vec_id")),
          r.getDouble(r.fieldIndex("cos")))).toSet
      assert(got == ref, s"parts=$parts")
    }
  }
  private var lastVec: Array[Float] = Array.fill(8)(0.1f)

  test("ivfKnnJoin agrees with brute force restricted to shared-list candidates") {
    val cents = Similarity.hyperplanes(2, 2)
    val assigned = Similarity.ivfAssign(
      corpus.select(col("vec_id"), col("embedding").as("__cv")), "__cv", cents)
      .select(col("vec_id"), col("ivf_list")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val probe = corpus.filter(col("vec_id") === 0)
    val got = Similarity.ivfKnnJoin(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 5, cents, excludeSelf = true)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    // every returned neighbor shares the probe's coarse list...
    assert(got.forall { case (nid, _) => assigned(nid) == assigned(0L) }, got.toSeq)
    // ...and within the list the ranking matches the brute-force order
    val brute = Similarity.knnJoin(
      corpus.filter(col("vec_id").isin(assigned.filter(_._2 == assigned(0L)).keys.toSeq: _*)),
      "vec_id", "embedding", probe, "vec_id", "embedding", k = 5, excludeSelf = true)
      .collect().map(r => (r.getLong(1), r.getLong(3))).sortBy(_._2)
    assert(got.sortBy(_._2).toSeq == brute.toSeq)
  }

  test("ivfMultiProbeKnnJoin: nprobe widens candidates over the stored assignment") {
    // centroids on the axes split the corpus at 45 deg: {0,15,30} -> list 0,
    // {60,90} -> list 1. A 50-deg probe's nearest list is 1, so nprobe=1
    // misses the 30-deg neighbor across the border; nprobe=2 at 2 lists
    // degrades to exact search. The corpus side carries its PRE-ASSIGNED
    // list (the lake's write-time assignment) — never re-assigned here.
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val assigned = Similarity.ivfAssign(corpus, "embedding", cents)
    val probe = Seq((100L, unit(50))).toDF("vec_id", "embedding")
    def ids(np: Int) = Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id",
        "embedding", "ivf_list", probe, "vec_id", "embedding", k = 5, cents, np)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ids(1) == Seq(3L, 4L), "nprobe=1 must see only the probe's own list")
    val brute = Similarity.knnJoin(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 5)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ids(2) == brute && brute == Seq(3L, 2L, 1L, 4L, 0L),
      s"nprobe=numLists must equal brute force: ${ids(2)} vs $brute")
    // nprobe=1 agrees with ivfKnnJoin's single-list blocking
    val ivf1 = Similarity.ivfKnnJoin(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 5, cents)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ids(1) == ivf1)
  }

  test("ivfMultiProbeKnnJoin's broadcast cap counts the EXPLODED gate rows, not the probes") {
    // 3 probes x nprobe=2 = 6 broadcast rows: a cap of 5 must refuse even
    // though only 3 probe ROWS exist — checking pre-explosion under-counts
    // by the nprobe factor and waves through the broadcast OOM the loud
    // refusal exists to prevent
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val assigned = Similarity.ivfAssign(corpus, "embedding", cents)
    val probe = corpus.filter(col("vec_id") <= 2)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id", "embedding",
        "ivf_list", probe, "vec_id", "embedding", k = 2, cents, nprobe = 2,
        maxBroadcastProbes = 5L)
    }
    assert(e.getMessage.contains("cannot broadcast"))
    assert(Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id", "embedding",
      "ivf_list", probe, "vec_id", "embedding", k = 2, cents, nprobe = 2,
      maxBroadcastProbes = 6L).count() > 0)
  }

  test("knnJoin enforces the probe-side broadcast contract") {
    val probe = corpus // 5 rows, cap of 3 -> refused with the scale pointer
    val e = intercept[IllegalArgumentException] {
      Similarity.knnJoin(corpus, "vec_id", "embedding",
        probe, "vec_id", "embedding", k = 2, maxBroadcastProbes = 3L)
    }
    assert(e.getMessage.contains("cannot broadcast"))
    // raising the cap explicitly restores the join
    val ok = Similarity.knnJoin(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 2, maxBroadcastProbes = 5L)
    assert(ok.count() == 10L)
  }

  test("mmrRerank: matches a plain-Scala greedy replay on a random corpus") {
    // deterministic pseudo-random corpus; the reference implementation
    // replays the greedy argmax from the operator's OWN building blocks
    // (knnJoin pool + rounded pairwise cosines), so this pins the selection
    // logic without re-deriving float cosines bit-for-bit in Scala
    val rnd = new scala.util.Random(42)
    val vecs = (0L until 30L).map(i =>
      (i, Array.fill(4)((rnd.nextDouble() * 2 - 1).toFloat)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val probes = corpus.filter(col("vec_id") % 10 === 0) // 3 probes
    val k = 4; val poolSz = 8
    val got = Similarity.mmrRerank(corpus, "vec_id", "embedding",
      probes, "vec_id", "embedding", k = k, poolSize = poolSz)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))

    // rebuild pool + sims with the same operators
    val pool = Similarity.knnJoin(corpus, "vec_id", "embedding",
      probes, "vec_id", "embedding", k = poolSz, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e6)))
    val ids = pool.map(_._2).distinct
    val sub = corpus.filter(col("vec_id").isin(ids: _*))
    val sims = sub.as("a").join(sub.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id"), col("b.vec_id"),
        round(graft.functions.VectorFunctions.cosine(
          col("a.embedding"), col("b.embedding")), 6).as("s"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), math.round(r.getDouble(2) * 1e6)))
      .toMap

    val expected = pool.groupBy(_._1).flatMap { case (p, cands0) =>
      var remaining = cands0.map(c => (c._2, c._3)).toList
      var selected = List.empty[(Long, Long, Long)] // (cand, score2, rank)
      for (t <- 1 to k) {
        val scored = remaining.map { case (cid, relU) =>
          val pen = if (selected.isEmpty) 0L
            else selected.map(s => sims((cid, s._1))).max
          (cid, relU - (if (t == 1) 0L else pen))
        }
        val best = scored.minBy { case (cid, s2) => (-s2, cid) }
        selected = selected :+ ((best._1, best._2, t.toLong))
        remaining = remaining.filterNot(_._1 == best._1)
      }
      selected.map(s => (p, s._1, s._2, s._3))
    }.toSet
    assert(got.toSet == expected, {
      val g = got.toSet; s"only-got=${g -- expected} only-exp=${expected -- g}"
    })
  }

  test("mmrRerank: rank 1 is the plain top-1; k rows per probe, no repeats") {
    val probe = corpus.filter(col("vec_id") === 0)
    val got = Similarity.mmrRerank(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 3, poolSize = 4)
      .orderBy("mmr_rank").collect()
    assert(got.length == 3)
    assert(got(0).getLong(1) == 1L, "rank 1 = nearest neighbor (15deg)")
    assert(got.map(_.getLong(1)).distinct.length == 3)
    assert(got.map(_.getLong(4)).toSeq == Seq(1L, 2L, 3L))
  }

  test("ivfDriftReport: hand-computed counts, means, and drift on planted lists") {
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    // base: two vectors in list 0 (d2 = 1, 4), one in list 1 (d2 = 1);
    // batch: one vector in list 0, farther out (d2 = 25)
    val base = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 2.0f)),
      (3L, Array(10.0f, 9.0f))).toDF("vec_id", "embedding")
    val batch = Seq((4L, Array(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val got = Similarity.ivfDriftReport(base, batch, "embedding", cents)
      .orderBy("ivf_list").collect()
    val l0 = got(0)
    assert((l0.getInt(0), l0.getLong(1), l0.getLong(2)) == ((0, 2L, 1L)))
    assert(l0.getDouble(3) == 0.333333) // round(1/3, 6)
    assert(l0.getLong(4) == 2500000L, "mean base d2 micros = (1e6+4e6)/2")
    assert(l0.getLong(5) == 25000000L)
    assert(l0.getLong(6) == 22500000L, "drift = 25e6 - 2.5e6")
    val l1 = got(1)
    assert((l1.getInt(0), l1.getLong(1), l1.getLong(2)) == ((1, 1L, 0L)))
    assert(l1.getLong(4) == 1000000L)
    assert(l1.isNullAt(5) && l1.isNullAt(6),
      "a list with no batch rows reports null batch mean and null drift")
  }

  test("ivfDriftReport: a dead list (no rows either side) is REPORTED, not omitted") {
    // three centroids, but nothing lands near (100, 100): the report must
    // still carry list 2 — a dead centroid is the drift signal itself —
    // with zero counts and NULL share (never a 0/0 NaN)
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0), Seq(100.0, 100.0))
    val base = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(10.0f, 9.0f)))
      .toDF("vec_id", "embedding")
    val batch = Seq((3L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.ivfDriftReport(base, batch, "embedding", cents)
      .orderBy("ivf_list").collect()
    assert(got.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    val dead = got(2)
    assert((dead.getLong(1), dead.getLong(2)) == ((0L, 0L)))
    assert(dead.isNullAt(3), "share of an empty list is NULL, not NaN")
    assert(dead.isNullAt(4) && dead.isNullAt(5) && dead.isNullAt(6))
  }

  test("ndcgWeightsMicros: exact integer discounts, strictly decreasing") {
    val w = Similarity.ndcgWeightsMicros(5)
    assert(w == Seq(1000000L, 630929L, 500000L, 430676L, 386852L))
    assert(w == w.sorted.reverse && w.distinct == w)
  }

  test("ndcgEval: hand-computed dcg/idcg on planted hit positions") {
    // probe 1: truth {10,11,12}; approx hits at ranks 1 and 3, misses rank 2
    // probe 2: truth {20,21}; approx misses everything
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L))
      .toDF("probe_id", "neighbor_id")
    val approx = Seq(
      (1L, 10L, 1L), (1L, 99L, 2L), (1L, 11L, 3L),
      (2L, 98L, 1L), (2L, 97L, 2L)).toDF("probe_id", "neighbor_id", "rank")
    val got = Similarity.ndcgEval(truth, approx, k = 5)
      .orderBy("probe_id").collect()
    val p1 = got(0)
    assert((p1.getLong(1), p1.getLong(2)) == ((3L, 2L))) // n_truth, n_hits
    assert(p1.getLong(3) == 1000000L + 500000L, "dcg = w(1) + w(3)")
    assert(p1.getLong(4) == 1000000L + 630929L + 500000L, "idcg = prefix(3)")
    assert(p1.getLong(5) ==
      math.floor(1000000.0 * 1500000L / 2130929L).toLong)
    val p2 = got(1)
    assert((p2.getLong(2), p2.getLong(3), p2.getLong(5)) == ((0L, 0L, 0L)))
    assert(p2.getLong(4) == 1000000L + 630929L, "idcg = prefix(2)")
  }

  test("ndcgEval: deeper-than-k result lists are truncated, not credited") {
    // a hit at approx rank 7 with k=5 must earn nothing (and must not crash
    // element_at under ANSI); a truth list with ranks beyond k is cut too
    val truth = Seq((1L, 10L, 1L), (1L, 11L, 7L)).toDF("probe_id", "neighbor_id", "rank")
    val approx = Seq((1L, 10L, 7L), (1L, 11L, 1L), (1L, 99L, 2L))
      .toDF("probe_id", "neighbor_id", "rank")
    val r = Similarity.ndcgEval(truth, approx, k = 5).collect()(0)
    assert(r.getLong(1) == 1L, "truth truncated to rank <= k")
    assert((r.getLong(2), r.getLong(3), r.getLong(5)) == ((0L, 0L, 0L)),
      "the rank-7 hit on doc 10 and the beyond-k truth row 11 earn nothing")
  }

  test("ndcgEval: an early hit outscores the same hit late") {
    val truth = Seq((1L, 10L)).toDF("probe_id", "neighbor_id")
    def at(rank: Long) = Seq((1L, 10L, rank), (1L, 99L, 6L - rank))
      .toDF("probe_id", "neighbor_id", "rank")
    val early = Similarity.ndcgEval(truth, at(1), k = 5).collect()(0).getLong(5)
    val late = Similarity.ndcgEval(truth, at(5), k = 5).collect()(0).getLong(5)
    assert(early == 1000000L && late < early, s"$early vs $late")
  }
}
