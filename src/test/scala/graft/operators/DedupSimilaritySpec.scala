package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  // planted corpus: 1&2 exact dups; 3 near-dup of 1 (one word changed); 4 unrelated
  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (3L, "the quick brown fox jumps over the lazy cat near the river bank"),
    (4L, "completely different content about spark query engines and shuffles")
  ).toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates to the min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text")
    assert(g.count() == 3)
    val dup = g.filter(col("dup_count") === 2).head()
    assert(dup.getLong(1) == 1L) // keep_id
  }

  test("fingerprintGroups collapses case/punct variants too") {
    val d2 = docs.union(Seq((5L, "The QUICK brown fox, jumps over the lazy dog near the river bank!"))
      .toDF("doc_id", "text"))
    val g = Dedup.fingerprintGroups(d2, "doc_id", "text")
    assert(g.filter(col("dup_count") === 3).count() == 1) // 1,2,5 together
  }

  test("minhashLshCandidates surfaces the planted near-dup, not the unrelated doc") {
    val pairs = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical docs always share all bands
    assert(pairs.forall { case (a, b) => a < b && b != 4L || a != 4L })
  }

  test("minhash banding false-positive volume stays near the independent-family rate") {
    // Regression guard for the hash-family bug class: a family whose
    // per-index orderings correlate (e.g. h_j = a + j*b without modular
    // wrap) makes bands agree spuriously and candidate volume explode
    // (observed ~4.5x on this corpus). The real testdata documents are the
    // adversarial input — templated near-dup text.
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val n = Dedup.minhashLshCandidates(docs, "doc_id", "text",
      numHashes = 8, bandRows = 2, shingleN = 2).count()
    // independent families land ~700-900 here; the broken family gave 4052
    assert(n < 1500, s"candidate blowup: $n pairs — minhash orderings correlated?")
    assert(n > 100, s"suspiciously few candidates ($n) — banding broken?")
  }

  test("ngramJaccardPairs computes exact jaccard") {
    val two = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    // bigrams: {a b, b c, c d} vs {a b, b c, c e}: inter=2, union=4 -> 0.5
    val out = Dedup.ngramJaccardPairs(two, "doc_id", "text", 2, 0.4).head()
    assert(out.getDouble(2) == 0.5)
  }

  test("simhashNearDupPairs: banding is lossless vs brute-force hamming filter") {
    val corpus = docs.union(Seq(
      (5L, "the quick brown fox jumps over the lazy dog near the river edge"),
      (6L, "spark query engines shuffle completely different content about")
    ).toDF("doc_id", "text"))
    for (d <- Seq(0, 3, 8)) {
      val banded = Dedup.simhashNearDupPairs(corpus, "doc_id", "text", maxHamming = d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // brute force: all pairs, popcount(xor) <= d
      val fp = Dedup.simhash(corpus, "doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
      val brute = (for {
        (ia, sa) <- fp; (ib, sb) <- fp if ia < ib
        h = java.lang.Long.bitCount(sa ^ sb) if h <= d
      } yield (ia, ib, h.toLong)).toSet
      assert(banded == brute, s"maxHamming=$d")
      if (d >= 0) assert(banded.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    }
  }

  test("containmentPairs: probe coverage fraction, threshold honored") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),       // contains all of probe 10's bigrams
      (2L, "a b c x y z w v")        // contains 2 of probe 10's 4 bigrams
    ).toDF("doc_id", "text")
    val probe = Seq((10L, "a b c d e")).toDF("doc_id", "text") // 4 bigrams
    val out = Dedup.containmentPairs(corpus, probe, "doc_id", "text", 2, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(out == Set((1L, 10L, 1.0), (2L, 10L, 0.5)))
    val strict = Dedup.containmentPairs(corpus, probe, "doc_id", "text", 2, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strict == Set((1L, 10L)))
  }

  test("resolveClusters: min-label connected components over pair edges") {
    // components: {1,2,3,4} (chain), {7,9}, singleton edges absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.resolveClusters(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 9L -> 7L))
    // a long chain still converges (diameter ~ rounds)
    val chain = (1L until 15L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.resolveClusters(chain, "doc_a", "doc_b")
      .select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq
    assert(labels == Seq(1L))
  }

  /** Driver-side reference: union-find over the pairs, label = smallest id
    * of each component, one entry per id that appears in a pair. */
  private def referenceLabels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length, "one row per id")
    rows.toMap
  }

  /** A path over `n` seed-shuffled ids 1..n: every id is in one component
    * labelled 1, but ids do not grow along the chain. */
  private def shuffledPath(n: Int, seed: Long): Seq[(Long, Long)] = {
    val ids = new scala.util.Random(seed).shuffle((1L to n.toLong).toVector)
    ids.sliding(2).map(w => (w(0), w(1))).toSeq
  }

  test("resolveClusters: a 4096-node path with shuffled ids resolves to one label") {
    val pairs = shuffledPath(4096, seed = 11L).toDF("doc_a", "doc_b").repartition(4)
    val out = labelMap(Dedup.resolveClusters(pairs, "doc_a", "doc_b"))
    assert(out.size == 4096)
    assert(out.values.toSet == Set(1L))
    // the same chain cut into 16 tasks a level still resolves within the
    // default level budget
    val split = labelMap(Dedup.resolveClustersIn(pairs, "doc_a", "doc_b",
      maxIter = 20, edgesPerTask = 256))
    assert(split == out)
  }

  test("resolveClusters: random graphs over many tasks match a driver-side union-find") {
    val rnd = new scala.util.Random(4242)
    (1 to 6).foreach { g =>
      val nodes = 20 + rnd.nextInt(300)
      // sparse ids; random pairs bring self-loops, repeats and reversed twins
      val ids = rnd.shuffle((0 until 5 * nodes).map(_.toLong * 7 + 3).toVector).take(nodes)
      val nEdges = nodes / 2 + rnd.nextInt(2 * nodes)
      val edges = Seq.fill(nEdges)((ids(rnd.nextInt(nodes)), ids(rnd.nextInt(nodes))))
      val dup = edges.take(nEdges / 5).map(_.swap)
      val pairs = (edges ++ dup).toDF("doc_a", "doc_b").repartition(2 + rnd.nextInt(4))
      val want = referenceLabels(edges)
      val edgesPerTask = 8 + rnd.nextInt(40)
      val got = labelMap(Dedup.resolveClustersIn(pairs, "doc_a", "doc_b",
        maxIter = 40, edgesPerTask = edgesPerTask))
      assert(got == want, s"graph $g: $nodes nodes, $nEdges edges, " +
        s"$edgesPerTask edges a task")
      assert(labelMap(Dedup.resolveClusters(pairs, "doc_a", "doc_b")) == want,
        s"graph $g, one task")
    }
  }

  test("resolveClusters keeps the id type and counts maxIter in levels") {
    val pairs = Seq((5, 3), (3, 8), (20, 21)).toDF("doc_a", "doc_b")
    val out = Dedup.resolveClusters(pairs, "doc_a", "doc_b")
    assert(out.schema.map(f => f.name -> f.dataType) == Seq(
      "id" -> org.apache.spark.sql.types.IntegerType,
      "cluster_id" -> org.apache.spark.sql.types.IntegerType))
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(3 -> 3, 5 -> 3, 8 -> 3, 20 -> 20, 21 -> 20))
    // a chain cut into one-edge tasks needs more than one level: refused
    // at maxIter = 1, resolved given room
    val chain = shuffledPath(64, seed = 5L).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](Dedup.resolveClustersIn(
      chain, "doc_a", "doc_b", maxIter = 1, edgesPerTask = 1))
    assert(e.getMessage.contains("levels of contraction"), e.getMessage)
    assert(labelMap(Dedup.resolveClustersIn(chain, "doc_a", "doc_b",
      maxIter = 40, edgesPerTask = 1)).values.toSet == Set(1L))
  }

  test("resolveClusters launches a bounded number of Spark jobs") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val scope = "graft.test.scope"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tag = Option(e.properties).map(_.getProperty(scope)).orNull
        if (tag == "resolve") jobs.incrementAndGet()
        if (tag == "sentinel") sentinelSeen.set(true)
      }
    }
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L)).toDF("doc_a", "doc_b")
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(scope, "resolve")
      val out = Dedup.resolveClusters(pairs, "doc_a", "doc_b").collect()
      assert(out.length == 6)
      // listener events arrive in order: once a later job is seen, every
      // job of the call has been counted
      sc.setLocalProperty(scope, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen.get(), "listener bus did not deliver the sentinel job")
    } finally {
      sc.setLocalProperty(scope, null)
      sc.removeSparkListener(listener)
    }
    // the edge count and the caller's collect
    assert(jobs.get() >= 1 && jobs.get() <= 5, s"${jobs.get()} jobs")
  }

  test("simhash: identical docs equal; near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)))
  }

  private lazy val vecs = {
    val base = Array.tabulate(8)(i => i.toFloat + 1)
    val near = base.clone(); near(0) += 0.01f
    val far = Array.tabulate(8)(i => if (i % 2 == 0) -5f else 3f)
    Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq)).toDF("vec_id", "embedding")
  }

  test("embeddingNearDupPairs finds the planted near-identical vector") {
    val out = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)))
  }

  test("bruteForceTopK ranks the near vector first; lshTopK agrees on its bucket") {
    val q = vecs.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
    val bf = vecs.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
    val top = Similarity.bruteForceTopK(bf, "vec_id", "embedding", col("qvec"), 2)
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(1L, 2L))
    val qv = Array.tabulate(8)(i => i.toFloat + 1).toSeq
    val lsh = Similarity.lshTopK(vecs, "vec_id", "embedding", qv, k = 3, numPlanes = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(lsh.contains(0L)) // query vector itself shares its own bucket
  }

  test("lshNearDupPairs is a subset-of-bruteforce with same cosine values") {
    val bf = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding", 0.9,
      numPlanes = 4, dims = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lsh.subsetOf(bf))
  }

  test("ivfTopK: full-probe equals brute force; partial probe is a subset with same scores") {
    val emb = (0L to 19L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 13 + d * 7) % 17).toFloat - 8f).toSeq))
      .toDF("vec_id", "embedding")
    val q = Array.tabulate(8)(d => (d % 5).toFloat - 2f).toSeq
    val cents = Similarity.hyperplanes(4, 8)
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", typedLit(q), 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 20, cents, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(full == brute) // nprobe = nLists degrades to exact brute force
    val partial = Similarity.ivfTopK(emb, "vec_id", "embedding", q, 20, cents, nprobe = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(partial.nonEmpty && partial.length < 20) // genuinely pruned
    partial.foreach { case (id, cos) => assert(brute(id) == cos) } // scores exact
  }

  test("ivfAssign: identical vectors land in the same list, deterministic") {
    val a = Similarity.ivfAssign(vecs, "embedding", Similarity.hyperplanes(3, 8))
      .select("vec_id", "ivf_list").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Similarity.ivfAssign(vecs, "embedding", Similarity.hyperplanes(3, 8))
      .select("vec_id", "ivf_list").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a == b)
  }

  test("lshQualityReport: exact dups always hit (recall 1 on an all-dup truth set)") {
    // truth at threshold 1.0 = the exact-dup pair (1,2) only; identical docs
    // share every band, so LSH always surfaces them: recall must be 1.0
    val r = Dedup.lshQualityReport(docs, "doc_id", "text", threshold = 1.0).head()
    assert(r.getLong(1) == 1L) // n_true = the (1,2) pair
    assert(r.getDouble(4) == 1.0) // recall
    assert(r.getLong(2) <= r.getLong(0)) // hits <= candidates
  }

  test("lshQualityReport: empty truth/candidates yield NULL ratios, not division blowups") {
    val lone = Seq((1L, "just one isolated document here")).toDF("doc_id", "text")
    val r = Dedup.lshQualityReport(lone, "doc_id", "text", threshold = 0.2).head()
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 0L)
    assert(r.isNullAt(3) && r.isNullAt(4))
  }

  test("lshQualityReport: exact-truth gate trips above maxExactRows; sampleFrac ducks it") {
    // the sampling contract is enforced, not advisory: over the gate with no
    // sample the call must fail fast, naming the remedy
    val e = intercept[IllegalArgumentException] {
      Dedup.lshQualityReport(docs, "doc_id", "text", threshold = 0.2,
        maxExactRows = 1L)
    }
    assert(e.getMessage.contains("sampleFrac"), e.getMessage)
    // the deterministic hash sample brings the corpus under the same gate and
    // the report still computes (possibly over fewer docs); two runs of the
    // identical call see the identical subset
    val r1 = Dedup.lshQualityReport(docs, "doc_id", "text", threshold = 0.2,
      maxExactRows = docs.count(), sampleFrac = Some(0.75)).head()
    val r2 = Dedup.lshQualityReport(docs, "doc_id", "text", threshold = 0.2,
      maxExactRows = docs.count(), sampleFrac = Some(0.75)).head()
    assert(r1 == r2)
  }

  test("crossSourceDupMatrix rolls candidate pairs up by unordered source pair") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank", "crawlA"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank", "crawlB"),
      (3L, "the quick brown fox jumps over the lazy cat near the river bank", "crawlB"),
      (4L, "completely different content about spark query engines and shuffles", "crawlC")
    ).toDF("doc_id", "text", "source")
    val m = Dedup.crossSourceDupMatrix(d, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val cand = Dedup.minhashLshCandidates(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact dups 1-2 are always LSH candidates -> the A-B cell exists
    assert(cand.contains((1L, 2L)))
    assert(m(("crawlA", "crawlB")) >= 1L)
    // cells are unordered pairs: no (B, A) key ever appears
    assert(m.keys.forall { case (x, y) => x <= y })
    // the unrelated source shares no cell with anyone
    assert(!m.keys.exists { case (x, y) => x == "crawlC" || y == "crawlC" })
    // total mass == candidate pair count
    assert(m.values.sum == cand.size)
  }

  test("minhashVerifiedPairs: exact dups score 8/8; output is a candidate subset") {
    val v = Dedup.minhashVerifiedPairs(docs, "doc_id", "text", minAgree = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v.keySet == cand) // minAgree=0 keeps every candidate, adds none
    assert(v((1L, 2L)) == (8L, 1.0)) // identical docs agree on every slot
    // estimator is always n/8 with n in [0, 8]
    assert(v.values.forall { case (n, e) => n >= 0 && n <= 8 && e == n / 8.0 })
    // a real threshold only removes pairs
    val cut = Dedup.minhashVerifiedPairs(docs, "doc_id", "text", minAgree = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cut.subsetOf(v.keySet))
    assert(cut.forall(p => v(p)._1 >= 6L))
  }

  test("clusterSizeHistogram counts components by size") {
    // two explicit components: {1,2,3} via a chain, {10,11} via one pair
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val h = Dedup.clusterSizeHistogram(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h == Map(3L -> 1L, 2L -> 1L))
  }

  test("srpBandedCandidates: pair work stays near the bucket rate on one oversized block") {
    // ONE block far larger than any sane dedup granularity — the r7 wart's
    // shape (an IVF list sized for retrieval). Banding must price pairs at
    // the SRP-bucket rate (~bands/2^planes of all-pairs for spread data),
    // never at the block's all-pairs count.
    val rnd = new scala.util.Random(7)
    val dims = 16
    val n = 200
    val emb = (0 until n).map(i =>
      (i.toLong, Array.fill(dims)((rnd.nextDouble() * 2 - 1).toFloat), 0))
      .toDF("vec_id", "embedding", "ivf_list")
    val cands = Similarity.srpBandedCandidates(emb, "vec_id", "embedding",
      bands = 8, planesPerBand = 8, dims = dims,
      blockCols = Seq("ivf_list")).count()
    val allPairs = n.toLong * (n - 1) / 2
    // expected ~ allPairs * 8/256 ≈ 3%; assert an order of magnitude of slack
    assert(cands < allPairs / 4,
      s"banding bought nothing: $cands candidates of $allPairs all-pairs")
  }

  test("srpBandedNearDupPairs finds planted twins, honors blocks and the cosine cut") {
    val v = Array(1f, 0f, 0f, 0f)
    val w = Array(0f, 1f, 0f, 0f)
    val emb = Seq(
      (1L, v, 0), (2L, v.map(_ * 2f), 0), // twins (cos 1), same block
      (3L, w, 0),                         // orthogonal, same block
      (4L, v, 1)                          // twin DIRECTION, other block
    ).toDF("vec_id", "embedding", "ivf_list")
    val pairs = Similarity.srpBandedNearDupPairs(emb, "vec_id", "embedding",
      threshold = 0.95, bands = 8, planesPerBand = 8, dims = 4,
      blockCols = Seq("ivf_list"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // same-direction vectors share every band's signature — recall 1 on
    // exact twins; the orthogonal pair fails the cosine cut even where a
    // band collides; the cross-block twin must not pair at all
    assert(pairs.keySet == Set((1L, 2L)), pairs.toString)
    assert(pairs((1L, 2L)) == 1.0)
  }

  test("sqMinMax/sqCodes/sqDequant: exact grid, cap at 255, constant dims") {
    val emb = Seq(
      (1L, Array(0f, 10f, 5f)),
      (2L, Array(1f, 20f, 5f)),
      (3L, Array(2f, 30f, 5f))).toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.sqMinMax(emb, "embedding", dims = 3)
    assert(mins == Seq(0.0, 10.0, 5.0) && maxs == Seq(2.0, 30.0, 5.0))
    val out = emb
      .select(col("vec_id"), Similarity.sqCodes(col("embedding"), mins, maxs).as("c"),
        Similarity.sqDequant(col("embedding"), mins, maxs).as("dq"))
      .orderBy("vec_id").collect()
      .map(r => (r.getSeq[Double](1), r.getSeq[Double](2)))
    // dim 0 spans [0,2]: codes 0/127/255 (x=max floors ONTO the cap);
    // dim 2 is constant: code 0, dequant = min — no 0/0 blowup
    assert(out(0)._1 == Seq(0.0, 0.0, 0.0))
    assert(out(1)._1 == Seq(127.0, 127.0, 0.0))
    assert(out(2)._1 == Seq(255.0, 255.0, 0.0))
    // reconstruction error is within one grid step everywhere
    emb.select(Similarity.sqDequant(col("embedding"), mins, maxs).as("dq"),
        col("embedding")).collect().foreach { r =>
      r.getSeq[Double](0).zip(r.getSeq[Float](1)).zip(maxs.zip(mins)).foreach {
        case ((dq, x), (mx, mn)) =>
          assert(math.abs(dq - x) <= (mx - mn) / 255.0 + 1e-12,
            s"dequant $dq vs $x outside one grid step")
      }
    }
    assert(out(2)._2(2) == 5.0, "constant dim must reconstruct exactly")
  }

  test("ivfSqTopK: prunes to the probed lists, ranks by dequantized cosine") {
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val corpus = Seq(
      (1L, Array(0.9f, 0.1f)),   // list 0, near the query
      (2L, Array(0.8f, 0.3f)),   // list 0, second
      (3L, Array(0.1f, 0.9f))).toDF("vec_id", "embedding") // list 1: pruned
    val (mins, maxs) = Similarity.sqMinMax(corpus, "embedding", dims = 2)
    val got = Similarity.ivfSqTopK(corpus, "vec_id", "embedding",
        queryVec = Seq(1.0f, 0.0f), k = 3, cents, nprobe = 1, mins, maxs)
      .collect().map(_.getLong(0)).toSeq
    // k=3 but only the probed list's two rows qualify; ranked 1 before 2
    assert(got == Seq(1L, 2L), got.toString)
  }

  test("sqRecallEval: quantization-safe geometry scores recall 1, exact counts") {
    // well-separated directions: one grid step (range/255) cannot reorder
    // a 0.94-vs-0.17 cosine gap, so SQ top-k == exact top-k
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val corpus = Seq((1L, v(0)), (2L, v(10)), (3L, v(80)), (4L, v(90)))
      .toDF("vec_id", "embedding")
    val probes = Seq((1L, v(0)), (4L, v(90))).toDF("vec_id", "embedding")
    val r = Similarity.sqRecallEval(corpus, "vec_id", "embedding",
      probes, "vec_id", "embedding", k = 1, dims = 2)
      .collect().map(x => x.getLong(0) -> (x.getLong(1), x.getDouble(2))).toMap
    assert(r == Map(1L -> (1L, 1.0), 4L -> (1L, 1.0)), r.toString)
  }
}
