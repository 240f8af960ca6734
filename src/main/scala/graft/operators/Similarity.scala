package graft.operators

import graft.functions.{VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Brute-force cosine is the correctness baseline; the
  * scale path buckets vectors with deterministic sign-random-projection LSH
  * so the per-query candidate set is a bucket, not the corpus.
  */
object Similarity {

  /** Deterministic pseudo-random hyperplane weights: weight of plane p, dim d
    * is derived from md5(p:"_"d), mapped to [-7.5, 7.5]. No runtime RNG — the
    * same planes exist on every executor, every run, every engine. */
  def hyperplanes(numPlanes: Int, dims: Int): Seq[Seq[Double]] = {
    val mdsrc = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      (0 until dims).map { d =>
        val h = mdsrc.digest(s"${p}_$d".getBytes("UTF-8"))
        // first hex nibble -> [-7.5, 7.5]
        ((h(0) >> 4) & 0xf).toDouble - 7.5
      }
    }
  }

  /** Brute-force cosine top-k against a single query vector (as a Column
    * literal or correlated column). One scan, one TakeOrderedAndProject —
    * no shuffle of the corpus. Deterministic order: (cos desc, id). */
  def bruteForceTopK(emb: DataFrame, idCol: String, vecCol: String,
                     queryVec: Column, k: Int): DataFrame =
    emb.withColumn("cos", round(VF.cosine(col(vecCol), queryVec), 6))
      .select(col(idCol), col("cos"))
      // zero-norm vectors have no defined angle -> NULL cos; drop them BEFORE
      // the sort (engines disagree on NULL placement, so a short candidate
      // set would otherwise fill its tail differently per engine)
      .filter(col("cos").isNotNull)
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)

  /** Annotate each vector with its SRP-LSH bucket (numPlanes sign bits). */
  def withBucket(emb: DataFrame, vecCol: String, numPlanes: Int, dims: Int,
                 bucketCol: String = "bucket"): DataFrame =
    emb.withColumn(bucketCol, VF.srpBucket(col(vecCol), hyperplanes(numPlanes, dims)))

  /** LSH-bucketed ANN top-k: only candidates in the query's bucket are scored.
    * At 100 TB the bucketed table is written partitioned by bucket, so a query
    * touches one partition (partition pruning), not the corpus. */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryVec: Seq[Float], k: Int, numPlanes: Int = 8): DataFrame = {
    val dims = queryVec.length
    val planes = hyperplanes(numPlanes, dims)
    val qBucket = planes.zipWithIndex.map { case (plane, p) =>
      val d = plane.zip(queryVec).map { case (w, x) => w * x }.sum
      if (d >= 0.0) 1L << p else 0L
    }.sum
    val q = typedLit(queryVec)
    withBucket(emb, vecCol, numPlanes, dims)
      .filter(col("bucket") === qBucket)
      .withColumn("cos", round(VF.cosine(col(vecCol), q), 6))
      .select(col(idCol), col("cos"))
      .filter(col("cos").isNotNull) // the bruteForceTopK NULL-tail rule
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** LSH-bucketed near-duplicate pairs: candidate pairs share a bucket
    * (self-equi-join on bucket), then exact cosine filter. The scale form of
    * Dedup.embeddingNearDupPairs — shuffle keyed on bucket ids. */
  def lshNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                      threshold: Double, numPlanes: Int, dims: Int): DataFrame = {
    val bucketed = withBucket(emb, vecCol, numPlanes, dims)
    val a = bucketed.select(col("bucket"), col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = bucketed.select(col("bucket"), col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(VF.cosine(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      // no trailing distinct: each vector sits in exactly ONE bucket, so the
      // bucket equi-join can emit a pair only once — a distinct here was a
      // full extra shuffle of the surviving pair set for no semantic effect
      .select("id_a", "id_b", "cos")
  }

  /** Per-vector array of `bands` independent SRP bucket ids (planesPerBand
    * sign bits each) — band b uses hyperplanes [b·P, (b+1)·P), so the bands
    * are disjoint deterministic projections of the same md5-derived family. */
  private def bandBucketArray(vec: Column, bands: Int, planesPerBand: Int,
                              dims: Int): Column = {
    val planes = hyperplanes(bands * planesPerBand, dims)
    array((0 until bands).map { b =>
      VF.srpBucket(vec, planes.slice(b * planesPerBand, (b + 1) * planesPerBand))
    }: _*)
  }

  // the shared join core of the banded-candidate family: pairs agreeing on
  // ALL planesPerBand sign bits of SOME band, within the same blockCols group
  private def srpBandedPairFrame(emb: DataFrame, idCol: String, vecCol: String,
                                 bands: Int, planesPerBand: Int, dims: Int,
                                 blockCols: Seq[String]): DataFrame = {
    require(bands >= 1 && planesPerBand >= 1,
      s"need bands >= 1 and planesPerBand >= 1, got $bands/$planesPerBand")
    val banded = emb.select(
      (blockCols.map(col) :+ col(idCol) :+ col(vecCol) :+
        posexplode(bandBucketArray(col(vecCol), bands, planesPerBand, dims))
          .as(Seq("__band", "__bkt"))): _*)
    val keys = blockCols ++ Seq("__band", "__bkt")
    val a = banded.select(
      (keys.map(col) :+ col(idCol).as("id_a") :+ col(vecCol).as("__va")): _*)
    val b = banded.select(
      (keys.map(col) :+ col(idCol).as("id_b") :+ col(vecCol).as("__vb")): _*)
    a.join(b, keys).filter(col("id_a") < col("id_b"))
  }

  /** Banded SRP-LSH near-duplicate pairs — the MinHash-banding shape for
    * EMBEDDINGS (candidates = pairs whose planesPerBand-bit SRP signature
    * agrees in at least one of `bands` independent bands, then exact cosine
    * decides). `blockCols` optionally restricts candidates to rows sharing a
    * blocking key (e.g. an IVF list) — the repair-pass form, where pair work
    * must be bounded by SRP bucket size regardless of how large the blocks
    * are (an IVF list is sized for retrieval recall, ~2¹⁸ rows; a dedup
    * block must be small — conflating the two was the r7 scale wart).
    *
    * Recall for a pair at cosine t: per-plane agreement p = 1 − arccos(t)/π,
    * per-band p^P, overall 1 − (1 − p^P)^B — at t = 0.95, P = 8, B = 8
    * that is ≈ 0.99. Work: each vector lands in exactly `bands` buckets, so
    * candidate volume is Σ_buckets n_b² with n_b ≈ block/2^P for spread
    * data — never block², never corpus². A pair colliding in several bands
    * is deduplicated by the final distinct (its cosine is deterministic, so
    * the 3-column distinct collapses exactly). */
  def srpBandedNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                            threshold: Double, bands: Int, planesPerBand: Int,
                            dims: Int, blockCols: Seq[String] = Nil): DataFrame =
    srpBandedPairFrame(emb, idCol, vecCol, bands, planesPerBand, dims, blockCols)
      .withColumn("cos", round(VF.cosine(col("__va"), col("__vb")), 6))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos").distinct()

  /** The candidate set of [[srpBandedNearDupPairs]] BEFORE the cosine filter
    * — distinct (id_a, id_b). This is the pair-work bound the banding buys:
    * specs pin it far below the all-pairs count on blocks larger than any
    * sane dedup granularity. */
  def srpBandedCandidates(emb: DataFrame, idCol: String, vecCol: String,
                          bands: Int, planesPerBand: Int, dims: Int,
                          blockCols: Seq[String] = Nil): DataFrame =
    srpBandedPairFrame(emb, idCol, vecCol, bands, planesPerBand, dims, blockCols)
      .select("id_a", "id_b").distinct()

  /** Johnson-Lindenstrauss random projection with a deterministic ±1 sign
    * matrix (Achlioptas, "Database-friendly random projections", 2001): out
    * component p = Σ_d x_d·s(p,d) / √outDims, where s(p,d) is the SIGN of the
    * md5-derived `hyperplanes` weight — engine-reproducible, no RNG, and the
    * ±1 multiplies are exact in IEEE so both engines fold identical doubles.
    *
    * The scale story for every downstream embedding op: a 64→16 projection
    * cuts dot-product cost and shuffle bytes 4× while JL preserves pairwise
    * distances within (1±ε). Plan shape: one narrow codegen'd scan — the sign
    * matrix is literals in the plan, nothing is broadcast or shuffled. */
  def randomProjection(emb: DataFrame, idCol: String, vecCol: String,
                       outDims: Int, dims: Int): DataFrame = {
    require(outDims > 0, s"outDims must be positive, got $outDims")
    val signs = hyperplanes(outDims, dims).map(_.map(w => if (w >= 0) 1.0 else -1.0))
    val scale = math.sqrt(outDims.toDouble)
    val comps = signs.map(s => round(VF.dot(col(vecCol), typedLit(s)) / lit(scale), 6))
    emb.select(col(idCol), array(comps: _*).as("proj"))
  }

  /** IVF-style coarse quantization: assign each vector to the nearest of
    * `centroids` (small, broadcast as literals); probing = scoring only the
    * lists of the closest nprobe centroids. Centroid training is out of scope
    * (k-means over a sample upstream); assignment is the engine-side operator. */
  // the (d2, i) struct per centroid — ONE implementation of the argmin's
  // distance arithmetic (|v-c|^2 = |v|^2 - 2<v,c> + |c|^2, LTR fold via the
  // codegen'd dot product); ivfAssign and ivfAssignWithDist must never
  // drift apart on this, it decides bit-exact list assignment
  private def centroidDists(vecCol: String,
                            centroids: Seq[Seq[Double]]): Seq[Column] =
    centroids.zipWithIndex.map { case (c, i) =>
      val cc = typedLit(c)
      val d2 = VF.dot(col(vecCol), col(vecCol)) -
        lit(2.0) * VF.dot(col(vecCol), cc) + lit(c.map(x => x * x).sum)
      struct(d2.as("d2"), lit(i).as("i"))
    }

  def ivfAssign(emb: DataFrame, vecCol: String, centroids: Seq[Seq[Double]],
                listCol: String = "ivf_list"): DataFrame = {
    require(centroids.nonEmpty, "centroids must not be empty")
    // single centroid: every vector is in list 0 (least() needs >1 args)
    if (centroids.size == 1) return emb.withColumn(listCol, lit(0))
    emb.withColumn(listCol,
      least(centroidDists(vecCol, centroids): _*).getField("i"))
  }

  /** [[ivfAssign]] plus the assigned-centroid squared distance (round(·,6)
    * so downstream cross-engine aggregation is exact) — the input every
    * index-health monitor needs. */
  def ivfAssignWithDist(emb: DataFrame, vecCol: String,
                        centroids: Seq[Seq[Double]],
                        listCol: String = "ivf_list",
                        distCol: String = "d2"): DataFrame = {
    require(centroids.size >= 2, "need >= 2 centroids for a distance report")
    val m = least(centroidDists(vecCol, centroids): _*)
    emb.withColumn(listCol, m.getField("i"))
      .withColumn(distCol, round(m.getField("d2"), 6))
  }

  /** The `nprobe` NEAREST coarse lists per vector, as an int array — the
    * multi-probe assignment (q122/q124 idiom) applied to a whole frame:
    * element 0 is the storage list (identical to [[ivfAssign]]'s argmin),
    * the rest widen a GATE or probe. Ties rank (d2, i) ascending, exactly
    * the oracle's ORDER BY. One codegen'd scan, nothing shuffled. */
  def ivfGateLists(emb: DataFrame, vecCol: String, centroids: Seq[Seq[Double]],
                   nprobe: Int, outCol: String = "gate_lists"): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe=$nprobe outside [1, ${centroids.size}]")
    require(centroids.size >= 2, "need >= 2 centroids to rank lists")
    emb.withColumn(outCol, transform(
      slice(array_sort(array(centroidDists(vecCol, centroids): _*)), 1, nprobe),
      x => x.getField("i")))
  }

  /** Per-list DRIFT report between the resident index (`base`) and an
    * incoming `batch` — the monitoring query that decides when an
    * incremental vector index needs reclustering: a list whose batch share
    * balloons or whose mean assigned-centroid distance shifts is a centroid
    * that no longer represents its data. Mean distances are kept in exact
    * integer MICRO-units up to the mean (the house rule relearned on q149):
    * the round(6) per-row distances become exact longs via round(d2·1e6),
    * the per-list sums are integer sums (order-free), and the mean is ONE
    * floor-division — a decimal-sum/count mean hits exact 7-decimal halves
    * (e.g. 3 micros over 2 rows) where Spark's and DuckDB's round()
    * disagree. Exactness bound: the floor-division casts the micro sum to
    * double first, so the mean is exact while each list's summed micros
    * stays under 2⁵³ (≈9.0·10¹⁵ — e.g. 9·10⁹ rows at d2 ≤ 10⁶ micros);
    * past that the division may be off by one ulp before the floor.
    * CROSS-ENGINE PARITY holds at any mass (the oracle performs the
    * identical double division), only the absolute-exactness claim is
    * bounded. `drift_d2_micros` is then an exact long subtraction. One
    * partial-agg shuffle per side keyed on ivf_list (numLists groups),
    * corpus scanned once per side. */
  def ivfDriftReport(base: DataFrame, batch: DataFrame, vecCol: String,
                     centroids: Seq[Seq[Double]]): DataFrame = {
    def stats(df: DataFrame, side: String) =
      ivfAssignWithDist(df, vecCol, centroids)
        .groupBy("ivf_list")
        .agg(count(lit(1)).as(s"n_$side"),
          sum(round(col("d2") * 1e6).cast("long")).as(s"__s_$side"),
          count(col("d2")).as(s"__c_$side"))
    def mean(side: String): Column =
      floor(col(s"__s_$side").cast("double") / col(s"__c_$side")).cast("long")
    // anchor the report on the CENTROID list ids, not on observed
    // assignments: a list no vector lands in anymore (a dead centroid) is
    // exactly the drift signal a monitor must surface, and a groupBy over
    // assignments silently omits it. k rows — a literal-sized dimension.
    val lists = base.sparkSession.range(centroids.size)
      .select(col("id").cast("int").as("ivf_list"))
    val total = coalesce(col("n_base"), lit(0L)) + coalesce(col("n_batch"), lit(0L))
    lists
      .join(stats(base, "base"), Seq("ivf_list"), "left")
      .join(stats(batch, "batch"), Seq("ivf_list"), "left")
      .select(col("ivf_list"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_batch"), lit(0L)).as("n_batch"),
        // dead list: no rows on either side -> share is undefined (NULL),
        // never a 0/0 NaN (engines disagree on double 0/0)
        when(total === 0L, lit(null).cast("double"))
          .otherwise(round(coalesce(col("n_batch"), lit(0L)).cast("double")
            / total, 6))
          .as("share_batch"),
        mean("base").as("mean_d2_micros_base"),
        mean("batch").as("mean_d2_micros_batch"),
        (mean("batch") - mean("base")).as("drift_d2_micros"))
  }

  /** Deterministic per-subspace PQ codebooks: centroid `c` of subspace `m`,
    * dim `d` gets weight from the first hex nibble of md5("pq{m}_{c}_{d}"),
    * mapped to [-7.5, 7.5] — same engine-reproducible construction as
    * `hyperplanes`, keyed per subspace so the books differ. */
  def pqCodebooks(numSub: Int, ksub: Int, subDims: Int): Seq[Seq[Seq[Double]]] = {
    val mdsrc = java.security.MessageDigest.getInstance("MD5")
    (0 until numSub).map { m =>
      (0 until ksub).map { c =>
        (0 until subDims).map { d =>
          val h = mdsrc.digest(s"pq${m}_${c}_$d".getBytes("UTF-8"))
          ((h(0) >> 4) & 0xf).toDouble - 7.5
        }
      }
    }
  }

  /** Product-quantization coarse codes (Jégou, Douze & Schmid, "Product
    * quantization for nearest neighbor search", TPAMI 2011): the vector is
    * split into `numSub` contiguous subvectors and each is assigned to its
    * nearest centroid in that subspace's codebook — compressing a D-dim float
    * vector to numSub small ints (here 4×3 bits). Codebooks are tiny literals
    * (codegen'd, broadcast-free); one scan, no shuffle, argmin ties to the
    * lower centroid index — the same plan shape as `ivfAssign` per subspace.
    * Codebook training (k-means per subspace upstream) is out of scope, as
    * with IVF. */
  def pqAssign(emb: DataFrame, vecCol: String,
               codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))
    val subDims = codebooks.head.head.size
    // uniform geometry or the slice offsets below are meaningless
    require(codebooks.forall(_.forall(_.size == subDims)),
      "all codebook centroids must share one subvector dimensionality")
    // a vector shorter than the PQ geometry gets NULL codes, not the silent
    // smallest-norm-centroid garbage that empty slices would produce
    val longEnough = size(col(vecCol)) >= codebooks.size * subDims
    codebooks.zipWithIndex.foldLeft(emb) { case (df, (cents, m)) =>
      val sub = slice(col(vecCol), m * subDims + 1, subDims)
      val dists = cents.zipWithIndex.map { case (c, i) =>
        val d2 = VF.dot(sub, sub) - lit(2.0) * VF.dot(sub, typedLit(c)) +
          lit(c.map(x => x * x).sum)
        struct(d2.as("d2"), lit(i).as("i"))
      }
      df.withColumn(s"code$m",
        when(longEnough, least(dists: _*).getField("i")))
    }
  }

  // ---- scalar quantization (int8) ----------------------------------------

  /** Per-dimension corpus (min, max) — the scalar-quantization training
    * stats. ONE agg pass producing 2·dims cells (no explode: the 64-dim
    * default would 64× the row volume; element_at aggregates keep the scan
    * narrow and codegen'd), collected as a single row — the bounded-LUT
    * contract shared with centroid/codebook tables, NOT a corpus collect.
    * min/max of floats are exact, so embedding them as plan literals is
    * bit-identical to recomputing them engine-side. */
  def sqMinMax(emb: DataFrame, vecCol: String, dims: Int): (Seq[Double], Seq[Double]) = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    val aggs = (0 until dims).flatMap(d => Seq(
      min(element_at(col(vecCol), d + 1).cast("double")).as(s"__mn$d"),
      max(element_at(col(vecCol), d + 1).cast("double")).as(s"__mx$d")))
    val r = emb.agg(aggs.head, aggs.tail: _*).head()
    require(!r.anyNull, "sqMinMax: corpus has no rows (or a null/short " +
      "dimension) — quantization ranges are undefined")
    ((0 until dims).map(d => r.getDouble(2 * d)),
      (0 until dims).map(d => r.getDouble(2 * d + 1)))
  }

  /** Uniform int8 scalar quantization of a vector column: dim d maps to
    * code ∈ [0, 255] via floor((x − min_d) · 255/(max_d − min_d)), capped at
    * 255 (x = max_d can land exactly on 255 after the floor); a constant
    * dimension (min = max) codes to 0. The 4×-smaller representation every
    * billion-vector serving tier stores; codes stay DOUBLE-typed integral
    * values here so the dequantized arithmetic below is one fused
    * column expression (a production sink casts to tinyint at write). */
  def sqCodes(vecCol: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val scales = mins.zip(maxs).map { case (mn, mx) =>
      if (mx == mn) 0.0 else 255.0 / (mx - mn) }
    zip_with(
      zip_with(vecCol, typedLit(mins), (x, mn) => x.cast("double") - mn),
      typedLit(scales),
      // clamp BOTH grid edges (r8 advice): only corpus vectors are in-range
      // by construction — a non-corpus input (a probe quantized by mistake,
      // a post-training arrival) below min_d would otherwise code NEGATIVE
      // and dequantize outside the grid, a silent trap for the documented
      // tinyint-at-write production sink (tinyint would also wrap it).
      // In-range values are untouched, so resident-corpus results (q152/
      // q154 hashes) are identical.
      (s, sc) => greatest(lit(0.0), least(lit(255.0), floor(s * sc).cast("double"))))
  }

  /** Dequantized (reconstructed) vectors: dim d = min_d + code_d ·
    * (max_d − min_d)/255 — the asymmetric-distance convention (probes stay
    * full-precision; only the corpus side is reconstructed from codes). */
  def sqDequant(vecCol: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val invs = mins.zip(maxs).map { case (mn, mx) =>
      if (mx == mn) 0.0 else (mx - mn) / 255.0 }
    zip_with(
      zip_with(sqCodes(vecCol, mins, maxs), typedLit(invs), (c, iv) => c * iv),
      typedLit(mins), (v, mn) => mn + v)
  }

  /** [[sqCodes]] shifted into Spark's SIGNED tinyint for STORAGE (code−128
    * ∈ [−128, 127]) — the honest 1-byte-per-dim representation a lake
    * store writes (parquet INT(8) annotation + dictionary/bit-packing),
    * 4× smaller list reads than float32. The shift exists only because
    * Spark/parquet have no unsigned byte; [[sqDequantTiny]] undoes it. */
  def sqCodesTiny(vecCol: Column, mins: Seq[Double], maxs: Seq[Double]): Column =
    transform(sqCodes(vecCol, mins, maxs), c => (c - lit(128.0)).cast("tinyint"))

  /** Dequantize STORED tinyint codes: dim d = min_d + (code_d + 128) ·
    * (max_d − min_d)/255 — bit-identical to [[sqDequant]] over the raw
    * vector (codes are exact small integers on both routes, and the ±128
    * shift is exact in IEEE), so a store that persists codes and a query
    * that re-derives them from floats rank identically. */
  def sqDequantTiny(codesCol: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val invs = mins.zip(maxs).map { case (mn, mx) =>
      if (mx == mn) 0.0 else (mx - mn) / 255.0 }
    zip_with(
      zip_with(codesCol, typedLit(invs),
        (c, iv) => (c.cast("double") + lit(128.0)) * iv),
      typedLit(mins), (v, mn) => mn + v)
  }

  /** Recall@k of int8 scalar quantization against exact search — the gate
    * that decides whether the 4×-memory-saving SQ tier serves a corpus, the
    * same contract shape as [[annRecall]] for LSH. Probes are a
    * serving-bounded batch (broadcast, enforced by [[knnJoin]]); the corpus
    * is scanned twice (raw top-k, dequantized top-k), never shuffled —
    * both scans survive a 100 TB corpus untouched. The SQ side is
    * ASYMMETRIC (ADC): probes keep full precision, only corpus vectors go
    * through code→dequant. Output: (probe_id, n_hit, recall) with n_hit =
    * |exact ∩ sq| over each probe's top-k (cos desc, id asc on the rounded
    * score — [[knnJoin]]'s deterministic rank rule). */
  def sqRecallEval(corpus: DataFrame, idCol: String, vecCol: String,
                   probe: DataFrame, probeId: String, probeVec: String,
                   k: Int, dims: Int): DataFrame = {
    val (mins, maxs) = sqMinMax(corpus, vecCol, dims)
    val exact = knnJoin(corpus, idCol, vecCol,
      probe, probeId, probeVec, k, excludeSelf = true)
    val dq = corpus.withColumn("__dqv", sqDequant(col(vecCol), mins, maxs))
    val approx = knnJoin(dq, idCol, "__dqv",
      probe, probeId, probeVec, k, excludeSelf = true)
    exact.join(approx.select(col("probe_id"), col("neighbor_id"),
        lit(1L).as("__hit")),
      Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(coalesce(sum(col("__hit")), lit(0L)).as("n_hit"))
      .select(col("probe_id"), col("n_hit"),
        round(col("n_hit").cast("double") / lit(k.toDouble), 6).as("recall"))
  }

  /** IVF + int8 scalar quantization probing search — the FAISS "IVF-SQ8"
    * serving shape, completing the quantized-serving family (PQ/ADC,
    * IVFPQ, flat SQ recall): coarse pruning exactly as [[ivfTopK]] (only
    * the `nprobe` lists nearest the query are scanned — partition pruning
    * on a `partitionBy(ivf_list)` store), scoring against the DEQUANTIZED
    * 4×-smaller corpus representation, asymmetric (the query keeps full
    * precision — [[sqDequant]]'s ADC convention). List assignment uses the
    * RAW vectors: the store assigns at write time, before quantization, so
    * pruning is independent of code fidelity. One pruned scan, driver-side
    * probe selection over the k-row centroid table, ties (cos desc, id
    * asc) on the rounded score. */
  def ivfSqTopK(emb: DataFrame, idCol: String, vecCol: String,
                queryVec: Seq[Float], k: Int, centroids: Seq[Seq[Double]],
                nprobe: Int, mins: Seq[Double], maxs: Seq[Double]): DataFrame = {
    val probes = probeLists(queryVec, centroids, nprobe)
    val q = typedLit(queryVec)
    ivfAssign(emb, vecCol, centroids)
      .filter(col("ivf_list").isInCollection(probes))
      .withColumn("__dqv", sqDequant(col(vecCol), mins, maxs))
      .withColumn("cos", round(VF.cosine(col("__dqv"), q), 6))
      .select(col(idCol), col("cos"))
      .filter(col("cos").isNotNull) // the bruteForceTopK NULL-tail rule
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** PQ asymmetric-distance top-k (ADC; Jégou, Douze & Schmid 2011 §IV-A):
    * the probe stays un-quantized, the corpus is reduced to its PQ codes.
    * The numSub×ksub table of probe-subvector→centroid distances is computed
    * ONCE on a 1-row frame and broadcast — never on the driver — so each
    * corpus row costs numSub array lookups + adds instead of a D-dim float
    * dot: the approximate-scan shape that serves billion-vector indexes.
    * Codes are derived here for self-containment; a production index stores
    * q71's output and this collapses to scan + TakeOrdered. Distances are
    * sums of driver-free double exprs evaluated in one fixed order — no
    * accumulation-order nondeterminism anywhere. */
  /** The per-subspace probe→centroid distance arrays (__lut{m}) over the
    * probe column `qCol` — the ADC lookup table, built once per query row. */
  private def pqLutCols(codebooks: Seq[Seq[Seq[Double]]],
                        qCol: Column): Seq[Column] = {
    val subDims = codebooks.head.head.size
    // the probe needs the same geometry guard pqAssign gives the corpus: a
    // probe shorter than numSub*subDims would slice empty subvectors whose
    // dot is 0 — a phantom zero-subvector LUT yielding finite-but-wrong
    // distances for EVERY corpus row. A null LUT nulls adc_d2 instead, and
    // the callers' isNotNull filter turns that into an empty result.
    val longEnough = size(qCol) >= codebooks.size * subDims
    codebooks.zipWithIndex.map { case (cents, m) =>
      val qsub = slice(qCol, m * subDims + 1, subDims)
      when(longEnough, array(cents.map { c =>
        VF.dot(qsub, qsub) - lit(2.0) * VF.dot(qsub, typedLit(c)) +
          lit(c.map(x => x * x).sum)
      }: _*)).as(s"__lut$m")
    }
  }

  /** Σ_m __lut{m}[code{m}] — the ADC distance of a coded row. */
  private def adcDist(codebooks: Seq[Seq[Seq[Double]]]): Column =
    codebooks.indices
      .map(m => element_at(col(s"__lut$m"), col(s"code$m") + 1))
      .reduce(_ + _)

  def pqAdcTopK(emb: DataFrame, idCol: String, vecCol: String, probeId: Long,
                codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))
    val codes = pqAssign(emb.filter(col(idCol) =!= probeId), vecCol, codebooks)
    val probe = emb.filter(col(idCol) === probeId).select(col(vecCol).as("__q"))
    val lut = probe.select(pqLutCols(codebooks, col("__q")): _*)
    codes.crossJoin(broadcast(lut))
      .select(col(idCol), adcDist(codebooks).as("adc_d2"))
      // short vectors carry NULL codes -> NULL distance; drop them here
      // (engines disagree on NULL sort placement)
      .filter(col("adc_d2").isNotNull)
      .orderBy(col("adc_d2"), col(idCol)).limit(k)
  }

  /** IVF-pruned ADC top-k — the full IVFPQ serving shape (FAISS IVFADC;
    * Jégou 2011 §V): coarse quantizer prunes the corpus to the nprobe
    * inverted lists nearest the probe, PQ-ADC ranks only those rows. The
    * probe's list choice AND its LUT ride the same broadcast 1-row frame, so
    * the whole query is one pruned scan + TakeOrdered with zero driver
    * round-trips. At 100 TB the coded corpus is stored
    * `partitionBy(ivf_list)` and the filter becomes partition pruning:
    * nprobe/nLists of the data is even READ. */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String, probeId: Long,
                centroids: Seq[Seq[Double]], nprobe: Int,
                codebooks: Seq[Seq[Seq[Double]]], k: Int): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty))
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe=$nprobe outside [1, ${centroids.size}]")
    val probe = emb.filter(col(idCol) === probeId).select(col(vecCol).as("__q"))
    val centStructs = centroids.zipWithIndex.map { case (c, i) =>
      val d2 = VF.dot(col("__q"), col("__q")) -
        lit(2.0) * VF.dot(col("__q"), typedLit(c)) + lit(c.map(x => x * x).sum)
      struct(d2.as("d2"), lit(i).as("i"))
    }
    // nearest-nprobe lists by (d2, i): struct sort == the oracle's ORDER BY
    val probes = transform(
      slice(array_sort(array(centStructs: _*)), 1, nprobe), x => x.getField("i"))
    val qframe = probe.select(
      probes.as("__probes") +: pqLutCols(codebooks, col("__q")): _*)
    val codes = pqAssign(
      ivfAssign(emb.filter(col(idCol) =!= probeId), vecCol, centroids),
      vecCol, codebooks)
    codes.crossJoin(broadcast(qframe))
      .filter(array_contains(col("__probes"), col("ivf_list")))
      .select(col(idCol), adcDist(codebooks).as("adc_d2"))
      .filter(col("adc_d2").isNotNull)
      .orderBy(col("adc_d2"), col(idCol)).limit(k)
  }

  /** Multi-probe LSH + exact rerank — the standard two-stage retrieval
    * shape (Lv et al., "Multi-probe LSH", VLDB 2007): the shortlist is every
    * vector whose SRP signature is within `maxFlip` bits of the probe's
    * (hamming over bucket ids via one xor + popcount), then EXACT cosine
    * reranks the shortlist to top-k. maxFlip=0 degenerates to the plain
    * single-bucket lookup (lshTopK); each extra flip trades recall for a
    * shortlist that grows by C(numPlanes, flips) buckets — the recall knob
    * single-bucket LSH lacks. The probe's signature and vector ride one
    * broadcast 1-row frame: zero driver round-trips, and the corpus is
    * scanned (never shuffled) with the hamming test codegen'd into the scan.
    * At 100 TB with the corpus stored `partitionBy(bucket)`, the ≤ maxFlip
    * bucket set is enumerable ahead of the scan, so the filter prunes
    * partitions instead of reading them. */
  def multiProbeTopK(emb: DataFrame, idCol: String, vecCol: String,
                     probeId: Long, numPlanes: Int, dims: Int,
                     maxFlip: Int, k: Int): DataFrame = {
    require(maxFlip >= 0 && maxFlip <= numPlanes,
      s"maxFlip=$maxFlip outside [0, $numPlanes]")
    val bucketed = withBucket(emb, vecCol, numPlanes, dims)
    val qframe = bucketed.filter(col(idCol) === probeId)
      .select(col("bucket").as("__qb"), col(vecCol).as("__q"))
    bucketed.filter(col(idCol) =!= probeId)
      .crossJoin(broadcast(qframe))
      .withColumn("hamming",
        bit_count(col("bucket").bitwiseXOR(col("__qb"))).cast("long"))
      .filter(col("hamming") <= maxFlip)
      .withColumn("cos", round(VF.cosine(col(vecCol), col("__q")), 6))
      .select(col(idCol), col("hamming"), col("cos"))
      .filter(col("cos").isNotNull) // the bruteForceTopK NULL-tail rule
      .orderBy(col("cos").desc, col(idCol)).limit(k)
  }

  /** Scalar int8 quantization of the embedding column: per-dimension corpus
    * min/max define a 256-step grid, code_d = round(255·(x_d−min_d)/span_d);
    * the vector compresses 4× (float32 → uint8 per dim) — the standard
    * storage/serving trick for billion-vector ANN indexes (and the scalar
    * sibling of [[pqAssign]]). Output: the code vector (as an md5 of its
    * space-joined form — stable to compare, cheap to ship) plus the exact
    * reconstruction squared error, the quality dial.
    * Plan shape at scale: posexplode → groupBy(dim) collapses map-side to
    * ≤dims rows per task (a dims-row shuffle TOTAL, regardless of corpus
    * size), the assembled stats are a ONE-ROW broadcast, and encoding is a
    * pure per-row expression over the scan — no corpus shuffle anywhere.
    * Determinism: min/max/−/·/÷/round on doubles are IEEE-exact and
    * identically defined in DuckDB, and the error fold is LEFT TO RIGHT —
    * bit-identical across engines, no rounding slack needed. */
  def int8Quantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val asDouble = transform(col(vecCol), x => x.cast("double"))
    val dims = emb.select(posexplode(col(vecCol)).as(Seq("__d", "__x")))
      .groupBy(col("__d"))
      .agg(min(col("__x").cast("double")).as("__mn"),
        max(col("__x").cast("double")).as("__mx"))
    val stats = dims
      .agg(sort_array(collect_list(struct(col("__d"), col("__mn"), col("__mx")))).as("__s"))
      .select(transform(col("__s"), e => e.getField("__mn")).as("__mns"),
        transform(col("__s"), e => e.getField("__mx")).as("__mxs"))
    // per-dim (min, span) pairs; a zero span (constant dimension) encodes 0
    val pre = zip_with(col("__mns"), col("__mxs"),
      (m, x) => struct(m.as("mn"), (x - m).as("sp")))
    emb.crossJoin(broadcast(stats))
      .withColumn("__pre", pre)
      .withColumn("__codes", zip_with(asDouble, col("__pre"), (x, p) =>
        when(p.getField("sp") === 0.0, lit(0))
          .otherwise(round((x - p.getField("mn")) * 255.0 / p.getField("sp"), 0)
            .cast("int"))))
      .withColumn("__recon", zip_with(col("__codes"), col("__pre"), (c, p) =>
        p.getField("mn") + c.cast("double") * p.getField("sp") / 255.0))
      .select(col(idCol),
        md5(concat_ws(" ", transform(col("__codes"), c => c.cast("string"))))
          .as("code_hash"),
        round(aggregate(zip_with(asDouble, col("__recon"),
          (x, r) => (x - r) * (x - r)), lit(0.0), (a, e) => a + e), 6)
          .as("recon_err"))
  }

  /** Query-side squared distance to a centroid, folded LEFT TO RIGHT over
    * doubles — the same association order as the codegen'd DotProduct and the
    * SQL oracles, so probe selection is bit-identical across engines. */
  /** The `nprobe` coarse lists nearest the query, ranked (d2, i) ascending
    * — driver-side probe selection over the k-row centroid table, shared
    * by every driver-side IVF path (ivfTopK, ivfSqTopK) and the per-probe
    * reference of VectorLake.searchBatch's parity spec. */
  def probeLists(queryVec: Seq[Float], centroids: Seq[Seq[Double]],
                 nprobe: Int): Seq[Int] = {
    require(nprobe >= 1 && nprobe <= centroids.size,
      s"nprobe=$nprobe outside [1, ${centroids.size}]")
    centroids.zipWithIndex
      .map { case (c, i) => (queryD2(queryVec, c), i) }
      .sortBy { case (d2, i) => (d2, i) }.take(nprobe).map(_._2)
  }

  private def queryD2(q: Seq[Float], c: Seq[Double]): Double = {
    val qq = q.indices.foldLeft(0.0)((acc, i) => acc + q(i).toDouble * q(i).toDouble)
    val qc = c.indices.foldLeft(0.0)((acc, i) => acc + q(i).toDouble * c(i))
    val cc = c.foldLeft(0.0)((acc, x) => acc + x * x)
    qq - 2.0 * qc + cc
  }

  /** IVF probing search: score only the vectors whose coarse list is among
    * the `nprobe` centroids nearest the query (ties to the lower index).
    * Probe selection is a driver-side loop over the tiny centroid table; the
    * corpus side is one scan with a pushable `ivf_list IN (...)` filter —
    * at 100 TB the assigned table is written `partitionBy(ivf_list)` and a
    * query reads nprobe partitions, not the corpus. Recall/latency dial:
    * nprobe = centroids.size degrades to exact brute force. */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              queryVec: Seq[Float], k: Int, centroids: Seq[Seq[Double]],
              nprobe: Int): DataFrame = {
    val probes = probeLists(queryVec, centroids, nprobe)
    val q = typedLit(queryVec)
    ivfAssign(emb, vecCol, centroids)
      .filter(col("ivf_list").isInCollection(probes))
      .withColumn("cos", round(VF.cosine(col(vecCol), q), 6))
      .select(col(idCol), col("cos"))
      .filter(col("cos").isNotNull) // the bruteForceTopK NULL-tail rule
      .orderBy(col("cos").desc, col(idCol))
      .limit(k)
  }

  /** The tail of every kNN join below: each (probe_id, neighbor_id)
    * candidate pair (self pairs dropped under `excludeSelf`) scores its
    * 6-decimal-rounded cosine ONCE and ranks per probe through the bounded
    * heap ([[Serving.rankTopNMicros]]), which drops the null or NaN cosine
    * of a zero-norm or overflowed vector. Output: (probe_id, neighbor_id,
    * cos, rank), rank 1..k by (cos desc, neighbor_id asc). */
  private def rankByCosine(cand: DataFrame, vecA: String, vecB: String,
                           k: Int, excludeSelf: Boolean = false): DataFrame =
    Serving.rankTopNMicros(
      (if (excludeSelf) cand.filter(col("neighbor_id") =!= col("probe_id")) else cand)
        .select(col("probe_id"), col("neighbor_id"),
          round(VF.cosine(col(vecA), col(vecB)), 6).as("cos")),
      k, "neighbor_id", "cos")

  /** The way out named when a broadcast side passes its cap. */
  private val probeCapRemedy =
    "Use ivfKnnJoin (blocked candidates) or lshNearDupPairs (bucketed " +
      "pairs) for corpus-scale probe sets, or raise maxBroadcastProbes " +
      "explicitly."

  /** Batch kNN join (the retrieval/hard-negative-mining primitive): EVERY
    * probe row gets its k nearest corpus rows by cosine. The probe side is
    * small by contract (a query/seed set) and is BROADCAST against one corpus
    * scan; per-probe top-k runs through the bounded heap, so the only
    * exchange carries <= k rows per (probe x corpus partition) — the corpus itself is
    * never shuffled, and the plan survives a 100 TB corpus untouched.
    * Output: (probe_id, neighbor_id, cos, rank) with rank 1..k by
    * (cos desc, neighbor_id asc) on the 6-decimal-rounded score.
    *
    * The broadcast contract is ENFORCED, not assumed (the same guard
    * embeddingNearDupPairs carries): a cheap limit-probe rejects probe sets
    * beyond `maxBroadcastProbes` with a pointer at the scale paths, instead
    * of letting a million-probe broadcast OOM the driver. Raise the cap
    * explicitly if your executors are sized for it.
    *
    * Probe ids must be UNIQUE: the per-probe groupBy folds rows sharing an
    * id into one combined top-k (the serving path,
    * [[ivfMultiProbeKnnJoin]], refuses duplicates loudly; the eval-harness
    * joins here trust their generated keys). */
  def knnJoin(corpus: DataFrame, corpusId: String, corpusVec: String,
              probe: DataFrame, probeId: String, probeVec: String,
              k: Int, excludeSelf: Boolean = false,
              maxBroadcastProbes: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Serving.requireBroadcastable(probe, maxBroadcastProbes, "probe side",
      probeCapRemedy)
    val cand = corpus
      .select(col(corpusId).cast("long").as("neighbor_id"), col(corpusVec).as("__cv"))
      .crossJoin(broadcast(
        probe.select(col(probeId).cast("long").as("probe_id"), col(probeVec).as("__pv"))))
    rankByCosine(cand, "__cv", "__pv", k, excludeSelf)
  }

  /** Hard-negative mining (the contrastive-training variant of [[knnJoin]]):
    * every probe gets its k nearest corpus rows whose label DIFFERS from the
    * probe's — the highest-similarity wrong-class examples, exactly what
    * contrastive/metric losses want as negatives (Xiong 2021, ANCE). Same
    * broadcast-probe / scan-once / bounded-heap plan as knnJoin — the label
    * test rides the candidate filter before the heap, so mismatched pairs
    * cost nothing downstream. Pairs where either label is null drop (a null
    * comparison is never a confirmed mismatch); self-pairs drop with them
    * since a row's own label always matches. Output: (probe_id, neighbor_id,
    * cos, rank), rank 1..k by (cos desc, neighbor_id asc) on the rounded
    * score. */
  def hardNegatives(corpus: DataFrame, corpusId: String, corpusVec: String,
                    corpusLabel: String,
                    probe: DataFrame, probeId: String, probeVec: String,
                    probeLabel: String,
                    k: Int, maxBroadcastProbes: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Serving.requireBroadcastable(probe, maxBroadcastProbes, "probe side",
      probeCapRemedy)
    rankByCosine(corpus
      .select(col(corpusId).cast("long").as("neighbor_id"), col(corpusVec).as("__cv"),
        col(corpusLabel).as("__cl"))
      .crossJoin(broadcast(
        probe.select(col(probeId).cast("long").as("probe_id"),
          col(probeVec).as("__pv"), col(probeLabel).as("__pl"))))
      .filter(col("__cl") =!= col("__pl")), "__cv", "__pv", k)
  }

  /** IVF-accelerated batch kNN join: both sides take coarse-list assignment
    * against the broadcast centroid table and candidates come ONLY from the
    * probe's own list (nprobe=1 blocking) — the list equi-join replaces the
    * cross product, cutting scored candidates ~|lists|-fold at the cost of
    * recall at list borders. Same bounded top-k aggregation, same exchange
    * shape; at 100 TB the corpus side is written `partitionBy(ivf_list)` so
    * each probe's candidates are one partition read. */
  def ivfKnnJoin(corpus: DataFrame, corpusId: String, corpusVec: String,
                 probe: DataFrame, probeId: String, probeVec: String,
                 k: Int, centroids: Seq[Seq[Double]],
                 excludeSelf: Boolean = false,
                 maxBroadcastProbes: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Serving.requireBroadcastable(probe, maxBroadcastProbes, "probe side",
      probeCapRemedy)
    val c = ivfAssign(
      corpus.select(col(corpusId).cast("long").as("neighbor_id"), col(corpusVec).as("__cv")),
      "__cv", centroids)
    val p = ivfAssign(
      probe.select(col(probeId).cast("long").as("probe_id"), col(probeVec).as("__pv")),
      "__pv", centroids)
    val cand = c.join(broadcast(p), Seq("ivf_list"))
    rankByCosine(cand, "__cv", "__pv", k, excludeSelf)
  }

  /** Batched MULTI-PROBE kNN join over a PRE-ASSIGNED corpus — the serving
    * read of an IVF lake store ([[graft.domain.VectorLake.searchBatch]]):
    * every probe row gets its k nearest corpus rows by cosine among the
    * corpus rows whose STORED list is one of the probe's `nprobe` nearest
    * lists. Unlike [[ivfKnnJoin]] (nprobe = 1, assigns both sides) this
    * trusts the corpus frame's existing `listCol` — a lake store assigns at
    * write time — and widens the probe side to `nprobe` gate lists (the
    * q122/q124 multi-probe recall dial applied to the batch join). A corpus
    * row matches a probe AT MOST ONCE (one stored list vs a set of distinct
    * gate lists), so the join needs no dedup. Same bounded-heap
    * tail as [[knnJoin]]: partial aggregation reduces each corpus partition
    * to <= k rows per probe before the exchange, so shuffle volume is
    * probes x partitions x k and the corpus is scanned once, never
    * shuffled. Output: (probe_id, neighbor_id, cos, rank), rank 1..k by
    * (cos desc, neighbor_id asc) on the 6-decimal-rounded score. */
  def ivfMultiProbeKnnJoin(assigned: DataFrame, corpusId: String,
                           corpusVec: String, listCol: String,
                           probe: DataFrame, probeId: String, probeVec: String,
                           k: Int, centroids: Seq[Seq[Double]], nprobe: Int,
                           excludeSelf: Boolean = false,
                           maxBroadcastProbes: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val p0 = probe.select(col(probeId).cast("long").as("probe_id"),
      col(probeVec).as("__pv"))
    // BOTH serving gates in ONE bounded agg (r13 optimization — the
    // queryTermsBatch idiom applied here; separately they cost a scheduler
    // round-trip each, and every multi-probe serve pays them):
    //  1. probe ids must be UNIQUE — the groupBy(probe_id) tail would
    //     silently fold two different probe vectors sharing an id into one
    //     combined top-k, breaking the documented per-probe parity of
    //     VectorLake.searchBatch without any error.
    //  2. the broadcast cap guards what actually BROADCASTS — the
    //     gate-list-EXPLODED frame. ivfGateLists emits EXACTLY nprobe lists
    //     per probe (slice(.., 1, nprobe) of a >= nprobe centroid ranking),
    //     so the exploded row count is nprobe x the probe count by
    //     construction — no second probe of the exploded plan needed
    //     (checking the pre-explosion count alone would under-count by the
    //     nprobe factor, r9 review).
    val g = p0.agg(count(lit(1)), count_distinct(col("probe_id"))).head()
    Serving.requireUnique(g.getLong(0), g.getLong(1), "probe_id",
      "probe side", "per-probe top-k would silently merge them into one " +
        "combined result. Deduplicate or re-key the probe batch first.")
    require(g.getLong(0) * nprobe <= maxBroadcastProbes,
      s"probe batch explodes to ${g.getLong(0) * nprobe} gate-list rows > " +
        s"$maxBroadcastProbes — it cannot broadcast. Shrink the batch or " +
        "raise maxBroadcastProbes if executors are sized for it.")
    val p = ivfGateLists(p0, "__pv", centroids, nprobe)
      .select(col("probe_id"), col("__pv"),
        explode(col("gate_lists")).as(listCol))
    val cand = assigned
      .select(col(listCol), col(corpusId).cast("long").as("neighbor_id"),
        col(corpusVec).as("__cv"))
      .join(broadcast(p), Seq(listCol))
    rankByCosine(cand, "__cv", "__pv", k, excludeSelf)
  }

  /** Quantized-scan + FLOAT-REFINE batch kNN — the standard IVF-SQ serving
    * read completed (the r9 verdict's top ask): stage 1 scans the
    * 4×-smaller quantized tier ([[ivfMultiProbeKnnJoin]] over `sqStore`,
    * asymmetric scoring) for each probe's top-(k·refineFactor) CANDIDATES;
    * stage 2 rescores ONLY those candidates against the full-precision
    * tier and re-ranks exact — float-serving recall at SQ8 scan I/O, which
    * is the read-amplification story a quantized tier exists for (q124's
    * multi-probe-rerank idiom applied across the two storage tiers).
    *
    * Scale shape: the candidate set is probes × k·refineFactor rows
    * (serving-bounded by construction — stage 1's heap caps it), so stage
    * 2 BROADCASTS it against the float tier and computes exactly k·r float
    * cosines per probe, never a list re-rank; the only exchanges are the
    * two bounded-heap aggregations (≤ probes × partitions × k·r rows). On
    * a lake layout both tiers' scans stay partition-pruned to the gate
    * lists. Output: (probe_id, neighbor_id, cos, rank) with cos the EXACT
    * float score, rank 1..k by (cos desc, neighbor_id asc) on the rounded
    * score — ties at the k·r candidate cut break identically to the SQL
    * row_number (the heap's order), so the refine set is deterministic. */
  def ivfSqRefineKnnJoin(sqStore: DataFrame, floatStore: DataFrame,
                         corpusId: String, sqVec: String, listCol: String,
                         floatVec: String,
                         probe: DataFrame, probeId: String, probeVec: String,
                         k: Int, refineFactor: Int,
                         centroids: Seq[Seq[Double]], nprobe: Int,
                         excludeSelf: Boolean = false,
                         maxBroadcastProbes: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(refineFactor >= 1,
      s"refineFactor must be >= 1, got $refineFactor (1 = rescore exactly " +
        "the quantized top-k; 4 is the standard recall/IO trade)")
    val cand = ivfMultiProbeKnnJoin(sqStore, corpusId, sqVec, listCol,
        probe, probeId, probeVec, k * refineFactor, centroids, nprobe,
        excludeSelf, maxBroadcastProbes)
      .select(col("probe_id"), col("neighbor_id"))
    val pframe = probe.select(col(probeId).cast("long").as("probe_id"),
      col(probeVec).as("__pv"))
    // each candidate carries its probe's full-precision vector into the
    // broadcast, so the float tier is scanned ONCE with no second probe join
    val candp = cand.join(pframe, Seq("probe_id"))
    rankByCosine(floatStore
      .select(col(corpusId).cast("long").as("neighbor_id"),
        col(floatVec).as("__fv"))
      .join(broadcast(candp), Seq("neighbor_id")), "__fv", "__pv", k)
  }

  /** Reciprocal-rank FUSION of a per-probe vector result list with a
    * lexical (BM25/TF-IDF) result list — hybrid retrieval's standard merge
    * (Cormack, Clarke & Buettcher 2009: RRF outperforms either list alone
    * and needs no score calibration, only ranks). Per (probe, candidate):
    * `rrf_micros = floor(1e6/(kRrf + rank_vec)) + floor(1e6/(kRrf +
    * rank_lex))`, a list the candidate is absent from contributing 0 —
    * EXACT integer micro-units end to end (the house determinism rule:
    * ranks are integers, each reciprocal is one float division of exact
    * integers floored immediately, so the greedy order never compares
    * accumulated float sums — q147/q149's rr_micros idiom). Re-rank by
    * (rrf_micros desc, neighbor_id asc), keep top `k`.
    *
    * `vecRanks` is (probe_id, neighbor_id, rank) — any per-probe ANN/kNN
    * output ([[ivfMultiProbeKnnJoin]], [[ivfSqRefineKnnJoin]], a lake
    * [[graft.domain.VectorLake.searchBatch]]). `lexRanks` is (neighbor_id,
    * rank) — ONE query-global lexical list (the fixed-term BM25 top-n),
    * fused into every probe's list: the lexical prior + per-probe vector
    * shape a batched hybrid endpoint actually serves. `probeIds` names the
    * probe universe explicitly (a probe with zero vector candidates still
    * fuses the lexical list; deriving the universe from `vecRanks` would
    * silently drop it).
    *
    * Scale shape: every input is serving-bounded by contract — `lexRanks`
    * is a top-n list (ENFORCED broadcastable), `vecRanks` is probes × k
    * rows, and the fusion is one full-outer join plus one rank window over
    * probes × (k + n) rows. Corpus size never enters: fusion happens
    * strictly AFTER both retrievers' bounded-heap/limit cuts. */
  def rrfFuse(vecRanks: DataFrame, lexRanks: DataFrame, probeIds: DataFrame,
              k: Int, kRrf: Int = 60,
              maxBroadcastLex: Long = 1L << 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf (60 is the standard)")
    val lex = lexRanks.select(col("neighbor_id").cast("long").as("neighbor_id"),
      col("rank").cast("long").as("rank"))
    Serving.requireBroadcastable(lex, maxBroadcastLex, "lexical list",
      "It replicates to every probe; cut it to a top-n first, or raise " +
        "maxBroadcastLex explicitly.")
    val p = probeIds.select(col("probe_id").cast("long").as("probe_id"))
      .distinct()
    // the global lexical list replicates per probe (bounded × bounded);
    // broadcast keeps the replication exchange-free
    val lexp = p.crossJoin(broadcast(lex))
    rrfFuseAll(Seq(vecRanks, lexp), k, kRrf)
  }

  /** N-LIST reciprocal-rank fusion — [[rrfFuse]]'s general form, for the
    * production stacks that merge MORE than two retrievers (vector + BM25 +
    * a recency or source-quality prior is the common three). Every list is
    * per-probe (probe_id, neighbor_id, rank) with at most one rank per
    * (probe, candidate); turn a query-global list into a per-probe one by
    * cross-joining the broadcast list with the probe ids (what [[rrfFuse]]
    * does for its lexical side). `rrf_micros` sums
    * floor(1e6/(kRrf + rank_i)) over the lists, absence contributing 0 —
    * integer summands, so the order of addition cannot drift the total.
    * A probe absent from every list yields no rows. Scale shape: the fold
    * of full-outer joins runs over serving-bounded frames only (each list
    * is probes × its own cut by contract); one rank window tails it.
    *
    * `candidates` (round 12, the phrase-constrained hybrid): an optional
    * (neighbor_id) gate — fused candidates OUTSIDE it drop BEFORE the
    * final rank, so each probe's top-k is taken over gated candidates
    * only (the "exact quote + semantic" query: the gate is the phrase
    * match's doc set). The gate BROADCASTS against the bounded fused
    * frame — ENFORCED via `maxBroadcastCandidates` (an exact quote is
    * rare by nature; a gate past the cap refuses loudly with the
    * narrow-the-phrase remedy, never OOMs the driver). */
  def rrfFuseAll(lists: Seq[DataFrame], k: Int, kRrf: Int = 60,
                 candidates: Option[DataFrame] = None,
                 maxBroadcastCandidates: Long = 1L << 20): DataFrame = {
    require(lists.nonEmpty, "need at least one ranked list to fuse")
    require(k >= 1, s"k must be >= 1, got $k")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf (60 is the standard)")
    val named = lists.zipWithIndex.map { case (df, i) =>
      df.select(col("probe_id").cast("long").as("probe_id"),
        col("neighbor_id").cast("long").as("neighbor_id"),
        col("rank").cast("long").as(s"__r$i"))
    }
    val joined0 = named.reduce(
      (a, b) => a.join(b, Seq("probe_id", "neighbor_id"), "full_outer"))
    val joined = candidates.fold(joined0) { cand =>
      // PINNED before the guard (r12 advice): the broadcast-cap probe and
      // the semi-join below would otherwise each evaluate the gate plan —
      // in hybridServe that plan is a full positional phrase scan, so an
      // unpinned gate doubles the most expensive stage of the call
      val c = cand.select(col("neighbor_id").cast("long").as("neighbor_id"))
        .distinct().localCheckpoint(true)
      Serving.requireBroadcastable(c, maxBroadcastCandidates,
        "the fusion candidate gate",
        "Narrow the gate (e.g. a longer, rarer phrase) or raise " +
          "maxBroadcastCandidates if executors are sized for it.")
      joined0.join(broadcast(c), Seq("neighbor_id"), "left_semi")
    }
    def rr(rank: Column): Column =
      coalesce(floor(lit(1000000.0) / (lit(kRrf) + rank)).cast("long"), lit(0L))
    val micros = lists.indices.map(i => rr(col(s"__r$i"))).reduce(_ + _)
    val w = Window.partitionBy("probe_id")
      .orderBy(col("rrf_micros").desc, col("neighbor_id"))
    joined.withColumn("rrf_micros", micros)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "neighbor_id", "rrf_micros", "rank")
  }

  /** Per-probe RETRIEVAL EVALUATION of an approximate result list against
    * exact truth — the report card every ANN deployment publishes before
    * and after retuning (q97's aggregate recall, resolved per probe, plus
    * first-hit rank and reciprocal rank). `truth` is (probe_id,
    * neighbor_id) from the brute-force pass; `approx` is (probe_id,
    * neighbor_id, rank) from any ANN method. Output per probe: n_truth,
    * n_hits, recall (ONE division, rounded), first_hit_rank (0 = the
    * approx list missed every true neighbor), and rr_micros =
    * floor(1e6 / first_hit_rank) — the reciprocal rank in exact integer
    * micro-units, so MRR aggregates downstream as sum(rr_micros)/n/1e6
    * without float-summation-order drift (the house determinism rule: stay
    * integer-exact until one final division). Plan: two keyed partial aggs
    * + one join on probe_id — probe-count-sized, never corpus-sized. */
  def retrievalEval(truth: DataFrame, approx: DataFrame): DataFrame = {
    // truth feeds BOTH the hit join and the per-probe n_truth agg — cache
    // the serving-bounded frame (probes x k rows) so an expensive truth
    // pipeline (a brute-force kNN pass, a full BM25 serve) executes once,
    // not once per reference (guide §2.4; reclaim via clearCache)
    val t = truth.select(col("probe_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ak = approx.select(col("probe_id"), col("neighbor_id"), col("rank"))
    val hits = t.join(ak, Seq("probe_id", "neighbor_id"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("__nh"), min(col("rank")).as("__fr"))
    t.groupBy("probe_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_truth"),
        coalesce(col("__nh"), lit(0L)).as("n_hits"),
        round(coalesce(col("__nh"), lit(0L)).cast("double") / col("n_truth"), 6)
          .as("recall"),
        coalesce(col("__fr"), lit(0L)).cast("long").as("first_hit_rank"),
        coalesce(floor(lit(1000000.0) / col("__fr")), lit(0L)).cast("long")
          .as("rr_micros"))
  }

  /** Maximal-marginal-relevance re-rank of a serving result list: from each
    * probe's brute-force top-`poolSize` pool, greedily select `k` items
    * maximizing 0.5·relevance − 0.5·max-similarity-to-already-selected —
    * the diversity-aware final stage of a retrieval stack (dedup the result
    * list itself, not the corpus). λ is FIXED at 0.5 on purpose: with both
    * operands first converted to exact integer micro-units (the rounded
    * cosines ARE 6-decimal values, so round(x·1e6) recovers an exact long),
    * 2×score = rel_micros − maxsim_micros is pure integer arithmetic — the
    * greedy argmax never compares floats at a rounding boundary (the float
    * form diverged between engines on exact 7-decimal halves). The emitted
    * `mmr_score2_micros` is twice the MMR score in micro-units; rank 1
    * scores rel_micros (empty selected set ⇒ the similarity penalty is 0).
    *
    * Scale shape: the pool is serving-bounded (probes × poolSize rows), so
    * the candidate-embedding fetch BROADCASTS the pool against one corpus
    * scan, the pairwise-sim table is probes × poolSize² rows, and the k−1
    * greedy steps are keyed joins on probe_id over those bounded frames —
    * corpus size never enters after the pool pass. Ties break to the lower
    * candidate id (oracle row_number parity).
    *
    * The greedy selection itself runs as ONE per-probe fold over the
    * collected pool (r13 optimization): the k−1 join/window steps of the
    * original loop each needed an eager localCheckpoint (step t's lineage
    * references every earlier step — unmaterialized, the chain re-executes
    * step 1 ~2^k times, measured 12.5 s FLAT across sf0.001→0.1, the q116
    * pagerank lineage lesson), which serialized ~k+2 scheduler round-trips
    * per call. Collecting each probe's pool (≤ poolSize rows) and pairwise
    * sims (≤ poolSize² rows) into per-probe arrays and folding the greedy
    * argmax inside one projection does the identical integer arithmetic in
    * a single job — the closure runs on serving-bounded arrays, never on
    * corpus-scale rows, so the no-closures-in-the-hot-path rule is
    * respected (the corpus-scale stages — the pool pass and the sim pass —
    * stay whole-stage-codegen DataFrame ops). Only the pool is still
    * pinned: it feeds both the array fold and the sim join. */
  def mmrRerank(corpus: DataFrame, corpusId: String, corpusVec: String,
                probe: DataFrame, probeId: String, probeVec: String,
                k: Int, poolSize: Int): DataFrame = {
    require(k >= 1 && poolSize >= k,
      s"need poolSize >= k >= 1, got k=$k poolSize=$poolSize")
    val pool = knnJoin(corpus, corpusId, corpusVec, probe, probeId, probeVec,
      k = poolSize, excludeSelf = true)
      .select(col("probe_id"), col("neighbor_id").as("cand_id"),
        col("cos").as("rel"),
        round(col("cos") * 1e6).cast("long").as("__rel_u"))
      .localCheckpoint(true)
    // candidate embeddings: ONE corpus scan with the serving-bounded pool
    // broadcast against it
    val emb = corpus.select(col(corpusId).cast("long").as("cand_id"),
      col(corpusVec).as("__v"))
    val cand = emb.join(broadcast(pool), Seq("cand_id"))
    // the pairwise self-join runs over the serving-bounded candidate frame
    // (probes × poolSize rows) — broadcast the b side, never a sort-merge
    val sim = cand.as("a").join(broadcast(cand.as("b")),
        col("a.probe_id") === col("b.probe_id") &&
          col("a.cand_id") =!= col("b.cand_id"))
      .select(col("a.probe_id").as("probe_id"), col("a.cand_id").as("ca"),
        col("b.cand_id").as("cb"),
        round(round(VF.cosine(col("a.__v"), col("b.__v")), 6) * 1e6)
          .cast("long").as("s_u"))
    val poolArr = pool.groupBy("probe_id").agg(
      collect_list(struct(col("cand_id"), col("rel"),
        col("__rel_u").as("rel_u"))).as("__cands"))
    val simArr = sim.groupBy("probe_id").agg(
      collect_list(struct(col("ca"), col("cb"), col("s_u"))).as("__sims"))
    // left join: a single-candidate pool has NO sim pairs but still emits
    // its rank-1 row (the loop form's step-1 window had the same property).
    // simArr is one row per probe — broadcast, never a sort-merge.
    poolArr.join(broadcast(simArr), Seq("probe_id"), "left")
      .select(col("probe_id"),
        explode(mmrGreedyFold(col("__cands"), col("__sims"), lit(k)))
          .as("__sel"))
      .select(col("probe_id"), col("__sel.cand_id").as("neighbor_id"),
        col("__sel.rel"), col("__sel.mmr_score2_micros"),
        col("__sel.mmr_rank"))
  }

  /** One greedy MMR selection per probe, over that probe's collected pool.
    * Bit-identical to the former per-step join/window loop: rank 1 takes
    * the max `__rel_u` (ties to the LOWER cand id); rank t takes the max of
    * `__rel_u − max(s_u vs selected)` over the not-yet-selected candidates
    * that HAVE a sim row against the selected set (the loop's inner join
    * semantics) — all comparisons in exact integer micros, so list order
    * from collect_list cannot affect the result. */
  case class MmrCand(cand_id: Long, rel: Double, rel_u: Long)
  case class MmrPairSim(ca: Long, cb: Long, s_u: Long)
  case class MmrSelected(cand_id: Long, rel: Double,
                         mmr_score2_micros: Long, mmr_rank: Long)
  private val mmrGreedyFold = udf(
    (cands: Seq[MmrCand], sims: Seq[MmrPairSim], k: Int) => {
      val pool = cands.map(c => (c.cand_id, c.rel, c.rel_u))
      val simMap = new scala.collection.mutable.HashMap[(Long, Long), Long]
      if (sims != null) sims.foreach { r =>
        simMap.put((r.ca, r.cb), r.s_u)
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[MmrSelected]
      val selIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      var t = 1
      var done = false
      while (t <= k && !done) {
        var bestId = -1L; var bestRel = 0.0; var bestScore = 0L
        var found = false
        pool.foreach { case (id, rel, relU) =>
          if (!selIds.contains(id)) {
            // rank 1: the penalty term is 0 (empty selected set); later
            // ranks: max sim vs selected, inner-join semantics (a candidate
            // with no sim row against the selected set does not compete)
            val msOpt =
              if (t == 1) Some(0L)
              else {
                var ms = Long.MinValue
                selIds.foreach { s =>
                  simMap.get((id, s)).foreach(v => if (v > ms) ms = v)
                }
                if (ms == Long.MinValue) None else Some(ms)
              }
            msOpt.foreach { ms =>
              val score = relU - ms
              if (!found || score > bestScore ||
                  (score == bestScore && id < bestId)) {
                found = true; bestId = id; bestRel = rel; bestScore = score
              }
            }
          }
        }
        if (!found) done = true
        else {
          out += MmrSelected(bestId, bestRel, bestScore, t.toLong)
          selIds += bestId
          t += 1
        }
      }
      out.toSeq
    })

  /** Position discount for graded ranking metrics, in exact integer
    * micro-units: w(r) = floor(1e6 / log2(r+1)). Computed HERE (plain JVM
    * math) and embedded as literals in both the Spark plan and the oracle
    * SQL, so neither engine evaluates log2 at query time — a last-ulp
    * libm-vs-JVM divergence inside floor() would flip a hash. */
  def ndcgWeightsMicros(k: Int): Seq[Long] = {
    require(k >= 1, s"k must be >= 1, got $k")
    (1 to k).map(r => math.floor(1e6 / (math.log(r + 1.0) / math.log(2.0))).toLong)
  }

  /** nDCG@k per probe — the GRADED companion to [[retrievalEval]]: recall
    * treats every recovered neighbor the same, nDCG credits the approx list
    * for putting true neighbors EARLY (binary relevance: approx rank-r item
    * is relevant iff it is in the exact top-k). All position discounts are
    * [[ndcgWeightsMicros]] integer literals, so dcg/idcg are exact integer
    * sums (order-free) and the only float op is the final
    * floor(1e6·dcg/idcg) — an IEEE division of <2^53 integers, bit-identical
    * across engines. Plan shape: one probe-keyed hit join + two partial
    * aggs, probe-count-sized — corpus scale never enters. */
  def ndcgEval(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val w = ndcgWeightsMicros(k)
    val idcgPrefix = w.scanLeft(0L)(_ + _).drop(1) // prefix(i) = w(1)+…+w(i)
    val wArr = array(w.map(lit): _*)
    val prefixArr = array(idcgPrefix.map(lit): _*)
    // @k means @k even when a caller hands deeper-than-k result lists:
    // approx is truncated on its rank (a rank-7 hit must earn nothing, not
    // crash element_at under ANSI or count as a weightless hit), and a
    // truth list carrying a rank column is truncated the same way (a
    // rank-less truth frame is trusted to BE the top-k set — it has no
    // order to truncate by)
    val t0 = if (truth.columns.contains("rank"))
      truth.filter(col("rank") <= k) else truth
    // same double-reference as retrievalEval: cache the bounded truth frame
    val t = t0.select(col("probe_id"), col("neighbor_id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ak = approx.filter(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
    val hits = ak.join(t, Seq("probe_id", "neighbor_id"))
      .groupBy("probe_id")
      .agg(count(lit(1)).as("__nh"),
        sum(element_at(wArr, col("rank").cast("int"))).as("__dcg"))
    t.groupBy("probe_id").agg(count(lit(1)).as("n_truth"))
      .join(hits, Seq("probe_id"), "left")
      // ideal DCG fills the first min(n_truth, k) positions — least() also
      // keeps element_at in bounds if a caller hands an over-long truth list
      .withColumn("__idcg",
        element_at(prefixArr, least(col("n_truth"), lit(k.toLong)).cast("int")))
      .select(col("probe_id"), col("n_truth"),
        coalesce(col("__nh"), lit(0L)).as("n_hits"),
        coalesce(col("__dcg"), lit(0L)).cast("long").as("dcg_micros"),
        col("__idcg").cast("long").as("idcg_micros"),
        floor(lit(1000000.0) * coalesce(col("__dcg"), lit(0L)) / col("__idcg"))
          .cast("long").as("ndcg_micros"))
  }
}
