package graft.cli

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.domain.{DedupLake, LakeSync, LexLake, Retrieval, VectorLake}
import graft.operators.{Clustering, Serving}

/** One composed RETRIEVAL day, end to end — [[ReferenceDay]]'s twin for the
  * serving stack this engine grew beyond the reference: build all three
  * lake-resident indexes from the driver testdata, serve a hybrid probe
  * batch across two of them, order a cross-store purge and a cross-store
  * edit through the sync log, run every lake's weekly reconcile, and prove
  * the answers survive the maintenance (and the purge survives the fold).
  *
  *  1. vector lake: k-means quantizer trained on the corpus, near-dup-gated
  *     bulk ingest of the embeddings table
  *  2. lex lake: tokenize-at-ingest of the documents table into the
  *     bucket-partitioned inverted index
  *  3. dedup lake: LSH-gated ingest of the same documents (the content
  *     admission record)
  *  4. hybrid serve: a 4-probe batch (embedding + terms each) fused across
  *     the vector and lexical lakes in exact integer micros
  *  5. purge: two served ids deleted from ALL THREE stores through
  *     LakeSync's intent log; the re-serve must not surface them
  *  6. edit: one id re-written (new text + new embedding) through the sync
  *     upsert log; a term unique to the new text must serve it
  *  7. maintenance: all three reconciles (retrain/fold/compact); the
  *     re-serve still answers, the purge is still folded away, the edit
  *     still serves. The lexical HEALTH report (6.5) sets the impact-tier
  *     df threshold, the lex fold adopts the tier behind its measured
  *     recall gate, and the impact read serves (exactly, for uncapped
  *     terms)
  *  8. the deployment read: one PINNED (vectorGen, lexGen) snapshot
  *     serving the batch — equal to the unpinned serve once every
  *     overlay is folded
  *
  * Every stage reports a count; `main` asserts each is positive and prints
  * one STAGE line per step. Run: `sbt "runMain graft.cli.RetrievalDay"`. */
object RetrievalDay {

  final case class DayReport(stages: Seq[(String, Long)]) {
    def apply(name: String): Long = stages.collectFirst { case (`name`, n) => n }
      .getOrElse(sys.error(s"no stage '$name' in ${stages.map(_._1)}"))
  }

  private val probeTerms: Seq[Seq[String]] = Seq(
    Seq("spark", "query"), Seq("merge", "vector", "hash"),
    Seq("window", "stream"), Seq("scan", "filter"))

  def run(spark: SparkSession, workDir: String, sfDir: String): DayReport = {
    import spark.implicits._
    val stages = Seq.newBuilder[(String, Long)]
    val vectorRoot = s"$workDir/vector"
    val lexRoot = s"$workDir/lex"
    val dedupRoot = s"$workDir/dedup"
    val syncRoot = s"$workDir/sync"
    val docs = Tables.read(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val emb = Tables.read(spark, s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    // 1. the vector lake: quantizer trained on the day's corpus, then the
    //    gated bulk ingest (one serving-bounded batch at this scale; a
    //    100 TB load is bulk-write + reconcile by the lake's contract)
    val cents = Clustering.kmeansCentroids(emb, "vec_id", "embedding",
        k = 4, iters = 3)
      .orderBy("cluster").collect().map(_.getSeq[Double](1).toIndexedSeq).toSeq
    VectorLake.init(spark, vectorRoot, cents)
    val vr = VectorLake.ingest(spark, vectorRoot, emb)
    stages += "vector_ingested" -> vr.kept

    // 2. the lexical lake: tokenize once, postings bucket-partitioned
    val lr = LexLake.ingest(spark, lexRoot, docs, nBuckets = 8)
    stages += "lex_docs" -> lr.docs
    stages += "lex_postings" -> lr.postings

    // 3. the dedup lake: the admission record over the same id space
    stages += "dedup_keeps" ->
      DedupLake.ingest(spark, dedupRoot, docs).count()

    // 4. hybrid serve: the first four ids as probes, each with its own
    //    embedding AND term list (bounded collect — four rows)
    def probes(): DataFrame = {
      val firstVecs = emb.orderBy("vec_id").limit(4)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      firstVecs.zip(probeTerms)
        .map { case ((id, v), ts) => (id, v, ts) }.toSeq
        .toDF("probe_id", "embedding", "terms")
    }
    def hybrid(): DataFrame = Retrieval.hybridServe(spark, vectorRoot,
      lexRoot, probes(), k = 5, kVec = 5, nLex = 5)
    // purge the two best-ranked DISTINCT neighbors (bounded collect)
    val purgeIds = Serving.withPinned(hybrid()) { served =>
      stages += "hybrid_results" -> served.count()
      served.orderBy(col("rank"), col("probe_id"))
        .select("neighbor_id").distinct().limit(2)
        .collect().map(_.getLong(0)).toSeq
    }

    // 5. cross-store purge through the intent log — all three lakes
    val del = LakeSync.deleteDocs(spark, syncRoot, dedupRoot, vectorRoot,
      purgeIds.toDF("doc_id"), lexRoot = Some(lexRoot))
    stages += "purged" -> del.vectorDeleted
    stages += "purged_lex" -> del.lexDeleted
    Serving.withPinned(hybrid()) { afterPurge =>
      val leaked = afterPurge
        .filter(col("neighbor_id").isInCollection(purgeIds)).count()
      stages += "post_purge_hybrid" -> afterPurge.count()
      stages += "purge_leaks" -> leaked // asserted ZERO by the caller
    }

    // 6. cross-store edit: a resident id re-written with new text AND a
    //    new embedding; the unique term must serve it lexically
    val editId = emb.orderBy(col("vec_id").desc).limit(1)
      .collect().head.getLong(0)
    val newVec = Array.tabulate(64)(i => if (i % 7 == 0) 0.9f else 0.05f)
    val up = LakeSync.upsertDocs(spark, syncRoot, dedupRoot, vectorRoot,
      Seq((editId, "the zebraterm retrieval document rewrite", newVec))
        .toDF("doc_id", "text", "embedding"), lexRoot = Some(lexRoot))
    stages += "edits_applied" -> up.upsertsApplied
    def zebraHits(): Long = LexLake.serve(spark, lexRoot,
        Seq((999L, Seq("zebraterm"))).toDF("probe_id", "terms"), n = 5)
      .filter(col("doc_id") === editId).count()
    stages += "zebra_hits" -> zebraHits()

    // 6.5 the lexical HEALTH report decides the impact-tier threshold —
    //     the operator's loop made concrete: measure per-bucket skew, set
    //     the df cut from the observed top-df mass
    val health = LexLake.health(spark, lexRoot)
      .agg(count(lit(1)), max(col("top_df"))).head()
    stages += "health_buckets" -> health.getLong(0)
    val maxTopDf = health.getLong(1)
    stages += "health_max_top_df" -> maxTopDf

    // 7. every lake's weekly maintenance, then prove the day survives it:
    //    answers still serve, the purge stays folded away, the edit stays.
    //    The lex fold also builds the impact tier, gated on measured
    //    recall (the adoption decision and its measurement both reported).
    VectorLake.reconcile(spark, vectorRoot, k = 4, iters = 3)
    DedupLake.reconcile(spark, dedupRoot)
    var impactGate: Option[(Double, Boolean)] = None
    LexLake.reconcile(spark, lexRoot,
      impactPostings = 8, impactDfThreshold = math.max(1L, maxTopDf / 2),
      impactMinRecall = 0.05,
      onImpactGate = (r, a) => impactGate = Some((r, a)))
    stages += "impact_adopted" ->
      (if (impactGate.exists(_._2)) 1L else 0L)
    stages += "impact_recall_micros" ->
      impactGate.map(g => (g._1 * 1e6).toLong).getOrElse(-1L)
    Serving.withPinned(hybrid()) { afterRec =>
      stages += "post_reconcile_hybrid" -> afterRec.count()
      stages += "post_reconcile_purge_leaks" -> afterRec
        .filter(col("neighbor_id").isInCollection(purgeIds)).count()
    }
    stages += "post_reconcile_zebra_hits" -> zebraHits()
    // the impact read on the same probe terms (the edit's unique term has
    // df 1 — uncapped, so it serves exactly through the tier path too)
    stages += "impact_results" -> LexLake.serve(spark, lexRoot,
      probeTerms.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("probe_id", "terms"), n = 5, impact = true).count()
    stages += "impact_zebra_hits" -> LexLake.serve(spark, lexRoot,
        Seq((999L, Seq("zebraterm"))).toDF("probe_id", "terms"), n = 5,
        impact = true)
      .filter(col("doc_id") === editId).count()

    // 8. the serving deployment's actual read: ONE pinned (vectorGen,
    //    lexGen) snapshot across the batch — with all overlays folded,
    //    byte-equal to the unpinned serve (the spec asserts the count)
    val snap = Retrieval.currentSnapshot(spark, vectorRoot, lexRoot)
    stages += "pinned_hybrid" -> Retrieval.hybridServe(spark, vectorRoot,
      lexRoot, probes(), k = 5, kVec = 5, nLex = 5,
      snapshot = Some(snap)).count()

    // 9. (round 12) the PRF endpoint over the resident index — two passes
    //    under one generation resolution; the tier was just folded, so the
    //    strictest staleness bound passes on the plain impact read
    stages += "prf_results" -> LexLake.prfServe(spark, lexRoot,
      probeTerms.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("probe_id", "terms"), n = 5, fbDocs = 3, fbTerms = 2).count()
    stages += "impact_fresh_results" -> LexLake.serve(spark, lexRoot,
      probeTerms.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("probe_id", "terms"), n = 5, impact = true,
      maxStaleFraction = 0.0).count()

    // 10. (round 12) the "exact quote + semantic" read: the edit's unique
    //     bigram gates the fusion — only the quote-bearing (edited) doc
    //     can serve, through the stored positional index
    stages += "phrase_hybrid_hits" -> Retrieval.hybridServe(spark,
        vectorRoot, lexRoot,
        Seq((editId, newVec.toSeq.toArray, Seq("zebraterm")))
          .toDF("probe_id", "embedding", "terms"),
        k = 5, kVec = 5, nLex = 5,
        phrase = Seq("zebraterm", "retrieval"))
      .filter(col("neighbor_id") === editId).count()

    // 11. (round 12) proximity from the stored positions: the edit's two
    //     adjacent tokens co-occur within any window
    stages += "proximity_hits" -> LexLake.proximityServeBatch(spark,
        lexRoot, Seq((0L, "zebraterm", "retrieval"))
          .toDF("probe_id", "term_a", "term_b"), w = 3)
      .filter(col("doc_id") === editId).count()

    // 12. (round 13) the BATCHED positional serves — one bucket-pruned
    //     read of the union of the batch's terms answers EVERY probe
    //     (phrase, proximity pairs, passage windows), the proximity-
    //     WEIGHTED ranked serve, and the PRF read through the just-folded
    //     impact tier at the strictest staleness bound
    stages += "phrase_batch_hits" -> LexLake.phraseServeBatch(spark,
        lexRoot, Seq((0L, Seq("zebraterm", "retrieval")),
          (1L, Seq("zebraterm"))).toDF("probe_id", "phrase"))
      .filter(col("doc_id") === editId).count()
    stages += "proximity_batch_hits" -> LexLake.proximityServeBatch(spark,
        lexRoot, Seq((0L, "zebraterm", "retrieval"),
          (1L, "retrieval", "document")).toDF("probe_id", "term_a", "term_b"),
        w = 3)
      .filter(col("doc_id") === editId).count()
    stages += "passage_batch_hits" -> LexLake.passageServeBatch(spark,
        lexRoot, Seq((0L, Seq("zebraterm", "retrieval", "document")))
          .toDF("probe_id", "terms"), w = 4)
      .filter(col("doc_id") === editId).count()
    stages += "proximity_rank_results" -> LexLake.proximityRankServe(spark,
      lexRoot, probeTerms.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("probe_id", "terms"), n = 5, w = 4).count()
    stages += "prf_impact_results" -> LexLake.prfServe(spark, lexRoot,
      probeTerms.zipWithIndex.map { case (ts, i) => (i.toLong, ts) }
        .toDF("probe_id", "terms"), n = 5, fbDocs = 3, fbTerms = 2,
      impact = true, maxStaleFraction = 0.0).count()

    DayReport(stages.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.create(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    try {
      val workDir = Files.createTempDirectory("retrieval-day").toString
      val report = run(spark, workDir, sfDir)
      report.stages.foreach { case (name, n) => println(s"STAGE $name=$n") }
      val zeroOk = Set("purge_leaks", "post_reconcile_purge_leaks")
      val empty = report.stages.filter(_._2 <= 0L).filterNot(s => zeroOk(s._1))
      assert(empty.isEmpty, s"stages with no rows: ${empty.map(_._1)}")
      assert(report("purge_leaks") == 0L, "purged ids surfaced in the re-serve")
      assert(report("post_reconcile_purge_leaks") == 0L,
        "the reconcile fold resurrected a purged id")
      println("RETRIEVAL_DAY=OK")
    } finally spark.stop()
  }
}
