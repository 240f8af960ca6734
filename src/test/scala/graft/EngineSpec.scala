package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Workflow round-trips: write a warehouse to parquet, load it back through
  * Engine, run the full analytics DAG + quality suite; then the curation,
  * media, scheduler and lake workflows, each through the module that owns
  * it. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  test("write -> loadWarehouse -> runAnalytics end to end") {
    val whDir = Files.createTempDirectory("eng-wh").toString
    val martDir = Files.createTempDirectory("eng-marts").toString
    val w = new graft.domain.SteamModelsSpec().w
    Seq(
      "games" -> w.games, "developers" -> w.developers, "publishers" -> w.publishers,
      "genres" -> w.genres, "languages" -> w.languages,
      "game_developers" -> w.gameDevelopers, "game_publishers" -> w.gamePublishers,
      "game_genres" -> w.gameGenres, "game_languages" -> w.gameLanguages,
      "prices" -> w.prices, "crawl_state" -> w.crawlState, "reviews" -> w.reviews
    ).foreach { case (name, df) => df.write.parquet(s"$whDir/$name") }

    val loaded = Engine.loadWarehouse(spark, whDir)
    val res = graft.domain.ModelRunner.run(spark, loaded, martDir)
    assert(res.materialized("dim_games").startsWith(martDir))
    assert(spark.read.parquet(s"$martDir/game_quality_metrics").count() == 3)
    assert(res.testFailures.size == 2) // the planted violations surface

    val (exact, lsh, jac) = Engine.dedupReport(
      Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text", 0.5)
    assert(exact.count() == 500 && lsh.count() >= 0 && jac.count() >= 0)

    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val qv = emb.filter(col("vec_id") === 1).select("embedding").head().getSeq[Float](0)
    val top = Engine.searchTopK(emb, "vec_id", "embedding", qv, 5)
    assert(top.head().getLong(0) == 1L) // the query vector finds itself first
  }

  test("round-4 facade workflows: profile, token cap, image/audio gates") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val prof = graft.quality.DataQuality.columnProfile(docs, Seq("doc_id", "source"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prof.keySet == Set("doc_id", "source") && prof("doc_id") == docs.count())

    val capped = Engine.capSourceTokens(docs, "doc_id", "text", "source", 500L)
    // every source's running total respects the budget
    assert(capped.agg(max(col("cum_tokens"))).head().getLong(0) <= 500L)

    // empty media frames flow through the multimodal gates cleanly
    import spark.implicits._
    val noMedia = Seq.empty[(Long, Array[Byte])].toDF("media_id", "content")
    assert(graft.multimodal.Multimodal.imageNearDupPairs(noMedia, 8).count() == 0)
    assert(graft.multimodal.Multimodal.audioQualityStats(noMedia).count() == 0)
  }

  test("round-5 facade workflows: media curation, incremental ingest, scheduler") {
    import spark.implicits._
    // an empty media frame yields an empty-but-typed curation everywhere
    val noMedia = Seq.empty[(Long, String, Array[Byte])]
      .toDF("media_id", "modality", "content")
    val cur = graft.multimodal.Multimodal.curateMedia(noMedia)
    assert(cur.verdicts.count() == 0 && cur.embeddings.count() == 0 &&
      cur.neighbors.count() == 0)
    val ing = graft.multimodal.Multimodal.ingestMediaBatch(noMedia,
      graft.multimodal.Multimodal.emptyDHashIndex(spark))
    assert(ing.verdicts.count() == 0 && ing.indexRows.count() == 0)
    // the scheduler facade wires the reference cadence; an until in the past
    // returns without running anything (and without sleeping)
    val recs = Engine.runScheduled(() => fail("must not run"), () => fail("must not run"),
      until = java.time.LocalDateTime.now().minusDays(1))
    assert(recs.isEmpty)
  }

  test("round-7 facade workflows: lake-resident dedup ingest + reconcile + maintenance") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("engine-lake").toString
    val kept = graft.domain.DedupLake.ingest(spark, root,
      Seq((1L, "first document body"), (2L, "second document entirely different"))
        .toDF("doc_id", "text"))
    assert(kept.count() == 2)
    val r = graft.domain.DedupLake.reconcile(spark, root)
    assert(r.keeps == 2 && r.dropped == 0 && r.resurrected == 0)
    val dep = graft.domain.DedupLake.maintenanceDeployment(spark, root)
    assert(dep.name == "dedup_reconcile" && dep.cron.raw == "0 3 * * 0")
  }

  test("round-7 facade workflows: vector lake ingest + drift + maintenance, rerank, ndcg") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("engine-veclake").toString + "/lake"
    graft.domain.VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val batch = Seq((1L, Array(1f, 0f)), (2L, Array(9f, 10f)))
      .toDF("vec_id", "embedding")
    assert(graft.domain.VectorLake.ingest(spark, root, batch).kept == 2)
    val drift = graft.domain.VectorLake.driftReport(spark, root,
      Seq((3L, Array(0f, 2f))).toDF("vec_id", "embedding"))
    assert(drift.columns.contains("drift_d2_micros") && drift.count() >= 1)
    val dep = graft.domain.VectorLake.maintenanceDeployment(spark, root)
    assert(dep.name == "vector_recluster" && dep.cron.raw == "0 4 * * 0")

    val corpus = Seq((1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f))).toDF("vec_id", "embedding")
    val probe = corpus.filter(col("vec_id") === 1L)
    val rr = graft.operators.Similarity.mmrRerank(corpus, "vec_id", "embedding",
      probe, "vec_id", "embedding", k = 2, poolSize = 2)
    assert(rr.count() == 2)
    val ndcg = graft.operators.Similarity.ndcgEval(
      Seq((1L, 2L)).toDF("probe_id", "neighbor_id"),
      Seq((1L, 2L, 1L)).toDF("probe_id", "neighbor_id", "rank"), k = 5)
    assert(ndcg.collect()(0).getLong(5) == 1000000L)
  }
}
