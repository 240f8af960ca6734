package graft

import graft.domain.SteamModels
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The workflows that compose more than one call: each method here adds
  * logic of its own. Everything else is called on the module that owns it
  * — `domain.ModelRunner` (the dbt run), `domain.{DedupLake, VectorLake,
  * LexLake, Retrieval}` (the lakes and their serves), `operators.*` and
  * `multimodal.Multimodal`.
  */
object Engine {

  /** Load a parquet warehouse laid out as one dir per init_db.sql table. */
  def loadWarehouse(spark: SparkSession, dir: String): SteamModels.Warehouse = {
    // each table at its current version (crawl_state commits versions;
    // a pointer-less table reads as its plain dir)
    def t(name: String): DataFrame =
      Tables.read(spark, graft.domain.GenStore.currentDir(spark, s"$dir/$name"))
    SteamModels.Warehouse(
      games = t("games"),
      developers = t("developers"), publishers = t("publishers"),
      genres = t("genres"), languages = t("languages"),
      gameDevelopers = t("game_developers"), gamePublishers = t("game_publishers"),
      gameGenres = t("game_genres"), gameLanguages = t("game_languages"),
      prices = t("prices"), crawlState = t("crawl_state"),
      reviews = t("reviews"))
  }

  /** Exact + near-duplicate report over a document corpus. */
  def dedupReport(docs: DataFrame, idCol: String, textCol: String,
                  jaccardThreshold: Double = 0.8): (DataFrame, DataFrame, DataFrame) = (
    Dedup.exactGroups(docs, idCol, textCol),
    Dedup.minhashLshCandidates(docs, idCol, textCol),
    Dedup.ngramJaccardPairs(docs, idCol, textCol, shingleN = 2, jaccardThreshold))

  /** ANN search: brute force under `lshThresholdRows`, LSH-bucketed above. */
  def searchTopK(emb: DataFrame, idCol: String, vecCol: String,
                 queryVec: Seq[Float], k: Int,
                 lshThresholdRows: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.functions._
    // compare against the clamped probe itself: with a threshold beyond
    // Int range, count() could never exceed it and LSH became unreachable
    val probe = math.min(lshThresholdRows + 1, Int.MaxValue.toLong - 1).toInt
    if (graft.operators.Serving.boundedCount(emb, probe) >= probe)
      Similarity.lshTopK(emb, idCol, vecCol, queryVec, k)
    else
      Similarity.bruteForceTopK(
        emb, idCol, vecCol, typedLit(queryVec), k)
  }

  /** Mixture assembly: cap each source at a token budget (walked in id
    * order — growth-stable prefix; see Sampling.tokenBudgetSelect). */
  def capSourceTokens(docs: DataFrame, idCol: String, textCol: String,
                      sourceCol: String, budgetTokens: Long): DataFrame =
    graft.operators.Sampling.tokenBudgetSelect(docs, idCol, textCol,
      sourceCol, budgetTokens, Seq(org.apache.spark.sql.functions.col(idCol).asc))

  /** Cron orchestration (the prefect.yaml seam): run the daily price/review
    * flows on the reference's own 15:00/16:00 cadence until `until`,
    * against the real clock. Tests drive the underlying
    * [[graft.domain.Scheduler.drive]] with a simulated clock instead. */
  def runScheduled(price: () => Unit, review: () => Unit,
                   until: java.time.LocalDateTime): Seq[graft.domain.Scheduler.RunRecord] =
    graft.domain.Scheduler.drive(
      graft.domain.Scheduler.steamDeployments(price, review),
      start = java.time.LocalDateTime.now(), until = until,
      now = () => java.time.LocalDateTime.now(),
      sleep = d => Thread.sleep(d.toMillis))
}
