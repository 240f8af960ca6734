package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** A `dbt run` beside the price stream: a warehouse loaded before a
  * `PricePipeline.mergeBatch` keeps reading the crawl_state version it
  * resolved (the displaced version survives one more commit), and a
  * loaded warehouse that outlives retention fails with the expiry
  * message, never with a raw FILE_NOT_EXIST mid-run. */
class WarehouseStateSpec extends SparkSpec {
  import spark.implicits._

  private def writeWarehouse(): String = {
    val whDir = java.nio.file.Files.createTempDirectory("wh-state").toString
    val w = new SteamModelsSpec().w
    Seq(
      "games" -> w.games, "developers" -> w.developers, "publishers" -> w.publishers,
      "genres" -> w.genres, "languages" -> w.languages,
      "game_developers" -> w.gameDevelopers, "game_publishers" -> w.gamePublishers,
      "game_genres" -> w.gameGenres, "game_languages" -> w.gameLanguages,
      "prices" -> w.prices, "crawl_state" -> w.crawlState, "reviews" -> w.reviews
    ).foreach { case (name, df) => df.write.parquet(s"$whDir/$name") }
    whDir
  }

  private val preMerge = java.sql.Timestamp.valueOf("2024-01-02 10:00:00")
  private val tickTs = java.sql.Timestamp.valueOf("2024-02-01 10:00:00")

  private def merge(whDir: String, ts: java.sql.Timestamp): Unit =
    graft.streaming.PricePipeline.mergeBatch(spark, whDir,
      Seq((1, 499L, 75.0, 1999L, ts))
        .toDF("appid", "price_cents", "discount", "initial_price_cents", "ts"))

  private def priceWatermark(df: org.apache.spark.sql.DataFrame) =
    df.filter(col("game_appid") === 1)
      .select("last_price_timestamp").as[java.sql.Timestamp].collect().toSeq

  test("ModelRunner.run on a warehouse loaded before a merge reads the pre-merge crawl_state") {
    val whDir = writeWarehouse()
    val martDir = java.nio.file.Files.createTempDirectory("wh-state-marts").toString
    val w = graft.Engine.loadWarehouse(spark, whDir)
    merge(whDir, tickTs)
    val res = ModelRunner.run(spark, w, martDir)
    assert(res.materialized("stg_crawl_state") == "view")
    assert(priceWatermark(spark.table("stg_crawl_state")) == Seq(preMerge),
      "the loaded warehouse keeps the version it resolved")
    // a fresh load resolves the committed merge
    assert(priceWatermark(graft.Engine.loadWarehouse(spark, whDir).crawlState)
      == Seq(tickTs))
  }

  test("a loaded warehouse that outlives retention fails with the expiry message") {
    val whDir = writeWarehouse()
    val martDir = java.nio.file.Files.createTempDirectory("wh-state-marts2").toString
    val w = graft.Engine.loadWarehouse(spark, whDir)
    merge(whDir, tickTs)
    merge(whDir, java.sql.Timestamp.valueOf("2024-03-01 10:00:00"))
    val e = intercept[IllegalStateException](ModelRunner.run(spark, w, martDir))
    assert(e.getMessage.contains("EXPIRED") &&
      !e.getMessage.contains("FILE_NOT_EXIST"), e.getMessage)
  }
}
