package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}

/** SURVEY §3.2 end to end: staged wire files -> decode -> warehouse merge,
  * across micro-batches and a query restart. */
class PricePipelineSpec extends SparkSpec {
  import spark.implicits._

  test("price pipeline: decode, auto-insert games, append prices, merge state") {
    val staging = Files.createTempDirectory("staging").toString
    val warehouse = Files.createTempDirectory("wh").toString
    val ckpt = Files.createTempDirectory("ck").toString

    def tick(appid: Int, price: String, disc: String, ts: Double): String =
      s"""{"type":"price","appid":$appid,"discount":"$disc","price":"$price","initial_price":"$price","timestamp":$ts}"""

    Files.writeString(Path.of(staging, "w1.jsonl"),
      Seq(tick(1, "9,99", "0", 1700000000.0),
        tick(2, "19,99", "50", 1700000100.0),
        """{"type":"review","appid":9}""", // dispatched away
        "garbage line").mkString("\n"))

    val q = PricePipeline.start(spark, staging, warehouse, ckpt)
    try {
      q.processAllAvailable()
      val games = spark.read.parquet(s"$warehouse/games")
      assert(games.select("game_id").as[Int](org.apache.spark.sql.Encoders.scalaInt)
        .collect().toSet == Set(1, 2))
      val prices = spark.read.parquet(s"$warehouse/prices")
      assert(prices.count() == 2)
      assert(prices.filter(col("game_id") === 1).head().getAs[Long]("price_cents") == 999L)

      // second batch: existing game, newer tick; state must take the max
      Files.writeString(Path.of(staging, "w2.jsonl"),
        tick(1, "4,99", "75", 1700009999.0))
      q.processAllAvailable()
      val state = spark.read.parquet(s"$warehouse/crawl_state")
      val s1 = state.filter(col("game_appid") === 1).head()
      assert(s1.getAs[java.sql.Timestamp]("last_price_timestamp").toInstant.getEpochSecond == 1700009999L)
      assert(spark.read.parquet(s"$warehouse/prices").count() == 3)
      assert(spark.read.parquet(s"$warehouse/games").count() == 2) // no dup insert
    } finally q.stop()

    // restart from checkpoint: a new file lands, old ones not reprocessed
    Files.writeString(Path.of(staging, "w3.jsonl"), tick(3, "1,00", "0", 1700010000.0))
    val q2 = PricePipeline.start(spark, staging, warehouse, ckpt)
    try {
      q2.processAllAvailable()
      assert(spark.read.parquet(s"$warehouse/prices").count() == 4)
      assert(spark.read.parquet(s"$warehouse/games").count() == 3)
    } finally q2.stop()

    // at-least-once replay: re-merging the same decoded batch must be a no-op
    // (crash between append and checkpoint commit re-runs the batch)
    val replay = Streams.decodePriceTicks(
      Seq(tick(1, "4,99", "75", 1700009999.0)).toDF("value"))
    PricePipeline.mergeBatch(spark, warehouse, replay)
    assert(spark.read.parquet(s"$warehouse/prices").count() == 4) // unchanged
    assert(spark.read.parquet(s"$warehouse/games").count() == 3)
  }

  test("a tick line repeated inside one file lands once; a different payload at the same key still lands") {
    val staging = Files.createTempDirectory("staging_dup").toString
    val warehouse = Files.createTempDirectory("wh_dup").toString
    val ckpt = Files.createTempDirectory("ck_dup").toString
    def tick(price: String, ts: Double): String =
      s"""{"type":"price","appid":7,"discount":"0","price":"$price","initial_price":"$price","timestamp":$ts}"""
    Files.writeString(Path.of(staging, "w1.jsonl"),
      Seq(tick("9,99", 1700000000.0), tick("9,99", 1700000000.0),
        // unparseable price: a NULL price_cents must dedupe too
        tick("free", 1700000050.0), tick("free", 1700000050.0),
        // a corrected resend at the same (game_id, timestamp)
        tick("7,49", 1700000000.0)).mkString("\n"))
    val q = PricePipeline.start(spark, staging, warehouse, ckpt)
    try q.processAllAvailable() finally q.stop()
    val prices = spark.read.parquet(s"$warehouse/prices")
    assert(prices.count() == 3)
    assert(prices.filter(col("timestamp") === epochTs(1700000000L))
      .select("price_cents").as[Long].collect().sorted.toSeq == Seq(749L, 999L))
    assert(prices.filter(col("price_cents").isNull).count() == 1)
  }

  private def epochTs(s: Long) = new java.sql.Timestamp(s * 1000)

  private def stateDf(reviewTs: Long, priceTs: Long) =
    Seq((1, epochTs(reviewTs), epochTs(priceTs)))
      .toDF("game_appid", "last_review_timestamp", "last_price_timestamp")

  private def tickBatch(priceTs: Long) =
    Seq((1, 999L, 0.0, 999L, epochTs(priceTs)))
      .toDF("appid", "price_cents", "discount", "initial_price_cents", "ts")

  test("interrupted state swap: complete __tmp is recovered, watermarks survive") {
    val warehouse = Files.createTempDirectory("wh_swap1").toString
    // crash between the two renames: state displaced to __old, the fully
    // written (has _SUCCESS) new state still at __tmp, no crawl_state
    stateDf(100, 100).write.parquet(s"$warehouse/crawl_state__old")
    stateDf(100, 500).write.parquet(s"$warehouse/crawl_state__tmp")
    PricePipeline.mergeBatch(spark, warehouse, tickBatch(300))
    val st = spark.read.parquet(s"$warehouse/crawl_state")
      .filter(col("game_appid") === 1).head()
    // recovered __tmp watermark (500) beats the replayed tick (300);
    // without recovery the state would have reset and landed at 300
    assert(st.getAs[java.sql.Timestamp]("last_price_timestamp") == epochTs(500))
    assert(!new java.io.File(s"$warehouse/crawl_state__old").exists())
  }

  test("interrupted state swap: incomplete __tmp falls back to __old") {
    val warehouse = Files.createTempDirectory("wh_swap2").toString
    stateDf(77, 100).write.parquet(s"$warehouse/crawl_state__old")
    // __tmp without _SUCCESS = write never finished -> must not be trusted
    val tmpDir = new java.io.File(s"$warehouse/crawl_state__tmp")
    tmpDir.mkdirs()
    Files.writeString(Path.of(tmpDir.toString, "part-incomplete"), "junk")
    PricePipeline.mergeBatch(spark, warehouse, tickBatch(300))
    val st = spark.read.parquet(s"$warehouse/crawl_state")
      .filter(col("game_appid") === 1).head()
    assert(st.getAs[java.sql.Timestamp]("last_price_timestamp") == epochTs(300))
    // the review watermark from the recovered __old state survives
    assert(st.getAs[java.sql.Timestamp]("last_review_timestamp") == epochTs(77))
  }
}
