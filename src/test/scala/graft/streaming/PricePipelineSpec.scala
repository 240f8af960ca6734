package graft.streaming

import graft.SparkSpec
import graft.domain.GenStore
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
      val state = spark.read.parquet(
        GenStore.currentDir(spark, s"$warehouse/crawl_state"))
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

  private def watermarks(warehouse: String): (java.sql.Timestamp, java.sql.Timestamp) = {
    val st = spark.read.parquet(GenStore.currentDir(spark, s"$warehouse/crawl_state"))
      .filter(col("game_appid") === 1).head()
    (st.getAs[java.sql.Timestamp]("last_review_timestamp"),
      st.getAs[java.sql.Timestamp]("last_price_timestamp"))
  }

  /** A pointer primitive that dies at the flip: every commit under it is
    * written in full and never committed. */
  private object CrashAtFlip extends graft.sources.Writers.PointerCommit {
    val name = "crash-at-flip"
    def put(fs: org.apache.hadoop.fs.FileSystem,
            dst: org.apache.hadoop.fs.Path, value: String): Unit =
      throw new RuntimeException("crash before the pointer flip")
    def recover(fs: org.apache.hadoop.fs.FileSystem,
                dst: org.apache.hadoop.fs.Path): Unit =
      graft.sources.Writers.RenamePointerCommit.recover(fs, dst)
  }

  test("a merge torn before its pointer flip keeps the old watermarks, and its replay lands once") {
    val warehouse = Files.createTempDirectory("wh_torn1").toString
    stateDf(100, 100).write.parquet(s"$warehouse/crawl_state") // legacy dir
    PricePipeline.mergeBatch(spark, warehouse, tickBatch(200))
    assert(watermarks(warehouse) == (epochTs(100), epochTs(200)))
    intercept[RuntimeException] {
      graft.sources.Writers.withPointerCommit(CrashAtFlip) {
        PricePipeline.mergeBatch(spark, warehouse, tickBatch(300))
      }
    }
    // the torn merge wrote its next state version in full — unflipped, so
    // readers keep the old watermarks (not a reset, not the new ones)
    assert(new java.io.File(s"$warehouse/crawl_state.gen-1/_SUCCESS").exists())
    assert(watermarks(warehouse) == (epochTs(100), epochTs(200)))
    // its replay overwrites the orphan, commits, and the tick lands once
    PricePipeline.mergeBatch(spark, warehouse, tickBatch(300))
    assert(GenStore.currentDir(spark, s"$warehouse/crawl_state") ==
      s"$warehouse/crawl_state.gen-1")
    assert(watermarks(warehouse) == (epochTs(100), epochTs(300)))
    assert(spark.read.parquet(s"$warehouse/prices").count() == 2)
  }

  test("a torn first merge of a pointer-less warehouse leaves the legacy state current") {
    val warehouse = Files.createTempDirectory("wh_torn2").toString
    stateDf(77, 100).write.parquet(s"$warehouse/crawl_state")
    intercept[RuntimeException] {
      graft.sources.Writers.withPointerCommit(CrashAtFlip) {
        PricePipeline.mergeBatch(spark, warehouse, tickBatch(300))
      }
    }
    // no pointer was written: the plain dir still reads exactly as before
    assert(GenStore.currentDir(spark, s"$warehouse/crawl_state") ==
      s"$warehouse/crawl_state")
    assert(watermarks(warehouse) == (epochTs(77), epochTs(100)))
    PricePipeline.mergeBatch(spark, warehouse, tickBatch(300))
    // the review watermark from the legacy state survives the migration
    assert(watermarks(warehouse) == (epochTs(77), epochTs(300)))
    assert(spark.read.parquet(s"$warehouse/prices").count() == 1)
  }
}
