package graft.streaming

import graft.domain.{GenStore, Schemas}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** The reference's flagship flow (SURVEY §3.2 stages 2-4) as one Structured
  * Streaming job: watch the staging directory for price-tick messages, decode
  * + validate + parse money, and merge each micro-batch into the parquet
  * warehouse — games auto-insert, prices append, crawl_state GREATEST-merge —
  * exactly-once via the checkpoint, replacing the reference's three polling
  * loops and per-message MySQL commits (tasks/steam_tasks_improved.py:208-511).
  *
  * The warehouse layout is plain parquet dirs (games/, prices/, crawl_state/);
  * crawl_state, the one dir a batch rewrites, commits as numbered versions
  * behind a `crawl_state.GEN` pointer ([[GenStore]]). At 100 TB prices/
  * partitions by date and the merge becomes a MERGE INTO on a table
  * format — same batch-core, different sink. */
object PricePipeline {

  val wireSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.StringType)))

  private val gamesSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("game_id",
      org.apache.spark.sql.types.IntegerType, nullable = false)))

  private val pricesSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("game_id", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("price_cents", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("discount", org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("initial_price_cents", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("timestamp", org.apache.spark.sql.types.TimestampType)))

  private val stateSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("game_appid", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("last_review_timestamp", org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("last_price_timestamp", org.apache.spark.sql.types.TimestampType)))

  /** One micro-batch into the warehouse. Idempotent under foreachBatch's
    * at-least-once replay: games and crawl_state merge by key, and the
    * prices append deduplicates the batch and anti-joins the existing table
    * on the full row, so a replayed batch or a repeated line inserts nothing
    * new. */
  def mergeBatch(spark: SparkSession, warehouseDir: String, batch: DataFrame): Unit = {
    graft.operators.Serving.withPinned(batch) { ticks =>
      val games =
        GenStore.readOrEmpty(spark, s"$warehouseDir/games", gamesSchema)
      val state = GenStore.read(spark, s"$warehouseDir/crawl_state", stateSchema)
      val (missingGames, priceRows, mergedState) =
        Streams.priceBatchMerge(games, state, ticks)
      missingGames.write.mode("append").parquet(s"$warehouseDir/games")
      val existingPrices =
        GenStore.readOrEmpty(spark, s"$warehouseDir/prices", pricesSchema)
      // anti-join on the FULL row: a replayed batch inserts nothing, while a
      // genuinely different payload at the same (game_id, timestamp) —
      // e.g. a corrected resend — still lands
      val allCols = Seq("game_id", "price_cents", "discount",
        "initial_price_cents", "timestamp")
      // a tick line repeated inside one batch would otherwise land twice:
      // the anti-join only sees rows already in the table. distinct() is
      // null-safe like the anti-join's <=> (grouping treats NULLs as equal)
      val incoming = priceRows.select(
        col("appid").as("game_id"), col("price_cents"), col("discount"),
        col("initial_price_cents"), col("ts").as("timestamp")).distinct()
      // restrict the existing side to the batch's game_ids BEFORE the
      // anti-join: without it every micro-batch full-scans the whole prices
      // table, a per-batch cost that grows with the table forever
      val existingScoped = existingPrices.select(allCols.map(col): _*)
        .join(incoming.select("game_id").distinct(), Seq("game_id"), "left_semi")
      // null-safe <=> equality: a tick whose price/ts parsed to NULL (e.g.
      // price "free") must still match its already-written copy on replay —
      // plain column equality never matches NULL and re-inserted the row
      // on every replay
      val dupCond = allCols.map(c => incoming(c) <=> existingScoped(c)).reduce(_ && _)
      incoming.join(existingScoped, dupCond, "left_anti")
        .write.mode("append").parquet(s"$warehouseDir/prices")
      // state is a full-replace merge, committed as the next crawl_state
      // version: a merge torn before the pointer flip leaves the old
      // watermarks current (its replay lands once — the prices anti-join
      // above), and a reader that resolved the old version keeps its files
      // for one more commit
      GenStore.commitDir(spark, s"$warehouseDir/crawl_state", mergedState)
    }
  }

  /** Start the streaming job over a staging directory of JSONL wire files. */
  def start(spark: SparkSession, stagingDir: String, warehouseDir: String,
            checkpointDir: String): StreamingQuery =
    Streams.decodePriceTicks(
      spark.readStream.schema(wireSchema).text(stagingDir))
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) mergeBatch(batch.sparkSession, warehouseDir, batch)
        ()
      }
      .start()
}
