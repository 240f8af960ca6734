package graft.domain

import graft.quality.DataQuality
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `dbt run` equivalent (SURVEY §3.1): staging models materialize as temp
  * views (deferred, re-planned per consumer — dbt's `view`), marts as parquet
  * tables (dbt's `table`), executed in DAG order, tests after (severity=warn:
  * violations are returned, not thrown — matching dbt_project.yml:49-51).
  *
  * At 100 TB the mart writes partition on their natural keys; staging stays
  * virtual so Catalyst inlines + prunes it per downstream query instead of
  * materializing an intermediate copy.
  */
object ModelRunner {

  val stagingModels: Set[String] = Set(
    "stg_games", "stg_developers", "stg_publishers", "stg_genres",
    "stg_languages", "stg_prices", "stg_crawl_state", "stg_reviews")

  final case class RunResult(
    materialized: Map[String, String], // model -> "view" | table path
    testFailures: Seq[DataQuality.CheckResult])

  def run(spark: SparkSession, w: SteamModels.Warehouse, martDir: String): RunResult = {
    // a warehouse loaded before later state commits keeps its versions for
    // one more commit; past that it fails with the expiry message here,
    // not with a raw FILE_NOT_EXIST mid-run
    w.productIterator.foreach {
      case df: org.apache.spark.sql.Dataset[_] =>
        GenStore.requireLiveScan(spark, df.toDF())
      case _ => ()
    }
    // marts are pinned while the run executes: downstream marts reference
    // their upstream mart DataFrames (game_quality_metrics reads dim_games +
    // fact_reviews), and without the persist each write re-executed the
    // whole upstream join/window pipeline from source — dbt reads the
    // materialized table; persisting is the DataFrame-graph equivalent
    val pinned = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.DataFrame]
    val materialized = SteamModels.allModels(w).map { case (name, df) =>
      if (stagingModels(name)) {
        df.createOrReplaceTempView(name)
        name -> "view"
      } else {
        val path = s"$martDir/$name"
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pinned += df
        df.write.mode("overwrite").parquet(path)
        name -> path
      }
    }.toMap
    val result = RunResult(materialized, DataQuality.run(DataQuality.steamSuite(w)))
    pinned.foreach(_.unpersist(blocking = false)) // quality checks also reuse them
    result
  }
}
