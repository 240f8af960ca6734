package graft.domain

import graft.operators.Serving
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
    // materialized table; persisting is the DataFrame-graph equivalent.
    // Each mart's pin scopes the rest of the run (the later marts and the
    // quality checks, which also reuse them), so a failed write releases
    // every pin taken before it.
    def materialize(models: List[(String, DataFrame)],
                    done: Map[String, String]): RunResult = models match {
      case Nil => RunResult(done, DataQuality.run(DataQuality.steamSuite(w)))
      case (name, df) :: rest if stagingModels(name) =>
        df.createOrReplaceTempView(name)
        materialize(rest, done + (name -> "view"))
      case (name, df) :: rest =>
        Serving.withPinned(df) { mart =>
          val path = s"$martDir/$name"
          mart.write.mode("overwrite").parquet(path)
          materialize(rest, done + (name -> path))
        }
    }
    materialize(SteamModels.allModels(w).toList, Map.empty)
  }
}
