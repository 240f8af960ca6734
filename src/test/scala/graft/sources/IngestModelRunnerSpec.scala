package graft.sources

import graft.SparkSpec
import graft.domain.{ModelRunner, Schemas}
import org.apache.spark.sql.functions._
import java.nio.file.Files

class IngestModelRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("fetchPerKey retries then records the failure (S5)") {
    val fetcher = new Ingest.Fetcher[Int, String] {
      def fetch(k: Int): Either[String, String] =
        if (k % 2 == 0) Right(s"ok-$k") else Left(s"boom-$k")
    }
    val out = Ingest.fetchPerKey(Seq(1, 2, 3, 4).toDS(), fetcher, maxRetries = 2)
      .collect().sortBy(_.key)
    assert(out.map(_.value) sameElements Array(None, Some("ok-2"), None, Some("ok-4")))
    assert(out(0).attempts == 3) // 1 + 2 retries
    assert(out(0).error.contains("boom-1"))
  }

  test("fetchPaged respects per-key cap and terminating cursors (S6)") {
    val fetcher = new Ingest.PagedFetcher[Int, String] {
      def page(k: Int, cursor: String): (Seq[String], String) = cursor match {
        case "*" => (Seq(s"$k-a", s"$k-b"), "c2")
        case "c2" => (Seq(s"$k-c", s"$k-d"), "c2") // repeating cursor -> stop
        case _ => (Nil, null)
      }
    }
    val out = Ingest.fetchPaged(Seq(7).toDS(), fetcher, perKeyCap = 3)
      .collect().map(_._2).toSeq
    assert(out == Seq("7-a", "7-b", "7-c")) // capped at 3, no infinite loop
  }

  test("withIngestOrder gives a stable per-file total order (W2 support)") {
    val dir = Files.createTempDirectory("ingest").toFile.getAbsolutePath
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(dir)
    val back = Readers.csv(spark, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType))), dir)
    val ordered = Ingest.withIngestOrder(back)
    assert(ordered.select("_ingest_pos").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("jsonArrayWithRecovery splits good docs from corrupt records (S2)") {
    val dir = Files.createTempDirectory("json").toFile.getAbsolutePath
    val good = """[{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]"""
    val bad = """[{"a": 3, "b": "z"}, {"a": oops]"""
    Files.writeString(java.nio.file.Path.of(dir, "part0.json"), good)
    Files.writeString(java.nio.file.Path.of(dir, "part1.json"), bad)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("b", org.apache.spark.sql.types.StringType)))
    val (g, c) = Readers.jsonArrayWithRecovery(spark, schema, dir)
    assert(g.select("a").as[Int].collect().toSet == Set(1, 2))
    assert(c.count() == 1) // the malformed part surfaces for salvage/audit
  }

  test("ModelRunner releases the mart pins it took when a mart write fails") {
    val notADir = Files.createTempFile("marts", ".file").toString
    val w = new graft.domain.SteamModelsSpec().w
    intercept[Exception](ModelRunner.run(spark, w, notADir))
    // a frame's storage level is looked up by plan: a rebuilt mart finds
    // the pin a run left behind
    val stillPinned = graft.domain.SteamModels.allModels(w).collect {
      case (name, df) if df.storageLevel !=
        org.apache.spark.storage.StorageLevel.NONE => name
    }
    assert(stillPinned.isEmpty, stillPinned)
  }

  test("ModelRunner materializes staging as views, marts as parquet, runs tests") {
    val martDir = Files.createTempDirectory("marts").toFile.getAbsolutePath
    val w = new graft.domain.SteamModelsSpec().w
    val res = ModelRunner.run(spark, w, martDir)
    assert(res.materialized("stg_games") == "view")
    assert(spark.catalog.tableExists("stg_games"))
    assert(res.materialized("dim_games").startsWith(martDir))
    val dg = spark.read.parquet(s"$martDir/dim_games")
    assert(dg.count() == 3)
    assert(res.testFailures.size == 2) // planted age + FK violations
  }

  test("jsonParts caps records per part file (S10)") {
    val dir = Files.createTempDirectory("parts").toFile.getAbsolutePath
    Writers.jsonParts((1 to 100).toDF("n").coalesce(1), dir, maxRecordsPerFile = 30)
    val parts = new java.io.File(dir).listFiles().count(_.getName.endsWith(".json"))
    assert(parts == 4) // 30+30+30+10
  }
}
