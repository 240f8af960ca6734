package graft.domain

import graft.SparkSpec

/** Spark jobs per lake write: one `upsert` and one `delete` on each lake and
  * one `LakeSync.requestUpsert`, each against a fresh small store. The
  * overlay write protocol lives in [[GenStore]]; these pins keep its one
  * body from costing a scheduler round-trip more than the per-lake copies
  * it replaced did. Jobs are counted by [[graft.SparkSpec.jobStarts]]. */
class WritePathJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Spark jobs launched while `body` runs on this thread. */
  private def jobsOf(body: => Any): Int = jobStarts(body).size

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"writejobs_$tag").toString

  private def unit(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array(math.cos(r).toFloat, math.sin(r).toFloat)
  }

  private val texts = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "completely different content over here"),
    (3L, "yet another unrelated document body"))

  /** (upsert jobs, delete jobs) on a lake holding ids 1..3: the upsert
    * edits id 2 and inserts id 9, the delete tombstones id 1 and skips the
    * absent id 77. */
  private def measure(name: String)(upsert: => Long)(delete: => Long)
      : (Int, Int) = {
    var u, d = -1L
    val ju = jobsOf { u = upsert }
    val jd = jobsOf { d = delete }
    assert(u == 2L && d == 1L, s"$name: upsert $u, delete $d")
    info(s"$name: upsert $ju jobs, delete $jd jobs")
    (ju, jd)
  }

  test("lake delete and upsert jobs stay at or below the per-lake copies' counts") {
    val lex = freshRoot("lex")
    LexLake.ingest(spark, lex, texts.toDF("doc_id", "text"))
    val lexJobs = measure("LexLake")(
      LexLake.upsert(spark, lex, Seq((2L, "rewritten lexical body"),
        (9L, "a brand new document")).toDF("doc_id", "text")))(
      LexLake.delete(spark, lex, Seq(1L, 77L).toDF("doc_id")))

    val vec = freshRoot("vec")
    VectorLake.init(spark, vec, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, vec,
      Seq((1L, unit(0)), (2L, unit(45)), (3L, unit(90)))
        .toDF("vec_id", "embedding"))
    val vecJobs = measure("VectorLake")(
      VectorLake.upsert(spark, vec, Seq((2L, unit(30)), (9L, unit(60)))
        .toDF("vec_id", "embedding")))(
      VectorLake.delete(spark, vec, Seq(1L, 77L).toDF("vec_id")))

    val dedup = freshRoot("dedup")
    DedupLake.ingest(spark, dedup, texts.toDF("doc_id", "text"))
    val dedupJobs = measure("DedupLake")(
      DedupLake.upsert(spark, dedup, Seq((2L, "rewritten dedup body"),
        (9L, "a brand new document")).toDF("doc_id", "text")))(
      DedupLake.delete(spark, dedup, Seq(1L, 77L).toDF("doc_id")))

    val sync = freshRoot("sync")
    var n = -1L
    val syncJobs = jobsOf {
      n = LakeSync.requestUpsert(spark, sync,
        Seq((2L, "rewritten body", unit(30)), (9L, "new body", unit(60)))
          .toDF("doc_id", "text", "embedding"))
    }
    assert(n == 2L)
    info(s"LakeSync.requestUpsert: $syncJobs jobs")

    // the per-lake copies' counts on the same fixtures, measured with this
    // listener: (upsert, delete) jobs; the dedup upsert also appends keeps
    assert(lexJobs._1 <= 11 && lexJobs._2 <= 6, lexJobs.toString)
    assert(vecJobs._1 <= 11 && vecJobs._2 <= 6, vecJobs.toString)
    assert(dedupJobs._1 <= 14 && dedupJobs._2 <= 6, dedupJobs.toString)
    assert(syncJobs <= 11, syncJobs.toString)
  }
}
