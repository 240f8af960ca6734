package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}
import scala.util.Try

/** [[Tables.read]]'s schema memo: a hit reads with the schema inferred
  * once, and a change to anything its key names — the files under the
  * path, the session's parquet confs — infers again. The hit itself is
  * pinned in [[CodegenReuseSpec]]'s second warehouse pass. */
class TableReadSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"tableread_$tag").toString

  /** The schema a read resolves, or the error it fails with. */
  private def outcome(read: => DataFrame): Either[String, StructType] =
    Try(read.schema).toEither.left.map(e => s"${e.getClass.getName}: ${e.getMessage}")

  test("a miss infers under a named job, a hit runs none, a rewrite shows its new column") {
    val path = s"${tmp("rewrite")}/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(path)
    val sc = spark.sparkContext
    sc.setJobDescription("the caller")
    try {
      var df: DataFrame = null
      val miss = jobStarts { df = Tables.read(spark, path) }
      assert(miss.map(_.properties.getProperty("spark.job.description")) ==
        Seq(s"infer schema $path"))
      assert(sc.getLocalProperty("spark.job.description") == "the caller")
      assert(df.columns.toSeq == Seq("id", "s"))
      assert(jobStarts { df = Tables.read(spark, path) }.isEmpty, "a hit ran a job")
      assert(sortedRows(df) == Seq(Seq(1L, "a"), Seq(2L, "b")))
    } finally sc.setJobDescription(null)
    Seq((3L, "c", 7)).toDF("id", "s", "n").write.mode("overwrite").parquet(path)
    val rewritten = Tables.read(spark, path)
    assert(rewritten.columns.toSeq == Seq("id", "s", "n"))
    assert(rows(rewritten) == Seq(Seq(3L, "c", 7)))
  }

  /** events.parquet under `dir` with a TIMESTAMP(NANOS) `ts` and a
    * TIMESTAMP(MICROS) `ts_us`, neither adjusted to UTC, written through
    * parquet-mr: Spark writes no nanosecond timestamps. */
  private def writeEvents(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,false)); " +
        "required int64 ts_us (TIMESTAMP(MICROS,false)); }")
    val file = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet/part-0.parquet"),
      new org.apache.hadoop.conf.Configuration())
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L)
      .append("ts_us", 1700000000123456L))
    finally w.close()
  }

  test("a session with other parquet confs infers again: events.ts follows the flip") {
    val dir = tmp("confs")
    writeEvents(dir)
    val path = s"$dir/events.parquet"
    val base = Tables.read(spark, path)
    assert(base.schema("ts").dataType == LongType) // nanosAsLong
    assert(Tables.events(spark, dir).schema("ts").dataType == TimestampType)
    for (conf <- Seq("spark.sql.legacy.parquet.nanosAsLong",
                     "spark.sql.parquet.inferTimestampNTZ.enabled")) {
      val was = spark.conf.get(conf)
      val flip = (!was.toBoolean).toString
      // a new session owns a new memo; the same session flipped keeps its
      // memo, whose key then differs in the conf
      val fresh = spark.newSession()
      fresh.conf.set(conf, flip)
      for ((where, s) <- Seq("new session" -> fresh, "same session" -> spark)) {
        spark.conf.set(conf, if (s eq spark) flip else was)
        try {
          val memoized = outcome(Tables.read(s, path))
          assert(memoized == outcome(s.read.parquet(path)), s"$conf, $where")
          assert(memoized != Right(base.schema), s"$conf, $where: the memo answered")
        } finally spark.conf.set(conf, was)
      }
    }
  }

  test("a missing path keeps Spark's error, and schemaDrift still says unreadable") {
    val missing = s"${tmp("missing")}/absent.parquet"
    val e = intercept[AnalysisException](Tables.read(spark, missing))
    val bare = intercept[AnalysisException](spark.read.parquet(missing))
    assert(e.getCondition == bare.getCondition && e.getMessage == bare.getMessage)
    val drift = Tables.schemaDrift(spark, tmp("empty"))
    assert(drift.size == 10 && drift.forall(_.contains("unreadable")),
      drift.mkString("\n"))
  }

  test("three concurrent first reads of one table all succeed") {
    val path = s"${tmp("concurrent")}/t.parquet"
    spark.range(100).write.parquet(path)
    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    try {
      val counts = (1 to 3).map(_ => pool.submit(new Callable[Long] {
        def call(): Long = { start.await(); Tables.read(spark, path).count() }
      }))
      start.countDown()
      assert(counts.map(_.get(120, TimeUnit.SECONDS)) == Seq(100L, 100L, 100L))
    } finally pool.shutdown()
  }

  test("shared cluster labels follow a rewrite of the documents table") {
    def docs(texts: Seq[String]): DataFrame = texts.zipWithIndex.map {
      case (t, i) => (i + 1L, t, "en", "src0", t.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    def q118(dir: String): Seq[Seq[Any]] =
      sortedRows(SparkEntry.queries("q118_cluster_sizes")(spark, dir))
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "a completely different sentence about spark jobs and parquet footers"
    val c = "yet another unrelated line of text for the curation corpus here"
    val dir = tmp("labels")
    docs(Seq(a, a, a, b, c)).write.parquet(s"$dir/documents.parquet")
    val before = q118(dir)
    docs(Seq(a, a, b, b, c)).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val fresh = tmp("labels_fresh")
    docs(Seq(a, a, b, b, c)).write.parquet(s"$fresh/documents.parquet")
    val expected = q118(fresh)
    assert(expected != before, "the rewrite must change the answer")
    assert(q118(dir) == expected)
  }
}
