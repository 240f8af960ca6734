package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared session for the whole test JVM (Test/fork := true), built from
  * the engine's own session contract ([[GraftSession.builder]]: ANSI off,
  * UTC, ns-as-long, AQE, the extensions and the codegen cache size) plus a
  * test app name and a temporary warehouse dir. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("4", "4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def sortedRows(df: DataFrame): Seq[Seq[Any]] =
    rows(df).sortBy(_.map(v => if (v == null) "" else v.toString).mkString("|"))

  /** The start events of the Spark jobs `body` launches. A job is counted
    * when it carries the local property the body ran under, which broadcast
    * threads and `inParallel` arms copy from their caller. */
  def jobStarts(body: => Any): Seq[org.apache.spark.scheduler.SparkListenerJobStart] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.test.jobs"
    val label = java.util.UUID.randomUUID().toString
    val sentinelLabel = s"$label/sentinel"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]()
    val sentinel = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(tag)).orNull match {
          case `label` => starts.add(e)
          case `sentinelLabel` => sentinel.set(true)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, label)
      try body finally sc.setLocalProperty(tag, null)
      // listener events arrive in order: the sentinel's start follows
      // every job of the body
      sc.setLocalProperty(tag, sentinelLabel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(tag, null)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinel.get() && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel.get(), "listener bus did not deliver the sentinel job")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    starts.asScala.toSeq
  }

  /** The text inside a FileScan line's `key: [...]` bracket (key is
    * `PartitionFilters` or `PushedFilters`), up to its first `]`; empty when
    * the line has none. A plan pin must read here: the scan line also lists
    * every partition and read column among its outputs, whatever it prunes. */
  def scanFilters(line: String, key: String): String = {
    val i = line.indexOf(s"$key: [")
    if (i < 0) "" else line.substring(i + key.length + 3).takeWhile(_ != ']')
  }
}
