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

  /** The text inside a FileScan line's `key: [...]` bracket (key is
    * `PartitionFilters` or `PushedFilters`), up to its first `]`; empty when
    * the line has none. A plan pin must read here: the scan line also lists
    * every partition and read column among its outputs, whatever it prunes. */
  def scanFilters(line: String, key: String): String = {
    val i = line.indexOf(s"$key: [")
    if (i < 0) "" else line.substring(i + key.length + 3).takeWhile(_ != ']')
  }
}
