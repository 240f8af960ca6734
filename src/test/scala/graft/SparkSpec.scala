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
}
