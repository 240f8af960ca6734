package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructField, StringType, StructType}

/** Batch file sources (SURVEY §2.1 S1-S3) with explicit schemas — CSV and
  * JSON schema inference is a full extra pass over the data at 100 TB, so
  * these readers always take one. Parquet carries its schema in its
  * footers: an untyped parquet read goes through [[graft.Tables.read]],
  * which infers it once per session and memoizes it, keyed by the path,
  * its files (name, length, mtime) and the session's parquet confs, one
  * entry per path.
  */
object Readers {

  /** S1: headered CSV with explicit schema (price/game staging files). */
  def csv(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** S2: JSON-array part files with malformed-document recovery. The
    * reference re-parses line-by-line on failure (etl/load/load_mongo.py:5-23);
    * Spark's PERMISSIVE mode + _corrupt_record captures the same salvage
    * semantics in one distributed pass. Returns (good, corrupt). */
  def jsonArrayWithRecovery(spark: SparkSession, schema: StructType,
                            path: String): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+ StructField("_corrupt_record", StringType))
    val raw = spark.read
      .option("multiLine", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt)
      .json(path)
      // cached on purpose: Spark disallows corrupt-record-only queries on an
      // uncached JSON read, and the split reads the input twice otherwise.
      // The cache is keyed by plan, so the caller's reclaim contract is the
      // same one the operator suite documents: spark.catalog.clearCache()
      // once the good/corrupt outputs are materialized — a loop over many
      // drops without it accumulates one pinned input per call.
      .cache()
    val good = raw.filter(raw.col("_corrupt_record").isNull).drop("_corrupt_record")
    val corrupt = raw.filter(raw.col("_corrupt_record").isNotNull).select("_corrupt_record")
    (good, corrupt)
  }

  /** S3: JSONL (one doc per line). The tail-follow form is the streaming
    * file source (Streams.fileStream); this is the batch replay. */
  def jsonl(spark: SparkSession, schema: StructType, path: String): DataFrame =
    spark.read.schema(schema).json(path)
}
