package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * Parquet carries its own schema. Every untyped parquet read in the
  * engine goes through [[read]], which infers a path's schema once per
  * session and then reads with it, so building a query runs no footer job.
  * The memo is keyed by the path, each file under it (name, length, mtime)
  * and the session's parquet confs, and holds one entry per path.
  * The vectorized reader, column pruning and predicate pushdown apply
  * either way. At 100 TB these would be catalog tables partitioned on the
  * natural time/key column (orders by o_orderdate, events by date(ts));
  * the loaders are the single seam where that swap happens.
  */
object Tables {

  /** What a memoized schema is valid for: the path, each file under it as
    * (name, length, mtime), and the session's explicitly set
    * `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs (`nanosAsLong`
    * and `inferTimestampNTZ` decide the type of `events.ts`). */
  private[graft] final case class Fingerprint(path: String,
      files: Seq[(String, Long, Long)], confs: Seq[(String, String)])

  private final case class Entry(key: Fingerprint, schema: StructType)

  /** Per session, one entry per path: a changed fingerprint replaces the
    * path's entry, so rewrites cannot grow the memo. Weak in the session,
    * so a memo dies with its session. Only the schema is kept: a cached
    * DataFrame would share attribute ids between separate reads of one
    * table (ambiguous self-joins) and hold a file index that goes stale. */
  private val memos =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  /** The memo key of `path` in `spark`, from a driver-side Hadoop listing
    * (no Spark job). A missing path lists no files; its read then fails
    * with Spark's own error. */
  private[graft] def fingerprint(spark: SparkSession, path: String): Fingerprint = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = Seq.newBuilder[(String, Long, Long)]
    try {
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
    } catch { case _: java.io.FileNotFoundException => () }
    val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    Fingerprint(path, files.result().sorted, confs.sorted)
  }

  /** The local property `SparkContext.setJobDescription` sets. */
  private val JobDescription = "spark.job.description"

  /** The one untyped parquet read of a file or dir `path` (not a glob):
    * `path` with its memoized schema, or, on a miss, with the schema Spark
    * infers — one job, described as `infer schema <path>`. A miss infers
    * outside any lock, so concurrent first reads do not queue behind each
    * other. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val key = fingerprint(spark, path)
    val memo = memos.synchronized(
      memos.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Entry]()))
    Option(memo.get(path)).filter(_.key == key) match {
      case Some(e) => spark.read.schema(e.schema).parquet(path)
      case None =>
        val sc = spark.sparkContext
        val caller = sc.getLocalProperty(JobDescription)
        sc.setJobDescription(s"infer schema $path")
        val df = try spark.read.parquet(path)
          finally sc.setLocalProperty(JobDescription, caller)
        memo.put(path, Entry(key, df.schema))
        df
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "lineitem"), "l_shipdate")
  def orders(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "orders"), "o_orderdate")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** events.ts arrives in whatever physical form the generator last wrote:
    *  - TIMESTAMP(NANOS): Spark can't represent ns (µs max). Sessions set
    *    spark.sql.legacy.parquet.nanosAsLong=true so it surfaces as LongType,
    *    and we floor-truncate ns -> µs — exactly what DuckDB's parquet reader
    *    does, so oracle comparisons line up. Integer DIV, not double division:
    *    int64 nanos don't fit a double mantissa.
    *  - timestamp[us] with isAdjustedToUTC=false: Spark >=3.4 infers
    *    TIMESTAMP_NTZ (inferTimestampNTZ default on), on which epoch casts
    *    (`cast("double"/"long")`) are illegal. Sessions run in UTC, so an
    *    NTZ wall-clock IS the UTC instant — cast to TimestampType (LTZ) to
    *    restore epoch semantics, matching DuckDB's naive-as-UTC `epoch(ts)`.
    * Every other shape passes through untouched. This normalization is the
    * engine's timestamp contract: downstream code always sees TimestampType. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeTs(load(spark, dir, "events"), "ts")

  /** The normalization core, applied to EVERY timestamp column the testdata
    * carries (events.ts, orders.o_orderdate, lineitem.l_shipdate) — one
    * generator flip already broke the ts consumers (round 3); the date
    * columns are the same class of time bomb. */
  private def normalizeTs(raw: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema(tsCol).dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced by nanosAsLong: floor to µs
        raw.withColumn(tsCol, expr(s"timestamp_micros($tsCol DIV 1000)"))
      case TimestampNTZType => // UTC session: NTZ wall clock IS the instant
        raw.withColumn(tsCol, col(tsCol).cast(TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Post-load schema contract — the invariants every registered query
    * assumes of the testdata. Verify runs this BEFORE the query loop so a
    * driver-side testdata regeneration surfaces as ONE message naming the
    * observed schemas (the round-3 lesson: the ns→µs-NTZ flip showed up as
    * three opaque query failures). Returns the list of violations; also
    * prints every observed schema to stderr for the driver log. */
  def schemaDrift(spark: SparkSession, dir: String): Seq[String] = {
    import org.apache.spark.sql.types.TimestampType
    val expected: Seq[(String, Seq[String])] = Seq(
      "region" -> Seq("r_regionkey", "r_name"),
      "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
      "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
      "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate"),
      "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
      "embeddings" -> Seq("vec_id", "embedding", "label"))
    // type-level contract: every timestamp column the loaders normalize must
    // come out as TIMESTAMP (epoch casts are illegal on NTZ, impossible on ns)
    val tsContract = Map(
      "events" -> "ts", "orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "events" -> events, "orders" -> orders, "lineitem" -> lineitem)
    expected.flatMap { case (name, cols) =>
      try {
        val df = loaders.get(name).map(_(spark, dir)).getOrElse(load(spark, dir, name))
        System.err.println(s"[schema] $name: ${df.schema.simpleString}")
        val missing = cols.filterNot(df.columns.contains)
        val colDrift =
          if (missing.nonEmpty)
            Seq(s"$name: missing columns [${missing.mkString(", ")}] " +
              s"(observed: ${df.schema.simpleString})")
          else Nil
        val tsDrift = tsContract.get(name) match {
          case Some(tc) if df.columns.contains(tc) &&
              df.schema(tc).dataType != TimestampType =>
            Seq(s"$name.$tc: loader left ${df.schema(tc).dataType} — extend " +
              "Tables.normalizeTs for this new physical encoding")
          case _ => Nil
        }
        colDrift ++ tsDrift
      } catch {
        case e: Exception => Seq(s"$name: unreadable — ${e.getMessage}")
      }
    }
  }
}
