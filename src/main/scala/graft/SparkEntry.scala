package graft

import graft.operators.{Dedup, Relational, Similarity}
import graft.functions.{MoneyFunctions => MF, TextFunctions => TF, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Driver contract — every SURVEY.md §2 operator exposed as a named query over
  * the driver testdata, each with a DuckDB-equivalent oracle SQL.
  *
  * Determinism rules applied throughout (oracle hash-matches values):
  *  - money/sum aggregates go through DECIMAL(18,2) (exact, order-independent),
  *    then CAST AS DOUBLE (same IEEE value in both engines);
  *  - double ratios are a single division of exact operands, then round(.,6)
  *    (HALF_UP == DuckDB's half-away-from-zero for positives);
  *  - every window/limit has a total order (unique tiebreaker);
  *  - hashing is md5 (bit-identical across engines), never seeded hashes.
  */
object SparkEntry {

  type QFn = (SparkSession, String) => DataFrame
  private final case class Q(name: String, fn: QFn, oracle: Option[String])

  /** q79 target mixture: the 20 synthetic sources, half at 8%, half at 2% —
    * shared by the query and its oracle so the thresholds match exactly. */
  private val mixtureWeights: Seq[(String, Int)] =
    (0 until 10).map(i => s"src$i" -> 8) ++ (10 until 20).map(i => s"src$i" -> 2)

  /** Shared duplicate-cluster closure: q54/q102/q118/q127 all consume
    * resolveClusters over the SAME candidate pairs (documents, numHashes=8,
    * bandRows=2, shingleN=2). The candidate pairs and the closure cost jobs
    * of their own, so each query re-running them from scratch multiplies
    * that cost by four; materialize the labels ONCE per testdata dir to a
    * temp parquet and let all four scan that. A file (not .persist) on
    * purpose: Bench clears the Spark cache between queries for isolation,
    * which would silently evict an in-memory shared stage and re-trigger
    * the closure. At 100 TB this IS the production shape — cluster labels
    * are a pipeline-stage artifact written once to the lake and joined by
    * every downstream consumer, not recomputed per query. */
  private val clusterLabelsCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Wall-clock seconds of each shared one-time materialization (keyed by
    * artifact:dir). Bench reports these alongside the per-query sweep so the
    * headline total is reconstructible as sweep + one-time — excluding them
    * silently would make the shared-artifact design look like free speed. */
  private val oneTimeSecs =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def oneTimeCosts: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    oneTimeSecs.asScala.toMap
  }

  /** 1-min loadavg at the START of each one-time materialization, keyed
    * like [[oneTimeCosts]] — the contamination stamp for the bench's
    * one-time stage. The r8 blind spot: per-query suspect flags only cover
    * work measured multiple times, so the sweep's largest single cost (a
    * build that runs ONCE) could swing 5× under box load with n_suspect
    * still 0. The reader is injectable so a spec can simulate a
    * contaminated box. */
  private val oneTimeLoads =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  def oneTimeLoadAvgs: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    oneTimeLoads.asScala.toMap
  }
  private[graft] var loadAvg1Reader: () => Double = () =>
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }
  private[graft] def recordOneTime(key: String, secs: Double,
                                   load1m: Double): Unit = {
    oneTimeSecs.put(key, secs)
    oneTimeLoads.put(key, load1m)
    ()
  }

  /** Temp dirs backing shared artifacts, deleted on JVM exit — a sweep must
    * not strew graft_cluster_labels_* dirs across /tmp. */
  private val tempArtifacts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tempArtifacts.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          val root = java.nio.file.Paths.get(p)
          if (java.nio.file.Files.exists(root))
            java.nio.file.Files.walk(root).sorted(
              java.util.Comparator.reverseOrder[java.nio.file.Path]())
              .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
        } catch { case _: Throwable => () } // exit-path cleanup: best effort
      }))
  }

  private def sharedClusterLabels(s: SparkSession, dir: String): DataFrame = {
    val path = clusterLabelsCache.computeIfAbsent(dir, _ => {
      val p = java.nio.file.Files
        .createTempDirectory("graft_cluster_labels_").toString
      tempArtifacts.add(p)
      val load0 = loadAvg1Reader()
      val t0 = System.nanoTime()
      Dedup.resolveClusters(
        Dedup.minhashLshCandidates(T(s, dir, "documents"), "doc_id", "text",
          numHashes = 8, bandRows = 2, shingleN = 2),
        "doc_a", "doc_b")
        .write.mode("overwrite").parquet(p)
      recordOneTime(s"cluster_labels:$dir", (System.nanoTime() - t0) / 1e9, load0)
      p
    })
    s.read.parquet(path)
  }

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    name match {
      // timestamp-carrying tables go through their normalizing loaders
      // (ns->µs floor / NTZ->LTZ, see Tables.normalizeTs) — raw loads would
      // hand queries whatever physical encoding the generator last wrote
      case "events"   => Tables.events(s, dir)
      case "orders"   => Tables.orders(s, dir)
      case "lineitem" => Tables.lineitem(s, dir)
      case _          => Tables.load(s, dir, name)
    }

  // DECIMAL(18,2)-exact sum cast back to double — deterministic across engines.
  private def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  private val registry: Seq[Q] = Seq(

    // ---- 2.4 Aggregations ----------------------------------------------------
    Q("q01_agg_pricing", (s, dir) => {
      // A2 multi-aggregate metrics (game_quality_metrics.sql:3-15 shape)
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          count(lit(1)).as("count_order"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    }, Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             COUNT(*) AS count_order,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_returnflag, l_linestatus""")),

    Q("q02_revenue_by_nation", (s, dir) => {
      // J2 fact->dim joins + A2; nation is tiny -> broadcast
      T(s, dir, "orders")
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(col("o_totalprice")).as("total_revenue"), count(lit(1)).as("order_cnt"))
    }, Some("""
      SELECT n_name,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
             COUNT(*) AS order_cnt
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name""")),

    Q("q03_group_concat_dims", (s, dir) => {
      // A1 GROUP_CONCAT(DISTINCT) dim assembly (dim_games.sql:3-22 shape)
      T(s, dir, "nation")
        .join(T(s, dir, "customer"), col("n_nationkey") === col("c_nationkey"), "left")
        .groupBy(col("n_name"))
        .agg(
          Relational.groupConcatDistinct(col("c_mktsegment")).as("segments"),
          count(col("c_custkey")).as("n_customers"))
    }, Some("""
      SELECT n_name,
             string_agg(DISTINCT c_mktsegment, ',' ORDER BY c_mktsegment) AS segments,
             COUNT(c_custkey) AS n_customers
      FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
      GROUP BY n_name""")),

    // ---- 2.3 Joins -----------------------------------------------------------
    Q("q04_left_join_fill", (s, dir) => {
      // J3 left merge + F12 null defaulting (load_game_mysql.py:65 shape)
      val ordAgg = T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("cnt"), sum(col("o_totalprice").cast(DecimalType(18, 2))).as("total"))
      T(s, dir, "customer")
        .join(ordAgg, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("cnt"), lit(0L)).as("order_cnt"),
          coalesce(col("total"), lit(0).cast(DecimalType(18, 2))).cast("double").as("total_spent"))
    }, Some("""
      SELECT c_custkey, c_name, COALESCE(cnt, 0) AS order_cnt,
             CAST(COALESCE(total, CAST(0 AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
      FROM customer LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS cnt, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total
        FROM orders GROUP BY o_custkey) t ON c_custkey = o_custkey""")),

    Q("q05_full_outer_counts", (s, dir) => {
      // J4 outer merge + fillna (kafka_producer_info.py:13-28 shape)
      val c = T(s, dir, "customer").groupBy(col("c_nationkey").as("nk"))
        .agg(count(lit(1)).as("customers"))
      val sup = T(s, dir, "supplier").groupBy(col("s_nationkey").as("nk2"))
        .agg(count(lit(1)).as("suppliers"))
      c.join(sup, col("nk") === col("nk2"), "full_outer")
        .select(coalesce(col("nk"), col("nk2")).as("nationkey"),
          coalesce(col("customers"), lit(0L)).as("customers"),
          coalesce(col("suppliers"), lit(0L)).as("suppliers"))
    }, Some("""
      SELECT COALESCE(c.nk, s.nk) AS nationkey,
             COALESCE(c.customers, 0) AS customers,
             COALESCE(s.suppliers, 0) AS suppliers
      FROM (SELECT c_nationkey AS nk, COUNT(*) AS customers FROM customer GROUP BY c_nationkey) c
      FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS suppliers FROM supplier GROUP BY s_nationkey) s
      ON c.nk = s.nk""")),

    Q("q06_anti_join", (s, dir) =>
      // J5/J7 anti join: FK orphans / not-yet-processed
      T(s, dir, "customer")
        .join(T(s, dir, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name"),
      Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    Q("q07_semi_join", (s, dir) =>
      // J6 existence gate
      T(s, dir, "customer")
        .join(T(s, dir, "orders").select(col("o_custkey").as("c_custkey")), Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name"),
      Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""")),

    // ---- 2.2 Filters / projections ------------------------------------------
    Q("q08_filter_range", (s, dir) =>
      // P2 range predicates (stg_prices.sql:10-11) — pushed to parquet scan
      T(s, dir, "lineitem")
        .filter(col("l_quantity") >= 30 && col("l_discount") >= 0.05 && col("l_tax") >= 0)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
      Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
      WHERE l_quantity >= 30 AND l_discount >= 0.05 AND l_tax >= 0""")),

    Q("q09_filter_regex", (s, dir) =>
      // P5 regex exclusion (steam_crawl_more_info.py:55-60)
      T(s, dir, "part")
        .filter(col("p_partkey") > 0 && col("p_name").isNotNull &&
          !col("p_name").rlike("(?i)\\b(green|blue|red)\\b"))
        .select("p_partkey", "p_name"),
      Some("""
      SELECT p_partkey, p_name FROM part
      WHERE p_partkey > 0 AND p_name IS NOT NULL
        AND NOT regexp_matches(p_name, '(?i)\b(green|blue|red)\b')""")),

    Q("q10_project_cast", (s, dir) =>
      // P4 cast+rename projection; F6 epoch conversions (stg_reviews.sql:4-9)
      T(s, dir, "events").select(
        col("event_id"),
        col("user_id").cast("int").as("uid"),
        floor(col("ts").cast("double")).cast("long").as("epoch_s"),
        date_format(col("ts"), "ddMMyyyy").as("file_date"),
        col("event_type")),
      Some("""
      SELECT event_id, CAST(user_id AS INTEGER) AS uid,
             CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
             strftime(ts, '%d%m%Y') AS file_date, event_type
      FROM events""")),

    // ---- 2.7 Set ops ---------------------------------------------------------
    Q("q11_union_distinct", (s, dir) =>
      // U2/A6 set union of key sets
      T(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .union(T(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .distinct(),
      Some("""
      SELECT c_nationkey AS nationkey FROM customer
      UNION SELECT s_nationkey AS nationkey FROM supplier""")),

    Q("q12_except", (s, dir) =>
      // U3 set difference (remaining = all - processed)
      T(s, dir, "customer").select(col("c_custkey").as("custkey"))
        .except(T(s, dir, "orders").select(col("o_custkey").as("custkey"))),
      Some("""
      SELECT c_custkey AS custkey FROM customer
      EXCEPT SELECT o_custkey AS custkey FROM orders""")),

    // ---- 2.4/2.5 grouped + analytic ------------------------------------------
    Q("q13_having_dups", (s, dir) =>
      // A3 duplicate detection (assert_unique_game_id.sql)
      T(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("order_cnt")).filter(col("order_cnt") > 1),
      Some("""
      SELECT o_custkey, COUNT(*) AS order_cnt FROM orders
      GROUP BY o_custkey HAVING COUNT(*) > 1""")),

    Q("q14_distinct_keys", (s, dir) =>
      // A4 distinct key extraction
      T(s, dir, "customer").select(col("c_nationkey")).distinct(),
      Some("SELECT DISTINCT c_nationkey FROM customer")),

    Q("q15_window_count", (s, dir) =>
      // W1 COUNT(*) OVER (PARTITION BY ...) (fact_reviews.sql:9)
      T(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(Window.partitionBy(col("o_custkey"))).as("cust_order_count")),
      Some("""
      SELECT o_orderkey, o_custkey,
             COUNT(*) OVER (PARTITION BY o_custkey) AS cust_order_count
      FROM orders""")),

    Q("q16_dedup_keep_last", (s, dir) =>
      // W2 dedup keep-last with explicit order column (your_module.py:129)
      Relational.dedupKeepLast(T(s, dir, "lineitem"), Seq("l_orderkey"),
        Seq(col("l_linenumber"), col("l_quantity")))
        .select("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""
      SELECT l_orderkey, l_linenumber, l_quantity FROM (
        SELECT l_orderkey, l_linenumber, l_quantity,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber DESC, l_quantity DESC) AS rn
        FROM lineitem) t WHERE rn = 1""")),

    Q("q17_topn_per_key", (s, dir) =>
      // W3 top-N per key (review cap, steam_reviews_crawler:33)
      Relational.topNPerKey(T(s, dir, "lineitem"), Seq("l_orderkey"),
        Seq(col("l_extendedprice").desc, col("l_linenumber")), 3)
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "rn"),
      Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice, rn FROM (
        SELECT l_orderkey, l_linenumber, l_extendedprice,
               ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rn
        FROM lineitem) t WHERE rn <= 3""")),

    Q("q18_lag_change_detect", (s, dir) =>
      // W4/J9 previous-value comparison (kafka_consumer_prices.py:60-65)
      Relational.changedRows(T(s, dir, "events"), col("user_id"),
        Seq(col("ts"), col("event_id")), Seq(col("value")))
        .select("event_id", "user_id", "value", "prev_value"),
      Some("""
      SELECT event_id, user_id, value, prev_value FROM (
        SELECT event_id, user_id, value,
               LAG(value) OVER w AS prev_value, LAG(1) OVER w AS has_prev
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) t
      WHERE has_prev IS NOT NULL AND value IS DISTINCT FROM prev_value""")),

    Q("q19_global_topk", (s, dir) =>
      // T1 global top-k (steam-crawl-playercount.py:72-90, intent: sort+take 2000)
      T(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey")).limit(2000),
      Some("""
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2000""")),

    Q("q20_state_max_merge", (s, dir) =>
      // A5/ST1 crawl_state GREATEST-merge (kafka_consumer_reviews.py:69-73)
      Relational.maxMerge(T(s, dir, "events"), "user_id", "ts"),
      Some("SELECT user_id, MAX(ts) AS ts FROM events GROUP BY user_id")),

    // ---- 2.8 Scalar functions ------------------------------------------------
    Q("q21_money_roundtrip", (s, dir) => {
      // F1-F4: format_cents -> to_cents roundtrip + initial_price compute
      T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast(DecimalType(18, 2)) * 100).cast("long").as("cents"),
        round(col("l_discount") * 100, 0).cast("int").as("discount_pct"))
        .withColumn("price_str", MF.formatCents(col("cents")))
        .withColumn("parsed_cents", MF.toCents(col("price_str")))
        .withColumn("initial_cents", MF.initialPriceCents(col("parsed_cents"), col("discount_pct")))
        .select("l_orderkey", "l_linenumber", "price_str", "parsed_cents",
          "discount_pct", "initial_cents")
    }, Some("""
      WITH b AS (
        SELECT l_orderkey, l_linenumber,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               CAST(round(l_discount * 100, 0) AS INTEGER) AS discount_pct
        FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             printf('%d,%02d', cents // 100, cents % 100) AS price_str,
             cents AS parsed_cents, discount_pct,
             CASE WHEN cents <= 0 THEN 0
                  WHEN discount_pct <= 0 THEN cents
                  WHEN 1.0 - discount_pct / 100.0 <= 0 THEN cents
                  ELSE CAST(round_even(cents / (1.0 - discount_pct / 100.0), 0) AS BIGINT)
             END AS initial_cents
      FROM b""")),

    Q("q22_date_roundtrip", (s, dir) =>
      // F5: '1 Jan, 2020'-format parse with null-on-fail (transform_game.py:21)
      T(s, dir, "orders").select(col("o_orderkey"),
        date_format(col("o_orderdate"), "d MMM, yyyy").as("date_str"),
        to_date(date_format(col("o_orderdate"), "d MMM, yyyy"), "d MMM, yyyy").as("parsed_date")),
      Some("""
      SELECT o_orderkey, strftime(o_orderdate, '%-d %b, %Y') AS date_str,
             CAST(o_orderdate AS DATE) AS parsed_date
      FROM orders""")),

    Q("q23_strip_html", (s, dir) =>
      // F9 HTML strip (steam_crawl_info.py:41-61)
      T(s, dir, "documents").select(col("doc_id"),
        TF.stripHtml(concat(lit("<p>"), col("text"), lit("</p><br/>"))).as("clean_text")),
      Some("""
      SELECT doc_id,
             trim(regexp_replace(regexp_replace('<p>' || text || '</p><br/>',
                  '<[^>]+>', ' ', 'g'), '\s+', ' ', 'g')) AS clean_text
      FROM documents""")),

    Q("q24_clean_array_string", (s, dir) =>
      // F8/F10 stringified-list cleanup (transform_game.py:8-25)
      T(s, dir, "documents").select(col("doc_id"),
        TF.cleanArrayString(concat(lit("['"), col("lang"), lit("', '"), col("source"), lit("']")))
          .as("cleaned")),
      Some("SELECT doc_id, lang || ', ' || source AS cleaned FROM documents")),

    // ---- Text analysis (training-data pipeline) ------------------------------
    // q25/q26/q32 guard on non-empty text in BOTH engines: Spark's tokens()
    // yields [] for '' where DuckDB's regexp_split_to_array yields [''] — the
    // filter keeps the oracle robust if empty documents ever appear.
    Q("q25_token_stats", (s, dir) =>
      T(s, dir, "documents")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"),
        length(col("text")).cast("long").as("chars_measured"),
        TF.tokenCount(col("text")).as("n_tokens"),
        TF.preTokenCount(col("text")).as("n_pretokens"),
        round(TF.tokenCount(col("text")).cast("double") / length(col("text")), 6)
          .as("tokens_per_char")),
      Some("""
      SELECT doc_id, CAST(length(text) AS BIGINT) AS chars_measured,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pretokens,
             round(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS DOUBLE) / length(text), 6) AS tokens_per_char
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0""")),

    Q("q148_tokenizer_fertility", (s, dir) =>
      // tokenizer-eval view of the corpus: subwords-per-word (fertility) and
      // bytes-per-subword per source — the compression numbers a tokenizer
      // retrain is judged on. Sums are exact longs (order-free); each ratio
      // is ONE division of exact operands then round(6) (house rule). One
      // partial-agg shuffle keyed on source, group-count-bounded
      T(s, dir, "documents")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .groupBy("source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(octet_length(col("text")).cast("long")).as("total_bytes"),
          sum(TF.tokenCount(col("text"))).as("total_words"),
          sum(TF.preTokenCount(col("text"))).as("total_subwords"))
        .select(col("source"), col("n_docs"), col("total_bytes"),
          col("total_words"), col("total_subwords"),
          round(col("total_subwords").cast("double") / col("total_words"), 6)
            .as("fertility"),
          round(col("total_bytes").cast("double") / col("total_subwords"), 6)
            .as("bytes_per_subword")),
      Some("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
             CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_words,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS total_subwords,
             round(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS DOUBLE)
                   / SUM(len(regexp_split_to_array(trim(text), '\s+'))), 6) AS fertility,
             round(CAST(SUM(strlen(text)) AS DOUBLE)
                   / SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 6) AS bytes_per_subword
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
      GROUP BY source""")),

    Q("q26_quality_score", (s, dir) =>
      T(s, dir, "documents")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"),
        round(TF.punctRatio(col("text")), 6).as("punct_ratio"),
        round(TF.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        TF.qualityScore(col("text")).as("quality")),
      Some(s"""
      WITH t AS (
        SELECT doc_id, text,
               ${TextOracle.prawSql} AS praw,
               ${TextOracle.srawSql} AS sraw
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)
      SELECT doc_id, round(praw, 6) AS punct_ratio, round(sraw, 6) AS stopword_ratio,
             ${TextOracle.qualityFromRawSql} AS quality
      FROM t""")),

    Q("q27_langid", (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"), col("lang"),
        TF.langId(col("text")).as("lang_pred")),
      Some(TextOracle.langIdSql)),

    Q("q28_fingerprint", (s, dir) =>
      T(s, dir, "documents").select(col("doc_id"),
        TF.fingerprint(col("text")).as("fingerprint")),
      Some(s"""
      SELECT doc_id, md5(${TextOracle.normalizeSql("text")}) AS fingerprint
      FROM documents""")),

    // ---- Deduplication suite -------------------------------------------------
    Q("q29_dedup_exact", (s, dir) =>
      Dedup.exactGroups(T(s, dir, "documents"), "doc_id", "text"),
      Some("""
      SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
      FROM documents GROUP BY md5(text)""")),

    Q("q30_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text",
        shingleN = 2, threshold = 0.2),
      Some(TextOracle.jaccardSql(0.2))),

    Q("q31_minhash_lsh", (s, dir) =>
      Dedup.minhashLshCandidates(T(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, bandRows = 2, shingleN = 2),
      Some(TextOracle.minhashSql(numHashes = 8, bandRows = 2))),

    Q("q53_containment", (s, dir) => {
      // cross-corpus n-gram containment (benchmark decontamination): probe
      // side = every 10th doc, corpus = the rest
      val docs = T(s, dir, "documents")
      Dedup.containmentPairs(
        corpus = docs.filter(col("doc_id") % 10 =!= 0),
        probe = docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 2, threshold = 0.2)
    }, Some(TextOracle.containmentSql(0.2))),

    Q("q54_dedup_clusters", (s, dir) =>
      // near-dup pairs -> per-doc cluster labels (connected components by
      // min-label propagation; the keep-one-representative resolution step).
      // Shared materialization: q102/q118/q127 scan the same artifact.
      sharedClusterLabels(s, dir),
      Some(TextOracle.dedupClustersSql(numHashes = 8, bandRows = 2))),

    Q("q32_simhash", (s, dir) =>
      Dedup.simhash(T(s, dir, "documents"), "doc_id", "text", bits = 32),
      Some(TextOracle.simhashSql(32))),

    Q("q51_simhash_near_dup", (s, dir) =>
      // SimHash's lookup half: all pairs within hamming distance 3, via
      // lossless (maxHamming+1)-band candidate generation + popcount verify
      Dedup.simhashNearDupPairs(T(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, bits = 32),
      Some(TextOracle.simhashNearDupSql(bits = 32, maxHamming = 3))),

    // ---- Similarity search ---------------------------------------------------
    Q("q33_cosine_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qvec"))
      emb.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("cos", round(VF.cosine(col("embedding"), col("qvec")), 6))
        .select("vec_id", "cos")
        .orderBy(col("cos").desc, col("vec_id")).limit(10)
    }, Some(TextOracle.cosineTopkSql(10))),

    Q("q34_embedding_near_dup", (s, dir) =>
      Dedup.embeddingNearDupPairs(T(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4),
      Some(TextOracle.nearDupSql(0.4))),

    // LSH ANN + IVF assignment: the deterministic md5-derived hyperplanes are
    // reproducible in SQL (hex-nibble weights), so even these get exact oracles.
    Q("q35_ann_lsh_topk", (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      Similarity.lshTopK(emb, "vec_id", "embedding", qv, k = 10, numPlanes = 6)
    }, Some(TextOracle.lshTopkSql(k = 10, numPlanes = 6, dims = 64))),

    Q("q36_ivf_assign", (s, dir) =>
      Similarity.ivfAssign(T(s, dir, "embeddings"), "embedding",
        Similarity.hyperplanes(4, 64)).select("vec_id", "ivf_list"),
      Some(TextOracle.ivfAssignSql(nLists = 4, dims = 64))),

    Q("q52_ivf_topk", (s, dir) => {
      // IVF probing search: only the nprobe lists nearest the query are
      // scanned (completes the ANN triangle: brute q33, LSH q35, IVF here)
      val emb = T(s, dir, "embeddings")
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      Similarity.ivfTopK(emb.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        qv, k = 10, Similarity.hyperplanes(4, 64), nprobe = 2)
    }, Some(TextOracle.ivfTopkSql(k = 10, nLists = 4, dims = 64, nprobe = 2))),

    // ---- batch 3: remaining SURVEY §2 rows -----------------------------------
    Q("q37_staging_filter", (s, dir) =>
      // P1 staging projection + non-empty filter (stg_games.sql:3-14)
      T(s, dir, "customer")
        .filter(col("c_name").isNotNull && col("c_name") =!= "")
        .select("c_custkey", "c_name", "c_mktsegment"),
      Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE c_name IS NOT NULL AND c_name <> ''""")),

    Q("q38_type_dispatch_filter", (s, dir) =>
      // P6/P7/P8 type-dispatch + required-field validity filters
      T(s, dir, "events")
        .filter(col("event_type") === "purchase" &&
          col("user_id").isNotNull && col("value").isNotNull)
        .select("event_id", "user_id", "value"),
      Some("""
      SELECT event_id, user_id, value FROM events
      WHERE event_type = 'purchase' AND user_id IS NOT NULL AND value IS NOT NULL""")),

    Q("q39_nan_cleanup", (s, dir) =>
      // P9 sentinel-string -> NULL cleanup + F12 defaulting
      T(s, dir, "events").select(col("event_id"),
        when(col("event_type") === "error", lit(null).cast("string"))
          .otherwise(col("event_type")).as("clean_type"),
        coalesce(col("value"), lit(0.0)).as("value_filled")),
      Some("""
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS clean_type,
             COALESCE(value, 0.0) AS value_filled
      FROM events""")),

    Q("q40_dim_assembly_multijoin", (s, dir) => {
      // J1 multi-way dim assembly (dim_games.sql:13-21; TPC-H Q5 shape) —
      // dims broadcast, single shuffle keyed on the fact join key
      val li = T(s, dir, "lineitem")
      li.join(T(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(T(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(T(s, dir, "supplier")),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(T(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(T(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(dsum(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n_items"))
    }, Some("""
      SELECT r_name, n_name,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name""")),

    Q("q41_state_lookup_join", (s, dir) => {
      // J8 broadcast crawl-state lookup + only-newer filter
      // (kafka_producer_prices.py:46-59)
      val ev = T(s, dir, "events")
      val state = Relational.maxMerge(ev.filter(col("event_id") < 5000), "user_id", "ts")
        .withColumnRenamed("ts", "last_ts")
      ev.join(broadcast(state), Seq("user_id"), "left")
        .filter(col("last_ts").isNull || col("ts") > col("last_ts"))
        .select("event_id", "user_id")
    }, Some("""
      WITH state AS (
        SELECT user_id, MAX(ts) AS last_ts FROM events WHERE event_id < 5000 GROUP BY user_id)
      SELECT e.event_id, e.user_id FROM events e
      LEFT JOIN state s ON e.user_id = s.user_id
      WHERE s.last_ts IS NULL OR e.ts > s.last_ts""")),

    Q("q42_lookup_or_create", (s, dir) => {
      // J10 surrogate-key lookup-or-create (load_game_mysql.py:37-58),
      // deterministic dense ids instead of MySQL lastrowid
      val part = T(s, dir, "part")
      // fixture dim: global window is intentional and bounded (25 distinct
      // brands) — it mirrors the oracle's ROW_NUMBER() OVER (ORDER BY brand)
      // exactly; the operator under test (lookupOrCreate) assigns its ids via
      // distributed sort + zipWithIndex, no global window
      val dim = part.filter(col("p_partkey") <= 500).select(col("p_brand").as("brand")).distinct()
        .withColumn("brand_id", row_number().over(Window.orderBy(col("brand"))).cast("int"))
      val names = part.select(col("p_brand").as("brand"))
      Relational.lookupOrCreate(dim, "brand_id", "brand", names)
    }, Some("""
      WITH dim AS (
        SELECT brand, CAST(ROW_NUMBER() OVER (ORDER BY brand) AS INTEGER) AS brand_id
        FROM (SELECT DISTINCT p_brand AS brand FROM part WHERE p_partkey <= 500)),
      news AS (
        SELECT DISTINCT p_brand AS brand FROM part
        WHERE p_brand NOT IN (SELECT brand FROM dim)),
      created AS (
        SELECT brand,
               CAST((SELECT COALESCE(MAX(brand_id), 0) FROM dim)
                    + ROW_NUMBER() OVER (ORDER BY brand) AS INTEGER) AS brand_id
        FROM news)
      SELECT brand_id, brand FROM dim
      UNION ALL SELECT brand_id, brand FROM created""")),

    Q("q43_json_decode", (s, dir) =>
      // F11/S17 JSON message decode (from_json on the wire format)
      T(s, dir, "events").select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType))))
          .getField("k").as("k")),
      Some("""
      SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k FROM events""")),

    Q("q44_global_counts", (s, dir) =>
      // A7/A8 running counters / collection counts
      T(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey")).as("n_parts")),
      Some("""
      SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
             COUNT(DISTINCT l_partkey) AS n_parts
      FROM lineitem""")),

    Q("q46_asof_join", (s, dir) => {
      // J9 generalized as an as-of join operator (one shuffle, no join):
      // each purchase matched to the user's latest prior-or-equal click
      val ev = T(s, dir, "events")
      Relational.asofJoin(
        left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        right = ev.filter(col("event_type") === "click"),
        key = "user_id", leftTs = "ts", rightTs = "ts",
        rightPayload = Seq("event_id", "value"))
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("last_click_id"),
          col("asof_value").as("last_click_value"))
    }, Some("""
      SELECT p.event_id, p.user_id, c.event_id AS last_click_id,
             c.value AS last_click_value
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND c.ts <= p.ts""")),

    Q("q47_time_bucket_agg", (s, dir) =>
      // batch form of the streaming tumbling-window aggregate (extension —
      // the reference has no event-time windows, SURVEY §2.9)
      T(s, dir, "events")
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total")),
      Some("""
      SELECT user_id, date_trunc('hour', ts) AS hour, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM events GROUP BY user_id, date_trunc('hour', ts)""")),

    Q("q48_rollup", (s, dir) =>
      // hierarchical subtotals (OLAP extension noted in SURVEY §2.4 as
      // trivially exposable; exposed and oracle-checked here)
      T(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    Q("q49_pivot_segments", (s, dir) => {
      // pivot via conditional aggregation (deterministic fixed column set)
      val seg = (name: String) =>
        count(when(col("c_mktsegment") === name, 1)).as(name.toLowerCase)
      T(s, dir, "customer").groupBy(col("c_nationkey"))
        .agg(seg("AUTOMOBILE"), seg("BUILDING"), seg("FURNITURE"),
          seg("HOUSEHOLD"), seg("MACHINERY"))
    }, Some("""
      SELECT c_nationkey,
             COUNT(*) FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS automobile,
             COUNT(*) FILTER (WHERE c_mktsegment = 'BUILDING') AS building,
             COUNT(*) FILTER (WHERE c_mktsegment = 'FURNITURE') AS furniture,
             COUNT(*) FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS household,
             COUNT(*) FILTER (WHERE c_mktsegment = 'MACHINERY') AS machinery
      FROM customer GROUP BY c_nationkey""")),

    Q("q50_sessionize", (s, dir) => {
      // gaps-and-islands sessionization (batch twin of the streaming
      // session_window): new session when the gap to the previous event of
      // the same user exceeds 30 minutes; per-session metrics
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val cum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .withColumn("new_session",
          when(col("ts").cast("long") - lag(col("ts"), 1).over(w).cast("long") > 1800, 1)
            .otherwise(when(lag(col("ts"), 1).over(w).isNull, 1).otherwise(0)))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("session_value"))
    }, Some("""
      WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                    WHEN CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800 THEN 1
                    ELSE 0 END AS new_session
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sessions AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM marked)
      SELECT user_id, session_id, COUNT(*) AS n_events,
             MIN(ts) AS session_start, MAX(ts) AS session_end,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
      FROM sessions GROUP BY user_id, session_id""")),

    Q("q55_range_join", (s, dir) => {
      // bucketized range join (equi-join on bucket + residual predicate, not
      // a nested-loop theta join); overlapping account-balance bands derived
      // from nation so a customer can match up to 3 ranges
      val ranges = T(s, dir, "nation").select(col("n_nationkey").as("range_id"),
        (col("n_nationkey") * 450.0 - 1000.0).as("lo"),
        (col("n_nationkey") * 450.0 + 350.0).as("hi"))
      Relational.rangeJoin(T(s, dir, "customer"), "c_acctbal",
        ranges, "lo", "hi", bucketWidth = 500.0)
        .groupBy("range_id")
        .agg(count(lit(1)).as("n"), dsum(col("c_acctbal")).as("bal_sum"))
    }, Some("""
      WITH r AS (
        SELECT n_nationkey AS range_id, n_nationkey * 450.0 - 1000.0 AS lo,
               n_nationkey * 450.0 + 350.0 AS hi
        FROM nation)
      SELECT range_id, COUNT(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
      FROM customer JOIN r ON c_acctbal >= lo AND c_acctbal < hi
      GROUP BY range_id""")),

    Q("q56_cube", (s, dir) =>
      // full cube subtotals (q48's rollup sibling; OLAP extension)
      T(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n")),
      Some("""
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""")),

    Q("q57_sliding_frame", (s, dir) => {
      // rows-frame sliding aggregate (trailing 4-event sum/count per user) —
      // the window-frame surface beyond plain partition windows; exact
      // decimal arithmetic keeps the rolling sums engine-identical
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-3, Window.currentRow)
      T(s, dir, "events").select(col("event_id"), col("user_id"),
        sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double").as("roll_sum"),
        count(col("value")).over(w).as("roll_n"))
    }, Some("""
      SELECT event_id, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS roll_sum,
             COUNT(value) OVER w AS roll_n
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""")),

    Q("q58_percentile_disc", (s, dir) =>
      // discrete percentiles (ANSI smallest-value-with-cume_dist>=p picks an
      // ACTUAL element — no interpolation arithmetic to diverge between
      // engines, unlike percentile_cont)
      T(s, dir, "events").groupBy(col("user_id"))
        .agg(
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("p95"),
          count(col("value")).as("n_vals")),
      Some("""
      SELECT user_id, quantile_disc(value, 0.5) AS p50,
             quantile_disc(value, 0.95) AS p95, COUNT(value) AS n_vals
      FROM events GROUP BY user_id""")),

    Q("q59_hash_split", (s, dir) =>
      // deterministic 90/8/2 corpus split by id hash — stable under corpus
      // growth and across engines, unlike randomSplit
      T(s, dir, "documents").select(col("doc_id"),
        graft.operators.Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 90, "val" -> 8, "test" -> 2)).as("split")),
      Some(s"""
      SELECT doc_id,
             ${TextOracle.splitCaseSql("doc_id", Seq("train" -> 90, "val" -> 8, "test" -> 2))} AS split
      FROM documents""")),

    Q("q60_token_packing", (s, dir) =>
      // per-shard contiguous context-window packing (8 shards, 512-token
      // budget): one partitioned window, no global sort
      graft.operators.Sampling.contiguousBins(
        T(s, dir, "documents"), "doc_id", "text", shards = 8, tokenBudget = 512),
      Some("""
      WITH t AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
               CAST(CASE WHEN text IS NULL OR trim(text) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        FROM documents)
      SELECT doc_id, shard, n_tokens,
             CAST((SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                       ROWS UNBOUNDED PRECEDING) - n_tokens) // 512 AS BIGINT) AS bin
      FROM t""")),

    Q("q61_time_range_frame", (s, dir) => {
      // RANGE frame over event time: trailing-hour sum per user — time-based,
      // not row-based, so sparse and bursty users both get true 1 h windows
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-3600L, Window.currentRow)
      T(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          floor(col("ts").cast("double")).cast("long").as("epoch_s"),
          col("value"))
        .withColumn("hour_sum",
          sum(col("value").cast(DecimalType(18, 2))).over(w).cast("double"))
        .withColumn("hour_n", count(col("value")).over(w))
        .select("event_id", "user_id", "hour_sum", "hour_n")
    }, Some("""
      SELECT event_id, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS hour_sum,
             COUNT(value) OVER w AS hour_n
      FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s, value
            FROM events)
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_s
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""")),

    Q("q62_edit_verify", (s, dir) => {
      // fuzzy-dedup verification: LSH candidate pairs re-checked by BOUNDED
      // edit distance over normalized 64-char prefixes (bounding makes the
      // O(len^2) DP constant-cost per pair — the standard trick that keeps
      // edit-distance verify viable over web-scale candidate sets)
      val docs = T(s, dir, "documents")
      val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        numHashes = 8, bandRows = 2, shingleN = 2)
      val norm = docs.select(col("doc_id"),
        substring(TF.normalizeText(col("text")), 1, 64).as("prefix"))
      cand
        .join(norm.toDF("doc_a", "prefix_a"), "doc_a")
        .join(norm.toDF("doc_b", "prefix_b"), "doc_b")
        // the thresholded form runs the BANDED DP (O(maxDist*len) per pair,
        // -1 when the distance exceeds the bound) — ~8x less work per
        // candidate than the full O(len^2) table at maxDist=8, len=64
        .withColumn("edit_dist", levenshtein(col("prefix_a"), col("prefix_b"), 8))
        .filter(col("edit_dist") >= 0)
        .select("doc_a", "doc_b", "edit_dist")
    }, Some(TextOracle.editVerifySql(numHashes = 8, bandRows = 2,
      prefixLen = 64, maxDist = 8))),

    Q("q63_clean_corpus", (s, dir) => {
      // the composed LLM-data cleaning pass: exact-dedup keep-first ∧
      // predicted-English ∧ quality threshold — every stage individually
      // oracle-verified (q29/q27/q26), here verified END TO END
      val docs = T(s, dir, "documents")
      val keep = Dedup.exactGroups(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      docs.join(keep, Seq("doc_id"), "left_semi")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .filter(TF.langId(col("text")) === "en")
        .filter(TF.qualityScore(col("text")) >= 0.5)
        .select("doc_id", "lang", "source")
    }, Some(TextOracle.cleanCorpusSql(0.5))),

    Q("q64_repetition", (s, dir) =>
      // Gopher-style repetition filter signal: duplicate word-bigram fraction
      // per doc — high scores flag templated/boilerplate text before training
      graft.operators.TextStats.repetitionStats(
        T(s, dir, "documents"), "doc_id", "text", shingleN = 2),
      Some(TextOracle.repetitionSql)),

    Q("q65_pii_scan", (s, dir) => {
      // PII scan + redaction. The synthetic corpus has no PII, so scan text
      // plus a deterministic doc_id-derived contact tail on a subset of rows
      // (positives and negatives both occur); the regex layer is generic
      val ct = concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad(pmod(col("doc_id") * 7, lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit("")))
      T(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          TF.piiCount(ct, TF.emailPattern).as("n_email"),
          TF.piiCount(ct, TF.phonePattern).as("n_phone"),
          md5(TF.redactPii(ct)).as("red_hash"))
    }, Some(TextOracle.piiSql)),

    Q("q66_tfidf_topk", (s, dir) =>
      graft.operators.TextStats.tfidfTopK(T(s, dir, "documents"), "doc_id", "text", k = 3),
      Some(TextOracle.tfidfSql(3))),

    Q("q67_bm25", (s, dir) =>
      graft.operators.TextStats.bm25(T(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "query", "merge")),
      Some(TextOracle.bm25Sql(Seq("spark", "query", "merge"), k1 = 1.2, b = 0.75))),

    Q("q68_chunk_overlap", (s, dir) =>
      // overlapping context-window chunking: 64-token windows every 48 tokens
      graft.operators.TextStats.chunkTokens(T(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, stride = 48),
      Some(TextOracle.chunkSql(chunkSize = 64, stride = 48))),

    Q("q69_stratified_sample", (s, dir) =>
      // per-language top-20% by quality score — integer-exact cut, no RNG
      graft.operators.Sampling.stratifiedTopFrac(
        T(s, dir, "documents")
          .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
          .select(col("doc_id"), col("lang"), TF.qualityScore(col("text")).as("quality")),
        "lang", col("quality"), "doc_id", num = 1, den = 5),
      Some(TextOracle.stratifiedSampleSql(1, 5))),

    Q("q70_rolling_hash", (s, dir) =>
      // order-sensitive Rabin-Karp fingerprint (the set fingerprints q28/q32
      // can't distinguish token reorderings; this one does)
      graft.operators.TextStats.rollingHash(T(s, dir, "documents"), "doc_id", "text"),
      Some(TextOracle.rollingHashSql(base = 31L, mod = 1000000007L))),

    Q("q71_pq_assign", (s, dir) =>
      // product-quantization codes: 64-dim float -> 4 subspace centroid ids
      Similarity.pqAssign(T(s, dir, "embeddings"), "embedding",
        Similarity.pqCodebooks(numSub = 4, ksub = 8, subDims = 16))
        .select("vec_id", "code0", "code1", "code2", "code3"),
      Some(TextOracle.pqAssignSql(numSub = 4, ksub = 8, subDims = 16))),

    Q("q72_kmeans", (s, dir) =>
      // two deterministic Lloyd rounds (semantic-dedup / codebook training);
      // engine-exact via LTR distance folds + decimal centroid means
      graft.operators.Clustering.kmeansLloyd(T(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2),
      Some(TextOracle.kmeansSql(k = 4, iters = 2, dims = 64))),

    Q("q73_semantic_dedup", (s, dir) =>
      // SemDeDup (Abbas et al. 2023): k-means blocks, exact cosine pairs
      // WITHIN a cluster only. k is NOT pinned — Clustering.autoK derives it
      // from the corpus (target cluster size 125 → k=4 at sf0.01, 16 at
      // sf0.1, 160 at sf1), so pair work stays LINEAR instead of O(N²/k);
      // the oracle computes the identical k from count(*)
      graft.operators.Dedup.semanticDedup(T(s, dir, "embeddings"),
        "vec_id", "embedding", threshold = 0.4, iters = 2,
        targetClusterSize = 125, kMin = 4),
      Some(TextOracle.semanticDedupAutoKSql(targetClusterSize = 125, kMin = 4,
        iters = 2, dims = 64, threshold = 0.4))),

    Q("q74_ngram_vocab", (s, dir) =>
      // corpus-wide vocabulary mining: most frequent word bigrams. Hot grams
      // collapse in the map-side partial agg; the global top-k is a
      // TakeOrderedAndProject, never a full sort of the vocabulary
      T(s, dir, "documents")
        .select(explode(TF.shinglesAll(col("text"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(100),
      Some(TextOracle.ngramVocabSql(limit = 100))),

    Q("q75_training_pipeline", (s, dir) => {
      // the WHOLE training-data pipeline as one verified query:
      // clean (lang ∧ quality) → exact dedup ∧ LSH near-dup clusters, keep
      // min-id rep → overlapping chunking → growth-stable split. The exact
      // stage is NOT subsumed by LSH: docs with < shingleN tokens emit no
      // shingles and never band, so identical short docs need the md5 pass.
      // Stage queries: q63/q29/q31/q54/q68/q59
      val docs = T(s, dir, "documents")
      val clean = docs
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .filter(TF.langId(col("text")) === "en")
        .filter(TF.qualityScore(col("text")) >= 0.5)
        .select("doc_id", "text")
        // clean feeds the LSH signature build (materialized by the cluster
        // loop) AND the reps join — persist so the langid/quality expression
        // chain runs once, not twice (callers reclaim via clearCache)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exactKeep = Dedup.exactGroups(clean, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val labels = Dedup.resolveClusters(
        Dedup.minhashLshCandidates(clean, "doc_id", "text",
          numHashes = 8, bandRows = 2, shingleN = 2), "doc_a", "doc_b")
      val reps = clean
        .join(exactKeep, Seq("doc_id"), "left_semi")
        .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
        .select("doc_id", "text")
      graft.operators.TextStats.chunkTokens(reps, "doc_id", "text",
        chunkSize = 64, stride = 48)
        .withColumn("split", graft.operators.Sampling.hashSplit(col("doc_id"),
          Seq("train" -> 90, "val" -> 8, "test" -> 2)))
    }, Some(TextOracle.trainingPipelineSql(minQuality = 0.5,
      chunkSize = 64, stride = 48, numHashes = 8, bandRows = 2,
      cuts = Seq("train" -> 90, "val" -> 8, "test" -> 2)))),

    Q("q76_dup_spans", (s, dir) =>
      // cross-doc duplicated 8-token windows (Lee et al. 2021 exact-substring
      // signal) — catches partial copies that whole-doc dedup (q28/q29) and
      // set-similarity (q30/q31) miss
      graft.operators.TextStats.dupSpans(T(s, dir, "documents"), "doc_id", "text", k = 8),
      Some(TextOracle.dupSpansSql(k = 8))),

    Q("q77_unigram_nll", (s, dir) =>
      // CCNet-style LM quality scoring with the corpus's own unigram model
      // (no external LM ships here; swapping pretrained probs is a join swap)
      graft.operators.TextStats.unigramNll(T(s, dir, "documents"), "doc_id", "text"),
      Some(TextOracle.unigramNllSql)),

    Q("q78_int8_quant", (s, dir) =>
      // scalar int8 embedding compression + exact reconstruction error;
      // per-dim stats are a dims-row shuffle + 1-row broadcast, encode is a
      // pure scan expression — no corpus shuffle at any scale
      Similarity.int8Quantize(T(s, dir, "embeddings"), "vec_id", "embedding"),
      Some(TextOracle.int8QuantizeSql(dims = 64))),

    Q("q79_mixture_balance", (s, dir) =>
      // deterministic source-mixture balancing (Pile-style data mixing):
      // heavy half of the sources to 8% each, tail half to 2% each
      graft.operators.Sampling.mixtureBalance(
        T(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", SparkEntry.mixtureWeights)
        .select("doc_id", "source"),
      Some(TextOracle.mixtureBalanceSql(SparkEntry.mixtureWeights))),

    Q("q80_gopher_rules", (s, dir) =>
      // Gopher rule suite (Rae et al. 2021 table A1), each rule as its own
      // auditable 0/1 flag + the conjunction; all codegen'd, no shuffle
      graft.operators.TextStats.gopherRules(T(s, dir, "documents"), "doc_id", "text",
        minWords = 20, maxWords = 1000),
      Some(TextOracle.gopherRulesSql(minWords = 20, maxWords = 1000))),

    Q("q82_dedup_spans", (s, dir) =>
      // the transform half of q76: drop non-canonical duplicated 8-token
      // spans and rebuild the text (Lee et al. keep-one-occurrence dedup)
      graft.operators.TextStats.removeDupSpans(T(s, dir, "documents"), "doc_id", "text", k = 8),
      Some(TextOracle.removeDupSpansSql(k = 8))),

    Q("q81_dsir_weights", (s, dir) =>
      // DSIR data-selection weights: target = the English slice; feature
      // space is hashed (8191 buckets) so the count table broadcasts at any
      // corpus size — the scale-robust sibling of q77's open-vocab join
      graft.operators.TextStats.dsirWeights(T(s, dir, "documents"), "doc_id", "text",
        targetFilter = col("lang") === "en", buckets = 8191),
      Some(TextOracle.dsirWeightsSql(targetLang = "en", buckets = 8191))),

    Q("q83_knn_join", (s, dir) => {
      // batch kNN join (hard-negative mining / retrieval): every 25th vector
      // is a probe; per-probe top-5 over the whole corpus via the bounded
      // map-side-combining heap — the corpus is scanned once, never shuffled
      val emb = T(s, dir, "embeddings")
      Similarity.knnJoin(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
        k = 5, excludeSelf = true)
    }, Some(TextOracle.knnJoinSql(k = 5, probeMod = 25))),

    Q("q85_incremental_lsh", (s, dir) => {
      // daily-ingest dedup: batch (every 10th doc) vs the stored LSH index
      // of the rest + within-batch pairs — corpus signatures NOT recomputed
      val docs = T(s, dir, "documents")
      val index = Dedup.lshBands(docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", numHashes = 8, bandRows = 2, shingleN = 2)
      Dedup.incrementalLshCandidates(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", index, numHashes = 8, bandRows = 2, shingleN = 2)
    }, Some(TextOracle.incrementalMinhashSql(numHashes = 8, bandRows = 2, mod = 10))),

    Q("q86_incremental_keep", (s, dir) => {
      // the ingest decision on q85's candidates: batch docs that survive —
      // corpus near-dups always drop, within-batch dups keep the min id
      val docs = T(s, dir, "documents")
      val index = Dedup.lshBands(docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", numHashes = 8, bandRows = 2, shingleN = 2)
      Dedup.incrementalKeep(docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", index, numHashes = 8, bandRows = 2, shingleN = 2)
        .select("doc_id")
    }, Some(TextOracle.incrementalKeepSql(numHashes = 8, bandRows = 2, mod = 10))),

    Q("q90_decontaminate", (s, dir) => {
      // the decontamination TRANSFORM (q53 is the report): drop every
      // training doc containing any benchmark doc above threshold — one
      // anti-join on the flagged ids, corpus scanned once more
      val docs = T(s, dir, "documents")
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val flagged = Dedup.containmentPairs(
        corpus = corpus, probe = docs.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 2, threshold = 0.2)
        .select(col("corpus_id").as("doc_id")).distinct()
      corpus.join(flagged, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    }, Some(TextOracle.decontaminateSql(0.2))),

    Q("q145_decontaminate_serve", (s, dir) => {
      // the decontamination SERVING shape next to q90's eval-contract form:
      // a real benchmark set is bounded by construction (an eval suite, not
      // a corpus fraction), so the probe side here is the CONSTANT 64
      // smallest doc_ids (TakeOrdered) and per-decade cost is linear in the
      // corpus — the slope a decontamination deployment actually pays.
      // Same adaptive bitmap/inverted-index containment core as q90
      val docs = T(s, dir, "documents")
      // pinned for the same reason as the vector serves' probe batch: bench
      // is 64 rows but backs the corpus anti-join (re-evaluated inside every
      // corpus reference below) AND the containment probe side — un-pinned,
      // each evaluation re-runs the corpus TakeOrdered cut
      val bench = docs.orderBy(col("doc_id")).limit(64).select("doc_id", "text")
        .localCheckpoint(true)
      val corpus = docs.join(bench.select("doc_id"), Seq("doc_id"), "left_anti")
      val flagged = Dedup.containmentPairs(
        corpus = corpus, probe = bench,
        "doc_id", "text", shingleN = 2, threshold = 0.2)
        .select(col("corpus_id").as("doc_id")).distinct()
      corpus.join(flagged, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source")
    }, Some(TextOracle.decontaminateServeSql(threshold = 0.2, nProbes = 64))),

    Q("q89_weighted_sample", (s, dir) =>
      // quality-weighted corpus subsampling: inclusion probability
      // proportional to doc length, expectation ~500 docs. Pure IEEE
      // arithmetic on an md5 coin — no pow/ln whose libm rounding diverges
      graft.operators.Sampling.weightedSample(
        T(s, dir, "documents").select("doc_id", "n_chars"),
        "doc_id", col("n_chars"), targetK = 500),
      Some("""
      WITH tot AS (
        SELECT CAST(SUM(CAST(n_chars AS DECIMAL(38,18))) AS DOUBLE) AS W
        FROM documents WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0)
      SELECT doc_id, n_chars
      FROM documents, tot
      WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
        AND CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
            < LEAST(1.0, (500.0 * CAST(n_chars AS DOUBLE)) / W) * 4294967296.0""")),

    Q("q88_lsh_quality", (s, dir) =>
      // the banding-tuning measurement: LSH candidate precision/recall vs
      // exact-Jaccard truth — run on a sample before a full corpus pass
      // gate is env-overridable so a benchmark scale-up raises the exact-pairs
      // cap deliberately instead of hard-failing the whole sweep; the
      // deterministic sampleFrac path stays available for true corpus scale
      Dedup.lshQualityReport(T(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, bandRows = 2, shingleN = 2, threshold = 0.2,
        maxExactRows = sys.env.get("GRAFT_LSH_MAX_EXACT")
          .map(_.toLong).getOrElse(100000L)),
      Some(TextOracle.lshQualitySql(numHashes = 8, bandRows = 2, threshold = 0.2))),

    Q("q146_lsh_tuning_serve", (s, dir) => {
      // q88 with the documented 100 TB sampling POLICY applied: the tuning
      // measurement needs a constant-SIZE sample (q88's fixed fraction makes
      // the exact-truth half grow ~sf² with the corpus). The md5-coin cutoff
      // derives from the corpus count by integer arithmetic mirrored in the
      // oracle, so both engines draw the identical subset at any sf; work
      // per decade is then ~flat — the cost a recurring tuning run actually
      // pays. The count() probe prices like the other dispatch probes.
      val docs = T(s, dir, "documents")
      val n = docs.count()
      val target = 3000L
      val cutoff = math.min(1000000L, (target * 1000000L) / math.max(n, 1L))
      val sampled = docs.filter(
        pmod(TF.md5Prefix32(col("doc_id").cast("string")), lit(1000000L)) < lit(cutoff))
      Dedup.lshQualityReport(sampled, "doc_id", "text",
        numHashes = 8, bandRows = 2, shingleN = 2, threshold = 0.2,
        maxExactRows = 100000L)
    }, Some(TextOracle.lshQualityServeSql(numHashes = 8, bandRows = 2,
      threshold = 0.2, targetRows = 3000L))),

    Q("q87_data_card", (s, dir) => {
      // the per-source corpus report every curation run publishes: volume,
      // token mass, length distribution (DISCRETE percentiles — actual
      // elements, engine-divergence-free), language spread. One partial-agg
      // shuffle keyed on source; group count bounds shuffle volume
      val docs = T(s, dir, "documents")
      // percentile_disc selects an actual element but widens to double; cast
      // back to the column's own type (exact — the value IS an input) so the
      // schema matches DuckDB's type-preserving quantile_disc (house rule
      // established by Sampling.madOutliers / q132)
      val charsType = docs.schema("n_chars").dataType
      docs
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          // empty/null text counts 0 tokens on BOTH sides (DuckDB's split of
          // '' yields [''], so the guard must live in the SQL too)
          sum(when(col("text").isNotNull && length(trim(col("text"))) > 0,
            TF.tokenCount(col("text"))).otherwise(lit(0L))).as("total_tokens"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
            .cast(charsType).as("p50_chars"),
          expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)")
            .cast(charsType).as("p95_chars"),
          countDistinct(col("lang")).as("n_langs"))
    },
      Some("""
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
                 THEN CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS total_tokens,
             quantile_disc(n_chars, 0.5) AS p50_chars,
             quantile_disc(n_chars, 0.95) AS p95_chars,
             COUNT(DISTINCT lang) AS n_langs
      FROM documents GROUP BY source""")),

    Q("q84_ivf_knn_join", (s, dir) => {
      // IVF-blocked batch kNN join: candidates restricted to the probe's own
      // coarse list (nprobe=1) — the blocked/approximate twin of q83
      val emb = T(s, dir, "embeddings")
      Similarity.ivfKnnJoin(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding",
        k = 5, Similarity.hyperplanes(4, 64), excludeSelf = true)
    }, Some(TextOracle.ivfKnnJoinSql(k = 5, nLists = 4, dims = 64, probeMod = 25))),

    Q("q91_salted_join", (s, dir) => {
      // skew-mitigated join: the hot-key straggler killer at 100 TB. The
      // large side scatters each supp key over 8 salts, supplier replicates
      // 8x; the oracle is the PLAIN join — salting must be plan-only
      Relational.saltedJoin(
        T(s, dir, "lineitem"), T(s, dir, "supplier"),
        largeKey = "l_suppkey", smallKey = "s_suppkey",
        scatterBy = xxhash64(col("l_orderkey"), col("l_linenumber")), salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(dsum(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
    }, Some("""
      SELECT s_nationkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             COUNT(*) AS n_items
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      GROUP BY s_nationkey""")),

    Q("q92_semantic_decontaminate", (s, dir) => {
      // q90's semantic twin: drop corpus vectors within cosine 0.35 of any
      // benchmark vector — catches paraphrased leakage n-gram overlap misses
      val emb = T(s, dir, "embeddings")
      Dedup.semanticDecontaminate(
        corpus = emb.filter(col("vec_id") % 20 =!= 0),
        benchmark = emb.filter(col("vec_id") % 20 === 0),
        "vec_id", "embedding", threshold = 0.35)
        .select("vec_id", "label")
    }, Some(TextOracle.semanticDecontaminateSql(threshold = 0.35, mod = 20))),

    Q("q93_block_dedup", (s, dir) =>
      // paragraph-level dedup with doc rebuild (RefinedWeb-style), at fixed
      // 8-token block granularity since the corpus has no paragraph breaks
      Dedup.blockDedup(T(s, dir, "documents"), "doc_id", "text", blockWords = 8),
      Some("""
      WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      blocks AS (
        SELECT doc_id, blk, array_to_string(ws[(blk*8+1):(blk*8+8)], ' ') AS block
        FROM (SELECT doc_id, ws,
                     unnest(range(0, CAST(ceil(len(ws) / 8.0) AS BIGINT))) AS blk
              FROM words)),
      canon AS (
        SELECT doc_id, blk, block,
               row_number() OVER (PARTITION BY block ORDER BY doc_id, blk) AS rn
        FROM blocks)
      SELECT doc_id, string_agg(block, ' ' ORDER BY blk) AS text_dedup
      FROM canon WHERE rn = 1 GROUP BY doc_id""")),

    Q("q94_blocklist_filter", (s, dir) =>
      // C4-style bad-word page drop: the list rides the plan as a literal —
      // one codegen'd scan, no shuffle ('nsfw' shows absent terms are inert)
      graft.operators.TextStats.blocklistFilter(
        T(s, dir, "documents"), "text", blocked = Seq("dup", "nsfw"))
        .select("doc_id", "source"),
      Some("""
      SELECT doc_id, source FROM documents
      WHERE NOT list_has_any(
        CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[])
             ELSE regexp_split_to_array(trim(text), '\s+') END,
        ['dup', 'nsfw'])""")),

    Q("q95_rank_suite", (s, dir) => {
      // the analytic ranking family beyond row_number: percent_rank /
      // cume_dist / ntile, one exchange on the partition key, total order
      // (price, key) so every rank is engine-exact
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      T(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"),
        ntile(4).over(w).as("quartile"))
    }, Some("""
      SELECT o_orderkey, o_orderstatus,
             round(percent_rank() OVER w, 6) AS pr,
             round(cume_dist() OVER w, 6) AS cd,
             CAST(ntile(4) OVER w AS INT) AS quartile
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""")),

    Q("q96_random_projection", (s, dir) => {
      // JL dim reduction 64->16 with a deterministic ±1 sign matrix: the
      // scale lever for every embedding op (4x fewer dot flops and shuffle
      // bytes, distances preserved within (1±ε)). One exchange-free scan.
      // The operator keeps ArrayType for composition; the REGISTERED query
      // flattens to scalar c0..c15 so the driver's checker can hash it
      val proj = Similarity.randomProjection(T(s, dir, "embeddings"),
        "vec_id", "embedding", outDims = 16, dims = 64)
      proj.select(col("vec_id") +:
        (0 until 16).map(i => col("proj")(i).as(s"c$i")): _*)
    }, Some(TextOracle.randomProjectionSql(outDims = 16, dims = 64))),

    Q("q97_ann_recall", (s, dir) => {
      // the measurement every ANN deployment needs before trusting q84 over
      // q83: recall@k of the IVF-blocked join vs brute-force truth, one row.
      // hits/truth is one exact-integer division — engine-identical double
      val emb = T(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 25 === 0)
      val truth = Similarity.knnJoin(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, excludeSelf = true)
        .select("probe_id", "neighbor_id")
      val approx = Similarity.ivfKnnJoin(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5,
        Similarity.hyperplanes(4, 64), excludeSelf = true)
        .select("probe_id", "neighbor_id").withColumn("__hit", lit(1))
      truth.join(approx, Seq("probe_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("__hit"), lit(0))).cast("long").as("total_hits"))
        .withColumn("recall",
          round(col("total_hits").cast("double") / col("n_truth"), 6))
    }, Some(TextOracle.annRecallSql(k = 5, nLists = 4, dims = 64, probeMod = 25))),

    Q("q98_zorder", (s, dir) =>
      // Morton z-value: the two-dimensional layout key behind OPTIMIZE
      // ZORDER — written range-partitioned on z, min/max file stats prune
      // scans filtered by EITHER part or supplier. Value math is oracled
      // here; the layout half (range exchange + in-partition sort) is
      // plan-pinned in LayoutSpec
      T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        graft.operators.Layout.zValue2(col("l_partkey"), col("l_suppkey"), 16)
          .as("z")),
      Some(TextOracle.zorderSql(16))),

    Q("q99_countmin", (s, dir) =>
      // engine-reproducible Count-Min: per-token truth vs min-over-rows
      // estimate — the CMS guarantee (est >= true) lands in the data. The
      // shuffle carries d·w sketch cells, never token rows
      graft.operators.DeterministicSketches.countMinReport(
        T(s, dir, "documents"), "text", depth = 4, width = 64),
      Some(TextOracle.countMinSql(depth = 4, width = 64))),

    Q("q100_hll", (s, dir) =>
      // engine-reproducible HyperLogLog on l_partkey: 64 md5-derived
      // registers, integer rank cascade (no log2), exact-in-doubles
      // indicator sum — estimate and exact count side by side
      graft.operators.DeterministicSketches.hllReport(
        T(s, dir, "lineitem"), "l_partkey", m = 64),
      Some(TextOracle.hllSql(m = 64))),

    Q("q101_unpivot", (s, dir) =>
      // UNPIVOT/melt — the inverse of q49's pivot and pandas' other
      // reshape staple: wide metric columns to (key, metric, value) rows.
      // Narrow exchange-free scan; output rows = rows x metrics by design
      T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity").cast("double").as("quantity"),
          col("l_extendedprice").cast("double").as("extendedprice"),
          col("l_discount").cast("double").as("discount"))
        .unpivot(
          ids = Array(col("l_orderkey"), col("l_linenumber")),
          values = Array(col("quantity"), col("extendedprice"), col("discount")),
          variableColumnName = "metric", valueColumnName = "value"),
      Some("""
      SELECT l_orderkey, l_linenumber, 'quantity' AS metric,
             CAST(l_quantity AS DOUBLE) AS value FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'extendedprice',
             CAST(l_extendedprice AS DOUBLE) FROM lineitem
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'discount',
             CAST(l_discount AS DOUBLE) FROM lineitem""")),

    // ---- Curation & retrieval, continued ------------------------------------

    Q("q102_best_per_cluster", (s, dir) => {
      // duplicate-cluster resolution the way production pipelines run it:
      // per near-dup cluster keep the BEST-quality capture, not the smallest
      // id — q54 labels the clusters, this picks the representative
      val docs = T(s, dir, "documents")
      val scored = docs
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), TF.qualityScore(col("text")).as("score"))
      Dedup.bestPerClusterFromLabels(scored, "doc_id", "score",
        sharedClusterLabels(s, dir))
    }, Some(TextOracle.bestPerClusterSql(numHashes = 8, bandRows = 2))),

    Q("q103_temperature_mix", (s, dir) =>
      // mC4/T5 α=1/2 temperature mixing: kept mass ∝ √n_s per source —
      // integer √ weights keep Σw exact, the md5 coin keeps membership
      // reproducible; one bounded agg + one scan, no corpus shuffle
      graft.operators.Sampling.temperatureMix(
        T(s, dir, "documents").select("doc_id", "source"),
        "source", "doc_id", targetK = 200),
      Some("""
      WITH c AS (
        SELECT source, COUNT(*) AS ns,
               CAST(floor(sqrt(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS ws
        FROM documents WHERE source IS NOT NULL GROUP BY source),
      t AS (SELECT SUM(ws) AS W FROM c)
      SELECT d.doc_id, d.source
      FROM documents d JOIN c ON d.source = c.source, t
      WHERE CAST(CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS DOUBLE)
            < LEAST(1.0, (200.0 * CAST(c.ws AS DOUBLE))
                         / (CAST(t.W AS DOUBLE) * CAST(c.ns AS DOUBLE))) * 4294967296.0""")),

    Q("q104_training_order", (s, dir) =>
      // the reproducible global permutation a training run reads: shard by
      // seeded md5 coin, per-shard position — shard-major order is the
      // epoch sequence, identical on every engine/run/restart
      graft.operators.Sampling.trainingOrder(
        T(s, dir, "documents").select("doc_id"), "doc_id", shards = 8, seed = 42L),
      Some("""
      WITH h AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS coin
        FROM documents)
      SELECT doc_id, CAST(coin % 8 AS INT) AS shard,
             row_number() OVER (PARTITION BY coin % 8 ORDER BY coin, doc_id) AS pos
      FROM h""")),

    Q("q105_hard_negatives", (s, dir) => {
      // contrastive hard-negative mining: per probe, the top-5 most-similar
      // vectors of a DIFFERENT label — q83's plan with the label-mismatch
      // test ahead of the bounded heap
      val emb = T(s, dir, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") % 25 === 0), "vec_id", "embedding", "label",
        k = 5)
    }, Some(TextOracle.hardNegativesSql(k = 5, probeMod = 25))),

    Q("q106_class_balance", (s, dir) =>
      // classifier-set balancing: every label class cut to the smallest
      // class's size by md5-coin rank — deterministic, unlike RNG sampleBy
      graft.operators.Sampling.classBalance(
        T(s, dir, "embeddings").select("vec_id", "label"), "label", "vec_id"),
      Some("""
      WITH c AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
      m AS (SELECT MIN(cnt) AS m FROM c),
      r AS (
        SELECT vec_id, label,
               row_number() OVER (PARTITION BY label
                 ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT),
                          vec_id) AS rn
        FROM embeddings)
      SELECT vec_id, label FROM r, m WHERE rn <= m.m""")),

    Q("q107_length_band", (s, dir) =>
      // per-language length-outlier trim: keep docs inside their own
      // language's [p05, p95] — DISCRETE percentiles so the bounds carry no
      // interpolation arithmetic; bounded bounds table, one corpus scan
      graft.operators.Sampling.percentileBand(
        T(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "lang", "n_chars", lo = 0.05, hi = 0.95),
      Some("""
      WITH b AS (
        SELECT lang, quantile_disc(n_chars, 0.05) AS lo,
               quantile_disc(n_chars, 0.95) AS hi
        FROM documents GROUP BY lang)
      SELECT d.doc_id, d.lang, d.n_chars
      FROM documents d JOIN b ON d.lang = b.lang
      WHERE d.n_chars BETWEEN b.lo AND b.hi""")),

    Q("q108_snapshot_diff", (s, dir) => {
      // dataset-versioning audit between two corpus versions: v_old drops
      // the mod-7 ids, v_new drops mod-5 and edits every mod-11 doc — the
      // diff classifies every id added/removed/changed/unchanged by hash
      val docs = T(s, dir, "documents")
      val vOld = docs.filter(col("doc_id") % 7 =!= 0).select("doc_id", "text")
      val vNew = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0,
            concat(coalesce(col("text"), lit("")), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Relational.snapshotDiff(vOld, vNew, "doc_id", Seq("text"))
    }, Some("""
      WITH vold AS (
        SELECT doc_id, md5(coalesce(text, chr(2))) AS h
        FROM documents WHERE doc_id % 7 <> 0),
      vnew AS (
        SELECT doc_id,
               md5(coalesce(CASE WHEN doc_id % 11 = 0
                     THEN coalesce(text, '') || ' v2' ELSE text END, chr(2))) AS h
        FROM documents WHERE doc_id % 5 <> 0)
      SELECT coalesce(vold.doc_id, vnew.doc_id) AS doc_id,
             CASE WHEN vold.h IS NULL THEN 'added'
                  WHEN vnew.h IS NULL THEN 'removed'
                  WHEN vold.h = vnew.h THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM vold FULL OUTER JOIN vnew ON vold.doc_id = vnew.doc_id""")),

    Q("q109_split_leakage", (s, dir) => {
      // the held-out set is only held out if no near-copy of its members
      // sits in training: LSH candidate pairs that straddle a split
      // boundary; empty result = green light (Lee et al. 2021 measured
      // this exact leak on C4)
      val docs = T(s, dir, "documents")
      val cuts = Seq("train" -> 90, "val" -> 8, "test" -> 2)
      graft.operators.Sampling.crossSplitPairs(
        Dedup.minhashLshCandidates(docs, "doc_id", "text",
          numHashes = 8, bandRows = 2, shingleN = 2), "doc_a", "doc_b",
        docs.select(col("doc_id"),
          graft.operators.Sampling.hashSplit(col("doc_id"), cuts).as("split")),
        "doc_id", "split")
    }, Some(TextOracle.splitLeakageSql(numHashes = 8, bandRows = 2,
      cuts = Seq("train" -> 90, "val" -> 8, "test" -> 2)))),

    Q("q110_bigram_nll", (s, dir) =>
      // context-aware LM scoring one rung above q77: interpolated add-one
      // bigram NLL catches word-salad docs whose unigram profile looks fine
      graft.operators.TextStats.bigramNll(T(s, dir, "documents"), "doc_id", "text"),
      Some(TextOracle.bigramNllSql)),

    Q("q111_oov_rate", (s, dir) =>
      // tokenizer-coverage diagnostic: per-doc OOV rate against the
      // corpus's own top-200 tokens (TakeOrdered vocab, broadcast back)
      graft.operators.TextStats.oovRate(T(s, dir, "documents"), "doc_id", "text",
        vocabSize = 200),
      Some(TextOracle.oovRateSql(vocabSize = 200))),

    Q("q112_centroid_outliers", (s, dir) =>
      // prototypicality filter: vectors far from their OWN k-means centroid
      // (per-cluster p90 discrete cut) — mislabeled/off-topic candidates
      graft.operators.Clustering.centroidOutliers(T(s, dir, "embeddings"),
        "vec_id", "embedding", k = 4, iters = 2, q = 0.9),
      Some(TextOracle.centroidOutliersSql(k = 4, iters = 2, dims = 64, q = 0.9))),

    Q("q113_corpus_drift", (s, dir) => {
      // the recurring-crawl monitoring check: total LLR of snapshot A's
      // tokens under A's vs B's own unigram model (the n·KL-shaped drift
      // statistic) — near zero = same distribution, large = drifted
      val docs = T(s, dir, "documents")
      graft.operators.TextStats.corpusDrift(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text")
    }, Some(TextOracle.corpusDriftSql("doc_id % 2 = 0", "doc_id % 2 <> 0"))),

    Q("q114_coverage_curve", (s, dir) =>
      // vocab-sizing diagnostic: bigram mass covered by the top-k bigrams,
      // k ∈ {10,50,100,500} — the ranked head is a TakeOrdered, never a
      // global sort; the curve costs one term-count shuffle
      graft.operators.TextStats.coverageCurve(T(s, dir, "documents"),
        "doc_id", "text", ks = Seq(10, 50, 100, 500)),
      Some(TextOracle.coverageCurveSql(Seq(10, 50, 100, 500)))),

    Q("q115_lang_mismatch", (s, dir) =>
      // metadata-audit composition of q27: docs whose declared language
      // disagrees with a confident (non-'und') heuristic prediction —
      // mislabeled-metadata candidates for manual review
      T(s, dir, "documents")
        .select(col("doc_id"), col("lang"), TF.langId(col("text")).as("lang_pred"))
        .filter(col("lang_pred") =!= col("lang") && col("lang_pred") =!= "und"),
      Some(TextOracle.langMismatchSql)),

    Q("q116_pagerank", (s, dir) =>
      // link-graph quality weighting (CommonCrawl-host-rank shape) on the
      // supplier→part shipment multigraph; integer micro-unit ranks make the
      // iterative fixpoint bit-identical across engines and partitionings
      graft.operators.Graph.pagerank(
        T(s, dir, "lineitem").select(
          concat(lit("s"), col("l_suppkey").cast("string")).as("src"),
          concat(lit("p"), col("l_partkey").cast("string")).as("dst"),
          col("l_quantity").cast("long").as("w")),
        "src", "dst", "w", iters = 5),
      Some(GraphOracle.pagerankSql(GraphOracle.lineitemEdgesSql,
        iters = 5, dampingPct = 85))),

    Q("q117_cross_source_dups", (s, dir) =>
      // provenance overlap matrix: near-dup candidate pairs rolled up by
      // unordered source pair — "what does crawl B add over crawl A"
      Dedup.crossSourceDupMatrix(T(s, dir, "documents"), "doc_id", "text",
        "source", numHashes = 8, bandRows = 2, shingleN = 2),
      Some(TextOracle.crossSourceDupsSql(numHashes = 8, bandRows = 2))),

    Q("q118_cluster_sizes", (s, dir) =>
      // dup-cluster size histogram: pairs vs boilerplate mega-clusters
      Dedup.clusterSizeHistogramFromLabels(sharedClusterLabels(s, dir)),
      Some(TextOracle.clusterSizeHistogramSql(numHashes = 8, bandRows = 2))),

    Q("q119_minhash_verify", (s, dir) =>
      // signature-only candidate verification: O(numHashes) per pair, no
      // second shingle pass — the verify path that survives trillion-pair
      // candidate sets
      Dedup.minhashVerifiedPairs(T(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, bandRows = 2, shingleN = 2, minAgree = 4),
      Some(TextOracle.minhashVerifiedSql(numHashes = 8, bandRows = 2,
        minAgree = 4))),

    Q("q120_source_rank", (s, dir) => {
      // operator composition: the q117 overlap matrix becomes a symmetric
      // weighted graph; pagerank scores each source's dup-connectedness
      // (high rank = redundant with many/heavy partners — candidates for
      // downweighting in the mixture)
      val m = Dedup.crossSourceDupMatrix(T(s, dir, "documents"), "doc_id",
        "text", "source", numHashes = 8, bandRows = 2, shingleN = 2)
      // the matrix is ≤ |sources|² rows by construction (a handful of crawl
      // labels — hundreds at most, never corpus-scale), but it is referenced
      // TWICE below (both union arms) and then from four more subtrees inside
      // pagerank: collect it to a LOCAL relation so the LSH candidate
      // pipeline behind it executes exactly once and nothing stays pinned.
      // This is the broadcast-a-bounded-stats-frame idiom, not a corpus
      // collect — guarded loudly in case a caller ever feeds an unbounded
      // source column.
      val rows = m.collect()
      require(rows.length <= 1000000,
        s"crossSourceDupMatrix returned ${rows.length} rows — source column is" +
          " not a bounded label; refusing to localize")
      val local = s.createDataFrame(
        java.util.Arrays.asList(rows: _*), m.schema)
      val edges = local.select(col("source_x").as("src"), col("source_y").as("dst"),
        col("n_pairs").as("w"))
        .union(local.filter(col("source_x") =!= col("source_y"))
          .select(col("source_y").as("src"), col("source_x").as("dst"),
            col("n_pairs").as("w")))
      graft.operators.Graph.pagerank(edges, "src", "dst", "w", iters = 5)
    }, Some(TextOracle.sourceRankSql(numHashes = 8, bandRows = 2, iters = 5,
      dampingPct = 85))),

    Q("q121_pq_adc_topk", (s, dir) =>
      // ADC serving scan: probe un-quantized, corpus as PQ codes, one
      // broadcast LUT — numSub lookups + adds per row, no per-row dot
      Similarity.pqAdcTopK(T(s, dir, "embeddings"), "vec_id", "embedding",
        probeId = 0L, Similarity.pqCodebooks(numSub = 4, ksub = 8,
          subDims = 16), k = 10),
      Some(TextOracle.pqAdcTopkSql(numSub = 4, ksub = 8, subDims = 16,
        probeId = 0L, k = 10))),

    Q("q122_ivfpq_topk", (s, dir) =>
      // the full IVFPQ serving shape: coarse-quantizer pruning to nprobe
      // lists, then the ADC rank — probe lists and LUT on one broadcast row
      Similarity.ivfPqTopK(T(s, dir, "embeddings"), "vec_id", "embedding",
        probeId = 0L, Similarity.hyperplanes(4, 64), nprobe = 2,
        Similarity.pqCodebooks(numSub = 4, ksub = 8, subDims = 16), k = 10),
      Some(TextOracle.ivfPqTopkSql(nLists = 4, dims = 64, nprobe = 2,
        numSub = 4, ksub = 8, subDims = 16, probeId = 0L, k = 10))),

    Q("q123_bloom_decontaminate", (s, dir) =>
      // O(m)-memory screen of the training split against the eval split's
      // shingle Bloom bitmap — the sublinear-state twin of q90's exact join
      Dedup.bloomContaminationReport(T(s, dir, "documents"), "doc_id", "text",
        evalMod = 10, numHashes = 3, words = 8192),
      Some(TextOracle.bloomDecontaminateSql(evalMod = 10, numHashes = 3,
        words = 8192))),

    Q("q124_multiprobe_rerank", (s, dir) =>
      // two-stage retrieval: <=1-bit-flip LSH shortlist, exact cosine rerank
      Similarity.multiProbeTopK(T(s, dir, "embeddings"), "vec_id", "embedding",
        probeId = 0L, numPlanes = 8, dims = 64, maxFlip = 1, k = 10),
      Some(TextOracle.multiProbeRerankSql(k = 10, numPlanes = 8, dims = 64,
        maxFlip = 1, probeId = 0L))),

    Q("q125_source_minhash_sim", (s, dir) =>
      // corpus-level mergeable MinHash per source -> pairwise overlap matrix
      Dedup.sourceMinhashSimilarity(T(s, dir, "documents"), "source", "text",
        numHashes = 8),
      Some(TextOracle.sourceMinhashSql(numHashes = 8))),

    Q("q127_cluster_safe_split", (s, dir) => {
      // leakage-safe train/val/test: split hashed on the near-dup CLUSTER
      // id, so no duplicate cluster ever straddles a split boundary — the
      // transform that makes the q109 leakage audit empty by construction
      val docs = T(s, dir, "documents")
      graft.operators.Sampling.clusterSafeSplitFromLabels(docs, "doc_id",
        sharedClusterLabels(s, dir),
        Seq("train" -> 90, "val" -> 8, "test" -> 2))
    }, Some(TextOracle.clusterSafeSplitSql(numHashes = 8, bandRows = 2,
      Seq("train" -> 90, "val" -> 8, "test" -> 2)))),

    Q("q128_grouping_sets", (s, dir) =>
      // one-pass multi-granularity data card: per (source, lang), per
      // source, per lang, and grand total from a single scan — GROUPING
      // SETS instead of 4 unioned aggregations (4x the read at 100 TB)
      T(s, dir, "documents")
        .groupingSets(
          Seq(Seq(col("source"), col("lang")), Seq(col("source")),
            Seq(col("lang")), Seq()),
          col("source"), col("lang"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
        .select("source", "lang", "gid", "n_docs", "total_chars"),
      Some("""
      SELECT source, lang, GROUPING(source, lang) AS gid,
             COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents
      GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())""")),

    Q("q129_lsh_threshold_curve", (s, dir) =>
      // verified-pair survival at EVERY minAgree cut in one pass — the
      // tuning curve bracketed by q119 (one cut) and q88 (one banding)
      Dedup.minhashAgreementCurve(T(s, dir, "documents"), "doc_id", "text",
        numHashes = 8, bandRows = 2),
      Some(TextOracle.minhashAgreementCurveSql(numHashes = 8, bandRows = 2))),

    Q("q130_quality_classifier", (s, dir) =>
      // hashed bag-of-words linear scorer (the GPT-3 quality-filter stage):
      // integer micro-unit logits, weights computed in the scan — one
      // explode + one partial-agg groupBy, nothing broadcast or joined
      graft.operators.TextStats.linearQualityScore(T(s, dir, "documents"),
        "doc_id", "text", buckets = 1024, biasMicro = 500L),
      Some(TextOracle.linearQualitySql(buckets = 1024, biasMicro = 500L))),

    Q("q131_novelty", (s, dir) =>
      // fraction of each doc's shingles first seen in that doc — the
      // boilerplate-vs-new-content signal, linear in corpus shingles
      graft.operators.TextStats.noveltyScore(T(s, dir, "documents"),
        "doc_id", "text"),
      Some(TextOracle.noveltySql)),

    Q("q132_mad_outliers", (s, dir) =>
      // per-source median/MAD robust length outliers — discrete order
      // statistics, so every comparison is exact integer arithmetic
      graft.operators.Sampling.madOutliers(
        T(s, dir, "documents").select("doc_id", "source", "n_chars"),
        "source", "n_chars", k = 3),
      Some(TextOracle.madOutliersSql(k = 3))),

    Q("q133_histogram_percentiles", (s, dir) =>
      // mergeable fixed-bin percentile bounds — the partial-agg-able scale
      // path where percentile_disc's per-group buffering stops fitting
      graft.operators.Sampling.histogramPercentiles(
        T(s, dir, "documents"), "n_chars", bins = 64, pcts = Seq(50, 90, 99)),
      Some(TextOracle.histogramPercentilesSql(bins = 64, pcts = Seq(50, 90, 99)))),

    Q("q134_key_skew_report", (s, dir) =>
      // join-key skew pre-flight: hottest keys + exact integer row share —
      // the measurement that decides between plain, AQE-split, and salted
      graft.quality.DataQuality.keySkewReport(
        T(s, dir, "orders"), "o_custkey", k = 20),
      Some(TextOracle.keySkewSql(k = 20))),

    Q("q135_char_entropy", (s, dir) =>
      // character-distribution Shannon entropy in bits: the compression-ratio
      // quality proxy no tokenizer can fake — boilerplate low, noise high
      graft.operators.TextStats.charEntropy(
        T(s, dir, "documents"), "doc_id", "text"),
      Some(TextOracle.charEntropySql)),

    Q("q136_ngram_diversity", (s, dir) =>
      // distinct/total bigram ratio per source: the Self-BLEU-style
      // repetitiveness triage that decides which sources need span dedup
      graft.operators.TextStats.ngramDiversity(
        T(s, dir, "documents"), "source", "text", n = 2),
      Some(TextOracle.ngramDiversitySql)),

    Q("q137_column_profile", (s, dir) =>
      // ANALYZE-style per-column stats sheet: nulls, exact distincts,
      // native-typed min/max — one column-pruned scan per column
      graft.quality.DataQuality.columnProfile(
        T(s, dir, "documents"), Seq("doc_id", "lang", "source", "n_chars")),
      Some(TextOracle.columnProfileSql(Seq("doc_id", "lang", "source", "n_chars")))),

    Q("q138_top_tokens", (s, dir) =>
      // exact per-source heavy hitters with total-order tie-break: the
      // stopword/fingerprint report; Count-Min (q99) is the sketched twin
      graft.operators.TextStats.topTokensPerGroup(
        T(s, dir, "documents"), "source", "text", k = 10),
      Some(TextOracle.topTokensSql(k = 10))),

    Q("q139_token_budget", (s, dir) =>
      // cap each source at a token budget in arrival order — the
      // token-denominated mixture cap (prefix semantics, growth-stable)
      graft.operators.Sampling.tokenBudgetSelect(
        T(s, dir, "documents"), "doc_id", "text", "source",
        budgetTokens = 2000L, order = Seq(col("doc_id").asc)),
      Some("""
      WITH t AS (
        SELECT source, doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0),
      c AS (
        SELECT source, doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        FROM t)
      SELECT source, doc_id, n_tokens, cum_tokens FROM c
      WHERE cum_tokens <= 2000""")),

    Q("q140_score_calibration", (s, dir) =>
      // source-fair quality thresholds: percent_rank of the score within
      // its own source, so "top 30%" means the same thing in every source
      graft.operators.Sampling.scoreCalibration(
        T(s, dir, "documents"), "doc_id", "source", col("n_chars")),
      Some("""
      SELECT source, doc_id, n_chars AS score,
             round(percent_rank() OVER (PARTITION BY source
               ORDER BY n_chars ASC, doc_id ASC), 6) AS calibrated
      FROM documents""")),

    Q("q141_media_curation", (s, dir) => {
      // the RELATIONAL SKELETON of Multimodal.curateMedia (q75's binary
      // twin), oracle-verified on the embeddings table: quality gate
      // (component-spike filter — a collapsed/degenerate embedding
      // concentrates mass in few dims) → pairwise semantic near-dup with the
      // drop-later-duplicate rule (SemDeDup's pairwise policy: for each pair
      // a<b, b drops) → self-kNN of the survivors. The bytes→features half
      // (dHash, PCM gates, grid/segment embeddings) is spec-proven in
      // MediaCurationSpec — no SQL engine can decode BMP/WAV, so the oracle
      // starts where the feature table ends. Scale: gate is one narrow scan;
      // the brute pair stage swaps for lshNearDupPairs at corpus scale; kNN
      // broadcast contract enforced in knnJoin.
      val emb = T(s, dir, "embeddings")
      val gated = emb.filter(
        array_max(transform(col("embedding"), x => abs(x.cast("double")))) <= lit(0.42))
        .select("vec_id", "embedding")
      val pairs = Dedup.embeddingNearDupPairs(gated, "vec_id", "embedding", threshold = 0.4)
      // kept is referenced twice below — as the kNN corpus AND as the probe
      // source — and its plan embeds the pairwise near-dup stage (the
      // dominant cost here); unpinned, that stage executes once per
      // reference (guide §2.4). The localCheckpoint is NOT in the SQL
      // cache: the clearCache that Bench/Verify run between queries does
      // not release it, and nothing unpersists it, so its blocks stay
      // until the RDD is garbage collected (an owned pin is ROADMAP
      // item 2).
      val kept = gated.join(pairs.select(col("id_b").as("vec_id")).distinct(),
        Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      val probes = kept.filter(col("vec_id") % 25 === 0)
      Similarity.knnJoin(kept, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, excludeSelf = true)
    }, Some(TextOracle.mediaCurationSql(maxComp = 0.42, threshold = 0.4,
      probeMod = 25, k = 5))),

    Q("q142_retrieval_eval", (s, dir) => {
      // q97's aggregate recall, resolved per probe + first-hit rank +
      // integer-micro reciprocal rank — the per-query ANN report card
      // (MRR = sum(rr_micros)/n/1e6 downstream, integer-exact)
      val emb = T(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 25 === 0)
      val truth = Similarity.knnJoin(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, excludeSelf = true)
      val approx = Similarity.ivfKnnJoin(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5,
        Similarity.hyperplanes(4, 64), excludeSelf = true)
      Similarity.retrievalEval(truth, approx)
    }, Some(TextOracle.retrievalEvalSql(k = 5, nLists = 4, dims = 64, probeMod = 25))),

    Q("q147_ndcg_eval", (s, dir) => {
      // the GRADED companion to q142: recall pays the same for a true
      // neighbor at rank 1 and rank 5; nDCG@k credits putting them early.
      // Position discounts are Scala-precomputed integer micro-weights
      // (floor(1e6/log2(r+1)) literals in plan AND oracle) so dcg/idcg are
      // exact integer sums — the house rule: stay integer-exact until one
      // final IEEE division
      val emb = T(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id") % 25 === 0)
      val truth = Similarity.knnJoin(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, excludeSelf = true)
      val approx = Similarity.ivfKnnJoin(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5,
        Similarity.hyperplanes(4, 64), excludeSelf = true)
      Similarity.ndcgEval(truth, approx, k = 5)
    }, Some(TextOracle.ndcgEvalSql(k = 5, nLists = 4, dims = 64, probeMod = 25))),

    Q("q150_ivf_drift", (s, dir) => {
      // index-health monitoring for an incremental vector index: per-list
      // base-vs-batch counts, batch share, and mean assigned-centroid
      // distance shift — the report that decides when drift has outgrown
      // the centroids and a recluster is due. Means are exact decimal sums
      // divided once; two corpus scans, numLists groups
      // centroids: hyperplanes scaled to data magnitude (×0.02) — at unit
      // scale the |c|² term dominates the argmin and every vector lands in
      // one list; scaled, the dot term decides and the lists balance
      val emb = T(s, dir, "embeddings")
      Similarity.ivfDriftReport(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        "embedding", Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02)))
    }, Some(TextOracle.ivfDriftSql(nLists = 4, dims = 64, batchMod = 5,
      scale = 0.02))),

    Q("q152_sq8_recall", (s, dir) => {
      // int8 scalar quantization (4× memory cut) gated by measured
      // recall@k vs exact — the SQ sibling of q97's LSH recall gate and
      // the quantization family's third member (PQ q71/q121, IVFPQ q122).
      // Serving-bounded probe batch broadcasts; the corpus is scanned
      // twice (raw + dequantized top-k), never shuffled; quantization
      // stats are one 2·dims-cell agg collected as a bounded LUT
      val emb = T(s, dir, "embeddings")
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      Similarity.sqRecallEval(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, dims = 64)
    }, Some(TextOracle.sqRecallSql(k = 5, nProbes = 64, dims = 64))),

    Q("q153_banded_repair", (s, dir) => {
      // VectorLake.reconcile's SRP-banded within-list repair decision as a
      // pure oracle row (the r7 wart's FIX, hash-checked): candidates come
      // from band-bucket collisions WITHIN each IVF list — pair work
      // bounded by SRP bucket size, never listSize² — and a vector drops
      // iff a lower-id partner clears round(cos,6) >= threshold
      val emb = T(s, dir, "embeddings")
      // pinned upstream (the streaming callers' idiom — reconcile pins
      // `reassigned` the same way): the banding self-join would otherwise
      // re-derive the assignment subtree on both sides (r8 nit #4).
      // localCheckpoint survives Bench's between-query cache clears.
      val assigned = Similarity.ivfAssign(emb.select("vec_id", "embedding"),
        "embedding", Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02)))
        .localCheckpoint(true)
      val dups = Similarity.srpBandedNearDupPairs(assigned, "vec_id",
          "embedding", threshold = 0.4, bands = 2, planesPerBand = 4,
          dims = 64, blockCols = Seq("ivf_list"))
        .select(col("id_b").as("vec_id")).distinct()
        .withColumn("__dup", lit(true))
      assigned.select("vec_id", "ivf_list").join(dups, Seq("vec_id"), "left")
        .select(col("vec_id"), col("ivf_list"), col("__dup").isNull.as("keep"))
    }, Some(TextOracle.bandedRepairSql(nLists = 4, dims = 64, scale = 0.02,
      threshold = 0.4, bands = 2, planesPerBand = 4))),

    Q("q154_ivfsq_topk", (s, dir) => {
      // IVF-SQ8 serving search: coarse probe pruning (q52's shape) over the
      // int8 scalar-quantized corpus (q152's representation) — the fourth
      // member of the quantized-serving family (PQ q71/q121, IVFPQ q122,
      // SQ q152). Assignment on raw vectors; scoring asymmetric on the
      // dequantized store; one pruned scan
      val emb = T(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") =!= 0)
      val qv = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0)
      val (mins, maxs) = Similarity.sqMinMax(corpus, "embedding", dims = 64)
      Similarity.ivfSqTopK(corpus, "vec_id", "embedding", qv, k = 10,
        Similarity.hyperplanes(4, 64), nprobe = 2, mins, maxs)
    }, Some(TextOracle.ivfSqTopkSql(k = 10, nLists = 4, dims = 64, nprobe = 2))),

    Q("q151_vector_ingest_gate", (s, dir) => {
      // the lake's ingest keep decision as a pure oracle query: this calls
      // VectorLake.ingestDecision, which shares the PRIVATE gateFrames body
      // with ingest itself — the hash check certifies the real decision
      // path, not a twin (r7 ask #5). Multi-probe gate (top-2 nearest
      // lists) catches near-dup pairs straddling a list border; candidates
      // are list-bucketed (batch broadcasts, stored side never reshuffles);
      // lower vec_id wins within the batch. Same scaled centroids as q150.
      val emb = T(s, dir, "embeddings")
      graft.domain.VectorLake.ingestDecision(
        emb.filter(col("vec_id") % 5 =!= 0),
        emb.filter(col("vec_id") % 5 === 0),
        Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02)),
        dupThreshold = 0.4, gateProbes = 2)
    }, Some(TextOracle.vectorIngestGateSql(nLists = 4, dims = 64,
      scale = 0.02, batchMod = 5, threshold = 0.4, gateProbes = 2))),

    Q("q155_multiprobe_knn_serve", (s, dir) => {
      // the BATCHED lake serving read (VectorLake.searchBatch's core) as a
      // pure oracle query: the corpus carries its write-time stored
      // assignment, probes are the CONSTANT 64-probe serving batch (q144's
      // policy — cost linear in the corpus, the serving-twin discipline),
      // and each probe ranks only the rows stored in its nprobe=2 nearest
      // lists through the bounded-heap Aggregator. One corpus scan, probe
      // batch broadcast; on the lake layout the ivf_list restriction is
      // PARTITION pruning (VectorLakeSpec-pinned) — this is what replaces
      // search()'s one-job-per-query ~10 QPS ceiling. Same scaled
      // centroids as q150/q151.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val assigned = Similarity.ivfAssign(
        emb.select("vec_id", "embedding"), "embedding", cents)
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id", "embedding",
        "ivf_list", probes, "vec_id", "embedding", k = 5, cents, nprobe = 2,
        excludeSelf = true)
    }, Some(TextOracle.multiProbeKnnServeSql(k = 5, nLists = 4, dims = 64,
      scale = 0.02, nprobe = 2, nProbes = 64))),

    Q("q156_sq8_serve_batch", (s, dir) => {
      // the SQ8-RESIDENT serving read (VectorLake.searchBatch(quantized =
      // true)'s plan as a pure oracle query): the corpus is held as int8
      // STORED CODES (tinyint, the 4×-smaller lake representation) with
      // its write-time IVF assignment; each of the constant 64 probes
      // ranks only its nprobe=2 nearest lists, scoring ASYMMETRIC — the
      // probe keeps full precision, the store dequantizes from the codes
      // it stored (the tinyint offset roundtrip is hash-checked here, not
      // assumed). Composes q152's grid, q154's asymmetric scoring, and
      // q155's batched multi-probe plan — the complete quantized serving
      // stack in one row.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val (mins, maxs) = Similarity.sqMinMax(emb, "embedding", dims = 64)
      val stored = Similarity.ivfAssign(
          emb.select("vec_id", "embedding"), "embedding", cents)
        .withColumn("codes",
          Similarity.sqCodesTiny(col("embedding"), mins, maxs))
        .select(col("vec_id"), col("ivf_list"),
          Similarity.sqDequantTiny(col("codes"), mins, maxs).as("dqv"))
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      Similarity.ivfMultiProbeKnnJoin(stored, "vec_id", "dqv", "ivf_list",
        probes, "vec_id", "embedding", k = 5, cents, nprobe = 2,
        excludeSelf = true)
    }, Some(TextOracle.sq8ServeBatchSql(k = 5, nLists = 4, dims = 64,
      scale = 0.02, nprobe = 2, nProbes = 64))),

    Q("q157_sq8_refine_serve", (s, dir) => {
      // the quantized-scan + FLOAT-REFINE serving read (VectorLake
      // .searchBatch(quantized = true, refineFactor = 4)'s plan as a pure
      // oracle query; r9 verdict ask #1): q156's SQ8 asymmetric scan
      // widened to each probe's top-(k·4) candidates at 4×-smaller list
      // I/O, then ONLY those candidates rescore against the full-precision
      // embeddings — k·4 float cosines per probe, never a float list
      // re-rank — and re-rank exact. Float-serving recall at SQ8 scan
      // cost: the read-amplification story the SQ8 tier exists for,
      // completed. Constant 64-probe batch (the serving-twin discipline);
      // the emitted cos is the EXACT float score, hash-checked.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val (mins, maxs) = Similarity.sqMinMax(emb, "embedding", dims = 64)
      val assigned = Similarity.ivfAssign(
        emb.select("vec_id", "embedding"), "embedding", cents)
      val sqStore = assigned
        .withColumn("codes",
          Similarity.sqCodesTiny(col("embedding"), mins, maxs))
        .select(col("vec_id"), col("ivf_list"),
          Similarity.sqDequantTiny(col("codes"), mins, maxs).as("dqv"))
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      Similarity.ivfSqRefineKnnJoin(sqStore,
        emb.select("vec_id", "embedding"),
        "vec_id", "dqv", "ivf_list", "embedding",
        probes, "vec_id", "embedding", k = 5, refineFactor = 4,
        cents, nprobe = 2, excludeSelf = true)
    }, Some(TextOracle.sq8RefineServeSql(k = 5, refineFactor = 4,
      nLists = 4, dims = 64, scale = 0.02, nprobe = 2, nProbes = 64))),

    Q("q158_filtered_knn_serve", (s, dir) => {
      // FILTERED vector search — the metadata predicate every production
      // vector store bolts onto kNN ("nearest docs WITH license X /
      // language Y"): q155's batched multi-probe serve over the corpus
      // restricted to label = 3. Zero new operator code — the filter is a
      // plain relational predicate BEFORE the assignment, so Catalyst
      // pushes it into the parquet scan (PushedFilters, plan-spec-pinned)
      // and the heap ranks only qualifying rows; on the lake layout it
      // composes with the ivf_list partition pruning. Probes stay the
      // unfiltered constant 64-probe batch.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val assigned = Similarity.ivfAssign(
        emb.filter(col("label") === 3).select("vec_id", "embedding"),
        "embedding", cents)
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id", "embedding",
        "ivf_list", probes, "vec_id", "embedding", k = 5, cents, nprobe = 2,
        excludeSelf = true)
    }, Some(TextOracle.filteredKnnServeSql(k = 5, nLists = 4, dims = 64,
      scale = 0.02, nprobe = 2, nProbes = 64, label = 3))),

    Q("q159_hybrid_rrf_serve", (s, dir) => {
      // HYBRID retrieval — the lexical+vector fusion every RAG/retrieval
      // deployment serves: the constant 64-probe batched vector serve
      // (q155's plan, top-10 per probe) merged with the query-global BM25
      // top-20 (q67's scorer) by reciprocal-rank fusion in exact integer
      // micro-units (Similarity.rrfFuse). doc_id = vec_id by the testdata
      // contract, so the two retrievers share an id space. The lexical cut
      // is TakeOrderedAndProject (never a corpus-wide single-partition
      // window); fusion is bounded full-outer + one rank window over
      // probes x (k_vec + n_lex) rows — corpus size never enters after the
      // two retrievers' own cuts.
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val assigned = Similarity.ivfAssign(
        emb.select("vec_id", "embedding"), "embedding", cents)
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      val vec = Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id",
        "embedding", "ivf_list", probes, "vec_id", "embedding", k = 10,
        cents, nprobe = 2, excludeSelf = true)
      val lexTop = graft.operators.TextStats.bm25(T(s, dir, "documents"),
          "doc_id", "text", queryTerms = Seq("spark", "query", "merge"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      // rank the ALREADY-CUT 20-row list: the unpartitioned window is
      // bounded by construction, the corpus cut above was the TopK
      val lex = lexTop.withColumn("rank", row_number().over(
          Window.orderBy(col("bm25").desc, col("doc_id"))))
        .select(col("doc_id").as("neighbor_id"), col("rank"))
      Similarity.rrfFuse(vec, lex,
        probes.select(col("vec_id").as("probe_id")), k = 5, kRrf = 60)
    }, Some(TextOracle.hybridRrfServeSql(k = 5, kVec = 10, nLex = 20,
      kRrf = 60, nLists = 4, dims = 64, scale = 0.02, nprobe = 2,
      nProbes = 64, terms = Seq("spark", "query", "merge")))),

    Q("q160_rrf3_serve", (s, dir) => {
      // THREE-WAY fusion (Similarity.rrfFuseAll): q159's vector+lexical
      // hybrid plus a query-global QUALITY prior (q26's scorer, top-20) —
      // the retriever-plus-priors stack a production endpoint actually
      // serves. Every list is cut to its serving bound BEFORE the fold of
      // full-outer joins; the three integer micro-reciprocals sum exactly,
      // so the fused order is engine-independent.
      val emb = T(s, dir, "embeddings")
      val docs = T(s, dir, "documents")
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val assigned = Similarity.ivfAssign(
        emb.select("vec_id", "embedding"), "embedding", cents)
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      val pids = probes.select(col("vec_id").as("probe_id"))
      val vec = Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id",
        "embedding", "ivf_list", probes, "vec_id", "embedding", k = 10,
        cents, nprobe = 2, excludeSelf = true)
      def globalTop(scored: DataFrame, scoreCol: String): DataFrame = {
        // TakeOrdered cut first (corpus-safe), bounded window rank after
        val top = scored.orderBy(col(scoreCol).desc, col("doc_id")).limit(20)
        pids.crossJoin(broadcast(top.withColumn("rank", row_number().over(
            Window.orderBy(col(scoreCol).desc, col("doc_id"))))
          .select(col("doc_id").as("neighbor_id"), col("rank"))))
      }
      val lexp = globalTop(graft.operators.TextStats.bm25(docs, "doc_id",
        "text", queryTerms = Seq("spark", "query", "merge")), "bm25")
      val qualp = globalTop(docs.select(col("doc_id"),
        TF.qualityScore(col("text")).as("quality")), "quality")
      Similarity.rrfFuseAll(Seq(vec, lexp, qualp), k = 5, kRrf = 60)
    }, Some(TextOracle.rrf3ServeSql(k = 5, kVec = 10, nLex = 20, nQual = 20,
      kRrf = 60, nLists = 4, dims = 64, scale = 0.02, nprobe = 2,
      nProbes = 64, terms = Seq("spark", "query", "merge")))),

    Q("q161_corpus_overlay", (s, dir) => {
      // the dedup lake's logical-corpus FOLD (DedupLake.corpusFold — the
      // exact read path corpus()/reconcile run, the q151 register-the-real-
      // decision pattern) as a pure oracle query: upsert EDITS supersede
      // archive rows by id, an edit id absent from the archive is an
      // INSERT, delete TOMBSTONES drop last. Overlays derive
      // deterministically from `documents`: every doc_id ≡ 3 (mod 11)
      // re-written upper-case, every ≡ 0 (mod 97) also inserted under
      // id+10⁶, every ≡ 5 (mod 13) purged — all three fold arms (and the
      // edit∩tombstone case) in one hash-checked row set. Both overlays
      // broadcast (bounded-by-contract sides), so the corpus scans once.
      val docs = T(s, dir, "documents")
      val edits = docs.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), upper(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("inserted:"), col("doc_id").cast("string")).as("text")))
      val tombs = docs.filter(col("doc_id") % 13 === 5).select("doc_id")
      graft.domain.DedupLake.corpusFold(
        docs.select("doc_id", "text"), edits, tombs)
    }, Some("""
      WITH edits AS (
        SELECT doc_id, upper(text) AS text FROM documents WHERE doc_id % 11 = 3
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               'inserted:' || CAST(doc_id AS VARCHAR) AS text
        FROM documents WHERE doc_id % 97 = 0
      ), tomb AS (
        SELECT doc_id FROM documents WHERE doc_id % 13 = 5
      ), folded AS (
        SELECT a.doc_id, a.text FROM documents a
        WHERE NOT EXISTS (SELECT 1 FROM edits e WHERE e.doc_id = a.doc_id)
        UNION ALL
        SELECT doc_id, text FROM edits
      )
      SELECT f.doc_id, f.text FROM folded f
      WHERE NOT EXISTS (SELECT 1 FROM tomb t WHERE t.doc_id = f.doc_id)
    """)),

    Q("q162_bm25_per_query", (s, dir) => {
      // PER-QUERY BM25 — the posting-list join a multi-query lexical
      // endpoint runs (q67 scores ONE fixed term set; a serving batch
      // carries many queries, each with its own terms). The corpus-sided
      // work is query-independent (dl/tf/df partial aggs, tf pre-pruned by
      // the broadcast term universe); the bounded (probe, term) frame then
      // broadcasts onto the postings, and the per-(probe, doc) sum runs in
      // EXACT integer micros (scores converted per (doc, term) before the
      // sum — order-independent, the rr_micros idiom applied to the
      // retriever itself). Probe 40's term misses the corpus: no rows, the
      // posting-join absence contract. Probe 30 carries a duplicate term:
      // dedupes, contributes once.
      import s.implicits._
      val queries = Seq(
        (10L, Seq("spark", "query")),
        (20L, Seq("merge", "vector", "hash")),
        (30L, Seq("window", "stream", "stream")),
        (40L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      graft.operators.TextStats.bm25PerQuery(T(s, dir, "documents"),
        "doc_id", "text", queries, "probe_id", "terms", n = 10)
    }, Some(TextOracle.bm25PerQuerySql(Seq(
      10L -> Seq("spark", "query"),
      20L -> Seq("merge", "vector", "hash"),
      30L -> Seq("window", "stream", "stream"),
      40L -> Seq("zzzunmatchedterm")), n = 10, k1 = 1.2, b = 0.75))),

    Q("q163_hybrid_per_query", (s, dir) => {
      // hybrid retrieval COMPLETED: q159's fusion with the global
      // fixed-term lexical list replaced by PER-PROBE BM25 (q162's
      // posting-list join) — each probe fuses its own query terms' top-10
      // with its own vector top-10, the shape a real multi-query hybrid
      // endpoint serves. Probe 3's terms miss the corpus: it fuses
      // vector-only (the rrfFuseAll absence arm, hash-checked). Fusion
      // stays exact integer micros over serving-bounded frames.
      import s.implicits._
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val assigned = Similarity.ivfAssign(
        emb.select("vec_id", "embedding"), "embedding", cents)
      // pinned: same serving-bounded probe-batch idiom as the 64-probe
      // serves — the gate and broadcast arms would re-run the corpus cut
      val probes = emb.orderBy(col("vec_id")).limit(4)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      val vec = Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id",
        "embedding", "ivf_list", probes, "vec_id", "embedding", k = 10,
        cents, nprobe = 2, excludeSelf = true)
      val queries = Seq(
        (0L, Seq("spark", "query")),
        (1L, Seq("merge", "vector", "hash")),
        (2L, Seq("window", "stream")),
        (3L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      val lex = graft.operators.TextStats.bm25PerQuery(T(s, dir, "documents"),
          "doc_id", "text", queries, "probe_id", "terms", n = 10)
        .select(col("probe_id"), col("doc_id").as("neighbor_id"), col("rank"))
      Similarity.rrfFuseAll(Seq(vec, lex), k = 5, kRrf = 60)
    }, Some(TextOracle.hybridPerQueryRrfSql(Seq(
      0L -> Seq("spark", "query"),
      1L -> Seq("merge", "vector", "hash"),
      2L -> Seq("window", "stream"),
      3L -> Seq("zzzunmatchedterm")),
      k = 5, kVec = 10, nLex = 10, kRrf = 60, nLists = 4, dims = 64,
      scale = 0.02, nprobe = 2, nProbes = 4))),

    Q("q164_lex_health", (s, dir) => {
      // the per-bucket lexical HEALTH report (LexLake.healthOfPostings,
      // r10 ask #7) — the q150/q134 analog for the inverted index: per
      // term-hash bucket, posting mass, distinct terms, the top-df term
      // with its exact share in integer micros (the skew signal that
      // decides the impact tier's df threshold), and the overlay mass the
      // q161-style deterministic tombstone/edit rules leave pending fold.
      // Plan: ONE partial-agg pass over the postings (the (bucket, term)
      // df agg map-side-combines; everything after is vocab-sized), with
      // the <= nBuckets per-bucket stats broadcast for the tie-broken
      // top-term resolution. Overlay masses are bounded scoped aggs.
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      // the health report reads only (tbucket, term, doc_id) — the slim
      // key projection skips tokenizePostings' corpus-wide (doc, term)
      // aggregation exchange (tf/positions the report never reads); the
      // row multiset on the read columns is identical (oracle-pinned)
      val post = graft.domain.LexLake.tokenizePostingKeys(docs, 16)
      val nDocs = docs
        .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select("doc_id").distinct().count()
      val tombs = docs.filter(col("doc_id") % 13 === 5).select("doc_id")
      val edits = docs.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), upper(col("text")).as("text"))
      // the impact-STALENESS column (r11 ask #3): simulate a tier built at
      // a past fold — the fold saw only doc_id % 7 != 0, capped terms are
      // those with at-fold df > 50; staleness = postings those terms
      // gained from the docs ingested since (doc_id % 7 == 0). The tier's
      // df needs only the distinct (term, doc) pairs of the fold subset —
      // a plain explode + two-level agg, NOT a second positional
      // tokenizePostings pass (whose collect_list dominated the query's
      // cost at sf1 for a column this never reads)
      // distinct (term, doc) pairs == per-doc DISTINCT terms: array_distinct
      // BEFORE the explode makes the exploded frame distinct by
      // construction, so the term df folds in one map-side-combining agg —
      // no corpus-sized distinct exchange (guide §2.3: shuffle fewer bytes;
      // the old shape shuffled every (doc, term) pair once for the distinct
      // and again for the df agg)
      val tier = docs.filter(col("doc_id") % 7 =!= 0)
        .select(explode(array_distinct(TF.tokens(col("text")))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("df"))
        .filter(col("df") > 50)
      graft.domain.LexLake.healthOfPostings(post, nDocs, tombs,
        graft.domain.LexLake.tokenizePostingKeys(edits, 16),
        impactTier = Some(tier))
    }, Some(TextOracle.lexHealthSql(16, staleFoldMod = 7,
      staleDfThreshold = 50))),

    Q("q165_impact_recall", (s, dir) => {
      // the impact-tier agreement report (r10 ask #2's gate quantity as a
      // registered query): serve the q162 batch from per-term TRUNCATED
      // posting lists (df > 50 keeps only its top-30 postings by exact
      // integer impact; scoring otherwise unchanged) and measure recall
      // against the exact posting-join serve as truth — retrievalEval's
      // per-probe (n_truth, n_hits, recall, first_hit_rank, rr_micros).
      // Both the per-term cut and both serves rank through the bounded
      // heap, so no step sorts a frequent term's full list on one reducer.
      import s.implicits._
      val queries = Seq(
        (10L, Seq("spark", "query")),
        (20L, Seq("merge", "vector", "hash")),
        (30L, Seq("window", "stream", "stream")),
        (40L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      val docs = T(s, dir, "documents")
      // ONE shared posting pass for both serves (r14; r13's deferred item
      // #2): composed from the public operators the eval paid the batch
      // gate and the tf/df/posted pipeline twice — the pair form gates
      // once and persists `posted` across the full and truncated ranks,
      // same transcription, identical results (oracle-verified).
      val (full, imp) = graft.operators.TextStats.bm25PerQueryWithImpact(docs,
        "doc_id", "text", queries, "probe_id", "terms", n = 10,
        impactPostings = 30, dfThreshold = 50)
      Similarity.retrievalEval(
        full.select(col("probe_id"), col("doc_id").as("neighbor_id")),
        imp.select(col("probe_id"), col("doc_id").as("neighbor_id"),
          col("rank")))
    }, Some(TextOracle.bm25ImpactRecallSql(Seq(
      10L -> Seq("spark", "query"),
      20L -> Seq("merge", "vector", "hash"),
      30L -> Seq("window", "stream", "stream"),
      40L -> Seq("zzzunmatchedterm")), n = 10, m = 30, t = 50L,
      k1 = 1.2, b = 0.75))),

    Q("q166_prf_expansion", (s, dir) => {
      // pseudo-relevance-feedback query expansion (RM3-style, simplified
      // to deterministic expand-and-requery): each probe's first-pass
      // BM25 top-5 docs nominate expansion terms by exact integer-micros
      // length-normalized tf (original terms excluded, top-3 by weight
      // desc / term asc through the bounded STRING heap), and the
      // expanded batch rescores top-10. The feedback tf agg is semi-join
      // pruned to the bounded feedback id set — never a corpus (doc,
      // term) agg; both passes are the scale-audited posting join. Probe
      // 40's unmatched term finds no feedback: it requeries unexpanded
      // and still yields no rows.
      import s.implicits._
      val queries = Seq(
        (10L, Seq("spark", "query")),
        (20L, Seq("merge", "vector", "hash")),
        (30L, Seq("window", "stream", "stream")),
        (40L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      graft.operators.TextStats.bm25PrfExpand(T(s, dir, "documents"),
        "doc_id", "text", queries, "probe_id", "terms",
        n = 10, fbDocs = 5, fbTerms = 3)
    }, Some(TextOracle.bm25PrfSql(Seq(
      10L -> Seq("spark", "query"),
      20L -> Seq("merge", "vector", "hash"),
      30L -> Seq("window", "stream", "stream"),
      40L -> Seq("zzzunmatchedterm")), n = 10, fbDocs = 5, fbTerms = 3,
      k1 = 1.2, b = 0.75))),

    Q("q167_phrase_match", (s, dir) => {
      // exact phrase search — the positional posting join (candidate docs
      // gated by the phrase's rarest word via one partial agg, adjacency
      // verified by k-1 (doc, position)-keyed semi-joins; no window, no
      // sort, no all-pairs). The oracle states the same predicate in its
      // window-equality form.
      graft.operators.TextStats.phraseMatch(T(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "join"))
    }, Some(TextOracle.phraseMatchSql(Seq("hash", "join")))),

    Q("q168_proximity_pairs", (s, dir) => {
      // windowed proximity co-occurrence — the collocation/PMI-input
      // statistic over token positions. The |pa - pb| <= w band predicate
      // would plan as a nested loop; positions block into width-w buckets
      // (one side replicated to its two neighbor buckets) so the join is
      // a plain (doc, bucket) equi-join with the exact band filter after
      // — the dedup suite's banding idiom applied to positions.
      graft.operators.TextStats.proximityPairs(T(s, dir, "documents"),
        "doc_id", "text", "hash", "join", w = 5)
    }, Some(TextOracle.proximityPairsSql("hash", "join", w = 5))),

    Q("q169_proximity_overlay", (s, dir) => {
      // LexLake.proximityServeBatch's per-probe SEMANTICS as a pure oracle
      // query (r11 ask #2): the q161 deterministic edit/insert/tombstone
      // rules fold the corpus, then q168's bucket-blocked proximity join
      // runs over the logical rows — exactly what the lake serve computes
      // from its stored positions + overlays (parity spec-pinned in
      // LexLakeSpec).
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val edits = docs.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), upper(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("inserted:"), col("doc_id").cast("string")).as("text")))
      val tombs = docs.filter(col("doc_id") % 13 === 5).select("doc_id")
      graft.operators.TextStats.proximityPairs(
        graft.domain.DedupLake.corpusFold(docs, edits, tombs),
        "doc_id", "text", "hash", "join", w = 5)
    }, Some(TextOracle.proximityOverlaySql("hash", "join", w = 5))),

    Q("q172_hybrid_phrase", (s, dir) => {
      // PHRASE-CONSTRAINED hybrid retrieval (r11 ask #7) — the "exact
      // quote + semantic" query: q163's per-probe vector+lexical RRF with
      // the exact-phrase doc set (q167's positional join) gating the
      // fused candidates BEFORE the final rank. A candidate that scored
      // well on either arm but lacks the quote cannot displace one that
      // carries it; a probe none of whose gated candidates match yields
      // fewer (or no) rows — the gate's absence arm. The gate broadcasts
      // (ENFORCED) against the serving-bounded fused frame.
      import s.implicits._
      val emb = T(s, dir, "embeddings")
      val cents = Similarity.hyperplanes(4, 64).map(_.map(_ * 0.02))
      val assigned = Similarity.ivfAssign(
        emb.select("vec_id", "embedding"), "embedding", cents)
      val queries = Seq(
        (0L, Seq("merge", "group")),
        (1L, Seq("table", "hash")),
        (2L, Seq("spark", "query")),
        (3L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      val docs = T(s, dir, "documents")
      // the retrieval arms' eager gates (probe pin + vec gate + lex gate)
      // and the phrase gate's pin (a full positional corpus scan inside
      // rrfFuseAll) touch disjoint serialized stages — build them
      // CONCURRENTLY (guide §2.6 via Serving.inParallel); same frames,
      // same fusion, oracle hash unchanged
      val ((vec, lex), gate) = graft.operators.Serving.inParallel({
        // pinned: same serving-bounded probe-batch idiom as the 64-probe
        // serves — the gate and broadcast arms would re-run the corpus cut
        val probes = emb.orderBy(col("vec_id")).limit(4)
          .select("vec_id", "embedding")
          .localCheckpoint(true)
        val v = Similarity.ivfMultiProbeKnnJoin(assigned, "vec_id",
          "embedding", "ivf_list", probes, "vec_id", "embedding", k = 10,
          cents, nprobe = 2, excludeSelf = true)
        val l = graft.operators.TextStats.bm25PerQuery(docs,
            "doc_id", "text", queries, "probe_id", "terms", n = 10)
          .select(col("probe_id"), col("doc_id").as("neighbor_id"),
            col("rank"))
        (v, l)
      }, {
        // pre-pinned here so the positional scan overlaps the arm gates;
        // rrfFuseAll's own distinct+pin then reads this bounded frame
        graft.operators.TextStats.phraseMatch(docs,
            "doc_id", "text", Seq("merge", "group"))
          .select(col("doc_id").as("neighbor_id"))
          .distinct().localCheckpoint(true)
      })
      Similarity.rrfFuseAll(Seq(vec, lex), k = 5, kRrf = 60,
        candidates = Some(gate))
    }, Some(TextOracle.hybridPhraseRrfSql(Seq(
      0L -> Seq("merge", "group"),
      1L -> Seq("table", "hash"),
      2L -> Seq("spark", "query"),
      3L -> Seq("zzzunmatchedterm")),
      phrase = Seq("merge", "group"),
      k = 5, kVec = 10, nLex = 10, kRrf = 60, nLists = 4, dims = 64,
      scale = 0.02, nprobe = 2, nProbes = 4))),

    Q("q173_best_passage", (s, dir) => {
      // BEST PASSAGE WINDOW (r11 ask #8's second form) — per doc, the max
      // distinct query terms any width-w token window covers (windows
      // anchored at query-term positions; an optimal window can always
      // start on one): the passage-retrieval primitive. One-sided width-w
      // bucket blocking (each position 2x-replicated into its own and the
      // previous bucket) turns the start x position band pairing into a
      // plain (doc, bucket) equi-join — q168's idiom, one-sided.
      graft.operators.TextStats.bestPassageWindow(T(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "join", "merge", "query"), w = 8)
    }, Some(TextOracle.bestPassageWindowSql(
      Seq("hash", "join", "merge", "query"), w = 8))),

    Q("q171_prf_overlay", (s, dir) => {
      // LexLake.prfServe's SEMANTICS as a pure oracle query (r11 ask #5):
      // PRF expand-and-requery (q166's two passes, CTEs shared verbatim)
      // over the q161-folded LOGICAL corpus — exactly what the lake's
      // two-pass serve computes from its stored postings + overlays
      // under one generation resolution (parity spec-pinned in
      // LexLakeSpec).
      import s.implicits._
      val queries = Seq(
        (10L, Seq("spark", "query")),
        (20L, Seq("merge", "vector", "hash")),
        (30L, Seq("window", "stream", "stream")),
        (40L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      val edits = docs.filter(col("doc_id") % 11 === 3)
        .select(col("doc_id"), upper(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("inserted:"), col("doc_id").cast("string")).as("text")))
      val tombs = docs.filter(col("doc_id") % 13 === 5).select("doc_id")
      // the folded logical corpus feeds all four of PRF's corpus passes
      // (stats, two tf passes, the feedback prune) — persist it so the
      // union + anti-join fold runs once, not once per pass (the q75
      // persisted-clean-stage idiom; the lake twin reads STORED postings
      // and never pays the fold at serve time)
      graft.operators.TextStats.bm25PrfExpand(
        graft.domain.DedupLake.corpusFold(docs, edits, tombs)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        "doc_id", "text", queries, "probe_id", "terms",
        n = 10, fbDocs = 5, fbTerms = 3)
    }, Some(TextOracle.bm25PrfSql(Seq(
      10L -> Seq("spark", "query"),
      20L -> Seq("merge", "vector", "hash"),
      30L -> Seq("window", "stream", "stream"),
      40L -> Seq("zzzunmatchedterm")), n = 10, fbDocs = 5, fbTerms = 3,
      k1 = 1.2, b = 0.75, source = "folded",
      prefixCtes = TextOracle.overlayFoldPrefix))),

    Q("q170_proximity_matrix", (s, dir) => {
      // the multi-term PMI-input matrix (r11 ask #8): every unordered
      // pair of distinct query terms, corpus-total within-w position
      // pairs. One tokenize pass filtered to the bounded term set; the
      // |terms|^2 pairing rides the same width-w bucket blocking as q168
      // (one side 3x-replicated -> plain (doc, bucket) equi-join), so no
      // nested loop at any term frequency.
      graft.operators.TextStats.proximityMatrix(T(s, dir, "documents"),
        "doc_id", "text", Seq("hash", "join", "merge", "query"), w = 5)
    }, Some(TextOracle.proximityMatrixSql(
      Seq("hash", "join", "merge", "query"), w = 5))),

    Q("q174_phrase_batch", (s, dir) => {
      // BATCHED exact phrase search (r12 ask #1, the pure twin of
      // LexLake.phraseServeBatch): one tokenize pass filtered to the
      // UNION of all probes' phrase terms, then ONE keyed aggregation
      // answers every probe — a phrase occurrence at start s is "every
      // slot i holds its term at s + i", stated as a per-(probe, doc,
      // start) distinct-slot count, so one plan serves phrases of every
      // length (incl. the duplicate-word arm) with no per-phrase fold
      // chain and no extra corpus work per added probe.
      import s.implicits._
      val probes = Seq(
        (0L, Seq("hash", "join")),
        (1L, Seq("merge", "group")),
        (2L, Seq("spark")),
        (3L, Seq("query", "query")),
        (4L, Seq("zzzunmatchedterm", "query"))).toDF("probe_id", "phrase")
      graft.operators.TextStats.phraseMatchBatch(T(s, dir, "documents"),
        "doc_id", "text", probes)
    }, Some(TextOracle.phraseMatchBatchSql(Seq(
      0L -> Seq("hash", "join"),
      1L -> Seq("merge", "group"),
      2L -> Seq("spark"),
      3L -> Seq("query", "query"),
      4L -> Seq("zzzunmatchedterm", "query"))))),

    Q("q175_proximity_batch", (s, dir) => {
      // BATCHED windowed proximity (r12 ask #1, the pure twin of
      // LexLake.proximityServeBatch): the width-w bucket blocking of q168
      // keyed on (probe, doc, bucket) — every probe's pair counts from one
      // tokenize pass over the union of the batch's terms, including the
      // same-term arm (pa != pb) and the unmatched-term absence arm.
      import s.implicits._
      val probes = Seq(
        (0L, "hash", "join"),
        (1L, "merge", "query"),
        (2L, "stream", "stream"),
        (3L, "zzzunmatchedterm", "spark")).toDF(
        "probe_id", "term_a", "term_b")
      graft.operators.TextStats.proximityPairsBatch(T(s, dir, "documents"),
        "doc_id", "text", probes, w = 5)
    }, Some(TextOracle.proximityPairsBatchSql(Seq(
      (0L, "hash", "join"),
      (1L, "merge", "query"),
      (2L, "stream", "stream"),
      (3L, "zzzunmatchedterm", "spark")), w = 5))),

    Q("q176_passage_batch", (s, dir) => {
      // BATCHED best passage window (r12 ask #1, the pure twin of
      // LexLake.passageServeBatch): q173's one-sided blocking keyed on
      // (probe, doc, bucket), every probe's window maxima from one
      // tokenize pass over the union of the batch's term sets.
      import s.implicits._
      val probes = Seq(
        (0L, Seq("hash", "join", "merge", "query")),
        (1L, Seq("spark", "window")),
        (2L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      graft.operators.TextStats.bestPassageWindowBatch(T(s, dir, "documents"),
        "doc_id", "text", probes, w = 8)
    }, Some(TextOracle.bestPassageWindowBatchSql(Seq(
      0L -> Seq("hash", "join", "merge", "query"),
      1L -> Seq("spark", "window"),
      2L -> Seq("zzzunmatchedterm")), w = 8))),

    Q("q177_proximity_rank", (s, dir) => {
      // PROXIMITY-WEIGHTED ranking (r12 ask #6) — BM25 plus a per-term-
      // pair proximity BONUS in one ranked list, exact integer micros:
      // the middle ground between plain BM25 (q162) and the hard phrase
      // gate (q172) every retrieval product ships. The bonus rides the
      // same width-w bucket-blocked equi-join as q168/q170 (never a
      // nested loop); the final rank is the bounded heap. The lake twin
      // (LexLake.proximityRankServe) shares the fold — parity spec-pinned.
      import s.implicits._
      val queries = Seq(
        (10L, Seq("spark", "query")),
        (20L, Seq("merge", "vector", "hash")),
        (30L, Seq("window", "stream", "stream")),
        (40L, Seq("zzzunmatchedterm"))).toDF("probe_id", "terms")
      graft.operators.TextStats.bm25ProximityRank(T(s, dir, "documents"),
        "doc_id", "text", queries, "probe_id", "terms",
        n = 10, w = 5, proxWeight = 1.0)
    }, Some(TextOracle.bm25ProximityRankSql(Seq(
      10L -> Seq("spark", "query"),
      20L -> Seq("merge", "vector", "hash"),
      30L -> Seq("window", "stream", "stream"),
      40L -> Seq("zzzunmatchedterm")), n = 10, w = 5,
      k1 = 1.2, b = 0.75, proxWeight = 1.0))),

    Q("q149_mmr_rerank", (s, dir) => {
      // diversity-aware serving: MMR over each probe's top-10 pool — the
      // result-list dedup stage of a retrieval stack. λ fixed at 0.5 so the
      // greedy argmax order is exact integer micros in both engines; the
      // k−1 steps are keyed joins over the serving-bounded pool. The probe
      // set is the CONSTANT 64-probe batch (q144's serving policy, not the
      // eval harness's corpus-fraction contract): re-ranking is a per-
      // request stage, so its registered slope must be the one a deployment
      // pays — linear in the corpus from the pool pass, flat after it
      val emb = T(s, dir, "embeddings")
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      Similarity.mmrRerank(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, poolSize = 10)
    }, Some(TextOracle.mmrRerankSql(k = 5, poolSize = 10, nProbes = 64))),

    Q("q143_reconcile_keeps", (s, dir) => {
      // the compaction analogue for dedup state: greedy per-batch keeps
      // (arrival-order dependent, chains resolved greedily) repaired to the
      // batch-order-independent full resolution — min-id per component —
      // with the applied diff labeled keep/drop/resurrect
      val docs = T(s, dir, "documents")
      // ONE candidate pass: the greedy keep rule against an empty index is
      // exactly "no smaller-id partner" = never the max side of a pair
      // (incrementalKeep's within-batch rule, equality oracle-pinned), and
      // the closure comes from the shared lake artifact instead of a second
      // candidate + closure run — the scale-honest shape: reconciliation
      // APPLIES the materialized cluster labels, it doesn't recompute them
      val cand = Dedup.minhashLshCandidates(docs, "doc_id", "text",
        numHashes = 8, bandRows = 2, shingleN = 2)
      val greedy = docs.select("doc_id").join(
        cand.select(col("doc_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val r = Dedup.reconcileKeepsFromLabels(docs, "doc_id",
        sharedClusterLabels(s, dir), greedy)
      r.repairedKeeps.join(r.resurrections, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit("keep").as("status"))
        .unionByName(r.drops.select(col("doc_id"), lit("drop").as("status")))
        .unionByName(r.resurrections
          .select(col("doc_id"), lit("resurrect").as("status")))
    }, Some(TextOracle.reconcileKeepsSql(numHashes = 8, bandRows = 2))),

    Q("q144_knn_serve", (s, dir) => {
      // the SERVING shape next to the eval harness: a CONSTANT probe batch
      // (the 64 smallest vec_ids — a TakeOrdered, deterministic on sparse id
      // spaces) against the whole corpus through the same bounded-heap
      // broadcast plan as q83. The eval family (q83/q84/q105/q142) scales
      // probes with the corpus by harness contract (work ~ sf²); serving
      // holds |probes| fixed, so cost is LINEAR in the corpus — the slope a
      // deployment actually pays per ingested decade
      val emb = T(s, dir, "embeddings")
      // the constant probe batch is 64 rows but each un-pinned reference
      // re-runs the corpus TakeOrdered cut (serving gates + broadcast arms
      // evaluate it 2-4x per query; at scale each evaluation is a full
      // scan). ONE cut, pinned — the serving-bounded-frame idiom.
      val probes = emb.orderBy(col("vec_id")).limit(64)
        .select("vec_id", "embedding")
        .localCheckpoint(true)
      Similarity.knnJoin(emb, "vec_id", "embedding",
        probes, "vec_id", "embedding", k = 5, excludeSelf = true)
    }, Some(TextOracle.knnServeSql(k = 5, nProbes = 64))),

    Q("q126_unicode_normalize", (s, dir) => {
      // NFC + accent folding + lowercase via the native TextNorm expressions;
      // deterministic non-ASCII decorations exercise composition/stripping
      import graft.plans.TextNormExpressions.{nfcNormalize, stripAccents}
      val ds = TextOracle.normDecorations
      val deco = concat(
        when(col("doc_id") % 4 === 0, lit(ds(0)))
          .when(col("doc_id") % 4 === 1, lit(ds(1)))
          .when(col("doc_id") % 4 === 2, lit(ds(2)))
          .otherwise(lit(ds(3))),
        col("text"))
      T(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          nfcNormalize(deco).as("nfc"),
          stripAccents(deco).as("folded"),
          lower(nfcNormalize(deco)).as("lowered"),
          length(nfcNormalize(deco)).cast("long").as("n_chars"))
    }, Some(TextOracle.unicodeNormalizeSql)),

    Q("q45_tz_file_date", (s, dir) =>
      // F13 Asia/Ho_Chi_Minh file-date naming (utils/common.py:142-144)
      T(s, dir, "events").select(col("event_id"),
        date_format(from_utc_timestamp(col("ts"), "Asia/Ho_Chi_Minh"), "ddMMyyyy")
          .as("file_date")),
      Some("""
      SELECT event_id,
             strftime(timezone('Asia/Ho_Chi_Minh', CAST(ts AS TIMESTAMPTZ)), '%d%m%Y') AS file_date
      FROM events"""))
  )

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    // flagship: the full training-data pipeline composition (q75) — every
    // expression in its path is ANSI-safe (the driver's session has ANSI on)
    queries("q75_training_pipeline")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, QFn] =
    registry.map(q => q.name -> q.fn).toMap

  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(o => q.name -> o.trim.replaceAll("\\s+", " "))).toMap
}
