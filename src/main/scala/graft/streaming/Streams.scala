package graft.streaming

import graft.domain.Schemas
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming jobs (SURVEY §2.9 ST1-ST10), Structured-Streaming-first:
  * checkpoints replace the reference's JSON state files and manual offset
  * commits; `foreachBatch` merges replace per-message MySQL commits.
  *
  * Every job is split into a pure batch core (DataFrame -> DataFrame, unit
  * testable, reusable for backfills) and a thin streaming wrapper — the
  * standard pattern for exactly-once `foreachBatch` sinks.
  */
object Streams {

  // ---- transport binding (S16/S17) ----

  /** True when the spark-sql-kafka connector is on the classpath. This
    * environment ships none, so the binding stays a runtime probe: the
    * `.format("kafka")` string needs no compile-time dependency, and the
    * fallback keeps every pipeline runnable (and testable) wire-agnostic. */
  lazy val kafkaAvailable: Boolean =
    try { Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider"); true }
    catch { case _: Throwable => false }

  /** The EXACT option maps the kafka branches bind — pure functions, so the
    * wire contract is pinned by tests without a broker or connector jar
    * (reference: kafka/consumers/kafka_consumer_prices.py:37 subscription,
    * config/settings.py:23-33 topics/servers). */
  def kafkaSourceOptions(topic: String, bootstrapServers: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "subscribe" -> topic,
      "startingOffsets" -> "earliest")

  def kafkaSinkOptions(topic: String, bootstrapServers: String,
                       checkpoint: String): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrapServers,
      "topic" -> topic,
      "checkpointLocation" -> checkpoint)

  /** S17 wire source: a Kafka subscription when the connector is present
    * (reference: kafka/consumers/kafka_consumer_prices.py:37), else a JSONL
    * file-watch over `fallbackPath` with the IDENTICAL (value: string)
    * shape — downstream decodes are transport-agnostic either way.
    * `useKafka` defaults to the classpath probe; tests override it to
    * execute the kafka branch itself (format selection + option binding)
    * even on a jar-less classpath. */
  def wireSource(spark: SparkSession, topic: String, bootstrapServers: String,
                 fallbackPath: String,
                 useKafka: Boolean = kafkaAvailable): DataFrame =
    if (useKafka)
      spark.readStream.format("kafka")
        .options(kafkaSourceOptions(topic, bootstrapServers))
        .load()
        .select(col("value").cast("string").as("value"))
    else spark.readStream.text(fallbackPath).select(col("value"))

  /** S16 wire sink for encodeJson output (single `value` column): Kafka when
    * present (reference: kafka/producers/kafka_producer_prices.py:68), else
    * exactly-once JSONL files at `fallbackPath`. */
  def wireSink(encoded: DataFrame, topic: String, bootstrapServers: String,
               fallbackPath: String, checkpoint: String,
               useKafka: Boolean = kafkaAvailable)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    if (useKafka)
      encoded.writeStream.format("kafka")
        .options(kafkaSinkOptions(topic, bootstrapServers, checkpoint))
    else
      encoded.writeStream.format("text")
        .option("path", fallbackPath)
        .option("checkpointLocation", checkpoint)

  // ---- decode (S17/S18) ----

  /** Kafka-wire JSON decode: value -> typed columns (F11). */
  def decodeJson(df: DataFrame, schema: StructType): DataFrame =
    df.select(from_json(col("value").cast("string"), schema).as("m")).select("m.*")

  /** S16 producer shape: all columns -> one JSON `value` column, the row
    * format every Kafka-compatible sink takes (kafka_producer_*.py:30-50).
    * The engine is wire-agnostic: tests write this to files/memory, a real
    * deployment adds .format("kafka") + bootstrap servers. */
  def encodeJson(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  /** ST1 ingress: price-tick messages — type dispatch (P7) + required-field
    * validity (P8) + money parsing (F1-F4). */
  def decodePriceTicks(raw: DataFrame): DataFrame = {
    import graft.functions.{MoneyFunctions => MF}
    decodeJson(raw, Schemas.priceTickMsg)
      .filter(col("type") === "price")
      // timestamp included: a tick without one would land as NULL ts, never
      // advance crawl_state, and defeat replay dedup downstream
      .filter(col("appid").isNotNull && col("price").isNotNull &&
        col("discount").isNotNull && col("initial_price").isNotNull &&
        col("timestamp").isNotNull)
      .select(
        col("appid"),
        MF.toCents(col("price")).as("price_cents"),
        MF.parseDiscount(col("discount")).as("discount"),
        MF.toCents(col("initial_price")).as("initial_price_cents"),
        timestamp_seconds(col("timestamp")).as("ts"))
  }

  /** S18: Debezium envelope decode. */
  def decodeCdc(raw: DataFrame): DataFrame =
    decodeJson(raw, Schemas.cdcEnvelope)
      .select(col("payload.before").as("before"), col("payload.after").as("after"))
      .filter(col("after").isNotNull)

  /** ST4 change filter: any of the three compared fields differs (null-safe —
    * NULL -> value transitions are changes), or the row is new (before IS
    * NULL -> reference skips notify; we mirror that). */
  def cdcChanged(decoded: DataFrame): DataFrame =
    decoded.filter(col("before").isNotNull &&
      (!(col("before.price") <=> col("after.price")) ||
        !(col("before.discount") <=> col("after.discount")) ||
        !(col("before.initial_price") <=> col("after.initial_price"))))

  // ---- stateful dedup (ST4/ST9) ----

  final case class CdcChange(game_id: Int, ts: Double,
                             old_price: Double, new_price: Double,
                             old_discount: Int, new_discount: Int)

  /** Per-key monotone high-water-mark dedup: drop events whose ts <= the max
    * already seen for the key — the GroupState replacement for cdc_state.json
    * (tasks/steam_tasks_improved.py:513-529,577-601). State survives restarts
    * via the query checkpoint, like the reference's JSON file did. */
  def monotoneDedup(ds: Dataset[CdcChange]): Dataset[CdcChange] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.game_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Int, events: Iterator[CdcChange], state: GroupState[Double]) => {
          val seen = state.getOption.getOrElse(Double.MinValue)
          // batch-internal ordering: process in ts order so replays are stable
          val fresh = events.toSeq.sortBy(e => (e.ts, e.new_price)).filter(_.ts > seen)
          val kept = fresh.foldLeft(List.empty[CdcChange] -> seen) {
            case ((acc, hwm), e) => if (e.ts > hwm) (e :: acc, e.ts) else (acc, hwm)
          }
          if (kept._2 > seen) state.update(kept._2)
          kept._1.reverse.iterator
        })
  }

  /** transformWithState twin of monotoneDedup — the same per-key
    * high-water-mark semantics on Spark 4's arbitrary-state API
    * (StatefulProcessor + typed ValueState). What the new API buys at scale
    * over flatMapGroupsWithState: state lives in named typed stores on the
    * RocksDB provider (required — the HDFS-backed store doesn't support it),
    * TTL is per-state-variable config instead of hand-rolled timeout plumbing,
    * and schema evolution of state is supported across restarts. Kept as a
    * twin rather than a replacement: the GroupState form runs on any provider,
    * and parity between the two is pinned in spec. */
  final class MonotoneHwmProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, CdcChange, CdcChange] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var hwm: ValueState[Double] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hwm = getHandle.getValueState[Double]("hwm",
        org.apache.spark.sql.Encoders.scalaDouble, TTLConfig.NONE)
    override def handleInputRows(key: Int, rows: Iterator[CdcChange],
                                 timers: TimerValues): Iterator[CdcChange] = {
      val seen = if (hwm.exists()) hwm.get() else Double.MinValue
      // same batch-internal ordering as monotoneDedup: replays are stable
      val fresh = rows.toSeq.sortBy(e => (e.ts, e.new_price)).filter(_.ts > seen)
      val kept = fresh.foldLeft(List.empty[CdcChange] -> seen) {
        case ((acc, h), e) => if (e.ts > h) (e :: acc, e.ts) else (acc, h)
      }
      if (kept._2 > seen) hwm.update(kept._2)
      kept._1.reverse.iterator
    }
  }

  /** ST4/ST9 on the transformWithState API; semantics identical to
    * monotoneDedup (spec-pinned on the same event sequences). */
  def monotoneDedupTws(ds: Dataset[CdcChange]): Dataset[CdcChange] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.game_id)
      .transformWithState(new MonotoneHwmProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** TTL form of monotoneDedup: identical high-water-mark semantics within
    * the retention window, but keys idle past `stateTtl` IN EVENT TIME (the
    * watermark drives eviction, so retention is data-defined and replayable,
    * not wall-clock) have their state removed — state stays bounded by the
    * active-key set instead of growing with every key ever seen.
    *
    * Output semantics are EXACTLY the non-TTL form's: a key only evicts once
    * the watermark passes hwm + ttl, and any later event the watermark still
    * admits (ts > watermark >= hwm + ttl > hwm) would have passed the
    * high-water-mark check anyway — every event the TTL form could wrongly
    * re-accept is already dropped as late data. The reference's
    * forever-growing cdc_state.json semantics remain available via the
    * non-TTL monotoneDedup (it also accepts arbitrarily late arrivals, which
    * this form's watermark discards). `stateTtl` must exceed the watermark
    * delay for the above argument to hold. */
  def monotoneDedupTtl(ds: Dataset[CdcChange], watermarkDelay: String,
                       stateTtl: java.time.Duration): Dataset[CdcChange] = {
    import ds.sparkSession.implicits._
    val withWm = ds.withColumn("__event_ts", timestamp_seconds(col("ts")))
      .withWatermark("__event_ts", watermarkDelay)
      .as[CdcChange]
    withWm.groupByKey(_.game_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: Int, events: Iterator[CdcChange], state: GroupState[Double]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val seen = state.getOption.getOrElse(Double.MinValue)
            val fresh = events.toSeq.sortBy(e => (e.ts, e.new_price)).filter(_.ts > seen)
            val kept = fresh.foldLeft(List.empty[CdcChange] -> seen) {
              case ((acc, hwm), e) => if (e.ts > hwm) (e :: acc, e.ts) else (acc, hwm)
            }
            if (kept._2 > seen) state.update(kept._2)
            // timeout must sit strictly above the watermark (Spark enforces
            // it); clamp for the batch-of-only-stale-events edge
            if (state.exists)
              state.setTimeoutTimestamp(math.max(
                (kept._2.max(seen) * 1000).toLong + stateTtl.toMillis,
                state.getCurrentWatermarkMs() + 1))
            kept._1.reverse.iterator
          }
        })
  }

  // ---- batch-core merges (ST1-ST3, S11-S15 semantics) ----

  /** ST1 core: one micro-batch of price ticks into the warehouse.
    * Returns (gamesDelta, pricesAppend, crawlStateMerged):
    *  - games missing the tick's appid get a bare row appended
    *    (tasks/steam_tasks_improved.py:469-478 auto-insert)
    *  - ticks append to prices
    *  - crawl_state.last_price_timestamp = max(old, new) per key (A5). */
  def priceBatchMerge(games: DataFrame, crawlState: DataFrame,
                      ticks: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val missingGames = ticks.select(col("appid").as("game_id")).distinct()
      .join(games.select("game_id"), Seq("game_id"), "left_anti")
    val stateUpdates = Relational.maxMerge(
      ticks.select(col("appid").as("game_appid"), col("ts")), "game_appid", "ts")
      .withColumnRenamed("ts", "last_price_timestamp")
    val mergedState = crawlState
      .join(stateUpdates.withColumnRenamed("last_price_timestamp", "new_ts"),
        Seq("game_appid"), "full_outer")
      .select(col("game_appid"),
        col("last_review_timestamp"),
        greatest(coalesce(col("last_price_timestamp"), col("new_ts")),
          coalesce(col("new_ts"), col("last_price_timestamp"))).as("last_price_timestamp"))
    (missingGames, ticks, mergedState)
  }

  /** ST3/S15 core: review upsert-dedup by (appid, author_steamid), keep the
    * newest by review_timestamp ACROSS existing and incoming — a replayed or
    * out-of-order old batch can never regress a row that the warehouse already
    * holds in a newer version. Ties (same timestamp) go to the incoming side,
    * matching upsert's replace-on-conflict intent. */
  def reviewBatchMerge(existing: DataFrame, incoming: DataFrame): DataFrame =
    Relational.dedupKeepLast(
      existing.withColumn("__side", lit(0))
        .unionByName(incoming.withColumn("__side", lit(1))),
      keys = Seq("appid", "author_steamid"),
      order = Seq(col("review_timestamp"), col("__side")))
      .drop("__side")

  /** ST2 core: review_summaries INSERT IGNORE by recommendationid
    * (tasks/steam_review_task_improved.py:479-486). `arrivalOrder` makes the
    * within-batch duplicate pick deterministic (first arrival wins, like
    * MySQL INSERT IGNORE) — dropDuplicates alone picks arbitrarily. */
  def reviewSummariesMerge(existing: DataFrame, incoming: DataFrame,
                           arrivalOrder: org.apache.spark.sql.Column): DataFrame = {
    val deduped = Relational.dedupKeepFirst(incoming,
      Seq("recommendationid"), Seq(arrivalOrder))
    existing.unionByName(
      deduped.join(existing.select("recommendationid"), Seq("recommendationid"), "left_anti"))
  }

  // ---- streaming near-duplicate filtering (training-data pipelines) ----

  final case class BandedDoc(doc_id: Long, band: Int, band_hash: String)
  final case class DedupVerdict(doc_id: Long, is_duplicate: Boolean)

  /** Streaming MinHash-LSH dedup: keep a document iff none of its LSH bands
    * was seen before. State is keyed on (band, band_hash) — bounded by the
    * number of distinct band buckets, not documents — and survives restarts
    * via the checkpoint. A doc is emitted once per band; downstream keeps
    * docs where no band flagged a duplicate (groupBy doc agg max).
    *
    * Approximate by construction (same guarantees as batch MinHash-LSH):
    * collisions = near-duplicates with high probability. The batch form is
    * Dedup.minhashLshCandidates; this is its incremental arrival-order form —
    * first arrival wins, later near-dups are flagged.
    *
    * State sizing at scale: prefer streamingBandDedupTtl (event-time
    * eviction), and run large retained state on the RocksDB store —
    * spark.sql.streaming.stateStore.providerClass =
    * o.a.s.sql.execution.streaming.state.RocksDBStateStoreProvider — which
    * spills to local disk with incremental checkpointing (StreamingDedupSpec
    * exercises this operator on that provider). */
  def streamingBandDedup(bands: org.apache.spark.sql.Dataset[BandedDoc])
  : org.apache.spark.sql.Dataset[DedupVerdict] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(b => (b.band, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: (Int, String), docs: Iterator[BandedDoc], state: GroupState[Long]) => {
          val sorted = docs.toSeq.sortBy(_.doc_id)
          state.getOption match {
            case Some(_) =>
              // bucket already claimed by an earlier doc -> all dups
              sorted.iterator.map(d => DedupVerdict(d.doc_id, is_duplicate = true))
            case None if sorted.nonEmpty =>
              state.update(sorted.head.doc_id)
              Iterator(DedupVerdict(sorted.head.doc_id, is_duplicate = false)) ++
                sorted.tail.iterator.map(d => DedupVerdict(d.doc_id, is_duplicate = true))
            case None => Iterator.empty
          }
        })
  }

  /** transformWithState twin of streamingBandDedup — same first-claimer
    * semantics through a typed ValueState per band bucket (RocksDB provider
    * required). Retention note: the new API offers per-variable TTLConfig,
    * but its processing-time retention is not replay-stable; when state must
    * be bounded AND retention must be event-time-defined, use
    * streamingBandDedupTtl (watermark-driven, replayable). */
  final class BandClaimProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        (Int, String), BandedDoc, DedupVerdict] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var claim: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      claim = getHandle.getValueState[Long]("claim",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: (Int, String), docs: Iterator[BandedDoc],
                                 timers: TimerValues): Iterator[DedupVerdict] = {
      val sorted = docs.toSeq.sortBy(_.doc_id)
      if (claim.exists())
        sorted.iterator.map(d => DedupVerdict(d.doc_id, is_duplicate = true))
      else if (sorted.nonEmpty) {
        claim.update(sorted.head.doc_id)
        Iterator(DedupVerdict(sorted.head.doc_id, is_duplicate = false)) ++
          sorted.tail.iterator.map(d => DedupVerdict(d.doc_id, is_duplicate = true))
      } else Iterator.empty
    }
  }

  /** streamingBandDedup on the transformWithState API. */
  def streamingBandDedupTws(bands: org.apache.spark.sql.Dataset[BandedDoc])
  : org.apache.spark.sql.Dataset[DedupVerdict] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(b => (b.band, b.band_hash))
      .transformWithState(new BandClaimProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  final case class TimedBandedDoc(doc_id: Long, band: Int, band_hash: String,
                                  event_ts: java.sql.Timestamp)

  /** TTL form of streamingBandDedup: band buckets idle past `stateTtl` in
    * event time are evicted, so state is bounded by the buckets touched within
    * the retention window — at 100 TB the non-TTL form's "bounded by band
    * buckets" is the corpus itself, which is exactly what must not live in the
    * state store forever. Within the window, verdicts are identical to
    * streamingBandDedup; after a bucket evicts, the next arrival claims it
    * fresh (dedup-within-retention semantics — the standard contract for
    * streaming near-dup filters). `stateTtl` should exceed the watermark
    * delay.
    *
    * CHECKPOINT COMPATIBILITY: the state encoding is `(Long, Long)` =
    * (claiming doc_id, max event-time millis seen). It was `GroupState[Long]`
    * before the monotone-max timeout fix — a query restarted from a
    * checkpoint written by that version will fail to deserialize its state;
    * restart such queries with a NEW checkpointLocation (dedup-within-
    * retention semantics make the re-warm loss bounded by one TTL window). */
  def streamingBandDedupTtl(bands: Dataset[TimedBandedDoc], watermarkDelay: String,
                            stateTtl: java.time.Duration): Dataset[DedupVerdict] = {
    import bands.sparkSession.implicits._
    bands.withWatermark("event_ts", watermarkDelay)
      .as[TimedBandedDoc]
      .groupByKey(b => (b.band, b.band_hash))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        // state = (claiming doc_id, max event-time seen): the timeout must
        // anchor on the MONOTONE max across batches — anchoring on each
        // batch's own max would let a later batch of older-event-time dups
        // move the eviction EARLIER and release the bucket before stateTtl
        // of event-time idleness
        (_: (Int, String), docs: Iterator[TimedBandedDoc], state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = docs.toSeq.sortBy(d => (d.event_ts.getTime, d.doc_id))
            val batchMax =
              if (sorted.isEmpty) Long.MinValue
              else sorted.map(_.event_ts.getTime).max
            val out = state.getOption match {
              case Some((claim, seenMax)) =>
                state.update((claim, math.max(seenMax, batchMax)))
                sorted.iterator.map(d => DedupVerdict(d.doc_id, is_duplicate = true))
              case None if sorted.nonEmpty =>
                state.update((sorted.head.doc_id, batchMax))
                Iterator(DedupVerdict(sorted.head.doc_id, is_duplicate = false)) ++
                  sorted.tail.iterator.map(d => DedupVerdict(d.doc_id, is_duplicate = true))
              case None => Iterator.empty
            }
            if (state.exists && sorted.nonEmpty)
              state.setTimeoutTimestamp(state.get._2 + stateTtl.toMillis)
            out
          }
        })
  }

  // ---- streaming wrappers ----

  /** ST5-ST8: exactly-once file watching (replaces the 5 s size-poll loops). */
  def fileStream(spark: SparkSession, schema: StructType, path: String,
                 format: String = "json"): DataFrame =
    spark.readStream.schema(schema).format(format).load(path)

  /** Event-time windowed counts with watermark — the §2.9 extension beyond
    * the reference (it has no event-time windows). */
  def windowedCounts(events: DataFrame, tsCol: String, watermark: String,
                     windowLen: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** Gap-based event-time session windows — the streaming twin of the batch
    * gaps-and-islands sessionization (q50): a session closes once the
    * watermark passes last-event + gap, so state per (user, open session) is
    * bounded by the watermark, and results are final on emit. */
  def sessionCounts(events: DataFrame, tsCol: String, keyCol: String,
                    watermark: String, gap: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))

  /** Watermarked stream-stream inner join: match right-stream rows to
    * left-stream rows on a key within a bounded event-time skew. The time
    * bound lives INSIDE the join condition — that is what lets Spark compute
    * a state watermark and evict buffered rows, so join state is bounded by
    * (watermark delay + skew) x arrival rate, not stream lifetime. Column
    * names must be disjoint (the reference-shaped use: enrich price ticks
    * with the review row that preceded them). */
  def streamJoinWithin(left: DataFrame, leftKey: String, leftTs: String,
                       right: DataFrame, rightKey: String, rightTs: String,
                       watermark: String, within: String): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$leftKey = $rightKey AND " +
          s"$rightTs >= $leftTs - INTERVAL $within AND $rightTs <= $leftTs"))

  /** Streaming ingest dedup against a STORED corpus LSH index — the
    * stream-shaped twin of Dedup.incrementalKeep (q86). Each micro-batch
    * runs the batch probe core: batch band rows broadcast against the
    * lake-resident index, survivors flow to `sink`. Stateless in the state
    * store — the index IS the state, living where 100 TB of it belongs (the
    * lake, appended by the same pipeline after each batch commits);
    * within-stream cross-batch dups are streamingBandDedup's job or are
    * caught once the index append lands. `sink` runs in foreachBatch with
    * the standard idempotent-merge contract (replays re-filter identically
    * because the index only grows). */
  def indexDedupStream(docs: DataFrame, idCol: String, textCol: String,
                       index: org.apache.spark.sql.DataFrame,
                       numHashes: Int = 8, bandRows: Int = 2, shingleN: Int = 2)
                      (sink: DataFrame => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    // NOTE: `index` is captured ONCE — its underlying path must outlive the
    // stream. Against the generation-versioned DedupLake store use
    // [[dedupLakeIngestStream]] instead: it re-resolves the current
    // generation per micro-batch, so a reconcile promotion mid-stream is
    // picked up rather than eventually stranding a displaced path.
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      // pinned form + per-batch release: the probe pins the batch band table,
      // and a persisted DataFrame is a CacheManager entry, not GC-reclaimed —
      // without the unpersist every micro-batch would leak one pin
      val (kept, bandPin) = graft.operators.Dedup.incrementalKeepPinned(
        batch, idCol, textCol, index, numHashes, bandRows, shingleN)
      graft.operators.Serving.withPinned(bandPin)(_ => sink(kept))
    }

  /** Streaming ingest into the managed DEDUP lake — the document twin of
    * [[vectorLakeIngestStream]]: each micro-batch runs DedupLake.ingest's
    * full probe-append cycle (archive, index, keeps) under the store's
    * writer lease, with the CURRENT generation resolved per batch — a
    * scheduled reconcile promoting between micro-batches is picked up on
    * the very next one. Exactly-once EFFECT on at-least-once delivery by
    * the lake's replay contract (anti-joined appends; a redelivered batch
    * inserts nothing). `lockWaitMs` stalls a batch behind a running
    * maintenance window instead of crashing the query (the
    * vectorLakeIngestStream bound and caveat apply). `onKept` sees
    * (epochId, keptCount) per batch — the metrics seam. */
  def dedupLakeIngestStream(docs: DataFrame, root: String,
                            numHashes: Int = 8, bandRows: Int = 2,
                            shingleN: Int = 2,
                            lockWaitMs: Long = 30 * 60 * 1000L,
                            onKept: (Long, Long) => Unit = (_, _) => ())
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      // the count comes from ingest's PINNED evaluation under the lease —
      // counting the returned frame here would re-run the probe gate after
      // the unpersist, outside the lock (r9 review)
      graft.domain.DedupLake.ingest(batch.sparkSession, root,
        batch, numHashes, bandRows, shingleN, lockWaitMs = lockWaitMs,
        onKeptCount = n => onKept(epoch, n))
      ()
    }

  /** Streaming ingest into the lake-resident VECTOR index — the embedding
    * twin of [[indexDedupStream]]: each micro-batch runs VectorLake.ingest's
    * full gate (multi-probe near-dup check vs the RESIDENT store,
    * lower-id-wins within the batch) and appends survivors
    * list-partitioned. Exactly-once EFFECT on at-least-once delivery by the
    * lake's contract: a replayed micro-batch re-gates identically and its
    * append anti-joins stored ids — writes nothing, reports the original
    * counts. A micro-batch is serving-bounded by construction, inside the
    * broadcast cap ingest enforces. `lockWaitMs` bounds the wait for the
    * store's writer lease, so a micro-batch that collides with the
    * scheduled reconcile stalls behind it and proceeds (the fail-fast
    * refusal stays the BATCH-caller default — a crashed streaming query is
    * the wrong outcome for a planned maintenance window). The default
    * matches reconcile's default leaseMs (30 min), but the bound is a BOUND,
    * not a guarantee (r8 advice): reconciles are heartbeat-RENEWED precisely
    * because their wall time scales with the corpus, so a reconcile can
    * legitimately outlive ANY fixed wait — a colliding micro-batch then
    * fails loudly and the streaming query's own restart/retry policy
    * re-attempts it after the maintenance window. Size lockWaitMs to the
    * p99 reconcile wall time of YOUR corpus if that crash-restart is too
    * noisy. `onReport` sees (epochId, report) per batch — the metrics
    * seam. */
  def vectorLakeIngestStream(emb: DataFrame, root: String,
                             dupThreshold: Double = 0.95,
                             gateProbes: Int = 2,
                             lockWaitMs: Long = 30 * 60 * 1000L,
                             onReport: (Long, graft.domain.VectorLake.IngestReport) => Unit =
                               (_, _) => ())
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val r = graft.domain.VectorLake.ingest(batch.sparkSession, root, batch,
        dupThreshold, gateProbes, lockWaitMs = lockWaitMs)
      onReport(epoch, r)
    }

  /** Streaming UPSERT into the managed dedup lake — the content-EDIT feed
    * (corrections, re-crawls, redaction rewrites) as a stream: each
    * micro-batch runs [[graft.domain.DedupLake.upsert]]'s full overlay
    * commit under the writer lease with the current generation resolved
    * per batch. Micro-batch ids must be unique (upsert refuses duplicates
    * loudly — an edit feed keyed by doc id satisfies this by
    * construction). Exactly-once EFFECT on at-least-once delivery: the
    * overlay commit is last-writer-wins and the keeps arm anti-joins,
    * so a redelivered batch re-commits identical state. NOTE
    * the within-batch last-writer-wins caveat: two edits of the SAME id
    * must not share a micro-batch (refused); across batches the later one
    * wins, which is the edit feed's intent. `onUpserted` sees (epochId,
    * rowCount) per batch — the metrics seam. */
  def dedupLakeUpsertStream(docs: DataFrame, root: String,
                            lockWaitMs: Long = 30 * 60 * 1000L,
                            onUpserted: (Long, Long) => Unit = (_, _) => ())
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val n = graft.domain.DedupLake.upsert(batch.sparkSession, root, batch,
        lockWaitMs = lockWaitMs)
      onUpserted(epoch, n)
    }

  /** Streaming UPSERT into the lake-resident vector index — the
    * RE-EMBEDDING feed (a model refresh re-encodes resident documents) as
    * a stream: each micro-batch runs [[graft.domain.VectorLake.upsert]]'s
    * replace-by-id under the writer lease (the root edit OVERLAY,
    * last-writer-wins — committed generations stay untouched, so pinned
    * snapshot reads are byte-frozen across the stream; gate-free by the
    * upsert contract). Micro-batch ids must be unique (refused loudly)
    * and the resulting overlay bounded (it broadcasts at every read).
    * Exactly-once EFFECT on at-least-once delivery: upsert is idempotent
    * as a whole — a redelivered batch re-commits identical overlay
    * state. `onUpserted` sees (epochId, rowCount) per batch. */
  def vectorLakeUpsertStream(emb: DataFrame, root: String,
                             lockWaitMs: Long = 30 * 60 * 1000L,
                             onUpserted: (Long, Long) => Unit = (_, _) => ())
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val n = graft.domain.VectorLake.upsert(batch.sparkSession, root, batch,
        lockWaitMs = lockWaitMs)
      onUpserted(epoch, n)
    }

  /** Streaming SERVE over the lake-resident vector index — the query-side
    * twin of [[vectorLakeIngestStream]]: each micro-batch of probe rows
    * (probe_id, embedding; ids unique per batch — searchBatch refuses
    * duplicates loudly) runs ONE partition-pruned
    * [[graft.domain.VectorLake.searchBatch]] over the store and hands the
    * per-probe top-k to `sink` with the epoch — the retrieval endpoint as
    * a stream job (probe batches arrive on a queue, results go to a keyed
    * store), amortizing the scheduling floor across the batch exactly like
    * the batch serve (q155). READER path: no lease is taken, and the
    * CURRENT generation is re-resolved inside every searchBatch call, so a
    * reconcile promoting mid-stream is picked up on the very next
    * micro-batch — a quantized tier adopted (or dropped) by that promotion
    * changes what `quantized = true` serves accordingly, and a replayed
    * epoch after a promotion can legitimately see the NEW generation's
    * results (serving reads are not versioned effects; pin a generation
    * only by holding the results, not by replaying the query). Delivery is
    * foreachBatch at-least-once: the standard sink is an idempotent keyed
    * upsert on (probe_id, rank). */
  def vectorLakeServeStream(probes: DataFrame, root: String, k: Int,
                            nprobe: Int = 2, quantized: Boolean = false,
                            refineFactor: Int = 0)
                           (sink: (Long, DataFrame) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    probes.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      sink(epoch, graft.domain.VectorLake.searchBatch(
        batch.sparkSession, root, batch, k, nprobe,
        quantized = quantized, refineFactor = refineFactor))
    }

  /** Streaming ingest into the lake-resident INVERTED INDEX — the lexical
    * member of the lake-stream family: each micro-batch runs
    * [[graft.domain.LexLake.ingest]]'s tokenize-and-append under the
    * writer lease, generation resolved per batch. Micro-batch ids unique
    * (refused loudly). Exactly-once EFFECT on at-least-once delivery by
    * the lake's scoped-append + keyed-stats-delta contract. `onReport`
    * sees (epochId, report) per batch. */
  def lexLakeIngestStream(docs: DataFrame, root: String,
                          nBuckets: Int = 64,
                          lockWaitMs: Long = 30 * 60 * 1000L,
                          onReport: (Long, graft.domain.LexLake.IngestReport) => Unit =
                            (_, _) => ())
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      onReport(epoch, graft.domain.LexLake.ingest(batch.sparkSession, root,
        batch, nBuckets, lockWaitMs = lockWaitMs))
    }

  /** Streaming BM25 SERVE over the lake-resident inverted index — the
    * lexical twin of [[vectorLakeServeStream]]: each micro-batch of
    * (probe_id, terms) queries runs ONE bucket-pruned
    * [[graft.domain.LexLake.serve]] and hands the per-probe top-n to
    * `sink` with the epoch. READER path; the generation is re-resolved
    * inside every serve call, so a reconcile fold mid-stream is picked up
    * on the next micro-batch. */
  def lexLakeServeStream(queries: DataFrame, root: String, n: Int)
                        (sink: (Long, DataFrame) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    queries.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      sink(epoch, graft.domain.LexLake.serve(batch.sparkSession, root,
        batch, n))
    }

  /** Streaming POSITIONAL serve over the lake-resident positional index —
    * the batched-family stream twins (r13; the scalar positional serves
    * were one Spark job per query, so a stream of single queries paid the
    * scheduling floor per event): each micro-batch of probes runs ONE
    * bucket-pruned batched serve ([[graft.domain.LexLake.phraseServeBatch]]
    * / `proximityServeBatch` / `passageServeBatch` by `mode`) and hands
    * the per-probe results to `sink` with the epoch. Probe schema by mode:
    * `"phrase"` = (probe_id, phrase array<string>), `"proximity"` =
    * (probe_id, term_a, term_b), `"passage"` = (probe_id, terms
    * array<string>); `w` applies to the proximity/passage modes. READER
    * path; the generation re-resolves inside every serve call, so a
    * reconcile fold mid-stream is picked up at the next micro-batch
    * (the lexLakeServeStream contract). */
  def lexPositionalServeStream(probes: DataFrame, root: String,
                               mode: String, w: Int = 5)
                              (sink: (Long, DataFrame) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(Set("phrase", "proximity", "passage")(mode),
      s"mode must be phrase|proximity|passage, got '$mode'")
    probes.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val s = batch.sparkSession
      sink(epoch, mode match {
        case "phrase" =>
          graft.domain.LexLake.phraseServeBatch(s, root, batch)
        case "proximity" =>
          graft.domain.LexLake.proximityServeBatch(s, root, batch, w)
        case _ =>
          graft.domain.LexLake.passageServeBatch(s, root, batch, w)
      })
    }
  }

  /** Streaming serve of the FUSED hybrid endpoint — the full retrieval
    * stack as a stream job (the r10 ask: the per-lake serve twins existed,
    * nothing served the fusion per epoch): each micro-batch of probe rows
    * (probe_id, embedding, terms; ids unique — refused loudly by both
    * arms) pins ONE coherent (vectorGen, lexGen) snapshot
    * ([[graft.domain.Retrieval.currentSnapshot]] — both pointers read
    * together) and serves [[graft.domain.Retrieval.hybridServe]] pinned
    * to it: vector IVF scan + lexical BM25 postings scan, fused per probe by
    * reciprocal rank in exact integer micros. Epoch-level re-resolution: a
    * reconcile promoting on either lake mid-stream is picked up at the
    * NEXT micro-batch, and no epoch can fuse mismatched generations — the
    * pinned pair reads committed state on both arms (BOTH lakes route
    * deletes/upserts through root overlays that pinned reads skip, since
    * round 12 including [[graft.domain.VectorLake.upsert]]), so a
    * half-fanned-out cross-lake edit (a torn LakeSync propagate) is
    * invisible until its folds commit.
    * Equals batch [[graft.domain.Retrieval.hybridServe]] on
    * an identical probe batch whenever no overlays are pending (pinned
    * reads skip uncommitted overlays by contract). READER path: no leases.
    * Delivery is foreachBatch at-least-once; the standard sink is an
    * idempotent keyed upsert on (probe_id, rank).
    *
    * The FULL hybrid surface rides through (r12 verdict ask #3 — batch
    * `hybridServe` grew PRF, phrase, and quantized/refine arms in r11/r12
    * and the streaming endpoint served only plain hybrid): `quantized` /
    * `refineFactor` serve the vector arm from the pinned generation's SQ8
    * tier, `prfFbDocs`/`prfFbTerms` swap the lexical arm for the two-pass
    * PRF serve, and `phrase` gates the fused candidates by the stored
    * positional index — every arm reading the SAME pinned snapshot as the
    * arms it joins (the batch call's coherence contract, per epoch). */
  def retrievalServeStream(probes: DataFrame, vectorRoot: String,
                           lexRoot: String, k: Int,
                           kVec: Int = 10, nLex: Int = 10,
                           nprobe: Int = 2, kRrf: Int = 60,
                           quantized: Boolean = false,
                           refineFactor: Int = 0,
                           prfFbDocs: Int = 0, prfFbTerms: Int = 0,
                           phrase: Seq[String] = Nil)
                          (sink: (Long, DataFrame) => Unit)
  : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    probes.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val s = batch.sparkSession
      val snap = graft.domain.Retrieval.currentSnapshot(s, vectorRoot, lexRoot)
      sink(epoch, graft.domain.Retrieval.hybridServe(s, vectorRoot, lexRoot,
        batch, k, kVec, nLex, nprobe, kRrf,
        quantized = quantized, refineFactor = refineFactor,
        prfFbDocs = prfFbDocs, prfFbTerms = prfFbTerms, phrase = phrase,
        snapshot = Some(snap)))
    }

  /** S19 webhook sink seam: the engine core stays offline-testable; the HTTP
    * POST implementation is injected at the edge. */
  trait Notifier extends Serializable {
    def notify(gameId: Int, oldPrice: Double, newPrice: Double): Boolean
  }

  /** ST4 egress: deliver deduped changes through the notifier in foreachBatch
    * (at-least-once, like the reference's post-then-commit ordering).
    * Safe on empty batches (reduce would throw; sum is total). */
  def notifyBatch(changes: Dataset[CdcChange], notifier: Notifier): Long = {
    import changes.sparkSession.implicits._
    changes.mapPartitions(_.map(c =>
      if (notifier.notify(c.game_id, c.old_price, c.new_price)) 1L else 0L))
      .toDF("delivered")
      .agg(coalesce(sum(col("delivered")), lit(0L)))
      .head().getLong(0)
  }
}
