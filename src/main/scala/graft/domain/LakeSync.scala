package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Serving
import graft.sources.StateLock

/** CROSS-LAKE mutation sync — the fan-out a real purge or edit request
  * needs when the same document lives in BOTH stores (the dedup lake holds
  * its text, the vector lake its embedding, one id space — the testdata
  * contract and the usual production shape): mutating one lake and
  * crashing before the other leaves the content half-purged (or
  * half-refreshed), silently.
  *
  * The design is a tiny write-ahead INTENT LOG per mutation kind plus
  * idempotent fan-out:
  *  - `requests` under the sync root — (doc_id) rows, the durable record
  *    that a purge was ORDERED. [[requestDelete]] appends (anti-joined, so
  *    an exact replay appends nothing).
  *  - `upserts` — (doc_id, text, embedding) rows, the durable record of a
  *    cross-lake EDIT (the paired-payload contract). [[requestUpsert]]
  *    commits it last-writer-wins per id.
  *  - Both logs are members of ONE versioned set, `log.GEN` +
  *    `log.gen-N/{requests,upserts}` ([[GenStore]]; a pre-versioning sync
  *    root's plain `requests/`, `upserts/` read the same): a commit moves
  *    both logs at once, appends go into the current version.
  *  - The logs are DISJOINT by construction (newer intent wins):
  *    [[requestUpsert]] commits its edit and cancels the purge log's rows
  *    for its ids in ONE commit; [[requestDelete]] appends its own purge
  *    order first, THEN commits the cancellation of the edit log's rows.
  *    Own-intent-first is load-bearing: cancelling first opened a crash
  *    window where the old intent was destroyed before the new one was
  *    durable — NEITHER survived (the r10 advice). A crash between
  *    requestDelete's two steps leaves an id in BOTH logs, and propagate
  *    resolves the intersection DELETE-WINS: the delete genuinely is the
  *    newer intent. Resolving the other way would silently cancel a
  *    durable purge, the one unacceptable loss.
  *  - [[propagate]] applies the WHOLE of both logs to both lakes (purges,
  *    then edits) and retires them. Both lakes' `delete` are no-ops for
  *    absent or already-tombstoned ids and both `upsert`s are idempotent
  *    as wholes, so re-applying after any crash is safe: the logs ARE the
  *    recovery plan, not cursors to maintain.
  *  - [[deleteDocs]]/[[upsertDocs]] = request + propagate, the one-call
  *    forms.
  *
  * Crash matrix (all replay-repaired by the next [[propagate]], scheduled
  * or manual): crash after a log append → the fan-out replays; crash
  * between the two lake deletes (or the two lake upserts) → the done side
  * no-ops, the missed side applies; crash before the retire → full
  * replay, all no-ops. Retirement is correct WITHOUT an applied-marker
  * because under the sync lease the whole log was just applied to both
  * lakes — from that moment the lakes' own tombstones/overlays carry the
  * pending physical work.
  *
  * Caveats, documented loudly: (1) ID REUSE — re-INGESTING a purged id is
  * safe only after the id's log entry is retired AND both lakes reclaimed
  * the tombstone (each lake's own caveat, plus this log's replay: a
  * crashed propagate's replay would re-delete content re-ingested under
  * the purged id in the window). [[pending]]/[[pendingUpserts]] are the
  * operator's checks; [[upsertDocs]] is the sanctioned resurrection (it
  * cancels the pending purge and the lakes' upserts drop the tombstones).
  * (2) LOCK ORDER — propagate holds the sync lease while taking each
  * lake's lease in turn (dedup, then vector); never call into LakeSync
  * while holding a lake lease, or two writers can deadlock-by-timeout.
  * (3) The logs are mutation-request-sized (rare by contract), never
  * corpus-sized — every operation here assumes that and stays bounded
  * (the upsert log is ENFORCED via maxLogRows). */
object LakeSync {

  val requestsSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType)))
  val upsertsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", org.apache.spark.sql.types.StringType),
    StructField("embedding", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))))

  final case class SyncReport(requested: Long, dedupDeleted: Long,
                              vectorDeleted: Long, retired: Long,
                              upsertsApplied: Long = 0L,
                              lexDeleted: Long = 0L)

  private def log(syncRoot: String) = GenStore.Store.under(syncRoot, "log")

  /** The two logs at the current version (resolved once): (requests,
    * upserts). */
  private def logs(spark: SparkSession, syncRoot: String): (DataFrame, DataFrame) = {
    val v = GenStore.current(spark, log(syncRoot))
    (GenStore.readOrEmpty(spark, s"$v/requests", requestsSchema),
      GenStore.readOrEmpty(spark, s"$v/upserts", upsertsSchema))
  }

  /** Commit the next log version (`None` leaves that log empty). */
  private def commitLogs(spark: SparkSession, syncRoot: String,
                         requests: Option[DataFrame],
                         upserts: Option[DataFrame]): Unit =
    GenStore.commitMembers(spark, log(syncRoot),
      Seq("requests" -> requests, "upserts" -> upserts))

  /** Durably record a purge order for `ids` (any frame with a `doc_id`
    * column). Append-only, anti-joined — an exact replay appends nothing.
    * Returns the number of ids newly logged. Does NOT touch the lakes:
    * pair with [[propagate]] (or call [[deleteDocs]]). */
  def requestDelete(spark: SparkSession, syncRoot: String, ids: DataFrame,
                    lockWaitMs: Long = 0L,
                    failpointAfterCommit: () => Unit = () => ()): Long =
    StateLock.withRootLock(spark, syncRoot, waitMs = lockWaitMs) {
      Serving.withPinned(ids.select(col("doc_id").cast("long").as("doc_id"))
          .distinct()) { del =>
        // COMMIT OUR OWN INTENT FIRST, cancel the opposite log second (the
        // r10 advice): the reverse order had a crash window — upserts
        // cancelled, requests not yet appended — that silently destroyed a
        // durably-committed edit while recording no purge (NEITHER intent
        // survived). With this order the torn state is an id in BOTH logs,
        // which propagate's delete-wins intersection resolves correctly:
        // here the delete genuinely IS the newer intent.
        val (existing, _) = logs(spark, syncRoot)
        val n = Serving.withPinned(
            del.join(existing, Seq("doc_id"), "left_anti")) { toWrite =>
          // count while pinned, BEFORE the append — afterwards the plan's
          // requests read would see its own rows
          val n0 = toWrite.count()
          if (n0 > 0) toWrite.write.mode("append").parquet(
            s"${GenStore.current(spark, log(syncRoot))}/requests")
          n0
        }
        failpointAfterCommit()
        // a newer purge CANCELS a pending edit for the same id: applying
        // both in either order would be wrong (edit-then-purge loses the
        // ordering guarantee on replay; purge-then-edit resurrects purged
        // content) — the two logs stay DISJOINT by construction instead
        val (reqs, ups) = logs(spark, syncRoot)
        if (Serving.boundedCount(
            ups.join(broadcast(del), Seq("doc_id"), "left_semi"), 1) > 0)
          commitLogs(spark, syncRoot, GenStore.nonEmpty(reqs), GenStore.nonEmpty(
            ups.join(broadcast(del), Seq("doc_id"), "left_anti")))
        n
      }
    }

  /** Durably record a cross-lake EDIT for `docs` — (doc_id, text,
    * embedding) rows, the one-id-space contract: the dedup lake gets the
    * text, the vector lake the embedding, BOTH through their own
    * [[DedupLake.upsert]]/[[VectorLake.upsert]] at the next [[propagate]].
    * Last-writer-wins per id, and a pending PURGE for the same id is
    * cancelled in the same commit (the lakes' one overlay upsert,
    * [[GenStore.upsert]], over the two logs) — this edit is newer intent,
    * and replaying a crashed purge after it would silently undo the edit
    * (the id-reuse window of the delete log, closed for the sanctioned
    * path). A
    * text-only or embedding-only refresh is a SINGLE-lake operation — call
    * that lake's upsert directly; this log carries the paired payload by
    * contract. The log is edit-request-sized (ENFORCED via `maxLogRows`,
    * the lakes' own serving bounds apply at propagate). Returns the batch
    * row count. */
  def requestUpsert(spark: SparkSession, syncRoot: String, docs: DataFrame,
                    maxLogRows: Long = 1L << 20,
                    lockWaitMs: Long = 0L): Long =
    StateLock.withRootLock(spark, syncRoot, waitMs = lockWaitMs) {
      // the newer edit cancels a pending purge for the same id (see
      // requestDelete's mirror-image cancellation) in the SAME commit
      GenStore.upsert(spark, log(syncRoot), "upserts", "requests",
        docs.select(col("doc_id").cast("long").as("doc_id"), col("text"),
          col("embedding").cast(upsertsSchema("embedding").dataType)
            .as("embedding")),
        "doc_id", GenStore.RowCap("upsert log", "maxLogRows", maxLogRows,
          "the log is edit-request-sized by contract. Run propagate to " +
            "drain it, then resume."))
    }

  /** The logged-but-unapplied purge orders — read-only (no lease), the
    * operator's "is id reuse safe yet" check. Empty means every ordered
    * purge reached both lakes (their tombstones/reconciles own the
    * physical reclaim from there). */
  def pending(spark: SparkSession, syncRoot: String): DataFrame =
    logs(spark, syncRoot)._1

  /** Apply the WHOLE intent log to both lakes, then retire it — the
    * fan-out and the crash repair in one idempotent pass (see the object
    * doc's crash matrix). `failpointAfterDedup` runs between the two lake
    * deletes and `failpointBeforeRetire` after both, before the log drop —
    * the two torn windows the spec drives. */
  def propagate(spark: SparkSession, syncRoot: String, dedupRoot: String,
                vectorRoot: String, lockWaitMs: Long = 0L,
                failpointAfterDedup: () => Unit = () => (),
                failpointBeforeRetire: () => Unit = () => (),
                failpointAfterDedupUpsert: () => Unit = () => (),
                lexRoot: Option[String] = None): SyncReport =
    StateLock.withRootLock(spark, syncRoot, waitMs = lockWaitMs) {
      val (reqs0, ups0) = logs(spark, syncRoot)
      Serving.withPinned(reqs0) { reqs =>
      // DELETE WINS on a (torn-request-only) intersection of the two logs:
      // an id in both can only mean a requestDelete crashed between its
      // purge append and its cancellation of the edit — the purge is the
      // newer intent, so applying it here is the honest reading of the
      // durable state
      Serving.withPinned(ups0.join(reqs, Seq("doc_id"), "left_anti")) { ups =>
        val n = reqs.count()
        val nu = ups.count()
        if (n == 0L && nu == 0L) SyncReport(0L, 0L, 0L, 0L)
        else {
          val (nd, nv, nl) = if (n == 0L) (0L, 0L, 0L) else {
            val d = DedupLake.delete(spark, dedupRoot, reqs, lockWaitMs)
            failpointAfterDedup()
            val v = VectorLake.delete(spark, vectorRoot,
              reqs.select(col("doc_id").as("vec_id")), lockWaitMs)
            // the lexical index is the third store a purge must reach —
            // content absent from both content lakes but still SERVABLE
            // from the postings would be the silent leak this log exists
            // to prevent. Same idempotent-delete contract, same replay.
            val l = lexRoot.fold(0L)(lr =>
              LexLake.delete(spark, lr, reqs, lockWaitMs))
            (d, v, l)
          }
          // edits fan out AFTER purges (delete-wins order); every lake
          // upsert is idempotent as a whole, so any crash in between is
          // repaired by the next propagate replaying the still-resident log
          if (nu > 0L) {
            DedupLake.upsert(spark, dedupRoot,
              ups.select("doc_id", "text"), lockWaitMs = lockWaitMs)
            failpointAfterDedupUpsert()
            VectorLake.upsert(spark, vectorRoot,
              ups.select(col("doc_id").as("vec_id"), col("embedding")),
              lockWaitMs = lockWaitMs)
            // a ZERO-TOKEN text is a legal dedup-lake redaction but has no
            // lexical content — LexLake.upsert refuses it ("an empty
            // replacement is a delete"), and feeding it through would turn
            // one redaction into a poison pill that wedges every propagate
            // after the dedup+vector arms (the r10 advice). Route those
            // ids to LexLake.delete (idempotent, absent-id-safe); the
            // token-bearing rest takes the upsert path.
            for (lr <- lexRoot) {
              val toked = ups.withColumn("__tok",
                graft.functions.TextFunctions.tokenCount(col("text")))
              LexLake.delete(spark, lr,
                toked.filter(col("__tok") === 0).select("doc_id"),
                lockWaitMs = lockWaitMs)
              LexLake.upsert(spark, lr,
                toked.filter(col("__tok") > 0).select("doc_id", "text"),
                lockWaitMs = lockWaitMs)
            }
            ()
          }
          failpointBeforeRetire()
          // every logged id is now applied to every lake — the logs have
          // nothing left to recover: retire both in one empty commit
          commitLogs(spark, syncRoot, None, None)
          SyncReport(n, nd, nv, n, nu, nl)
        }
      }
      }
    }

  /** The logged-but-unapplied EDITS — read-only, the upsert mirror of
    * [[pending]]. */
  def pendingUpserts(spark: SparkSession, syncRoot: String): DataFrame =
    logs(spark, syncRoot)._2

  /** Purge `ids` from BOTH lakes, durably: log the intent, then fan out.
    * Returns the propagate report (its `requested` covers any earlier
    * crashed orders replayed alongside this one). */
  def deleteDocs(spark: SparkSession, syncRoot: String, dedupRoot: String,
                 vectorRoot: String, ids: DataFrame,
                 lockWaitMs: Long = 0L,
                 lexRoot: Option[String] = None): SyncReport = {
    requestDelete(spark, syncRoot, ids, lockWaitMs)
    propagate(spark, syncRoot, dedupRoot, vectorRoot, lockWaitMs,
      lexRoot = lexRoot)
  }

  /** EDIT `docs` in BOTH lakes, durably: log the (doc_id, text, embedding)
    * payload, then fan out — the cross-lake re-encode a model/content
    * refresh issues when one document lives in both stores. Returns the
    * propagate report (`upsertsApplied` covers any earlier crashed edits
    * replayed alongside this one). */
  def upsertDocs(spark: SparkSession, syncRoot: String, dedupRoot: String,
                 vectorRoot: String, docs: DataFrame,
                 lockWaitMs: Long = 0L,
                 lexRoot: Option[String] = None): SyncReport = {
    requestUpsert(spark, syncRoot, docs, lockWaitMs = lockWaitMs)
    propagate(spark, syncRoot, dedupRoot, vectorRoot, lockWaitMs,
      lexRoot = lexRoot)
  }

  /** The catch-up [[propagate]] as a cron [[Scheduler.Deployment]] —
    * closes any crashed fan-out on a schedule (default daily 01:00, before
    * the lakes' own compaction/reconcile slots, so a replay lands while
    * the original tombstones are still cheap no-ops). Waits behind a
    * running lake writer instead of failing the scheduled run. */
  def deployment(spark: SparkSession, syncRoot: String, dedupRoot: String,
                 vectorRoot: String, cron: String = "0 1 * * *",
                 lockWaitMs: Long = 10 * 60 * 1000L,
                 lexRoot: Option[String] = None): Scheduler.Deployment =
    Scheduler.Deployment("lake_delete_sync", Scheduler.parse(cron),
      () => { propagate(spark, syncRoot, dedupRoot, vectorRoot, lockWaitMs,
        lexRoot = lexRoot); () })
}
