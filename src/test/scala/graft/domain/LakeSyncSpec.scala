package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Cross-lake deletion sync (LakeSync): the write-ahead intent log, the
  * two-lake fan-out, the crash matrix (torn between the lake deletes, torn
  * before the retire), replay idempotence, and the scheduled catch-up. */
class LakeSyncSpec extends SparkSpec {
  import spark.implicits._

  private def unit(deg: Double, scale: Float = 1f): Array[Float] = {
    val r = math.toRadians(deg)
    Array((math.cos(r) * scale).toFloat, (math.sin(r) * scale).toFloat)
  }

  private def roots(tag: String): (String, String, String) = {
    val base = java.nio.file.Files.createTempDirectory(s"lakesync_$tag").toString
    (s"$base/sync", s"$base/dedup", s"$base/vector")
  }

  // one doc per lake-resident id: text in the dedup lake, an embedding in
  // the vector lake (the shared-id-space production shape)
  private def seed(dedupRoot: String, vectorRoot: String): Unit = {
    DedupLake.ingest(spark, dedupRoot, Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "completely different content over here"),
      (3L, "yet another unrelated document body")).toDF("doc_id", "text"))
    VectorLake.init(spark, vectorRoot, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, vectorRoot, Seq(
      (1L, unit(0)), (2L, unit(45, 14f)), (3L, unit(90)))
      .toDF("vec_id", "embedding"))
  }

  private def dedupIds(root: String): Set[Long] =
    DedupLake.keeps(spark, root).collect().map(_.getLong(0)).toSet
  private def vecIds(root: String): Set[Long] =
    VectorLake.vectors(spark, root).select("vec_id")
      .collect().map(_.getLong(0)).toSet

  test("deleteDocs purges both lakes and retires the log") {
    val (sync, dedup, vector) = roots("happy")
    seed(dedup, vector)
    val rep = LakeSync.deleteDocs(spark, sync, dedup, vector,
      Seq(1L).toDF("doc_id"))
    assert(rep == LakeSync.SyncReport(1, 1, 1, 1))
    assert(dedupIds(dedup) == Set(2L, 3L))
    assert(vecIds(vector) == Set(2L, 3L))
    assert(LakeSync.pending(spark, sync).count() == 0L)
    // ids never stored anywhere: logged, applied as no-ops, retired
    val rep2 = LakeSync.deleteDocs(spark, sync, dedup, vector,
      Seq(99L).toDF("doc_id"))
    assert(rep2 == LakeSync.SyncReport(1, 0, 0, 1))
  }

  test("a crash between the two lake deletes is repaired by the next propagate") {
    val (sync, dedup, vector) = roots("torn")
    seed(dedup, vector)
    LakeSync.requestDelete(spark, sync, Seq(2L).toDF("doc_id"))
    val boom = intercept[RuntimeException] {
      LakeSync.propagate(spark, sync, dedup, vector,
        failpointAfterDedup = () => throw new RuntimeException("torn"))
    }
    assert(boom.getMessage == "torn")
    // half-purged: dedup applied, vector not, log still pending
    assert(dedupIds(dedup) == Set(1L, 3L))
    assert(vecIds(vector) == Set(1L, 2L, 3L))
    assert(LakeSync.pending(spark, sync).count() == 1L)
    // the replay: dedup side no-ops (already tombstoned), vector applies
    val rep = LakeSync.propagate(spark, sync, dedup, vector)
    assert(rep == LakeSync.SyncReport(1, 0, 1, 1))
    assert(vecIds(vector) == Set(1L, 3L))
    assert(LakeSync.pending(spark, sync).count() == 0L)
  }

  test("a crash before the retire replays as all no-ops; propagate on an empty log is free") {
    val (sync, dedup, vector) = roots("retire")
    seed(dedup, vector)
    LakeSync.requestDelete(spark, sync, Seq(3L).toDF("doc_id"))
    intercept[RuntimeException] {
      LakeSync.propagate(spark, sync, dedup, vector,
        failpointBeforeRetire = () => throw new RuntimeException("torn2"))
    }
    // both lakes already purged; the log just never retired
    assert(dedupIds(dedup) == Set(1L, 2L))
    assert(vecIds(vector) == Set(1L, 2L))
    assert(LakeSync.pending(spark, sync).count() == 1L)
    val rep = LakeSync.propagate(spark, sync, dedup, vector)
    assert(rep == LakeSync.SyncReport(1, 0, 0, 1))
    assert(LakeSync.pending(spark, sync).count() == 0L)
    assert(LakeSync.propagate(spark, sync, dedup, vector)
      == LakeSync.SyncReport(0, 0, 0, 0))
  }

  test("e2e purge: both lakes physically reclaim at reconcile and the id becomes reusable") {
    val (sync, dedup, vector) = roots("e2e")
    seed(dedup, vector)
    LakeSync.deleteDocs(spark, sync, dedup, vector, Seq(2L).toDF("doc_id"))
    // logical deletion is immediate; the PHYSICAL rows wait for reconcile
    def archivedIds(): Set[Long] =
      GenStore.read(spark, s"$dedup/archive", DedupLake.archiveSchema)
        .collect().map(_.getLong(0)).toSet
    assert(archivedIds().contains(2L), "archive purge is deferred")
    DedupLake.reconcile(spark, dedup)
    VectorLake.reconcile(spark, vector, k = 2, iters = 3)
    assert(!archivedIds().contains(2L),
      "the dedup reconcile must purge the archived text")
    assert(vecIds(vector) == Set(1L, 3L))
    // id reuse after the reclaim: the log retired the id at propagate and
    // both lakes dropped the physical rows + tombstones, so a fresh doc
    // under the old id ingests as NEW content in both lakes
    assert(DedupLake.ingest(spark, dedup,
      Seq((2L, "fresh replacement body nothing like before")).toDF("doc_id", "text"))
      .count() == 1L)
    assert(VectorLake.ingest(spark, vector,
      Seq((2L, unit(130, 14f))).toDF("vec_id", "embedding")).kept == 1L)
    assert(dedupIds(dedup) == Set(1L, 2L, 3L))
    assert(vecIds(vector) == Set(1L, 2L, 3L))
  }

  test("requestDelete is at-least-once safe: an exact replay logs nothing new") {
    val (sync, _, _) = roots("replaylog")
    val ids: DataFrame = Seq(5L, 6L).toDF("doc_id")
    assert(LakeSync.requestDelete(spark, sync, ids) == 2L)
    assert(LakeSync.requestDelete(spark, sync, ids) == 0L)
    assert(LakeSync.pending(spark, sync).count() == 2L)
  }

  private def corpusText(root: String, id: Long): Option[String] =
    DedupLake.corpus(spark, root).where(s"doc_id = $id")
      .collect().headOption.map(_.getString(1))
  private def vecHead(root: String, id: Long): Option[Float] =
    VectorLake.vectors(spark, root)
      .where(s"vec_id = $id").select("embedding")
      .collect().headOption.map(_.getSeq[Float](0).head)

  test("upsertDocs edits both lakes atomically-by-replay and retires the log") {
    val (sync, dedup, vector) = roots("upsert")
    seed(dedup, vector)
    val rep = LakeSync.upsertDocs(spark, sync, dedup, vector,
      Seq((1L, "rewritten alpha body after the re-crawl", unit(130, 14f)))
        .toDF("doc_id", "text", "embedding"))
    assert(rep == LakeSync.SyncReport(0, 0, 0, 0, 1))
    assert(corpusText(dedup, 1L).contains("rewritten alpha body after the re-crawl"))
    assert(math.abs(vecHead(vector, 1L).get - unit(130, 14f)(0)) < 1e-5)
    assert(dedupIds(dedup) == Set(1L, 2L, 3L))
    assert(vecIds(vector) == Set(1L, 2L, 3L))
    assert(LakeSync.pendingUpserts(spark, sync).count() == 0L)
  }

  test("a crash between the two lake upserts is repaired by the next propagate") {
    val (sync, dedup, vector) = roots("upserttorn")
    seed(dedup, vector)
    LakeSync.requestUpsert(spark, sync,
      Seq((2L, "edited second document body", unit(170, 14f)))
        .toDF("doc_id", "text", "embedding"))
    val boom = intercept[RuntimeException] {
      LakeSync.propagate(spark, sync, dedup, vector,
        failpointAfterDedupUpsert = () => throw new RuntimeException("torn"))
    }
    assert(boom.getMessage == "torn")
    // half-refreshed: the text landed, the embedding did not, log pending
    assert(corpusText(dedup, 2L).contains("edited second document body"))
    assert(math.abs(vecHead(vector, 2L).get - unit(45, 14f)(0)) < 1e-5)
    assert(LakeSync.pendingUpserts(spark, sync).count() == 1L)
    // the replay: the dedup side re-commits identical state, vector applies
    val rep = LakeSync.propagate(spark, sync, dedup, vector)
    assert(rep == LakeSync.SyncReport(0, 0, 0, 0, 1))
    assert(math.abs(vecHead(vector, 2L).get - unit(170, 14f)(0)) < 1e-5)
    assert(LakeSync.pendingUpserts(spark, sync).count() == 0L)
  }

  test("newer intent cancels the pending opposite: edit-after-purge and purge-after-edit") {
    val (sync, dedup, vector) = roots("cancel")
    seed(dedup, vector)
    // a pending purge for id 1 is superseded by its edit: the purge is
    // cancelled and the edit applies — NOT both in some order
    LakeSync.requestDelete(spark, sync, Seq(1L).toDF("doc_id"))
    LakeSync.requestUpsert(spark, sync,
      Seq((1L, "the pardoned document", unit(20, 14f)))
        .toDF("doc_id", "text", "embedding"))
    assert(LakeSync.pending(spark, sync).count() == 0L, "edit cancels the purge")
    val rep = LakeSync.propagate(spark, sync, dedup, vector)
    assert(rep == LakeSync.SyncReport(0, 0, 0, 0, 1))
    assert(corpusText(dedup, 1L).contains("the pardoned document"))
    assert(vecIds(vector) == Set(1L, 2L, 3L))
    // and the mirror image: a pending edit for id 2 is superseded by its
    // purge — the edit never applies
    LakeSync.requestUpsert(spark, sync,
      Seq((2L, "an edit that must not survive", unit(60, 14f)))
        .toDF("doc_id", "text", "embedding"))
    LakeSync.requestDelete(spark, sync, Seq(2L).toDF("doc_id"))
    assert(LakeSync.pendingUpserts(spark, sync).count() == 0L,
      "purge cancels the edit")
    val rep2 = LakeSync.propagate(spark, sync, dedup, vector)
    assert(rep2 == LakeSync.SyncReport(1, 1, 1, 1))
    assert(corpusText(dedup, 2L).isEmpty)
    assert(vecIds(vector) == Set(1L, 3L))
  }

  test("upsertDocs is the sanctioned resurrection of a fully purged id") {
    val (sync, dedup, vector) = roots("resurrect")
    seed(dedup, vector)
    LakeSync.deleteDocs(spark, sync, dedup, vector, Seq(3L).toDF("doc_id"))
    assert(dedupIds(dedup) == Set(1L, 2L))
    assert(vecIds(vector) == Set(1L, 2L))
    val rep = LakeSync.upsertDocs(spark, sync, dedup, vector,
      Seq((3L, "the document returns with new content", unit(100, 14f)))
        .toDF("doc_id", "text", "embedding"))
    assert(rep == LakeSync.SyncReport(0, 0, 0, 0, 1))
    assert(dedupIds(dedup) == Set(1L, 2L, 3L))
    assert(vecIds(vector) == Set(1L, 2L, 3L))
    assert(corpusText(dedup, 3L).contains("the document returns with new content"))
  }

  test("the lexical index joins the fan-out: a purge and an edit reach all three stores") {
    val (sync, dedup, vector) = roots("threeway")
    seed(dedup, vector)
    val lex = s"${new java.io.File(sync).getParent}/lex"
    LexLake.ingest(spark, lex, Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "completely different content over here"),
      (3L, "yet another unrelated document body")).toDF("doc_id", "text"),
      nBuckets = 4)
    def lexTop(term: String): Set[Long] =
      LexLake.serve(spark, lex,
          Seq((9L, Seq(term))).toDF("probe_id", "terms"), n = 10)
        .collect().map(_.getLong(1)).toSet
    assert(lexTop("different") == Set(2L))
    // purge doc 2 from all three
    val rep = LakeSync.deleteDocs(spark, sync, dedup, vector,
      Seq(2L).toDF("doc_id"), lexRoot = Some(lex))
    assert(rep == LakeSync.SyncReport(1, 1, 1, 1, 0, 1))
    assert(lexTop("different").isEmpty, "purged content must stop serving lexically")
    assert(vecIds(vector) == Set(1L, 3L))
    // edit doc 3 in all three
    val rep2 = LakeSync.upsertDocs(spark, sync, dedup, vector,
      Seq((3L, "freshly rewritten searchable body", unit(100, 14f)))
        .toDF("doc_id", "text", "embedding"), lexRoot = Some(lex))
    assert(rep2 == LakeSync.SyncReport(0, 0, 0, 0, 1, 0))
    assert(lexTop("rewritten") == Set(3L))
    assert(lexTop("unrelated").isEmpty, "the old text must stop serving")
    assert(corpusText(dedup, 3L).contains("freshly rewritten searchable body"))
  }

  test("a requestDelete crash between its commit and the edit-log cancel resolves delete-wins") {
    // the r10 advice window, closed by ordering: requestDelete commits its
    // OWN log first, so a crash before the opposite-log cancel leaves the
    // id in BOTH logs — never in neither (the old order silently destroyed
    // a durable edit while recording no purge). propagate's delete-wins
    // intersection then applies the purge: here the delete genuinely IS
    // the newer intent.
    val (sync, dedup, vector) = roots("delwins")
    seed(dedup, vector)
    LakeSync.requestUpsert(spark, sync,
      Seq((1L, "an edit the later purge must beat", unit(20, 14f)))
        .toDF("doc_id", "text", "embedding"))
    intercept[RuntimeException] {
      LakeSync.requestDelete(spark, sync, Seq(1L).toDF("doc_id"),
        failpointAfterCommit = () => throw new RuntimeException("torn"))
    }
    // the torn state: BOTH intents durable, neither lost
    assert(LakeSync.pending(spark, sync).count() == 1L)
    assert(LakeSync.pendingUpserts(spark, sync).count() == 1L)
    val rep = LakeSync.propagate(spark, sync, dedup, vector)
    assert(rep == LakeSync.SyncReport(1, 1, 1, 1, 0))
    assert(corpusText(dedup, 1L).isEmpty, "delete wins: the edit never applies")
    assert(vecIds(vector) == Set(2L, 3L))
    assert(LakeSync.pending(spark, sync).count() == 0L)
    assert(LakeSync.pendingUpserts(spark, sync).count() == 0L)
  }

  test("a zero-token edit redacts the dedup lake and DELETES lexically — no poison pill") {
    // the r10 advice: an empty/whitespace text is a legal dedup-lake
    // redaction, but LexLake.upsert refuses zero-token texts ("an empty
    // replacement is a delete") — fed through verbatim, one redaction
    // wedged every propagate after the dedup+vector arms, permanently.
    // propagate now routes zero-token edits to LexLake.delete.
    val (sync, dedup, vector) = roots("redact")
    seed(dedup, vector)
    val lex = s"${new java.io.File(sync).getParent}/lex"
    LexLake.ingest(spark, lex, Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "completely different content over here"),
      (3L, "yet another unrelated document body")).toDF("doc_id", "text"),
      nBuckets = 4)
    def lexTop(term: String): Set[Long] =
      LexLake.serve(spark, lex,
          Seq((9L, Seq(term))).toDF("probe_id", "terms"), n = 10)
        .collect().map(_.getLong(1)).toSet
    val rep = LakeSync.upsertDocs(spark, sync, dedup, vector,
      Seq((2L, "   ", unit(60, 14f))).toDF("doc_id", "text", "embedding"),
      lexRoot = Some(lex))
    assert(rep == LakeSync.SyncReport(0, 0, 0, 0, 1))
    assert(LakeSync.pendingUpserts(spark, sync).count() == 0L,
      "the log must retire — the wedge was the bug")
    // dedup keeps the redacted (empty) text; the lexical index drops it
    assert(corpusText(dedup, 2L).exists(_.trim.isEmpty))
    assert(lexTop("different").isEmpty,
      "redacted content must stop serving lexically")
    assert(lexTop("unrelated") == Set(3L), "other docs unaffected")
    // the embedding side still applied
    assert(math.abs(vecHead(vector, 2L).get - unit(60, 14f)(0)) < 1e-5)
    // and a propagate after the retire is a free no-op (nothing wedged)
    assert(LakeSync.propagate(spark, sync, dedup, vector,
      lexRoot = Some(lex)) == LakeSync.SyncReport(0, 0, 0, 0))
  }

  test("the scheduled catch-up deployment closes a crashed fan-out") {
    val (sync, dedup, vector) = roots("sched")
    seed(dedup, vector)
    LakeSync.requestDelete(spark, sync, Seq(1L).toDF("doc_id"))
    intercept[RuntimeException] {
      LakeSync.propagate(spark, sync, dedup, vector,
        failpointAfterDedup = () => throw new RuntimeException("torn"))
    }
    var clock = java.time.LocalDateTime.of(2026, 8, 14, 12, 0)
    val log = Scheduler.drive(
      Seq(LakeSync.deployment(spark, sync, dedup, vector)),
      start = clock, until = java.time.LocalDateTime.of(2026, 8, 15, 12, 0),
      now = () => clock, sleep = d => clock = clock.plus(d))
    assert(log.map(r => (r.name, r.error)) ===
      Seq(("lake_delete_sync", None)))
    assert(vecIds(vector) == Set(2L, 3L))
    assert(LakeSync.pending(spark, sync).count() == 0L)
  }
}
