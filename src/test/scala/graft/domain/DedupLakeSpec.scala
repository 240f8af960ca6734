package graft.domain

import java.time.LocalDateTime

import graft.SparkSpec
import graft.sources.StateLock
import org.apache.spark.sql.DataFrame

/** The dedup-state compaction daemon: lake-resident greedy ingest, the
  * RECONCILE pass as a cron-scheduled maintenance deployment (simulated
  * time, like the price/review flows), and the exclusive writer lease that
  * keeps two mutators from interleaving appends with a reconcile swap. */
class DedupLakeSpec extends SparkSpec {
  import spark.implicits._

  // Deterministic chain-straddling fixture (found by exhaustive search over
  // the md5 minhash — candidates are exactly {(A,B),(B,C)}, never (A,C)):
  // B near-dups both A and C, A and C do not near-dup each other.
  private val textA = "sigma omicron tau zeta theta gamma delta zeta mu upsilon sigma theta"
  private val textB = "sigma omicron tau zeta theta ALTB delta zeta mu upsilon sigma theta"
  private val textC = "sigma omicron tau zeta theta ALTB delta zeta mu ALTC sigma theta"

  private def keepIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet

  test("fixture self-check: the LSH candidate set is the open chain A-B-C") {
    val all = Seq((10L, textA), (30L, textB), (50L, textC)).toDF("doc_id", "text")
    val cand = graft.operators.Dedup.minhashLshCandidates(all, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand == Set((10L, 30L), (30L, 50L)), cand.toString)
  }

  test("chain-straddling ingests converge to full-batch keeps after the scheduled reconcile fires") {
    val root = java.nio.file.Files.createTempDirectory("dedup-lake").toString
    // batch1: B (id 30) and an unrelated doc. batch2: A (id 10) near-dups
    // the indexed B — corpus wins, 10 drops and NEVER enters the index.
    // batch3: C (id 50) near-dups ONLY the missing middle link B.
    val kept1 = keepIds(DedupLake.ingest(spark, root,
      Seq((30L, textB), (40L, "unrelated content entirely elsewhere")).toDF("doc_id", "text")))
    assert(kept1 == Set(30L, 40L))
    val kept2 = keepIds(DedupLake.ingest(spark, root,
      Seq((10L, textA)).toDF("doc_id", "text")))
    assert(kept2 == Set.empty[Long], "corpus wins: A drops against indexed B")
    val kept3 = keepIds(DedupLake.ingest(spark, root,
      Seq((50L, textC)).toDF("doc_id", "text")))
    assert(kept3 == Set.empty[Long], "C is caught by B, which IS indexed")
    // greedy state: {30, 40}. Full-batch semantics over the archive:
    // component {10, 30, 50} keeps its MINIMUM id 10 — greedy diverged both
    // ways (30 must drop, 10 must resurrect).
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L, 40L))

    // the maintenance deployment fires on the weekly cron (Sunday 03:00) in
    // simulated time — 2026-08-14 is a Friday, so driving through Sunday
    // fires exactly once
    var report: Option[DedupLake.ReconcileReport] = None
    var clock = LocalDateTime.of(2026, 8, 14, 12, 0)
    val log = Scheduler.drive(
      Seq(DedupLake.maintenanceDeployment(spark, root,
        onReport = r => report = Some(r))),
      start = clock, until = LocalDateTime.of(2026, 8, 17, 0, 0),
      now = () => clock, sleep = d => clock = clock.plus(d))
    assert(log.map(r => (r.name, r.at.toString, r.error)) ===
      Seq(("dedup_reconcile", "2026-08-16T03:00", None)))
    assert(report.contains(DedupLake.ReconcileReport(keeps = 2, dropped = 1, resurrected = 1)))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(10L, 40L))

    // the repaired state is a FIXPOINT: a second reconcile changes nothing,
    // and the rebuilt index drives post-reconcile ingest correctly (a re-dup
    // of the resurrected doc drops against it)
    val r2 = DedupLake.reconcile(spark, root)
    assert(r2 === DedupLake.ReconcileReport(keeps = 2, dropped = 0, resurrected = 0))
    val kept4 = keepIds(DedupLake.ingest(spark, root,
      Seq((99L, textA)).toDF("doc_id", "text")))
    assert(kept4 == Set.empty[Long], "rebuilt index catches a dup of the kept doc")
  }

  test("ingest is at-least-once safe: exact replay is a state no-op; a torn batch is repaired") {
    val root = java.nio.file.Files.createTempDirectory("dedup-replay").toString
    val b1 = Seq((30L, textB), (40L, "unrelated content entirely elsewhere")).toDF("doc_id", "text")
    DedupLake.ingest(spark, root, b1)
    def counts() = (
      spark.read.parquet(s"$root/archive").count(),
      spark.read.parquet(s"$root/keeps").count(),
      spark.read.parquet(s"$root/index").count())
    val after1 = counts()
    // exact replay: nothing appends anywhere (anti-joins make it a no-op)
    DedupLake.ingest(spark, root, b1)
    assert(counts() === after1, "replayed batch must not duplicate state")
    // torn batch: crash AFTER the archive append, BEFORE index/keeps —
    // archived-but-undecided docs; the replay repairs exactly the missing rows
    val b2 = Seq((50L, textC), (60L, "another standalone document topic")).toDF("doc_id", "text")
    intercept[RuntimeException] {
      DedupLake.ingest(spark, root, b2,
        failpoint = () => throw new RuntimeException("torn"))
    }
    assert(spark.read.parquet(s"$root/archive").count() == after1._1 + 2)
    assert(spark.read.parquet(s"$root/keeps").count() == after1._2, "keeps not yet written")
    val kept = keepIds(DedupLake.ingest(spark, root, b2))
    // 50 (textC) near-dups the indexed 30 (textB): dropped; 60 keeps
    assert(kept == Set(60L))
    assert(counts() === (after1._1 + 2, after1._2 + 1, after1._3 + 4),
      "repair wrote exactly the missing archive/keeps/index rows")

    // second torn window: crash AFTER the index append, BEFORE keeps —
    // the replay must not re-append the batch's band rows (each append
    // derives its new-set from its OWN store)
    val after2 = counts()
    val b3 = Seq((70L, "a third unique subject matter here")).toDF("doc_id", "text")
    intercept[RuntimeException] {
      DedupLake.ingest(spark, root, b3,
        failpointAfterIndex = () => throw new RuntimeException("torn-2"))
    }
    assert(counts() === (after2._1 + 1, after2._2, after2._3 + 4),
      "archive + index written, keeps not")
    assert(keepIds(DedupLake.ingest(spark, root, b3)) == Set(70L))
    assert(counts() === (after2._1 + 1, after2._2 + 1, after2._3 + 4),
      "replay added ONLY the missing keeps row — no duplicate band rows")
  }

  test("reconcile promotes keeps+index as ONE generation; legacy root migrates and is cleaned") {
    val root = java.nio.file.Files.createTempDirectory("dedup-gen").toString
    // pre-versioning shape: ingests on a fresh root write the ROOT layout
    DedupLake.ingest(spark, root,
      Seq((30L, textB), (40L, "unrelated content entirely elsewhere"))
        .toDF("doc_id", "text")).count()
    assert(GenStore.dataRoot(spark, root) == root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/keeps")))
    // first reconcile versions the store: keeps+index commit together via
    // the pointer flip, so they can never again be one reconcile apart
    DedupLake.reconcile(spark, root)
    assert(GenStore.dataRoot(spark, root) == s"$root/gen-0")
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L, 40L))
    // ingest probes and appends the CURRENT generation (a dup of an
    // indexed doc still drops; a new doc's keeps row lands under gen-0)
    assert(keepIds(DedupLake.ingest(spark, root,
      Seq((99L, textB)).toDF("doc_id", "text"))).isEmpty)
    assert(keepIds(DedupLake.ingest(spark, root,
      Seq((60L, "another standalone document topic")).toDF("doc_id", "text")))
      == Set(60L))
    assert(spark.read.parquet(s"$root/gen-0/keeps").count() == 3)
    // second reconcile: gen-1 current, gen-0 retained for in-flight
    // readers, the legacy root dirs cleaned (retention window passed)
    DedupLake.reconcile(spark, root)
    assert(GenStore.dataRoot(spark, root) == s"$root/gen-1")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/keeps")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/index")),
      "legacy dirs must be cleaned once displaced beyond the retention window")
    // third: gen-2 current, gen-0 dropped
    DedupLake.reconcile(spark, root)
    assert(GenStore.dataRoot(spark, root) == s"$root/gen-2")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/gen-0")))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L, 40L, 60L))
    // the archive commits one compacted version per reconcile under the
    // same two-version retention: its legacy dir went with the second
    // reconcile, version 0 with the third
    assert(GenStore.currentDir(spark, s"$root/archive") == s"$root/archive.gen-2")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/archive")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$root/archive.gen-0")))
    assert(DedupLake.corpus(spark, root).count() == 4)
  }

  test("streaming lake ingest resolves the generation PER BATCH across a mid-stream reconcile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("dedup-stream").toString
    val input = MemoryStream[(Long, String)]
    val kepts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.Streams.dedupLakeIngestStream(
        input.toDF().toDF("doc_id", "text"), root,
        onKept = (e, n) => kepts.synchronized { kepts += e -> n; () })
      .start()
    try {
      input.addData(30L -> textB, 40L -> "unrelated content entirely elsewhere")
      q.processAllAvailable()
      // mid-stream maintenance: versions the store (root layout -> gen-0)
      DedupLake.reconcile(spark, root)
      assert(GenStore.dataRoot(spark, root) == s"$root/gen-0")
      // the next micro-batch must probe the NEW generation's index: a dup
      // of the indexed doc still drops, a fresh doc still keeps
      input.addData(99L -> textB, 60L -> "another standalone document topic")
      q.processAllAvailable()
    } finally q.stop()
    assert(kepts.sortBy(_._1).map(_._2).toList == List(2L, 1L), kepts.toString)
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L, 40L, 60L))
  }

  test("delete: purged docs leave keeps and stop gating; reconcile purges the archive and clears") {
    // the right-to-be-forgotten path: doc 10 (text A) is kept, then
    // deleted — it must vanish from keeps immediately, its band rows must
    // stop suppressing a re-submitted near-duplicate (a purge is not a
    // content ban), and the next reconcile must rewrite the ARCHIVE
    // without it (the durable copy is the point of the request).
    val root = java.nio.file.Files.createTempDirectory("dedup-del").toString
    DedupLake.ingest(spark, root,
      Seq((10L, textA), (50L, textC)).toDF("doc_id", "text")).count()
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(10L, 50L))
    assert(DedupLake.delete(spark, root, Seq(10L).toDF("doc_id")) == 1)
    // replay + never-archived id: state no-ops
    assert(DedupLake.delete(spark, root, Seq(10L, 999L).toDF("doc_id")) == 0)
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(50L))
    // the SAME text re-submitted under a new id is kept again: the probe
    // index is the logical store, the tombstoned doc's bands don't gate
    val kept = DedupLake.ingest(spark, root,
      Seq((70L, textA)).toDF("doc_id", "text"))
    assert(keepIds(kept) == Set(70L), "purged content must be re-ingestable")
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(50L, 70L))
    // reconcile reclaims: the archive drops doc 10 physically, the
    // tombstones clear, and the keep set survives
    DedupLake.reconcile(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(GenStore.readOverlay(spark, root, DedupLake.tombstonesSchema,
      DedupLake.archiveSchema).isEmpty, "the tombstones are cleared")
    assert(GenStore.read(spark, s"$root/archive", DedupLake.archiveSchema)
      .collect().map(_.getLong(0)).toSet
      == Set(50L, 70L), "the archive rewrite must purge the deleted doc")
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(50L, 70L))
  }

  test("compactStores collapses per-batch small files between reconciles; keeps unchanged") {
    val root = java.nio.file.Files.createTempDirectory("dedup-compact").toString
    val texts = Seq("alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu", "nu xi omicron pi")
    for ((t, i) <- texts.zipWithIndex)
      DedupLake.ingest(spark, root,
        Seq((i.toLong + 1, t)).toDF("doc_id", "text")).count()
    val before = keepIds(DedupLake.keeps(spark, root))
    assert(before == Set(1L, 2L, 3L, 4L))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def dataFiles(dir: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).count(f =>
        f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
    assert(dataFiles(s"$root/archive") >= 4, "four batches, four file sets")
    val report = DedupLake.compactStores(spark, root, minFilesPerStore = 3)
    assert(report.keySet == Set("archive", "index", "keeps"), report)
    assert(dataFiles(GenStore.currentDir(spark, s"$root/archive")) == 1 &&
      dataFiles(s"${GenStore.dataRoot(spark, root)}/keeps") == 1,
      "4 rows / 1e6 target must collapse to ONE file")
    assert(keepIds(DedupLake.keeps(spark, root)) == before,
      "compaction changed the keep set")
    // everything below threshold now: the next scheduled run is a no-op
    assert(DedupLake.compactStores(spark, root, minFilesPerStore = 3).isEmpty)
  }

  test("writer lease: a second writer fails fast; an expired lease is broken") {
    val root = java.nio.file.Files.createTempDirectory("dedup-lock").toString
    var t = 1000000L
    val now = () => t
    // holder acquires, a contender inside the lease window is refused
    StateLock.withRootLock(spark, root, leaseMs = 60000L, now = now) {
      val ex = intercept[IllegalArgumentException] {
        StateLock.withRootLock(spark, root, leaseMs = 60000L, now = now) {
          fail("must not enter") }
      }
      assert(ex.getMessage.contains("locked by another writer"), ex.getMessage)
    }
    // lock released on exit: a fresh writer enters
    StateLock.withRootLock(spark, root, leaseMs = 60000L, now = now) {}
    // a crashed holder (lock file left behind) blocks until the lease
    // expires, then the next writer breaks it and proceeds
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val lock = new org.apache.hadoop.fs.Path(root, "_LOCK")
    val out = fs.create(lock, false)
    out.write(t.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)); out.close()
    intercept[IllegalArgumentException] {
      StateLock.withRootLock(spark, root, leaseMs = 60000L, now = now) {
        fail("must not enter") }
    }
    t += 61000L
    var entered = false
    StateLock.withRootLock(spark, root, leaseMs = 60000L, now = now) { entered = true }
    assert(entered)
  }
}
