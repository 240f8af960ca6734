package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.SparkSession

/** The SHARED lake-lifecycle crash matrix (r8 verdict ask #6): every
  * lake-resident store — DedupLake, VectorLake, and whatever lake comes
  * next — must satisfy the same contracts: exclusive writer lease
  * (fail-fast refusal), a torn ingest at EVERY failpoint repaired by an
  * exact replay, replay-is-a-state-no-op on a completed batch, and a
  * reconcile that preserves the resident keep semantics while rewriting
  * the layout. One adapter-driven matrix, two (so far) adapters — a new
  * lake inherits the proven lifecycle by writing an adapter, not by
  * re-implementing the spec. The lakes' OWN specs keep their
  * store-specific scenarios (generations, SQ tiers, band indexes); this
  * matrix is the common denominator.
  */
trait LakeCrashMatrix { self: SparkSpec =>

  /** The minimal surface a lake must expose to run the matrix. The
    * canonical batch must contain at least one within-batch duplicate so
    * the replay check exercises the dedup state, not just the appends. */
  trait LakeAdapter {
    def name: String
    def spark: SparkSession = self.spark
    /** A freshly initialized, empty store. */
    def freshRoot(): String
    /** Ingest the canonical batch; `failAt` (one of [[failpoints]]) makes
      * the named torn window throw AFTER its preceding writes landed. */
    def ingestBatch(root: String, failAt: Option[String]): Unit
    /** Every torn window the lake's ingest exposes. */
    def failpoints: Seq[String]
    /** Rows the store considers resident/kept. */
    def residentCount(root: String): Long
    /** The canonical batch's keep count once fully ingested. */
    def expectedAfterBatch: Long
    def reconcile(root: String): Unit
    def plantForeignLock(root: String): Unit = {
      val lock = new org.apache.hadoop.fs.Path(s"${lockRoot(root)}/_LOCK")
      val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
      val out = fs.create(lock, false)
      out.write(s"${System.currentTimeMillis()}:foreign-holder".getBytes("UTF-8"))
      out.close()
    }
    def lockRoot(root: String): String = root
  }

  final def runCrashMatrix(adapter: LakeAdapter): Unit = {
    test(s"[matrix:${adapter.name}] a torn ingest at every failpoint is repaired by an exact replay") {
      for (fp <- adapter.failpoints) {
        val root = adapter.freshRoot()
        intercept[RuntimeException] { adapter.ingestBatch(root, Some(fp)) }
        adapter.ingestBatch(root, None) // the at-least-once replay
        assert(adapter.residentCount(root) == adapter.expectedAfterBatch,
          s"state not repaired after torn window '$fp'")
        adapter.ingestBatch(root, None) // and a replay of the COMPLETE batch
        assert(adapter.residentCount(root) == adapter.expectedAfterBatch,
          s"replay after '$fp' repair was not a no-op")
      }
    }

    test(s"[matrix:${adapter.name}] reconcile preserves the keep set; post-reconcile replay is a no-op") {
      val root = adapter.freshRoot()
      adapter.ingestBatch(root, None)
      adapter.reconcile(root)
      assert(adapter.residentCount(root) == adapter.expectedAfterBatch,
        "reconcile must reorganize, not change, the resident keep set")
      adapter.ingestBatch(root, None)
      assert(adapter.residentCount(root) == adapter.expectedAfterBatch,
        "a replay after reconcile must insert nothing")
    }

    test(s"[matrix:${adapter.name}] a reader stranded past retention fails loudly, not emptily") {
      // the r9 verdict's unfriendliest-failure finding: a reader resolves
      // gen-N, sleeps through retainGenerations promotions, and its next
      // generation-scoped read must raise the actionable expiry message —
      // NOT return a silently-empty frame (a wrong answer) and NOT die
      // mid-scan on a raw FileNotFoundException
      val root = adapter.freshRoot()
      adapter.ingestBatch(root, None)
      adapter.reconcile(root) // versions the store (legacy -> gen-0)
      val droot = GenStore.dataRoot(spark, root) // the reader's resolution
      adapter.reconcile(root) // promotion 1: displaces the reader's gen
      adapter.reconcile(root) // promotion 2: retention (default 2) drops it
      val e = intercept[IllegalStateException] {
        GenStore.readGenOrEmpty(spark, droot, "any",
          new org.apache.spark.sql.types.StructType())
      }
      assert(e.getMessage.contains("EXPIRED"), e.getMessage)
      // a fresh resolution under the CURRENT pointer still serves
      assert(adapter.residentCount(root) == adapter.expectedAfterBatch)
    }

    test(s"[matrix:${adapter.name}] the writer lease refuses a second writer, state untouched") {
      val root = adapter.freshRoot()
      adapter.plantForeignLock(root)
      val e = intercept[IllegalArgumentException] {
        adapter.ingestBatch(root, None)
      }
      assert(e.getMessage.contains("locked by another writer"), e.getMessage)
      assert(adapter.residentCount(root) == 0, "a refused writer must not write")
    }
  }
}

class LakeCrashMatrixSpec extends SparkSpec with LakeCrashMatrix {
  import spark.implicits._

  private def unit(deg: Double, scale: Float = 1f): Array[Float] = {
    val r = math.toRadians(deg)
    Array((math.cos(r) * scale).toFloat, (math.sin(r) * scale).toFloat)
  }

  runCrashMatrix(new LakeAdapter {
    val name = "DedupLake"
    def freshRoot(): String =
      java.nio.file.Files.createTempDirectory("matrix_dedup").toString + "/lake"
    // docs 1 and 2 are exact twins (every band collides); 3 is disjoint —
    // the canonical keep set is {1, 3}
    private def batch = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")).toDF("doc_id", "text")
    val failpoints = Seq("after-archive", "after-index")
    def ingestBatch(root: String, failAt: Option[String]): Unit = {
      def boom(name: String): () => Unit = () =>
        if (failAt.contains(name)) throw new RuntimeException(s"torn at $name")
      DedupLake.ingest(spark, root, batch,
        failpoint = boom("after-archive"),
        failpointAfterIndex = boom("after-index")).count()
      ()
    }
    def residentCount(root: String): Long = DedupLake.keeps(spark, root).count()
    val expectedAfterBatch = 2L
    def reconcile(root: String): Unit = {
      DedupLake.reconcile(spark, root); ()
    }
  })

  runCrashMatrix(new LakeAdapter {
    val name = "LexLake"
    def freshRoot(): String =
      java.nio.file.Files.createTempDirectory("matrix_lex").toString + "/lake"
    // doc 3 is zero-token (never resident — no lexical content), so the
    // replay check exercises the batch-domain filter next to the appends;
    // the canonical resident set is {1, 2}
    private def batch = Seq(
      (1L, "alpha beta gamma delta"), (2L, "omega psi chi phi"),
      (3L, "   ")).toDF("doc_id", "text")
    val failpoints = Seq("after-stats", "after-postings")
    def ingestBatch(root: String, failAt: Option[String]): Unit = {
      def boom(name: String): () => Unit = () =>
        if (failAt.contains(name)) throw new RuntimeException(s"torn at $name")
      LexLake.ingest(spark, root, batch, nBuckets = 4,
        failpointAfterStats = boom("after-stats"),
        failpoint = boom("after-postings"))
      ()
    }
    def residentCount(root: String): Long =
      GenStore.readGenOrEmpty(spark, GenStore.dataRoot(spark, root),
        "doclens", LexLake.doclensSchema).count()
    val expectedAfterBatch = 2L
    def reconcile(root: String): Unit = LexLake.reconcile(spark, root)
  })

  runCrashMatrix(new LakeAdapter {
    val name = "VectorLake"
    def freshRoot(): String = {
      val root =
        java.nio.file.Files.createTempDirectory("matrix_vec").toString + "/lake"
      VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
      root
    }
    // vectors 1 and 2 share a direction (cos 1 — a within-batch dup);
    // 3 is orthogonal — the canonical keep set is {1, 3}
    private def batch = Seq(
      (1L, unit(0, 14f)), (2L, unit(0, 7f)), (3L, unit(90, 14f)))
      .toDF("vec_id", "embedding")
    val failpoints = Seq("before-append", "after-vectors")
    def ingestBatch(root: String, failAt: Option[String]): Unit = {
      def boom(name: String): () => Unit = () =>
        if (failAt.contains(name)) throw new RuntimeException(s"torn at $name")
      VectorLake.ingest(spark, root, batch,
        failpoint = boom("before-append"),
        failpointAfterVectors = boom("after-vectors"))
      ()
    }
    def residentCount(root: String): Long =
      VectorLake.vectors(spark, root).count()
    val expectedAfterBatch = 2L
    def reconcile(root: String): Unit =
      VectorLake.reconcile(spark, root, k = 2, iters = 3)
  })

  test("[matrix:LakeSync] a propagate timing out mid-fanout is completed by the catch-up; no edit applies twice") {
    // the r10 ask #8 arm: LakeSync.propagate applies an edit while a
    // STREAMING INGEST holds the lex lake's writer lease — the bounded
    // wait expires mid-fanout (dedup and vector arms already applied, lex
    // not), the propagate fails loudly, and the scheduled catch-up
    // completes it once the holder finishes. The pin: across the timeout
    // boundary the intent log never applies an edit TWICE — the replay
    // re-runs the already-applied arms and each lake's upsert is
    // idempotent as a whole, leaving exactly one row per store.
    val base = java.nio.file.Files.createTempDirectory("synctimeout").toString
    val (sync, dedup, vector, lex) =
      (s"$base/sync", s"$base/dedup", s"$base/vector", s"$base/lex")
    DedupLake.ingest(spark, dedup, Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "completely different content over here")).toDF("doc_id", "text"))
    VectorLake.init(spark, vector, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, vector, Seq(
      (1L, unit(0)), (2L, unit(45, 14f))).toDF("vec_id", "embedding"))
    LexLake.ingest(spark, lex, Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "completely different content over here")).toDF("doc_id", "text"),
      nBuckets = 4)
    def lexTop(term: String): Set[Long] =
      LexLake.serve(spark, lex,
          Seq((9L, Seq(term))).toDF("probe_id", "terms"), n = 10)
        .collect().map(_.getLong(1)).toSet
    LakeSync.requestUpsert(spark, sync,
      Seq((2L, "freshly edited marker body", unit(60, 14f)))
        .toDF("doc_id", "text", "embedding"))
    // the streaming ingest's live lease on the lex store
    val lock = new org.apache.hadoop.fs.Path(s"$lex/_LOCK")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(lock, false)
    out.write(s"${System.currentTimeMillis()}:streaming-ingest".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalArgumentException] {
      LakeSync.propagate(spark, sync, dedup, vector, lockWaitMs = 300L,
        lexRoot = Some(lex))
    }
    assert(e.getMessage.contains("locked by another writer"), e.getMessage)
    // torn mid-fanout: dedup and vector carry the edit, lex does not, and
    // the intent log is STILL pending (nothing retired on a failed pass)
    assert(DedupLake.corpus(spark, dedup).where("doc_id = 2")
      .collect().head.getString(1) == "freshly edited marker body")
    assert(lexTop("marker").isEmpty, "the lex arm must not have applied")
    assert(LakeSync.pendingUpserts(spark, sync).count() == 1L)
    // the holder finishes; the scheduled catch-up closes the fan-out
    fs.delete(lock, false)
    var clock = java.time.LocalDateTime.of(2026, 8, 14, 12, 0)
    val log = Scheduler.drive(
      Seq(LakeSync.deployment(spark, sync, dedup, vector,
        lexRoot = Some(lex))),
      start = clock, until = java.time.LocalDateTime.of(2026, 8, 15, 12, 0),
      now = () => clock, sleep = d => clock = clock.plus(d))
    assert(log.map(r => (r.name, r.error)) ===
      Seq(("lake_delete_sync", None)))
    assert(lexTop("marker") == Set(2L))
    assert(LakeSync.pendingUpserts(spark, sync).count() == 0L)
    // applied ONCE everywhere despite the replayed arms: one edit-overlay
    // row per content lake, one resident vector row, one lex edit row
    def editRows(root: String, edits: org.apache.spark.sql.types.StructType) =
      GenStore.readOverlay(spark, root, DedupLake.tombstonesSchema, edits)
        .fold(0L)(_._2.where("doc_id = 2").count())
    assert(editRows(dedup, DedupLake.archiveSchema) == 1L)
    assert(VectorLake.vectors(spark, vector).where("vec_id = 2").count() == 1L)
    assert(editRows(lex, LexLake.editsSchema) == 1L)
    // and a further propagate is a free no-op — the boundary left nothing
    assert(LakeSync.propagate(spark, sync, dedup, vector,
      lexRoot = Some(lex)) == LakeSync.SyncReport(0, 0, 0, 0))
  }

  test("[matrix:DedupLake] a compaction torn at its generation flip keeps the keep set; the next ingest and compaction keep every doc") {
    import graft.sources.Writers
    // dies at the lake's generation flip only: the archive's own commit
    // lands, the compacted keeps/index pair is written but never committed
    object CrashAtGenFlip extends Writers.PointerCommit {
      val name = "crash-at-gen-flip"
      def put(fs: org.apache.hadoop.fs.FileSystem,
              dst: org.apache.hadoop.fs.Path, value: String): Unit =
        if (dst.getName == "GEN")
          throw new RuntimeException("crash at the generation flip")
        else Writers.RenamePointerCommit.put(fs, dst, value)
      def recover(fs: org.apache.hadoop.fs.FileSystem,
                  dst: org.apache.hadoop.fs.Path): Unit =
        Writers.RenamePointerCommit.recover(fs, dst)
    }
    val root =
      java.nio.file.Files.createTempDirectory("matrix_dcompact").toString +
        "/lake"
    def text(id: Long) = s"standalone document number $id topic $id"
    def ingest(id: Long, body: String): Unit = {
      DedupLake.ingest(spark, root, Seq((id, body)).toDF("doc_id", "text"))
        .count(); ()
    }
    def keepSet: Set[Long] =
      DedupLake.keeps(spark, root).select("doc_id").as[Long].collect().toSet
    for (id <- 1L to 3L) ingest(id, text(id))
    assert(keepSet == Set(1L, 2L, 3L))
    val e = intercept[RuntimeException] {
      Writers.withPointerCommit(CrashAtGenFlip) {
        DedupLake.compactStores(spark, root, minFilesPerStore = 3)
      }
    }
    assert(e.getMessage == "crash at the generation flip", e.getMessage)
    assert(GenStore.exists(spark, s"$root/gen-0/keeps"),
      "the compacted generation was written in full")
    assert(GenStore.currentGen(spark, root).isEmpty)
    assert(keepSet == Set(1L, 2L, 3L), "a torn compaction changed the keeps")
    ingest(4L, text(4L))
    assert(keepSet == Set(1L, 2L, 3L, 4L))
    val report = DedupLake.compactStores(spark, root, minFilesPerStore = 3)
    assert(Set("index", "keeps").subsetOf(report.keySet), report)
    assert(GenStore.currentGen(spark, root).contains(0L),
      "the next compaction lands on the orphan's number")
    assert(keepSet == Set(1L, 2L, 3L, 4L), "compaction lost a kept doc")
    // the committed index still gates near-duplicates of every kept doc
    ingest(5L, text(1L))
    assert(keepSet == Set(1L, 2L, 3L, 4L), "the index lost a kept doc's bands")
  }

  test("[matrix:commit] the pointer commit primitive is injectable — a full lifecycle on the object-store put, and the rename protocol survives a simulated non-atomic rename") {
    // r12 verdict ask #7: GenStore's pointer flip is THE commit, and the
    // default relies on atomic rename — false on S3-style stores. The
    // primitive is now a seam (Writers.PointerCommit):
    // OverwritePutPointerCommit commits in ONE atomic object PUT.
    import graft.sources.Writers
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")).toDF("doc_id", "text")
    def servedOf(root: String): Set[(Long, Long, Long, Long)] =
      LexLake.serve(spark, root,
          Seq((9L, Seq("alpha", "omega"))).toDF("probe_id", "terms"), n = 5)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    def servedIds(root: String): Set[Long] = servedOf(root).map(_._2)
    // every commit kind: the layout conf, the generation flips, the
    // overlay (a delete's append into it, an upsert's commit, the fold's
    // clear) — and the warehouse's crawl_state through a price merge
    def lifecycle(): (String, String) = {
      val root =
        java.nio.file.Files.createTempDirectory("cpmatrix").toString + "/lake"
      LexLake.ingest(spark, root, docs, nBuckets = 4) // conf commit
      LexLake.reconcile(spark, root) // gen-0 commit
      LexLake.delete(spark, root, Seq(2L).toDF("doc_id"))
      assert(servedIds(root) == Set(1L, 3L), "the delete serves at once")
      LexLake.upsert(spark, root,
        Seq((3L, "alpha omega rewritten")).toDF("doc_id", "text"))
      assert(servedOf(root).exists(r => r._2 == 3L && r._4 == 1L),
        "the upsert serves at once (both query terms now match doc 3)")
      LexLake.reconcile(spark, root) // gen-1 commit, overlay clear
      val wh =
        java.nio.file.Files.createTempDirectory("cpmatrix_wh").toString
      val ts = new java.sql.Timestamp(1700000000000L)
      graft.streaming.PricePipeline.mergeBatch(spark, wh,
        Seq((1, 999L, 0.0, 999L, ts))
          .toDF("appid", "price_cents", "discount", "initial_price_cents", "ts"))
      (root, wh)
    }
    val (renameRoot, renameWh) = lifecycle()
    val (putRoot, putWh) = Writers.withPointerCommit(
      Writers.OverwritePutPointerCommit)(lifecycle())
    // identical lifecycle, identical answers; the put protocol never
    // creates a __tmp (no delete-to-rename window EXISTS to recover)
    assert(servedOf(putRoot) == servedOf(renameRoot))
    assert(servedIds(putRoot) == Set(1L, 3L))
    assert(GenStore.generations(spark, putRoot) == Seq(0L, 1L))
    assert(GenStore.readOverlay(spark, putRoot, LexLake.tombstonesSchema,
      LexLake.editsSchema).isEmpty, "the fold cleared the overlay")
    def crawlState(wh: String) = spark.read.parquet(
        GenStore.currentDir(spark, s"$wh/crawl_state"))
      .select("game_appid", "last_price_timestamp").collect().toSeq
    assert(crawlState(putWh) == crawlState(renameWh))
    assert(crawlState(putWh).map(_.getInt(0)) == Seq(1))
    val fs = new org.apache.hadoop.fs.Path(putRoot)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for (p <- Seq(s"$putRoot/GEN", s"$putRoot/overlay.GEN",
        s"$putRoot/conf.GEN", s"$putWh/crawl_state.GEN")) {
      assert(fs.exists(new org.apache.hadoop.fs.Path(p)), p)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${p}__tmp")), p)
    }
    // a put-committed store keeps working under the default primitive
    // afterwards (mixed-primitive upgrade path), and vice versa
    LexLake.ingest(spark, putRoot,
      Seq((7L, "extra omega row")).toDF("doc_id", "text"), nBuckets = 4)
    LexLake.reconcile(spark, putRoot) // gen-2 under rename protocol
    assert(GenStore.generations(spark, putRoot) == Seq(1L, 2L))
    // NON-ATOMIC-RENAME SIMULATION: an object store emulates rename as
    // copy+delete, so the rename primitive's delete→rename window widens
    // to a real crash surface. Simulate a commit dying INSIDE that window
    // (tmp written, destination deleted, promotion never happens) during
    // a reconcile: readers must still resolve the NEW pointer through
    // __tmp (never a missing pointer), and the next writer completes the
    // commit — the torn generation is NEVER half-visible because data was
    // written whole before the flip.
    object TornRenameCommit extends Writers.PointerCommit {
      val name = "torn-rename-sim"
      def put(fs: org.apache.hadoop.fs.FileSystem,
              dst: org.apache.hadoop.fs.Path, value: String): Unit = {
        val tmp = new org.apache.hadoop.fs.Path(dst.toString + "__tmp")
        val out = fs.create(tmp, true)
        try out.write(value.getBytes("UTF-8")) finally out.close()
        if (fs.exists(dst)) fs.delete(dst, false)
        throw new RuntimeException("simulated crash inside the non-atomic rename")
      }
      def recover(fs: org.apache.hadoop.fs.FileSystem,
                  dst: org.apache.hadoop.fs.Path): Unit =
        Writers.RenamePointerCommit.recover(fs, dst)
    }
    val beforeCrash = servedOf(renameRoot)
    intercept[RuntimeException] {
      Writers.withPointerCommit(TornRenameCommit) {
        LexLake.reconcile(spark, renameRoot)
      }
    }
    // reader-side: the pointer resolves through the surviving __tmp to the
    // new, FULLY-WRITTEN generation — answers identical (the torn commit
    // was a pure fold with no overlays pending)
    assert(GenStore.currentGen(spark, renameRoot).contains(2L))
    assert(servedOf(renameRoot) == beforeCrash,
      "a commit torn inside the rename window must never change answers")
    // writer-side: the next reconcile recovers the flip and commits
    // normally on top
    LexLake.reconcile(spark, renameRoot)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$renameRoot/GEN__tmp")),
      "recovery must promote the surviving __tmp")
    assert(GenStore.currentGen(spark, renameRoot).contains(3L))
    assert(servedOf(renameRoot) == beforeCrash)
  }
}
