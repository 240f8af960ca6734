package graft.domain

import graft.SparkSpec
import graft.operators.TextStats
import org.apache.spark.sql.DataFrame

/** The lake-resident inverted index (LexLake): BM25 serving at EXACT parity
  * with TextStats.bm25PerQuery over the logical corpus — through ingests,
  * deletes, upserts, the reconcile fold, and compaction — plus the bucket
  * partition-pruning contract and the shared lake crash discipline. */
class LexLakeSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"lexlake_$tag").toString

  // a deterministic 24-doc corpus over a small vocabulary, with repeated
  // terms (tf > 1), shared terms (df > 1), and varying lengths
  private val vocab = Vector("spark", "query", "merge", "vector", "hash",
    "window", "stream", "batch", "scan", "filter")
  private def corpus(n: Int = 24): Seq[(Long, String)] =
    (0 until n).map { i =>
      val ws = (0 to (i % 5) + 2).map(j => vocab((i * 3 + j * 7) % vocab.size))
      (i.toLong, (ws ++ ws.take(i % 3)).mkString(" "))
    }

  private val queries = Seq(
    (100L, Seq("spark", "query")),
    (200L, Seq("merge", "vector", "hash")),
    (300L, Seq("window", "stream", "stream")),
    (400L, Seq("zzznothere")))

  private def queriesDf = queries.toDF("probe_id", "terms")

  private def served(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  /** A single phrase through the batch serve (a batch of one):
    * (doc_id, occurrences). */
  private def phraseOne(root: String, ph: Seq[String],
                        view: ReadView = ReadView.Live,
                        maxOverlayRows: Long = 1L << 20): DataFrame =
    LexLake.phraseServeBatch(spark, root, Seq((0L, ph)).toDF("probe_id", "phrase"),
        maxOverlayRows = maxOverlayRows, view = view)
      .select("doc_id", "occurrences")

  /** The reference: the pure posting-list query (q162's registered form)
    * over the LOGICAL corpus frame. */
  private def reference(docs: Seq[(Long, String)], n: Int = 5)
      : Set[(Long, Long, Long, Long)] =
    served(TextStats.bm25PerQuery(docs.toDF("doc_id", "text"), "doc_id", "text",
      queriesDf, "probe_id", "terms", n = n))

  test("serve matches bm25PerQuery exactly on a freshly ingested corpus") {
    val root = freshRoot("parity")
    val r = LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"),
      nBuckets = 8)
    assert(r.docs == 24L && r.postings > 0L)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5))
      == reference(corpus()))
  }

  test("serve prunes to the queried terms' posting buckets") {
    val root = freshRoot("prune")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    val df = LexLake.serve(spark, root,
      Seq((1L, Seq("spark"))).toDF("probe_id", "terms"), n = 5)
    // (inputFiles lists the relation pre-pushdown, so assert on the
    // executed plan: the tbucket predicate must land in PartitionFilters —
    // directory-level pruning — and the term predicate in PushedFilters,
    // each read inside its bracket: the scan line lists tbucket and term
    // among its output columns whatever it prunes)
    val plan = df.queryExecution.executedPlan.toString
    val scans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("postings")).toSeq
    assert(scans.nonEmpty, plan.take(4000))
    assert(scans.forall(l =>
      scanFilters(l, "PartitionFilters").contains("tbucket")), plan.take(4000))
    assert(scans.forall(l => scanFilters(l, "PushedFilters")
      .contains("EqualTo(term,spark)")), plan.take(4000))
  }

  test("serve ranks through the bounded heap — no probe-keyed window above the posting join") {
    // the r10 top finding, closed: a row_number window keyed only by
    // probe_id hauls every document matching a frequent term to ONE
    // reducer; the heap form (Serving.rankTopNMicros) partial-aggregates
    // map-side, capping the keyed exchange at probes x partitions x n.
    // Pin the plan: the native TopN aggregate shows as ObjectHashAggregate
    // (partial then final) and NO WindowExec appears anywhere in the serve.
    val root = freshRoot("heapplan")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    val plan = LexLake.serve(spark, root, queriesDf, n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("ingest is at-least-once safe: replay no-ops, torn windows repair, stats stay exact") {
    val root = freshRoot("replay")
    val (b1, b2) = corpus().splitAt(12)
    LexLake.ingest(spark, root, b1.toDF("doc_id", "text"), nBuckets = 8)
    def state() = (
      spark.read.schema(LexLake.postingsSchema).parquet(s"$root/postings").count(),
      spark.read.parquet(s"$root/doclens").count(),
      spark.read.parquet(s"$root/stats").collect()
        .map(r => (r.getLong(1), r.getLong(2))).toSet)
    val s1 = state()
    LexLake.ingest(spark, root, b1.toDF("doc_id", "text"), nBuckets = 8)
    assert(state() == s1, "exact replay must write nothing")
    // torn after postings, before doclens: the replay repairs exactly the
    // missing doclens + stats rows (and appends no duplicate postings)
    intercept[RuntimeException] {
      LexLake.ingest(spark, root, b2.toDF("doc_id", "text"), nBuckets = 8,
        failpoint = () => throw new RuntimeException("torn"))
    }
    assert(spark.read.parquet(s"$root/doclens").count() == s1._2,
      "doclens not yet written")
    LexLake.ingest(spark, root, b2.toDF("doc_id", "text"), nBuckets = 8)
    // torn after the stats delta, before postings: the replay recomputes
    // the same to-add set, dedupes the delta on its key, writes the rest
    val root2 = freshRoot("replay2")
    LexLake.ingest(spark, root2, b1.toDF("doc_id", "text"), nBuckets = 8)
    intercept[RuntimeException] {
      LexLake.ingest(spark, root2, b2.toDF("doc_id", "text"), nBuckets = 8,
        failpointAfterStats = () => throw new RuntimeException("torn2"))
    }
    assert(spark.read.parquet(s"$root2/stats").count() == 2L,
      "the delta landed before the crash")
    LexLake.ingest(spark, root2, b2.toDF("doc_id", "text"), nBuckets = 8)
    assert(spark.read.parquet(s"$root2/stats").count() == 2L,
      "the replay must dedupe the delta on its key")
    // both lakes converge to full parity — stats exact despite the tears
    for (rt <- Seq(root, root2))
      assert(served(LexLake.serve(spark, rt, queriesDf, n = 5))
        == reference(corpus()), s"parity lost at $rt")
  }

  test("an OVERLAPPING retry after a stats-boundary crash keeps stats exact — no reconcile needed") {
    // r11 verdict ask #4, closed structurally: the r11 set-fingerprint
    // dedupe over-counted n_docs/total_dl when a crashed batch's retry
    // partially overlapped other work; per-id delta coverage counts every
    // doc exactly once under ANY interleaving, and serve scores equal the
    // clean-ingest lake's BEFORE any reconcile rebases.
    val root = freshRoot("overlap")
    val all = corpus()
    val a = all.take(12) // batch A: docs 0-11
    val b = all.slice(8, 16) // batch B overlaps A on docs 8-11
    // A crashes right after its stats delta landed (before postings/doclens)
    intercept[RuntimeException] {
      LexLake.ingest(spark, root, a.toDF("doc_id", "text"), nBuckets = 8,
        failpointAfterStats = () => throw new RuntimeException("torn"))
    }
    // B (a different, overlapping batch) ingests normally, then A replays
    LexLake.ingest(spark, root, b.toDF("doc_id", "text"), nBuckets = 8)
    LexLake.ingest(spark, root, a.toDF("doc_id", "text"), nBuckets = 8)
    // the union landed exactly once everywhere: stats, doclens, serving
    val union = all.take(16)
    val st = spark.read.schema(LexLake.statsSchema)
      .parquet(s"$root/stats")
      .agg(org.apache.spark.sql.functions.sum("n_docs"),
        org.apache.spark.sql.functions.sum("total_dl")).head()
    assert(st.getLong(0) == union.size.toLong,
      s"n_docs must count every doc ONCE, got ${st.getLong(0)}")
    assert(spark.read.parquet(s"$root/doclens").count() == union.size.toLong)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5))
      == reference(union),
      "serve scores must equal the clean-ingest lake's pre-reconcile")
  }

  test("a pre-round-12 torn batch replayed VERBATIM dedupes on its legacy null-coverage delta") {
    // r12 advice (medium): deltas written before round 12 carry no per-id
    // coverage (doc_ids reads back null), so the coverage anti-join cannot
    // see them — without the legacy fast-path, replaying a crashed batch
    // verbatim (the documented pre-round-12 repair) would append a SECOND
    // delta and inflate n_docs/total_dl (every serve's idf/avgdl) until
    // reconcile rebased.
    val root = freshRoot("legacy")
    val (b1, b2) = corpus().splitAt(12)
    LexLake.ingest(spark, root, b1.toDF("doc_id", "text"), nBuckets = 8)
    // b2 crashes right after its stats delta lands
    intercept[RuntimeException] {
      LexLake.ingest(spark, root, b2.toDF("doc_id", "text"), nBuckets = 8,
        failpointAfterStats = () => throw new RuntimeException("torn"))
    }
    // rewrite the ledger into the PRE-round-12 format — null coverage, no
    // ':part' suffix: exactly a store upgraded with an in-flight torn batch
    val legacy = spark.read.schema(LexLake.statsSchema)
      .parquet(s"$root/stats").collect().toSeq
      .map(r => org.apache.spark.sql.Row(
        r.getString(0).substring(0, r.getString(0).lastIndexOf(':')),
        r.getLong(1), r.getLong(2), null))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(legacy.asJava, LexLake.statsSchema)
      .write.mode("overwrite").parquet(s"$root/stats")
    // the verbatim replay repairs postings/doclens and SKIPS the delta
    LexLake.ingest(spark, root, b2.toDF("doc_id", "text"), nBuckets = 8)
    val st = spark.read.schema(LexLake.statsSchema).parquet(s"$root/stats")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.sum("n_docs")).head()
    assert(st.getLong(0) == 2L,
      s"the replay appended a duplicate delta: ${st.getLong(0)} rows")
    assert(st.getLong(1) == 24L, s"n_docs inflated to ${st.getLong(1)}")
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5))
      == reference(corpus()))
  }

  test("impact serve refuses a stale tier past the caller's staleness bound") {
    // r11 verdict ask #3: the tier is frozen at the fold — postings
    // ingested since are invisible for capped terms, and the freshness
    // bound is the recall gate's twin (measured off the stats ledger, no
    // extra I/O)
    val root = freshRoot("impactstale")
    val (b1, b2) = corpus().splitAt(16)
    LexLake.ingest(spark, root, b1.toDF("doc_id", "text"), nBuckets = 8)
    LexLake.reconcile(spark, root, impactPostings = 3, impactDfThreshold = 2,
      impactMinRecall = 0.05)
    // fresh tier: any bound passes
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5,
      impact = true, maxStaleFraction = 0.0)).nonEmpty)
    // 8 of 24 docs arrive after the fold: staleness 1/3 crosses a 0.2 bound
    LexLake.ingest(spark, root, b2.toDF("doc_id", "text"), nBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      LexLake.serve(spark, root, queriesDf, n = 5,
        impact = true, maxStaleFraction = 0.2)
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    assert(e.getMessage.contains("reconcile"), e.getMessage)
    // the default bound still serves; the fold refreshes and any bound passes
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5, impact = true))
      .nonEmpty)
    LexLake.reconcile(spark, root, impactPostings = 3, impactDfThreshold = 2,
      impactMinRecall = 0.05)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5,
      impact = true, maxStaleFraction = 0.0)).nonEmpty)
    // the health report's staleness column measures the same mass per
    // bucket (resident-tier arm of healthOfPostings)
    val root2 = freshRoot("impactstale2")
    LexLake.ingest(spark, root2, b1.toDF("doc_id", "text"), nBuckets = 8)
    LexLake.reconcile(spark, root2, impactPostings = 3, impactDfThreshold = 2,
      impactMinRecall = 0.05)
    LexLake.ingest(spark, root2, b2.toDF("doc_id", "text"), nBuckets = 8)
    val stale = LexLake.health(spark, root2)
      .agg(org.apache.spark.sql.functions.sum("impact_stale_postings"))
      .head().getLong(0)
    assert(stale > 0L, "post-fold ingests must register as tier staleness")
  }

  test("delete excludes immediately with exact stats correction; upsert supersedes and resurrects") {
    val root = freshRoot("mut")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    // delete two docs: serving must equal the reference over the corpus
    // WITHOUT them (df, n_docs, avgdl all corrected, not just the rows)
    assert(LexLake.delete(spark, root, Seq(3L, 7L).toDF("doc_id")) == 2L)
    val afterDel = corpus().filterNot(d => d._1 == 3L || d._1 == 7L)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5))
      == reference(afterDel))
    // upsert: edit doc 0's content, insert doc 99, resurrect doc 3
    val edits = Seq(
      (0L, "spark spark spark window"),
      (99L, "query merge query stream"),
      (3L, "hash vector hash"))
    assert(LexLake.upsert(spark, root, edits.toDF("doc_id", "text")) == 3L)
    val logical = afterDel.filterNot(_._1 == 0L) ++ edits
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5))
      == reference(logical))
    // refusals: duplicate ids, zero-token replacement, re-ingest no-op
    assert(intercept[IllegalArgumentException] {
      LexLake.upsert(spark, root, Seq((5L, "a"), (5L, "b")).toDF("doc_id", "text"))
    }.getMessage.contains("duplicate doc_id"))
    assert(intercept[IllegalArgumentException] {
      LexLake.upsert(spark, root, Seq((5L, "   ")).toDF("doc_id", "text"))
    }.getMessage.contains("zero-token"))
    val before = served(LexLake.serve(spark, root, queriesDf, n = 5))
    LexLake.ingest(spark, root,
      Seq((0L, "completely different"), (99L, "other words")).toDF("doc_id", "text"),
      nBuckets = 8)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5)) == before,
      "re-ingest under resident ids must be a state no-op")

    // the reconcile FOLD: same answers, overlays cleared, stats rebased,
    // generation advanced
    LexLake.reconcile(spark, root)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5))
      == reference(logical), "the fold changes where the truth lives, not what it says")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(GenStore.readOverlay(spark, root, LexLake.tombstonesSchema,
      LexLake.editsSchema).isEmpty, "overlays cleared")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/overlay.GEN")))
    assert(GenStore.dataRoot(spark, root) == s"$root/gen-0")
    val st = spark.read.parquet(s"$root/gen-0/stats").collect()
    assert(st.length == 1 && st.head.getString(0) == "base")
    assert(st.head.getLong(1) == logical.size.toLong)
  }

  test("a reconcile crash before the pointer flip leaves readers on the old state; the rerun lands it") {
    val root = freshRoot("crash")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    LexLake.delete(spark, root, Seq(1L).toDF("doc_id"))
    val preFold = served(LexLake.serve(spark, root, queriesDf, n = 5))
    intercept[RuntimeException] {
      LexLake.reconcile(spark, root,
        failpoint = () => throw new RuntimeException("pre-flip"))
    }
    // the orphan gen dir is invisible: still legacy layout, same answers
    assert(GenStore.dataRoot(spark, root) == root)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5)) == preFold)
    LexLake.reconcile(spark, root)
    assert(GenStore.dataRoot(spark, root) == s"$root/gen-0")
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5)) == preFold)
  }

  test("bucket compaction collapses ingest-accumulated files; answers byte-identical") {
    val root = freshRoot("compact")
    for (batch <- corpus().grouped(4))
      LexLake.ingest(spark, root, batch.toDF("doc_id", "text"), nBuckets = 2)
    val before = served(LexLake.serve(spark, root, queriesDf, n = 5))
    val compacted = LexLake.compactBuckets(spark, root,
      targetRecordsPerFile = 1000000L, minFilesPerBucket = 2)
    assert(compacted.nonEmpty, "six appends per bucket must trip the threshold")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    for ((leaf, n0) <- compacted) {
      val now = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/postings/$leaf")).count(f =>
        f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
      assert(now < n0, s"$leaf: $n0 -> $now")
    }
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5)) == before)
  }

  test("hybridServe fuses the two lake-resident indexes at parity with the pure composition") {
    val vroot = freshRoot("hyb_vec")
    val lroot = freshRoot("hyb_lex")
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array((math.cos(r) * 14).toFloat, (math.sin(r) * 14).toFloat)
    }
    // one id space: every doc has text in the lex lake and an embedding in
    // the vector lake (angles spread so no near-dup gate fires)
    val n = 12
    val embs = (0 until n).map(i => (i.toLong, unit(i * 7.0)))
    VectorLake.init(spark, vroot, Seq(Seq(14.0, 0.0), Seq(0.0, 14.0)))
    assert(VectorLake.ingest(spark, vroot,
      embs.toDF("vec_id", "embedding"), dupThreshold = 0.999).kept == n)
    LexLake.ingest(spark, lroot, corpus(n).toDF("doc_id", "text"), nBuckets = 4)
    val probes = Seq(
      (500L, unit(10.0), Seq("spark", "query")),
      (600L, unit(60.0), Seq("merge", "hash"))).toDF("probe_id", "embedding", "terms")
    val got = served(Retrieval.hybridServe(spark, vroot, lroot, probes,
      k = 4, kVec = 5, nLex = 5))
    // the pure composition: searchBatch + bm25PerQuery + rrfFuseAll over
    // the same stores/corpus
    val vec = VectorLake.searchBatch(spark, vroot,
        probes.select("probe_id", "embedding"), k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id", "rank")
    val lex = TextStats.bm25PerQuery(corpus(n).toDF("doc_id", "text"),
        "doc_id", "text", probes.select("probe_id", "terms"),
        "probe_id", "terms", n = 5)
      .select($"probe_id", $"doc_id".as("neighbor_id"), $"rank")
    val want = served(graft.operators.Similarity.rrfFuseAll(
      Seq(vec, lex), k = 4, kRrf = 60))
    assert(got == want)
    assert(got.map(_._1) == Set(500L, 600L))
  }

  test("phrase-constrained hybridServe gates the fusion by the stored phrase index, bucket-pruned") {
    // r11 verdict ask #7: the "exact quote + semantic" endpoint — the
    // phrase's doc set (served from stored positions) gates the fused
    // candidates before the final rank
    val vroot = freshRoot("phyb_vec")
    val lroot = freshRoot("phyb_lex")
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array((math.cos(r) * 14).toFloat, (math.sin(r) * 14).toFloat)
    }
    val n = 12
    VectorLake.init(spark, vroot, Seq(Seq(14.0, 0.0), Seq(0.0, 14.0)))
    VectorLake.ingest(spark, vroot,
      (0 until n).map(i => (i.toLong, unit(i * 7.0)))
        .toDF("vec_id", "embedding"), dupThreshold = 0.999)
    LexLake.ingest(spark, lroot, corpus(n).toDF("doc_id", "text"), nBuckets = 4)
    val probes = Seq(
      (500L, unit(10.0), Seq("spark", "query")),
      (600L, unit(60.0), Seq("merge", "hash"))).toDF("probe_id", "embedding", "terms")
    val ph = Seq("spark", "batch")
    val phraseDocs = phraseOne(lroot, ph)
      .collect().map(_.getLong(0)).toSet
    assert(phraseDocs.nonEmpty, "fixture must contain the phrase")
    val got = served(Retrieval.hybridServe(spark, vroot, lroot, probes,
      k = 4, kVec = 5, nLex = 5, phrase = ph))
    // every served candidate carries the quote, and the result equals the
    // unconstrained fusion re-ranked over the gated candidate set
    assert(got.nonEmpty && got.forall(r => phraseDocs.contains(r._2)), got)
    val vec = VectorLake.searchBatch(spark, vroot,
        probes.select("probe_id", "embedding"), k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id", "rank")
    val lex = LexLake.serve(spark, lroot, probes.select("probe_id", "terms"),
        n = 5, queryIdCol = "probe_id")
      .select($"probe_id", $"doc_id".as("neighbor_id"), $"rank")
    val want = served(graft.operators.Similarity.rrfFuseAll(Seq(vec, lex),
      k = 4, kRrf = 60,
      candidates = Some(phraseOne(lroot, ph)
        .select($"doc_id".as("neighbor_id")))))
    assert(got == want)
    // plan pin: the phrase arm's positional read prunes to the phrase's
    // buckets (PartitionFilters on tbucket) with the term filter pushed.
    // That read is the batch's materializing postings scan (the eager
    // localCheckpoint), so its plan is captured as it runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (funcName == "localCheckpoint" && plan.contains("postings"))
          plans.add(plan)
        ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      phraseOne(lroot, ph)
      // the listener bus delivers asynchronously: wait for the scan's event
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, "the batch's postings scan must be captured")
    val plan = plans.peek()
    // read inside each bracket: the scan line also lists tbucket and term
    // among its output columns whatever it prunes, and an inferred
    // IsNotNull(term) is pushed even when the term filter is not
    assert(plan.linesIterator.exists(l =>
      scanFilters(l, "PartitionFilters").contains("tbucket")), plan.take(4000))
    assert(plan.linesIterator.exists(l =>
      scanFilters(l, "PushedFilters").contains("In(term, [")), plan.take(4000))
  }

  test("streaming twins: micro-batch ingest and serve pick up a mid-stream reconcile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("stream")
    val (b1, b2) = corpus(16).splitAt(8)
    val input = MemoryStream[(Long, String)]
    val reports = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.Streams.lexLakeIngestStream(
        input.toDF().toDF("doc_id", "text"), root, nBuckets = 4,
        onReport = (e, r) => reports.synchronized { reports += e -> r.docs; () })
      .start()
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      // mid-stream maintenance versions the store; the next batch must
      // append into the NEW generation
      LexLake.reconcile(spark, root)
      assert(GenStore.dataRoot(spark, root) == s"$root/gen-0")
      input.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(reports.sortBy(_._1).map(_._2).toList == List(8L, 8L))
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5))
      == reference(corpus(16)))
    // the serve twin: one pruned scan per probe micro-batch
    val qin = MemoryStream[(Long, Seq[String])]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val sq = graft.streaming.Streams.lexLakeServeStream(
        qin.toDF().toDF("probe_id", "terms"), root, n = 3) { (epoch, df) =>
      val rs = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      got.synchronized { got ++= rs; () }
    }.start()
    try {
      qin.addData((700L, Seq("spark")))
      sq.processAllAvailable()
    } finally sq.stop()
    assert(got.nonEmpty && got.forall(_._1 == 700L))
  }

  test("streaming positional serve: each probe micro-batch runs one batched read; a mid-stream upsert serves at the next epoch") {
    // the batched family's stream twins (r13): a stream of positional
    // queries used to pay the one-job-per-query scheduling floor per
    // event; each epoch now runs ONE bucket-pruned batched serve. Unpinned
    // semantics (the lexLakeServeStream contract): overlays and folds are
    // visible at the next micro-batch.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("posstream")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    def want(ph: Seq[String]): Set[(Long, Long)] =
      TextStats.phraseMatch(corpus().toDF("doc_id", "text"), "doc_id", "text",
          ph)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qin = MemoryStream[(Long, Seq[String])]
    val got = scala.collection.mutable.Map.empty[Long, Set[(Long, Long, Long)]]
    val sq = graft.streaming.Streams.lexPositionalServeStream(
        qin.toDF().toDF("probe_id", "phrase"), root, mode = "phrase") {
      (_, df) =>
        val rs = df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2)))
        got.synchronized {
          for ((pid, grp) <- rs.groupBy(_._1)) got(pid) = grp.toSet
          ()
        }
    }.start()
    try {
      qin.addData((1L, Seq("spark", "batch")), (2L, Seq("merge")))
      sq.processAllAvailable()
      assert(got(1L).map(t => (t._2, t._3)) == want(Seq("spark", "batch")))
      assert(got(2L).map(t => (t._2, t._3)) == want(Seq("merge")))
      // a mid-stream upsert serves at the next epoch (unpinned)
      LexLake.upsert(spark, root,
        Seq((300L, "spark batch spark batch")).toDF("doc_id", "text"))
      qin.addData((3L, Seq("spark", "batch")))
      sq.processAllAvailable()
      assert(got(3L).exists { case (_, d, n) => d == 300L && n == 2L },
        got.toString)
      // and the fold is picked up too
      LexLake.reconcile(spark, root)
      qin.addData((4L, Seq("spark", "batch")))
      sq.processAllAvailable()
      assert(got(4L).map(t => (t._2, t._3))
        == got(3L).map(t => (t._2, t._3)))
    } finally sq.stop()
    // the proximity mode twin answers off the same endpoint
    val pin = MemoryStream[(Long, String, String)]
    val pgot = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val pq = graft.streaming.Streams.lexPositionalServeStream(
        pin.toDF().toDF("probe_id", "term_a", "term_b"), root,
        mode = "proximity", w = 5) { (_, df) =>
      val rs = df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
      pgot.synchronized { pgot ++= rs; () }
    }.start()
    try {
      pin.addData((9L, "spark", "batch"))
      pq.processAllAvailable()
    } finally pq.stop()
    assert(pgot.nonEmpty && pgot.forall(_._1 == 9L))
  }

  test("impact tier: gate-adopted truncated serving equals the pure impact form") {
    val root = freshRoot("impact")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    var gate: Option[(Double, Boolean)] = None
    LexLake.reconcile(spark, root, impactPostings = 3, impactDfThreshold = 2,
      impactMinRecall = 0.05, impactGateProbes = 4, impactGateN = 5,
      onImpactGate = (r, a) => gate = Some((r, a)))
    assert(gate.exists(_._2), s"the gate must measure and adopt: $gate")
    assert(gate.exists(g => g._1 > 0.0 && g._1 <= 1.0))
    // serve(impact = true) == the pure truncated form (the q165 operator)
    // over the identical corpus — the tier IS that truncation, stored
    val want = served(TextStats.bm25PerQueryImpact(
      corpus().toDF("doc_id", "text"), "doc_id", "text",
      queriesDf, "probe_id", "terms", n = 5,
      impactPostings = 3, dfThreshold = 2))
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5, impact = true))
      == want)
    // a cap wide enough to keep every posting serves EXACTLY the full
    // answer — truncation is the only approximation
    LexLake.reconcile(spark, root, impactPostings = 1000,
      impactDfThreshold = 2, impactMinRecall = 0.05)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5, impact = true))
      == reference(corpus()))
  }

  test("impact serve refuses loudly: absent tier, refused gate, mismatched parameters") {
    val root = freshRoot("impactabsent")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    LexLake.reconcile(spark, root) // full-postings-only generation
    val e = intercept[IllegalArgumentException] {
      LexLake.serve(spark, root, queriesDf, n = 5, impact = true)
    }
    assert(e.getMessage.contains("no impact tier resident"), e.getMessage)
    // a refused gate leaves the new generation full-only too
    var gate: Option[(Double, Boolean)] = None
    LexLake.reconcile(spark, root, impactPostings = 1, impactDfThreshold = 0,
      impactMinRecall = 1.01, onImpactGate = (r, a) => gate = Some((r, a)))
    assert(gate.exists(!_._2), s"an unattainable gate must refuse: $gate")
    val e2 = intercept[IllegalArgumentException] {
      LexLake.serve(spark, root, queriesDf, n = 5, impact = true)
    }
    assert(e2.getMessage.contains("no impact tier resident"), e2.getMessage)
    // adopted tier + mismatched scoring parameters: refused (the per-term
    // impact order was fixed under the tier's k1/b)
    LexLake.reconcile(spark, root, impactPostings = 3, impactDfThreshold = 2,
      impactMinRecall = 0.05)
    val e3 = intercept[IllegalArgumentException] {
      LexLake.serve(spark, root, queriesDf, n = 5, k1 = 1.5, impact = true)
    }
    assert(e3.getMessage.contains("was built under k1="), e3.getMessage)
    // the tier is a live-view read: a pinned view refuses impact = true
    val e4 = intercept[IllegalArgumentException] {
      LexLake.serve(spark, root, queriesDf, n = 5, impact = true,
        view = ReadView.Pinned(LexLake.generations(spark, root).lastOption))
    }
    assert(e4.getMessage.contains("live view only"), e4.getMessage)
  }

  test("impact serve falls back to the exact path while overlays pend") {
    val root = freshRoot("impactoverlay")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    LexLake.reconcile(spark, root, impactPostings = 3, impactDfThreshold = 2,
      impactMinRecall = 0.05)
    LexLake.delete(spark, root, Seq(0L, 7L).toDF("doc_id"))
    // a truncated list's df cannot be overlay-corrected, so the impact
    // read serves the EXACT full path until the fold — equal to the
    // unpinned serve and to the reference over the logical corpus
    val logical = corpus().filterNot(d => d._1 == 0L || d._1 == 7L)
    val exact = served(TextStats.bm25PerQuery(
      logical.toDF("doc_id", "text"), "doc_id", "text",
      queriesDf, "probe_id", "terms", n = 5))
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5, impact = true))
      == exact)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5)) == exact)
    // the fold refreshes the tier; the impact read resumes from it
    LexLake.reconcile(spark, root, impactPostings = 1000,
      impactDfThreshold = 2, impactMinRecall = 0.05)
    assert(served(LexLake.serve(spark, root, queriesDf, n = 5, impact = true))
      == exact)
  }

  test("phrase serve over stored positional postings equals phraseMatch through every mutation") {
    val root = freshRoot("phrase")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    def want(c: Seq[(Long, String)], ph: Seq[String]): Set[(Long, Long)] =
      TextStats.phraseMatch(c.toDF("doc_id", "text"), "doc_id", "text", ph)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def got(ph: Seq[String]): Set[(Long, Long)] =
      phraseOne(root, ph)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ph = Seq("spark", "batch")
    assert(want(corpus(), ph).nonEmpty, "fixture must contain the phrase")
    assert(got(ph) == want(corpus(), ph))
    // a 3-token phrase exercises the fold depth (and occurs in the fixture)
    val ph3 = Seq("spark", "batch", "hash")
    assert(want(corpus(), ph3).nonEmpty)
    assert(got(ph3) == want(corpus(), ph3))
    // overlays apply before the fold: a delete drops stored positions, an
    // upsert's new text serves from recomputed positional postings
    LexLake.delete(spark, root, Seq(0L).toDF("doc_id"))
    LexLake.upsert(spark, root,
      Seq((100L, "spark batch spark batch")).toDF("doc_id", "text"))
    val logical = corpus().filterNot(_._1 == 0L) :+
      ((100L, "spark batch spark batch"))
    assert(got(ph) == want(logical, ph))
    assert(got(ph).exists { case (d, n) => d == 100L && n == 2L },
      "the upserted doc matches twice")
    // the reconcile fold carries positions into the new generation
    LexLake.reconcile(spark, root)
    assert(got(ph) == want(logical, ph))
    // the PINNED arm (hybridServe's phrase gate under a snapshot) serves
    // committed state: a post-fold delete of a matching doc is invisible
    val gen = LexLake.generations(spark, root).lastOption
    val victim = want(logical, ph).head._1
    LexLake.delete(spark, root, Seq(victim).toDF("doc_id"))
    assert(phraseOne(root, ph, view = ReadView.Pinned(gen))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == want(logical, ph))
    assert(got(ph) == want(logical.filterNot(_._1 == victim), ph))
  }

  test("PRF serve over the resident postings equals bm25PrfExpand through every mutation; pinned arm serves committed state") {
    // r11 verdict ask #5: the two-pass PRF endpoint over the lake — both
    // passes and the feedback read under ONE generation resolution, exact
    // parity with the pure q166/q171 operator over the logical corpus
    val root = freshRoot("prf")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    def want(c: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] =
      served(TextStats.bm25PrfExpand(c.toDF("doc_id", "text"), "doc_id",
        "text", queriesDf, "probe_id", "terms", n = 5, fbDocs = 3,
        fbTerms = 2))
    def got(): Set[(Long, Long, Long, Long)] =
      served(LexLake.prfServe(spark, root, queriesDf, n = 5, fbDocs = 3,
        fbTerms = 2))
    assert(got() == want(corpus()))
    // mutations pending: the unpinned serve tracks the logical corpus
    LexLake.delete(spark, root, Seq(2L, 9L).toDF("doc_id"))
    LexLake.upsert(spark, root,
      Seq((300L, "spark window spark stream query")).toDF("doc_id", "text"))
    val logical = corpus().filterNot(d => d._1 == 2L || d._1 == 9L) :+
      ((300L, "spark window spark stream query"))
    assert(got() == want(logical))
    // the PINNED arm serves committed state only (ReadView.Pinned,
    // both passes): the legacy root has no generations yet -> fold first
    LexLake.reconcile(spark, root)
    val gen = LexLake.generations(spark, root).lastOption
    assert(served(LexLake.prfServe(spark, root, queriesDf, n = 5,
      fbDocs = 3, fbTerms = 2, view = ReadView.Pinned(gen))) == want(logical))
    // new overlays pend: pinned stays on the fold, unpinned tracks
    LexLake.delete(spark, root, Seq(4L).toDF("doc_id"))
    assert(served(LexLake.prfServe(spark, root, queriesDf, n = 5,
      fbDocs = 3, fbTerms = 2, view = ReadView.Pinned(gen))) == want(logical),
      "the pinned PRF serve must not see the pending overlay")
    assert(got() == want(logical.filterNot(_._1 == 4L)))
    // the hybrid expanded-terms arm wires prfServe as the lexical list
    val vroot = freshRoot("prfvec")
    def unit(deg: Double): Array[Float] = {
      val r = math.toRadians(deg)
      Array((math.cos(r) * 14).toFloat, (math.sin(r) * 14).toFloat)
    }
    VectorLake.init(spark, vroot, Seq(Seq(14.0, 0.0), Seq(0.0, 14.0)))
    VectorLake.ingest(spark, vroot,
      (0 until 8).map(i => (i.toLong, unit(i * 11.0)))
        .toDF("vec_id", "embedding"), dupThreshold = 0.999)
    val probes = Seq((100L, unit(10.0), Seq("spark", "query")))
      .toDF("probe_id", "embedding", "terms")
    val gotHybrid = served(Retrieval.hybridServe(spark, vroot, root, probes,
      k = 4, kVec = 5, nLex = 5, prfFbDocs = 3, prfFbTerms = 2))
    val vec = VectorLake.searchBatch(spark, vroot,
        probes.select("probe_id", "embedding"), k = 5, nprobe = 2)
      .select("probe_id", "neighbor_id", "rank")
    val lex = LexLake.prfServe(spark, root,
        probes.select("probe_id", "terms"), n = 5, fbDocs = 3, fbTerms = 2)
      .select($"probe_id", $"doc_id".as("neighbor_id"), $"rank")
    assert(gotHybrid == served(graft.operators.Similarity.rrfFuseAll(
      Seq(vec, lex), k = 4, kRrf = 60)))
  }

  test("an expanded PRF batch one row over maxBroadcastQueryTerms is refused with ONE message by bm25PrfExpand and prfServe; the cap serves") {
    // the original batch explodes to 8 (probe, term) rows (2 + 3 + 2 + 1);
    // with fbTerms = 2 the three matching probes add two expansion terms
    // each, 14 rows in all. A cap of 13 passes the original gate and must
    // refuse the EXPANDED batch — the same refusal from both PRF serves,
    // which share the expansion step
    val root = freshRoot("prfcap")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    def pure(cap: Long): DataFrame =
      TextStats.bm25PrfExpand(corpus().toDF("doc_id", "text"), "doc_id",
        "text", queriesDf, "probe_id", "terms", n = 5, fbDocs = 3,
        fbTerms = 2, maxBroadcastQueryTerms = cap)
    def lake(cap: Long): DataFrame =
      LexLake.prfServe(spark, root, queriesDf, n = 5, fbDocs = 3,
        fbTerms = 2, maxBroadcastQueryTerms = cap)
    val ePure = intercept[IllegalArgumentException](pure(13L))
    assert(ePure.getMessage.contains("expanded query batch carries 14 " +
      "(probe, term) rows > maxBroadcastQueryTerms=13"), ePure.getMessage)
    val eLake = intercept[IllegalArgumentException](lake(13L))
    assert(eLake.getMessage == ePure.getMessage)
    val atCap = served(lake(14L))
    assert(atCap.nonEmpty && atCap == served(pure(14L)))
    assert(atCap == served(lake(1L << 20)))
  }

  test("proximity serve over stored positional postings equals proximityPairs through every mutation") {
    // r11 verdict ask #2: the q168 pure operator, served from the lake's
    // stored positions — two terms' buckets read, the bucket-blocked
    // equi-join (shared transcription, parity by construction), overlay
    // arms and the fold exactly like the phrase serve
    val root = freshRoot("prox")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    def want(c: Seq[(Long, String)], a: String, b: String, w: Int)
        : Set[(Long, Long)] =
      TextStats.proximityPairs(c.toDF("doc_id", "text"), "doc_id", "text",
          a, b, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def got(a: String, b: String, w: Int,
            view: ReadView = ReadView.Live): Set[(Long, Long)] =
      LexLake.proximityServeBatch(spark, root,
          Seq((0L, a, b)).toDF("probe_id", "term_a", "term_b"), w, view = view)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(want(corpus(), "spark", "hash", 5).nonEmpty,
      "fixture must co-occur")
    assert(got("spark", "hash", 5) == want(corpus(), "spark", "hash", 5))
    // the same-term arm (pa != pb) and a tight window
    assert(got("spark", "spark", 2) == want(corpus(), "spark", "spark", 2))
    // overlays apply before the fold; the fold carries positions
    LexLake.delete(spark, root, Seq(0L).toDF("doc_id"))
    LexLake.upsert(spark, root,
      Seq((100L, "spark near hash and spark again hash")).toDF("doc_id", "text"))
    val logical = corpus().filterNot(_._1 == 0L) :+
      ((100L, "spark near hash and spark again hash"))
    assert(got("spark", "hash", 5) == want(logical, "spark", "hash", 5))
    assert(got("spark", "hash", 5).exists(_._1 == 100L))
    LexLake.reconcile(spark, root)
    assert(got("spark", "hash", 5) == want(logical, "spark", "hash", 5))
    // the PINNED arm serves committed state only: a post-fold delete is
    // invisible to the pinned read, visible to the unpinned one
    val gen = LexLake.generations(spark, root).lastOption
    LexLake.delete(spark, root, Seq(1L).toDF("doc_id"))
    assert(got("spark", "hash", 5, view = ReadView.Pinned(gen))
      == want(logical, "spark", "hash", 5))
    assert(got("spark", "hash", 5)
      == want(logical.filterNot(_._1 == 1L), "spark", "hash", 5))
  }

  test("passage serve over stored positions equals bestPassageWindow through every mutation") {
    // the multi-term passage primitive (r11 ask #8's second form) from
    // the lake's stored positions — shared transcription, parity by
    // construction, overlay arms and the fold like the other positional
    // serves
    val root = freshRoot("passage")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    val ts = Seq("spark", "hash", "batch")
    def want(c: Seq[(Long, String)], w: Int): Set[(Long, Long)] =
      TextStats.bestPassageWindow(c.toDF("doc_id", "text"), "doc_id",
          "text", ts, w)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def got(w: Int, view: ReadView = ReadView.Live): Set[(Long, Long)] =
      LexLake.passageServeBatch(spark, root,
          Seq((0L, ts)).toDF("probe_id", "terms"), w, view = view)
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(want(corpus(), 4).exists(_._2 >= 2L),
      "fixture must have a multi-term window")
    assert(got(4) == want(corpus(), 4))
    assert(got(1) == want(corpus(), 1), "w=1: every window is one term")
    LexLake.delete(spark, root, Seq(0L).toDF("doc_id"))
    LexLake.upsert(spark, root,
      Seq((100L, "spark hash batch tight span")).toDF("doc_id", "text"))
    val logical = corpus().filterNot(_._1 == 0L) :+
      ((100L, "spark hash batch tight span"))
    assert(got(4) == want(logical, 4))
    assert(got(4).contains((100L, 3L)), "the upserted doc covers all three")
    LexLake.reconcile(spark, root)
    assert(got(4) == want(logical, 4))
    // pinned arm: a post-fold delete is invisible to the pinned read
    val gen = LexLake.generations(spark, root).lastOption
    LexLake.delete(spark, root, Seq(100L).toDF("doc_id"))
    assert(got(4, view = ReadView.Pinned(gen)) == want(logical, 4))
    assert(got(4) == want(logical.filterNot(_._1 == 100L), 4))
  }

  test("batched positional serves equal the per-query serves through every mutation; one pruned read per batch") {
    // r12 verdict ask #1: a per-query positional serve answers ONE query
    // per Spark job (~0.1 s scheduling floor, ~10 QPS ceiling); the batch
    // forms read the stored positions ONCE — bucket-pruned to the union of
    // all probes' terms — and fold per probe downstream. Each probe's rows
    // must equal the pure per-query TextStats operator over the logical
    // corpus through delete/upsert/fold, and the pinned views serve
    // committed state.
    val root = freshRoot("posbatch")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    val phrases = Seq(
      0L -> Seq("spark", "batch"),
      1L -> Seq("spark", "batch", "hash"),
      2L -> Seq("merge"),
      3L -> Seq("zzznothere", "spark"))
    val pairs = Seq((0L, "spark", "batch"), (1L, "merge", "query"),
      (2L, "stream", "stream"), (3L, "zzznothere", "spark"))
    val passages = Seq(0L -> Seq("spark", "batch", "hash"),
      1L -> Seq("merge"), 2L -> Seq("zzznothere"))
    def rows3(df: DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def scalar2(df: DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def checkParity(c: Seq[(Long, String)],
                    view: ReadView = ReadView.Live): Unit = {
      val docs = c.toDF("doc_id", "text")
      assert(rows3(LexLake.phraseServeBatch(spark, root,
          phrases.toDF("probe_id", "phrase"), view = view))
        == phrases.flatMap { case (id, ph) =>
          scalar2(TextStats.phraseMatch(docs, "doc_id", "text", ph))
            .map { case (d, n) => (id, d, n) } }.toSet)
      assert(rows3(LexLake.proximityServeBatch(spark, root,
          pairs.toDF("probe_id", "term_a", "term_b"), w = 5, view = view))
        == pairs.flatMap { case (id, a, b) =>
          scalar2(TextStats.proximityPairs(docs, "doc_id", "text", a, b,
              w = 5))
            .map { case (d, n) => (id, d, n) } }.toSet)
      assert(rows3(LexLake.passageServeBatch(spark, root,
          passages.toDF("probe_id", "terms"), w = 8, view = view))
        == passages.flatMap { case (id, ts) =>
          scalar2(TextStats.bestPassageWindow(docs, "doc_id", "text", ts,
              w = 8))
            .map { case (d, n) => (id, d, n) } }.toSet)
    }
    checkParity(corpus())
    assert(rows3(LexLake.phraseServeBatch(spark, root,
      phrases.toDF("probe_id", "phrase"))).nonEmpty, "fixture must match")
    // mutations fold into every batch serve: the logical corpus moves
    LexLake.delete(spark, root, Seq(0L, 7L).toDF("doc_id"))
    LexLake.upsert(spark, root,
      Seq((100L, "spark batch spark batch merge query"))
        .toDF("doc_id", "text"))
    val logical = corpus().filterNot(d => d._1 == 0L || d._1 == 7L) :+
      ((100L, "spark batch spark batch merge query"))
    checkParity(logical)
    LexLake.reconcile(spark, root)
    checkParity(logical)
    // pinned views: a post-fold delete is invisible at the pinned gen
    val pinned = ReadView.Pinned(LexLake.generations(spark, root).lastOption)
    val before = rows3(LexLake.phraseServeBatch(spark, root,
      phrases.toDF("probe_id", "phrase"), view = pinned))
    val victim = before.head._2
    LexLake.delete(spark, root, Seq(victim).toDF("doc_id"))
    assert(rows3(LexLake.phraseServeBatch(spark, root,
      phrases.toDF("probe_id", "phrase"), view = pinned)) == before)
    checkParity(logical, view = pinned)
    assert(rows3(LexLake.phraseServeBatch(spark, root,
      phrases.toDF("probe_id", "phrase"))) != before,
      "the unpinned serve must see the delete")
    // PLAN PIN: the batch's ONE physical postings read happens at the
    // pinned materialization (batchPositions' eager localCheckpoint — one
    // pruned FileScan job); the served fold plans must then run entirely
    // off that materialized frame — ZERO parquet re-scans of the store no
    // matter how many probes the batch carries — and never a nested loop
    for (df <- Seq(
        LexLake.phraseServeBatch(spark, root,
          phrases.toDF("probe_id", "phrase"), view = pinned),
        LexLake.proximityServeBatch(spark, root,
          pairs.toDF("probe_id", "term_a", "term_b"), w = 5, view = pinned),
        LexLake.passageServeBatch(spark, root,
          passages.toDF("probe_id", "terms"), w = 8, view = pinned))) {
      val plan = df.queryExecution.executedPlan.toString
      val postingScans = plan.linesIterator.count(l =>
        l.contains("Scan parquet") && l.contains("postings"))
      assert(postingScans == 0,
        s"$postingScans posting re-scans\n${plan.take(4000)}")
      assert(plan.contains("ExistingRDD"), plan.take(4000))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(4000))
    }
  }

  test("PRF serves the impact tier on BOTH passes: exact at an uncapping tier, recall measured at a truncating one, staleness enforced") {
    // r12 verdict ask #2: a deployment that adopted the impact tier used
    // to lose it the moment it turned PRF on (prfServeIn always ran the
    // exact path). Both ranking passes now ride impact/maxStaleFraction;
    // expansion-term SELECTION stays exact (documented).
    import org.apache.spark.sql.functions.{avg, col}
    // arm 1: a tier whose threshold caps NOTHING — impact PRF must equal
    // exact PRF bit-for-bit (truncation is the only approximation)
    val root = freshRoot("prfimp")
    LexLake.ingest(spark, root, corpus(48).toDF("doc_id", "text"),
      nBuckets = 8)
    LexLake.reconcile(spark, root, impactPostings = 1000,
      impactDfThreshold = 1000L, impactMinRecall = 0.5)
    assert(served(LexLake.prfServe(spark, root, queriesDf, n = 5,
        fbDocs = 3, fbTerms = 2, impact = true))
      == served(LexLake.prfServe(spark, root, queriesDf, n = 5,
        fbDocs = 3, fbTerms = 2)))
    // arm 2: a genuinely TRUNCATING tier — measure the PRF path's recall
    // (q165's retrievalEval shape) against the exact PRF serve as truth
    val root2 = freshRoot("prfimp2")
    LexLake.ingest(spark, root2, corpus(48).toDF("doc_id", "text"),
      nBuckets = 8)
    var adopted = false
    LexLake.reconcile(spark, root2, impactPostings = 3,
      impactDfThreshold = 2L, impactMinRecall = 0.01,
      onImpactGate = (_, a) => adopted = a)
    assert(adopted, "the truncating tier must adopt for the arm to bite")
    val truth = LexLake.prfServe(spark, root2, queriesDf, n = 5,
      fbDocs = 3, fbTerms = 2)
    val approx = LexLake.prfServe(spark, root2, queriesDf, n = 5,
      fbDocs = 3, fbTerms = 2, impact = true)
    assert(approx.count() > 0)
    val recall = graft.operators.Similarity.retrievalEval(
        truth.select(col("probe_id"), col("doc_id").as("neighbor_id")),
        approx.select(col("probe_id"), col("doc_id").as("neighbor_id"),
          col("rank")))
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(recall > 0.0 && recall <= 1.0, s"measured PRF-path recall: $recall")
    // arm 3: the staleness bound rides through the PRF path — postings
    // ingested after the fold refuse a tight bound loudly in pass 1
    LexLake.ingest(spark, root2,
      Seq((900L, "spark query extra")).toDF("doc_id", "text"), nBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      LexLake.prfServe(spark, root2, queriesDf, n = 5, fbDocs = 3,
        fbTerms = 2, impact = true, maxStaleFraction = 0.0001)
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
  }

  test("proximity-weighted rank serve equals bm25ProximityRank through every mutation; pinned arm serves committed state") {
    // r12 verdict ask #6: BM25 + term-pair proximity bonus in ONE ranked
    // list (exact integer micros), served from the stored postings — the
    // fold is shared with the pure operator, so parity must hold through
    // delete/upsert/fold exactly like the other serves.
    val root = freshRoot("proxrank")
    LexLake.ingest(spark, root, corpus().toDF("doc_id", "text"), nBuckets = 8)
    def want(c: Seq[(Long, String)]): Set[(Long, Long, Long, Long)] =
      served(TextStats.bm25ProximityRank(c.toDF("doc_id", "text"), "doc_id",
        "text", queriesDf, "probe_id", "terms", n = 5, w = 4))
    def got(): Set[(Long, Long, Long, Long)] =
      served(LexLake.proximityRankServe(spark, root, queriesDf, n = 5, w = 4))
    // the bonus arm must be live in the fixture (a zero-boost corpus would
    // vacuously equal plain BM25 and test nothing)
    assert(TextStats.proximityPairs(corpus().toDF("doc_id", "text"),
      "doc_id", "text", "merge", "vector", 4).count() > 0,
      "fixture must co-locate a probe's term pair within w")
    assert(got() == want(corpus()))
    LexLake.delete(spark, root, Seq(2L).toDF("doc_id"))
    LexLake.upsert(spark, root,
      Seq((101L, "spark query spark query merge")).toDF("doc_id", "text"))
    val logical = corpus().filterNot(_._1 == 2L) :+
      ((101L, "spark query spark query merge"))
    assert(got() == want(logical))
    LexLake.reconcile(spark, root)
    assert(got() == want(logical))
    // pinned view: a post-fold delete is invisible at the pinned generation
    val gen = LexLake.generations(spark, root).lastOption
    LexLake.delete(spark, root, Seq(101L).toDF("doc_id"))
    assert(served(LexLake.proximityRankServe(spark, root, queriesDf,
      n = 5, w = 4, view = ReadView.Pinned(gen))) == want(logical))
    assert(got() == want(logical.filterNot(_._1 == 101L)))
  }

  test("phrase serve refuses pre-positional posting rows loudly") {
    val root = freshRoot("prepos")
    LexLake.ingest(spark, root, corpus(6).toDF("doc_id", "text"), nBuckets = 4)
    // simulate a store written before the positional layout: positions read
    // back null — a silent serve would drop those rows from every phrase
    // result, and the next fold would make it permanent (the lake stores no
    // text to rebuild from)
    val doctored = spark.read.schema(LexLake.postingsSchema)
      .parquet(s"$root/postings")
      .withColumn("positions",
        org.apache.spark.sql.functions.lit(null).cast("array<bigint>"))
      .localCheckpoint(true)
    doctored.write.mode("overwrite").partitionBy("tbucket")
      .parquet(s"$root/postings")
    val e = intercept[IllegalArgumentException] {
      phraseOne(root, Seq("spark", "batch"))
    }
    assert(e.getMessage.contains("PRE-POSITIONAL"), e.getMessage)
    assert(e.getMessage.contains("Re-ingest"), e.getMessage)
  }

  test("overlay broadcasts are guarded: a mass-deletion day refuses loudly") {
    // every serve's overlay id union broadcasts — bounded by contract,
    // ENFORCED here (r11 verdict nit #2): past the cap it must name the
    // reconcile remedy, never OOM the driver silently
    val root = freshRoot("overlayguard")
    LexLake.ingest(spark, root, corpus(8).toDF("doc_id", "text"), nBuckets = 4)
    LexLake.delete(spark, root, Seq(0L, 1L, 2L).toDF("doc_id"))
    val e = intercept[IllegalArgumentException] {
      phraseOne(root, Seq("spark", "batch"), maxOverlayRows = 2)
    }
    assert(e.getMessage.contains("cannot broadcast"), e.getMessage)
    assert(e.getMessage.contains("reconcile"), e.getMessage)
    // the BM25 serves take no overlay cap of their own: they read the
    // overlays through the same guarded helper at its default cap, so a
    // real mass-deletion day (tombstones past 2^20 ids — delete itself
    // caps nothing) refuses on every one of them
    spark.range(1000L, 1000L + (1L << 20) + 1L).toDF("doc_id")
      .write.mode("append")
      .parquet(s"${GenStore.current(spark, GenStore.overlay(root))}/tombstones")
    for ((name, serveCall) <- Seq[(String, () => DataFrame)](
        "serve" -> (() => LexLake.serve(spark, root, queriesDf, n = 5)),
        "prfServe" -> (() => LexLake.prfServe(spark, root, queriesDf, n = 5,
          fbDocs = 2, fbTerms = 2)),
        "proximityRankServe" -> (() => LexLake.proximityRankServe(spark,
          root, queriesDf, n = 5, w = 4)))) {
      val em = intercept[IllegalArgumentException](serveCall())
      assert(em.getMessage.contains("cannot broadcast") &&
        em.getMessage.contains("reconcile"), s"$name: ${em.getMessage}")
    }
    // a pinned view skips the overlays, so it still serves
    assert(LexLake.serve(spark, root, queriesDf, n = 5,
      view = ReadView.Pinned(None)).count() > 0)
    // healthOfPostings' tombstone-mass broadcast carries the same guard
    val docs = corpus(6).toDF("doc_id", "text")
    val post = LexLake.tokenizePostings(docs, 4)
    val e2 = intercept[IllegalArgumentException] {
      LexLake.healthOfPostings(post, 6L, docs.select("doc_id"),
        LexLake.tokenizePostings(docs.limit(0), 4), maxOverlayRows = 2)
    }
    assert(e2.getMessage.contains("cannot broadcast"), e2.getMessage)
    assert(e2.getMessage.contains("reconcile"), e2.getMessage)
  }

  test("serve refuses duplicate probe ids instead of silently merging term sets") {
    val root = freshRoot("dupprobe")
    LexLake.ingest(spark, root, corpus(6).toDF("doc_id", "text"), nBuckets = 8)
    val e = intercept[IllegalArgumentException] {
      LexLake.serve(spark, root,
        Seq((7L, Seq("spark")), (7L, Seq("window"))).toDF("probe_id", "terms"),
        n = 5)
    }
    assert(e.getMessage.contains("duplicate probe_id"), e.getMessage)
  }

  test("layout conf is pinned: a mismatched nBuckets is refused loudly") {
    val root = freshRoot("conf")
    LexLake.ingest(spark, root, corpus(6).toDF("doc_id", "text"), nBuckets = 8)
    val ex = intercept[IllegalArgumentException] {
      LexLake.ingest(spark, root, Seq((50L, "spark")).toDF("doc_id", "text"),
        nBuckets = 16)
    }
    assert(ex.getMessage.contains("n_buckets=8"))
  }
}
