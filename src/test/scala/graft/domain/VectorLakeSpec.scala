package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The lake-resident incremental vector index: ingest dedup gates (vs the
  * resident index and within-batch), at-least-once replay, the recluster
  * reconcile, and the writer lease — DedupLake's contracts, vector twin. */
class VectorLakeSpec extends SparkSpec {
  import spark.implicits._

  private def unit(deg: Double, scale: Float = 1f): Array[Float] = {
    val r = math.toRadians(deg)
    Array((math.cos(r) * scale).toFloat, (math.sin(r) * scale).toFloat)
  }

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"veclake_$tag").toString + "/lake"

  /** One probe through the batch serve (a batch of one): (neighbor_id, cos)
    * in rank order. */
  private def searchOne(root: String, q: Seq[Float], k: Int, nprobe: Int = 2,
                        failpoint: () => Unit = () => ())
      : org.apache.spark.sql.DataFrame =
    VectorLake.searchBatch(spark, root,
        Seq(0L -> q.toArray).toDF("probe_id", "embedding"), k, nprobe,
        failpoint = failpoint)
      .orderBy("rank").select("neighbor_id", "cos")

  test("ingest: dups vs resident index and within batch drop; survivors append") {
    val root = freshRoot("ingest")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    // batch 1: one vector per list, no dups anywhere
    val r1 = VectorLake.ingest(spark, root,
      Seq((1L, unit(0)), (2L, unit(45, 14f))).toDF("vec_id", "embedding"))
    assert(r1 == VectorLake.IngestReport(2, 0, 0))
    // batch 2: v3 is a same-direction copy of v1 (cos 1 vs the index);
    // v4 is orthogonal (kept); v5 duplicates v4's direction within the
    // batch (higher id loses)
    val r2 = VectorLake.ingest(spark, root, Seq(
      (3L, unit(0, 2f)), (4L, unit(90)), (5L, unit(90, 3f)))
      .toDF("vec_id", "embedding"))
    assert(r2 == VectorLake.IngestReport(1, 1, 1), r2.toString)
    val stored = VectorLake.vectors(spark, root)
    assert(stored.select("vec_id").collect().map(_.getLong(0)).toSet
      == Set(1L, 2L, 4L))
    // list partitioning survives the roundtrip
    assert(stored.filter(col("vec_id") === 2L).select("ivf_list")
      .collect()(0).getInt(0) == 1)
  }

  test("ingest reports edit-resident drops — an ignored id is distinguishable from a near-dup") {
    // r12 advice: rows whose ids are already content in the edit overlay
    // drop BEFORE the gate (re-ingest is not the edit path; upsert is) —
    // the report now counts them, so kept + dups + editResident accounts
    // for the whole batch instead of rows silently vanishing.
    val root = freshRoot("editres")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, root,
      Seq((1L, unit(0))).toDF("vec_id", "embedding"))
    VectorLake.upsert(spark, root,
      Seq((3L, unit(30))).toDF("vec_id", "embedding"))
    val r = VectorLake.ingest(spark, root,
      Seq((3L, unit(60)), (4L, unit(90))).toDF("vec_id", "embedding"))
    assert(r == VectorLake.IngestReport(kept = 1, dupsVsIndex = 0,
      dupsInBatch = 0, editResident = 1), r.toString)
    // the ignored id still serves the OVERLAY's embedding, not the batch's
    val got = VectorLake.vectors(spark, root)
      .filter(col("vec_id") === 3L).select("embedding")
      .collect()(0).getSeq[Float](0)
    assert(math.abs(got(0) - unit(30)(0)) < 1e-6, got.toString)
  }

  test("at-least-once: a crashed batch replays to exactly-once state") {
    val root = freshRoot("replay")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val batch = Seq((1L, unit(0)), (2L, unit(90))).toDF("vec_id", "embedding")
    intercept[RuntimeException] {
      VectorLake.ingest(spark, root, batch,
        failpoint = () => throw new RuntimeException("torn"))
    }
    assert(VectorLake.vectors(spark, root).count() == 0, "crash before append")
    assert(VectorLake.ingest(spark, root, batch).kept == 2)
    assert(VectorLake.vectors(spark, root).count() == 2)
    // exact replay of the completed batch: reported kept is the batch's keep
    // set, but the append inserts nothing
    assert(VectorLake.ingest(spark, root, batch).kept == 2)
    assert(VectorLake.vectors(spark, root).count() == 2, "replay inserted rows")
  }

  test("reconcile retrains the quantizer on the resident data and reassigns") {
    val root = freshRoot("reclu")
    // stale quantizer: both centroids near the origin corner, far from the
    // two real blobs (angles 0/20 and 90/110 — >18deg apart so the 0.95
    // dup gate keeps them all; ids interleaved so Lloyd's first-two-ids
    // init starts one centroid in each blob)
    VectorLake.init(spark, root, Seq(Seq(0.1, 0.0), Seq(0.0, 0.1)))
    val r = VectorLake.ingest(spark, root, Seq(
      (1L, unit(0)), (2L, unit(90)), (3L, unit(20)), (4L, unit(110)))
      .toDF("vec_id", "embedding"))
    assert(r.kept == 4, r.toString)
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    val lists = VectorLake.vectors(spark, root).select("vec_id", "ivf_list")
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(lists(1L) == lists(3L) && lists(2L) == lists(4L) &&
      lists(1L) != lists(2L), s"blobs not separated: $lists")
    val cents = VectorLake.centroids(spark, root)
    assert(cents.size == 2 && cents != Seq(Seq(0.1, 0.0), Seq(0.0, 0.1)),
      "quantizer not retrained")
  }

  test("cross-list gate: a near-dup straddling a list border drops at ingest") {
    // centroids at 0° and 45°; stored v1 at 20° assigns list 0; batch v2 at
    // 23° assigns list 1 (top-1) with list 0 as its SECOND-nearest — only
    // the multi-probe gate can see v1 across the border (r7 verdict ask)
    val cents = Seq(Seq(1.0, 0.0),
      Seq(0.7071067811865476, 0.7071067811865476))
    val root = freshRoot("xgate")
    VectorLake.init(spark, root, cents)
    assert(VectorLake.ingest(spark, root,
      Seq((1L, unit(20))).toDF("vec_id", "embedding")).kept == 1)
    val r = VectorLake.ingest(spark, root,
      Seq((2L, unit(23))).toDF("vec_id", "embedding"))
    assert(r == VectorLake.IngestReport(0, 1, 0), r.toString)
    assert(VectorLake.vectors(spark, root).count() == 1)
    // the pure decision agrees, and pins WHY gateProbes=2 is the default:
    // a top-1 gate lets the same pair slip
    val stored = Seq((1L, unit(20))).toDF("vec_id", "embedding")
    val batch = Seq((2L, unit(23))).toDF("vec_id", "embedding")
    def kept(gp: Int) = VectorLake
      .ingestDecision(stored, batch, cents, 0.95, gateProbes = gp)
      .filter(col("keep")).count()
    assert(kept(2) == 0 && kept(1) == 1)
  }

  test("ingest refuses a batch beyond the broadcast cap, naming the bulk path") {
    val root = freshRoot("cap")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val e = intercept[IllegalArgumentException] {
      VectorLake.ingest(spark, root,
        Seq((1L, unit(0)), (2L, unit(90)), (3L, unit(45)))
          .toDF("vec_id", "embedding"),
        maxBroadcastRows = 2L)
    }
    assert(e.getMessage.contains("maxBroadcastRows") &&
      e.getMessage.contains("reconcile"), e.getMessage)
    assert(VectorLake.vectors(spark, root).count() == 0, "refusal must not write")
  }

  test("ingest's broadcast cap counts the gate-EXPLODED rows, not the batch rows") {
    // the r9 verdict's finding #1: what broadcasts is the gate-list-exploded
    // frame — batchRows x gateProbes rows, each carrying its embedding. A
    // cap on the pre-explosion count under-counts by the probe factor. With
    // B = 3 and gateProbes = 2: cap 2B-1 = 5 must refuse, cap 2B = 6 must
    // proceed (the ivfMultiProbeKnnJoin cap semantics, applied to ingest).
    val root = freshRoot("capx")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val batch = Seq((1L, unit(0)), (2L, unit(90)), (3L, unit(45)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VectorLake.ingest(spark, root, batch, gateProbes = 2,
        maxBroadcastRows = 5L)
    }
    assert(e.getMessage.contains("gate rows") &&
      e.getMessage.contains("2 gate probes"), e.getMessage)
    assert(VectorLake.vectors(spark, root).count() == 0, "refusal must not write")
    val r = VectorLake.ingest(spark, root, batch, gateProbes = 2,
      maxBroadcastRows = 6L)
    assert(r.kept == 3, r.toString)
  }

  test("a search stranded past retention raises the expiry message, not FileNotFound") {
    // searchBatch resolves the pointer ONCE; its failpoint runs after that
    // resolution — exactly where back-to-back reconciles can land. Two
    // promotions drop the resolved generation (default retention 2); the
    // search's next read must raise GenStore's actionable expiry message
    // instead of dying mid-scan or serving an empty store.
    val root = freshRoot("stranded")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    VectorLake.ingest(spark, root,
      Seq((1L, unit(0, 14f)), (2L, unit(90, 14f))).toDF("vec_id", "embedding"))
    val e = intercept[IllegalStateException] {
      searchOne(root, unit(0).toSeq, k = 1,
        failpoint = () => {
          VectorLake.reconcile(spark, root, k = 2, iters = 2)
          VectorLake.reconcile(spark, root, k = 2, iters = 2)
        })
    }
    assert(e.getMessage.contains("EXPIRED"), e.getMessage)
    // a fresh search under the current pointer serves normally
    assert(searchOne(root, unit(0).toSeq, k = 1).count() == 1)
  }

  test("a legacy-layout reader stranded past the store's migration fails loudly") {
    // r9 ask-#6 focus: promote deletes the legacy root dirs once displaced
    // beyond the retention window, and a reader that resolved the ROOT
    // layout (= "no pointer existed then") would afterwards read silently
    // empty. The expiry guard treats a since-appeared pointer as the same
    // re-resolve signal as a dropped generation.
    val root = freshRoot("legacystrand")
    val cents = Seq(Seq(10.0, 0.0), Seq(0.0, 10.0))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(cents.zipWithIndex
        .map { case (c, i) => org.apache.spark.sql.Row(i, c) }.asJava,
        VectorLake.centroidsSchema)
      .write.parquet(s"$root/centroids")
    graft.operators.Similarity.ivfAssignWithDist(
        Seq(1L -> unit(0, 14f), 2L -> unit(80, 14f))
          .toDF("vec_id", "embedding"), "embedding", cents)
      .select("vec_id", "embedding", "ivf_list", "d2")
      .write.partitionBy("ivf_list").parquet(s"$root/vectors")
    val droot = VectorLake.dataRoot(spark, root) // legacy: the root itself
    assert(droot == root)
    VectorLake.reconcile(spark, root, k = 2, iters = 3) // migrates to gen-0
    val e = intercept[IllegalStateException] {
      GenStore.readGenOrEmpty(spark, droot, "vectors", VectorLake.vectorsSchema)
    }
    assert(e.getMessage.contains("legacy root layout") &&
      e.getMessage.contains("EXPIRED"), e.getMessage)
    // a fresh resolution serves from the migrated generation
    assert(VectorLake.vectors(spark, root).count() == 2)
  }

  test("retainGenerations = 3 keeps a reader live through two promotions") {
    val root = freshRoot("retain3")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    VectorLake.ingest(spark, root,
      Seq((1L, unit(0, 14f)), (2L, unit(90, 14f))).toDF("vec_id", "embedding"))
    VectorLake.reconcile(spark, root, k = 2, iters = 2, retainGenerations = 3)
    val droot = GenStore.dataRoot(spark, root)
    VectorLake.reconcile(spark, root, k = 2, iters = 2, retainGenerations = 3)
    VectorLake.reconcile(spark, root, k = 2, iters = 2, retainGenerations = 3)
    // two promotions after the resolution: still within the 3-gen window
    assert(GenStore.readGenOrEmpty(spark, droot, "vectors",
      VectorLake.vectorsSchema).count() == 2)
    VectorLake.reconcile(spark, root, k = 2, iters = 2, retainGenerations = 3)
    // the third promotion drops it
    val e = intercept[IllegalStateException] {
      GenStore.readGenOrEmpty(spark, droot, "vectors", VectorLake.vectorsSchema)
    }
    assert(e.getMessage.contains("EXPIRED"), e.getMessage)
  }

  test("replayed batch report EQUALS the original, within-batch dups included") {
    // the r7 advice: counting the batch's own stored rows as index dups
    // reclassified a replay's in-batch dup as a vs-index dup
    val root = freshRoot("replayrep")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val batch = Seq((1L, unit(0)), (2L, unit(0, 2f)), (3L, unit(90)))
      .toDF("vec_id", "embedding")
    val r1 = VectorLake.ingest(spark, root, batch)
    assert(r1 == VectorLake.IngestReport(2, 0, 1), r1.toString)
    val r2 = VectorLake.ingest(spark, root, batch)
    assert(r2 == r1, s"replay reclassified: $r2 vs $r1")
    assert(VectorLake.vectors(spark, root).count() == 2)
  }

  test("reconcile's banded repair removes a dup a mixed-quantizer window let in") {
    val root = freshRoot("repair")
    VectorLake.init(spark, root,
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0)))
    assert(VectorLake.ingest(spark, root,
      Seq((1L, unit(0)), (2L, unit(90))).toDF("vec_id", "embedding")).kept == 2)
    // quantizer swapped mid-window (the twin-swap crash shape): under the
    // NEW coarse map, vec 5's top-2 gate lists are {1, 2} while its twin
    // vec 1 sits stored in list 0 — the gate cannot see it
    VectorLake.init(spark, root,
      Seq(Seq(-1.0, -1.0), Seq(0.9, 0.05), Seq(0.05, 0.9)))
    val r = VectorLake.ingest(spark, root,
      Seq((5L, unit(0, 2f))).toDF("vec_id", "embedding"))
    assert(r.kept == 1, s"the mixed-quantizer window should admit the twin: $r")
    assert(VectorLake.vectors(spark, root).count() == 3)
    // reconcile re-trains, reassigns, and the SRP-banded within-list repair
    // drops the higher-id twin — without all-pairs list scans
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    val ids = VectorLake.vectors(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L), s"repair failed: $ids")
  }

  test("streaming ingest twin: micro-batches gate vs the growing store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("stream")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val input = MemoryStream[(Long, Array[Float])]
    val reports =
      scala.collection.mutable.ArrayBuffer.empty[(Long, VectorLake.IngestReport)]
    val q = graft.streaming.Streams.vectorLakeIngestStream(
        input.toDF().toDF("vec_id", "embedding"), root,
        onReport = (e, r) => reports.synchronized { reports += e -> r; () })
      .start()
    try {
      input.addData(1L -> unit(0), 2L -> unit(90))
      q.processAllAvailable()
      // batch 2: v3 dups stored v1 (vs-index), v4 is new (lands in list 1),
      // v5 dups v4 within the batch (same direction, higher id loses) —
      // v4/v5 sit in DIFFERENT storage lists, so only the multi-probe gate
      // (both vectors' gate sets = {0,1} at 2 centroids) catches the pair
      input.addData(3L -> unit(0, 2f), 4L -> unit(45, 14f), 5L -> unit(45, 3f))
      q.processAllAvailable()
    } finally q.stop()
    assert(VectorLake.vectors(spark, root).select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 2L, 4L))
    assert(reports.sortBy(_._1).map(_._2).toList == List(
      VectorLake.IngestReport(2, 0, 0), VectorLake.IngestReport(1, 1, 1)),
      reports.toString)
  }

  test("streaming twin stalls behind a held lease instead of crashing") {
    // a reconcile window: the lock is held when the micro-batch arrives;
    // with lockWaitMs > 0 the batch waits the holder out and then commits
    val root = freshRoot("streamwait")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val lock = new org.apache.hadoop.fs.Path(s"$root/_LOCK")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(lock, false)
    out.write(s"${System.currentTimeMillis()}:maintenance".getBytes("UTF-8"))
    out.close()
    val releaser = new Thread(() => { Thread.sleep(1500); fs.delete(lock, false); () })
    releaser.start()
    val r = try VectorLake.ingest(spark, root,
      Seq((1L, unit(0))).toDF("vec_id", "embedding"),
      lockWaitMs = 30 * 1000L)
    finally releaser.join()
    assert(r.kept == 1)
    assert(VectorLake.vectors(spark, root).count() == 1)
  }

  test("search: probing read partition-prunes to the nprobe nearest lists") {
    val root = freshRoot("search")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    // v1 -> list 0 (unit scale); v2/v3 -> list 1 (scale 14 ~ centroid mass)
    val r = VectorLake.ingest(spark, root, Seq(
      1L -> unit(0), 2L -> unit(45, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding"))
    assert(r.kept == 3, r.toString)
    val hits = searchOne(root, unit(44, 14f), k = 3, nprobe = 1)
    // nprobe=1 prunes list 0: k=3 but only list 1's two rows qualify,
    // ranked by cosine to the 44-degree query (45 beats 80); each hit's
    // list is its stored assignment
    val lists = VectorLake.vectors(spark, root).select("vec_id", "ivf_list")
      .collect().map(x => x.getLong(0) -> x.getInt(1)).toMap
    assert(hits.collect().map(x => (x.getLong(0), lists(x.getLong(0)))).toSeq
      == Seq((2L, 1), (3L, 1)))
    // the pruning is PARTITION pruning on the lake layout, not a row filter
    // over a full scan: the file scan's partition filters name ivf_list
    val plan = hits.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("ivf_list"),
      s"expected ivf_list partition filters in:\n$plan")
  }

  test("searchBatch: ONE pruned store scan amortized over the batch; per-probe parity with search") {
    val root = freshRoot("sbatch")
    // three lists; vectors at 0/30 -> list 0, 80/100 -> list 1, 170 -> list 2
    VectorLake.init(spark, root,
      Seq(Seq(10.0, 0.0), Seq(0.0, 10.0), Seq(-10.0, 0.0)))
    val r = VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f),
      4L -> unit(100, 14f), 5L -> unit(170, 14f)).toDF("vec_id", "embedding"))
    assert(r.kept == 5, r.toString)
    // both probes gate to lists {0,1}: the union prunes list 2 entirely
    val probeVecs = Seq(101L -> unit(10, 14f), 102L -> unit(40, 14f))
    val got = VectorLake.searchBatch(spark, root,
      probeVecs.toDF("probe_id", "embedding"), k = 5, nprobe = 2)
    val rows = got.collect()
    // vec 5 (list 2) is outside every probe's gate set — pruned, not ranked
    assert(rows.nonEmpty && !rows.map(_.getLong(1)).contains(5L), rows.mkString(","))
    // per-probe parity, rows AND order, with a driver-side reference: the
    // probe's probeLists lists over the stored assignment, plain cosine
    // rounded to 6 places, ranked (cos desc, vec_id asc), top-k
    val cents = VectorLake.centroids(spark, root)
    val stored = VectorLake.vectors(spark, root)
      .select("vec_id", "ivf_list", "embedding").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getSeq[Float](2)))
    def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      val xy = a.indices.map(i => a(i).toDouble * b(i).toDouble).sum
      val xx = a.map(x => x.toDouble * x.toDouble).sum
      val yy = b.map(x => x.toDouble * x.toDouble).sum
      xy / (math.sqrt(xx) * math.sqrt(yy))
    }
    def reference(q: Seq[Float], k: Int, nprobe: Int): Seq[(Long, Double)] = {
      val probed = graft.operators.Similarity.probeLists(q, cents,
        math.min(nprobe, cents.size)).toSet
      stored.filter(v => probed.contains(v._2))
        .map { case (id, _, e) =>
          id -> BigDecimal(cosine(e, q))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble }
        .sortBy { case (id, c) => (-c, id) }.take(k).toSeq
    }
    for ((pid, vec) <- probeVecs) {
      val want = reference(vec.toSeq, k = 5, nprobe = 2)
      val batch = rows.filter(_.getLong(0) == pid).sortBy(_.getLong(3))
        .map(x => (x.getLong(1), x.getDouble(2))).toSeq
      assert(want.nonEmpty && batch == want, s"probe $pid: $batch vs $want")
    }
    // the scale pin (r8 verdict ask #1's Done bar): the store is opened ONCE
    // — one file scan over the vectors dir, amortized across the whole probe
    // batch — and the ivf_list restriction is PARTITION pruning on the lake
    // layout, not a row filter over a full scan
    val plan = got.queryExecution.executedPlan.toString
    // AQE prints the same node in its Final and Initial sections — count
    // DISTINCT FileScan lines (a genuine second scan would carry different
    // expression ids and survive the distinct)
    val scanLines = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("/vectors"))
      .map(l => l.substring(l.indexOf("FileScan"))).toSeq.distinct
    assert(scanLines.size == 1,
      s"expected ONE store scan, saw ${scanLines.size} in:\n$plan")
    // the union of the probes' gate lists rides the scan as a STATIC
    // partition filter — list 2's directory is never opened
    assert(scanLines.head.contains("PartitionFilters") &&
      scanLines.head.contains("ivf_list") && scanLines.head.contains("IN (0,1)"),
      s"expected static ivf_list IN (0,1) partition filters in:\n${scanLines.head}")
  }

  test("lifecycle e2e: init -> ingest -> stream -> drift -> reconcile -> search") {
    // the vector serving day, composed: every stage consumes the previous
    // stage's REAL on-disk state, so cross-stage contracts (stored
    // assignment vs search pruning, reconcile swap vs reader) get exercised
    // together rather than in isolation
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("day")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    // day 0 bulk batch: v2 dups v1 in-batch; survivors v1 (list 0), v3 (list 1)
    val r0 = VectorLake.ingest(spark, root, Seq(
      1L -> unit(0), 2L -> unit(1), 3L -> unit(45, 14f))
      .toDF("vec_id", "embedding"))
    assert(r0 == VectorLake.IngestReport(kept = 2, dupsVsIndex = 0, dupsInBatch = 1))
    // streaming micro-batches: v4 dups stored v1 vs-index; v5 is new
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Streams.vectorLakeIngestStream(
      input.toDF().toDF("vec_id", "embedding"), root).start()
    try {
      input.addData(4L -> unit(2), 5L -> unit(85, 14f))
      q.processAllAvailable()
    } finally q.stop()
    assert(VectorLake.vectors(spark, root).select("vec_id").collect()
      .map(_.getLong(0)).toSet == Set(1L, 3L, 5L))
    // drift check runs (reader) and covers every centroid list
    assert(VectorLake.driftReport(spark, root,
      Seq(6L -> unit(80, 14f)).toDF("vec_id", "embedding")).count() == 2)
    // maintenance: recluster on the resident data (k=2 Lloyd) + repair
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    // the reconciled store serves: exact search (nprobe = numLists) ranks
    // the 85-degree neighbor first for an 80-degree query, and a pruned
    // nprobe=1 probe still finds it (same list by construction)
    val exact = searchOne(root, unit(80, 14f), k = 3, nprobe = 2).collect()
    assert(exact.map(_.getLong(0)).toSeq.take(1) == Seq(5L), exact.mkString(","))
    assert(exact.length == 3, "exact search sees the whole store")
    val pruned = searchOne(root, unit(80, 14f), k = 1, nprobe = 1).collect()
    assert(pruned.map(_.getLong(0)).toSeq == Seq(5L), pruned.mkString(","))
    // a replayed day-0 batch after ALL of this is still a write no-op
    val r0b = VectorLake.ingest(spark, root, Seq(
      1L -> unit(0), 2L -> unit(1), 3L -> unit(45, 14f))
      .toDF("vec_id", "embedding"))
    assert(r0b.kept == 0 || VectorLake.vectors(spark, root)
      .select("vec_id").collect().map(_.getLong(0)).toSet == Set(1L, 3L, 5L),
      s"replay must not re-insert: $r0b")
  }

  test("generation swap: a reader interleaved with a reconcile never observes mixed generations") {
    val root = freshRoot("genswap")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    val r = VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding"))
    assert(r.kept == 3, r.toString)
    assert(VectorLake.dataRoot(spark, root) == s"$root/gen-0")
    val q = unit(10, 14f)
    val before = searchOne(root, q, k = 3, nprobe = 1)
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    // a full reconcile (retrain + reassign + pointer flip) lands exactly
    // between the reader's pointer resolution and its reads. The displaced
    // generation is retained, so the interleaved search serves ENTIRELY
    // from gen-0 — identical rows, rank order and scores, and every stored
    // row read from gen-0's files. A mixed read (gen-1 centroids ranking
    // gen-0 lists) would probe differently: nprobe=1 makes that
    // discriminating.
    @volatile var swapped = false
    val duringDf = searchOne(root, q, k = 3, nprobe = 1,
        failpoint = () => {
          VectorLake.reconcile(spark, root, k = 2, iters = 3); swapped = true
        })
    val during = duringDf
      .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
    assert(swapped)
    assert(during == before, s"interleaved read mixed generations: $during vs $before")
    assert(duringDf.inputFiles.nonEmpty &&
      duringDf.inputFiles.forall(_.contains("/gen-0/vectors")),
      s"interleaved read left gen-0: ${duringDf.inputFiles.mkString(", ")}")
    // after the swap: readers resolve gen-1; gen-0 is retained for
    // in-flight readers until the NEXT reconcile displaces it
    assert(VectorLake.dataRoot(spark, root) == s"$root/gen-1")
    assert(searchOne(root, q, k = 3, nprobe = 2).count() == 3)
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$root/gen-0")),
      "the displaced generation must be retained for in-flight readers")
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    assert(VectorLake.dataRoot(spark, root) == s"$root/gen-2")
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$root/gen-0")),
      "two-generation retention: gen-0 outlived its window")
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$root/gen-1")))
  }

  test("reconcile crash before the pointer flip: readers stay on the old generation; rerun completes") {
    val root = freshRoot("gencrash")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding")).kept == 3)
    intercept[RuntimeException] {
      VectorLake.reconcile(spark, root, k = 2, iters = 3,
        failpoint = () => throw new RuntimeException("torn before flip"))
    }
    // the crash left a fully-written orphan gen-1 — but the pointer is the
    // commit, so readers still resolve gen-0 and serve consistently
    assert(VectorLake.dataRoot(spark, root) == s"$root/gen-0")
    assert(searchOne(root, unit(10, 14f), k = 3, nprobe = 2).count() == 3)
    // the rerun overwrites the orphan and completes the swap
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    assert(VectorLake.dataRoot(spark, root) == s"$root/gen-1")
    assert(searchOne(root, unit(10, 14f), k = 3, nprobe = 2).count() == 3)
  }

  test("a pointer-less legacy store keeps serving and is versioned by its first reconcile") {
    val root = freshRoot("legacy")
    val cents = Seq(Seq(10.0, 0.0), Seq(0.0, 10.0))
    // hand-build the PRE-VERSIONING layout: centroids + vectors at the root
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(cents.zipWithIndex
        .map { case (c, i) => org.apache.spark.sql.Row(i, c) }.asJava,
        VectorLake.centroidsSchema)
      .write.parquet(s"$root/centroids")
    graft.operators.Similarity.ivfAssignWithDist(
        Seq(1L -> unit(0, 14f), 2L -> unit(80, 14f))
          .toDF("vec_id", "embedding"), "embedding", cents)
      .select("vec_id", "embedding", "ivf_list", "d2")
      .write.partitionBy("ivf_list").parquet(s"$root/vectors")
    // no pointer: every operation falls back to the root layout
    assert(VectorLake.dataRoot(spark, root) == root)
    assert(searchOne(root, unit(5, 14f), k = 2, nprobe = 2)
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(VectorLake.ingest(spark, root,
      Seq(3L -> unit(40, 14f)).toDF("vec_id", "embedding")).kept == 1)
    // first reconcile migrates to gen-0; the second displaces the legacy
    // dirs entirely (retention window passed)
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    assert(VectorLake.dataRoot(spark, root) == s"$root/gen-0")
    assert(VectorLake.vectors(spark, root).count() == 3)
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(VectorLake.dataRoot(spark, root) == s"$root/gen-1")
    assert(!fsys.exists(new org.apache.hadoop.fs.Path(s"$root/vectors")),
      "legacy dirs must be cleaned once displaced beyond the retention window")
    assert(searchOne(root, unit(5, 14f), k = 3, nprobe = 2).count() == 3)
  }

  test("SQ8 tier: adopted behind the recall gate, quantized serving parity, ingest keeps codes complete") {
    val root = freshRoot("sq8")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f),
      4L -> unit(170, 14f)).toDF("vec_id", "embedding")).kept == 4)
    var gate: Option[(Double, Boolean)] = None
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 0.5, sqRecallK = 2,
      onSqGate = (r, a) => gate = Some((r, a)))
    assert(gate.exists(_._2), s"well-separated vectors must pass the gate: $gate")
    val droot = VectorLake.dataRoot(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$droot/codes")) &&
      fs.exists(new org.apache.hadoop.fs.Path(s"$droot/sqstats")),
      "adoption must write the codes tier INTO the promoted generation")
    // stored codes are genuinely 1-byte-typed
    assert(spark.read.parquet(s"$droot/codes").schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.ByteType))
    // quantized serving parity: same per-probe neighbor order as raw
    // (scores differ within grid error; ranking survives on spread data)
    val probes = Seq(101L -> unit(10, 14f), 102L -> unit(85, 14f))
      .toDF("probe_id", "embedding")
    def order(quantized: Boolean) = VectorLake
      .searchBatch(spark, root, probes, k = 4, nprobe = 2, quantized = quantized)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(1))).sorted.toSeq
    assert(order(quantized = true) == order(quantized = false))
    // ingest WHILE the tier is resident appends the survivors' codes too —
    // the quantized read immediately serves the new row
    assert(VectorLake.ingest(spark, root,
      Seq(9L -> unit(120, 14f)).toDF("vec_id", "embedding")).kept == 1)
    assert(spark.read.parquet(s"$droot/codes").count() ==
      VectorLake.vectors(spark, root).count())
    assert(VectorLake.searchBatch(spark, root,
        Seq(103L -> unit(121, 14f)).toDF("probe_id", "embedding"),
        k = 1, nprobe = 2, quantized = true)
      .collect().map(_.getLong(1)).toSeq == Seq(9L))
  }

  test("quantized serve scores overlay edits under the generation's quantizer — one estimator ranks all") {
    // r12 verdict finding #2: edit-overlay rows used to score FULL-FLOAT
    // on the quantized paths while resident rows scored SQ8-dequantized —
    // two estimators in one top-k, so an edited doc could displace a
    // resident near-tie purely by estimator. Pin: an upserted embedding
    // IDENTICAL to a resident row's must carry the IDENTICAL rounded cos
    // on searchBatch(quantized = true).
    val root = freshRoot("sqoverlay")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f),
      4L -> unit(170, 14f)).toDF("vec_id", "embedding"))
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 0.5, sqRecallK = 2)
    VectorLake.upsert(spark, root,
      Seq(200L -> unit(80, 14f)).toDF("vec_id", "embedding"))
    val got = VectorLake.searchBatch(spark, root,
        Seq(101L -> unit(80, 14f)).toDF("probe_id", "embedding"),
        k = 5, nprobe = 2, quantized = true)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(got.contains(3L) && got.contains(200L), got.toString)
    assert(got(3L) == got(200L),
      s"identical embeddings must score identically under ONE estimator: " +
        s"resident=${got(3L)} overlay=${got(200L)}")
    // the refine path rescores BOTH as exact floats — still one estimator
    val ref = VectorLake.searchBatch(spark, root,
        Seq(101L -> unit(80, 14f)).toDF("probe_id", "embedding"),
        k = 5, nprobe = 2, quantized = true, refineFactor = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(ref.contains(3L) && ref.contains(200L) && ref(3L) == ref(200L),
      ref.toString)
  }

  test("upsert refuses a byte bound the row cap alone would admit") {
    // r12 verdict finding #3: the overlay broadcasts EMBEDDINGS, so bytes
    // (rows × 4·dims), not rows, are the binding budget
    val root = freshRoot("bytecap")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val e = intercept[IllegalArgumentException] {
      VectorLake.upsert(spark, root,
        Seq(1L -> unit(0), 2L -> unit(30), 3L -> unit(60))
          .toDF("vec_id", "embedding"),
        maxOverlayRows = 1L << 20, maxOverlayBytes = 16L)
    }
    assert(e.getMessage.contains("maxOverlayBytes") &&
      e.getMessage.contains("reconcile"), e.getMessage)
    // inside both bounds: the same batch lands
    assert(VectorLake.upsert(spark, root,
      Seq(1L -> unit(0), 2L -> unit(30), 3L -> unit(60))
        .toDF("vec_id", "embedding"),
      maxOverlayRows = 1L << 20, maxOverlayBytes = 24L) == 3L)
  }

  test("delete: tombstoned ids vanish from every read; reconcile reclaims and clears") {
    // the retraction/right-to-be-forgotten lifecycle: tombstone now,
    // reclaim at the next generation rewrite. Hidden from the float serve,
    // the quantized serve, AND the ingest gate (deleted content must not
    // suppress a new near-duplicate); physical rows drop at reconcile and
    // the new generation carries no tombstones.
    val root = freshRoot("delete")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding")).kept == 3)
    // adopt the SQ tier so the quantized read path is exercised too
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 0.5, sqRecallK = 2)
    assert(VectorLake.delete(spark, root, Seq(2L).toDF("vec_id")) == 1)
    // replay + never-stored ids: state no-ops
    assert(VectorLake.delete(spark, root, Seq(2L, 99L).toDF("vec_id")) == 0)
    assert(VectorLake.vectors(spark, root).collect().map(_.getLong(0)).toSet
      == Set(1L, 3L))
    assert(!searchOne(root, unit(30, 14f).toSeq, k = 3, nprobe = 2)
      .collect().map(_.getLong(0)).contains(2L))
    val probes = Seq(101L -> unit(30, 14f)).toDF("probe_id", "embedding")
    assert(!VectorLake.searchBatch(spark, root, probes, k = 3, nprobe = 2,
      quantized = true).collect().map(_.getLong(1)).contains(2L),
      "the quantized tier must hide tombstoned codes too")
    // the gate probes the LOGICAL store: a near-dup of the DELETED vector
    // is ingestable again (a purge is not a content ban)
    assert(VectorLake.ingest(spark, root,
      Seq(12L -> unit(30, 14f)).toDF("vec_id", "embedding")).kept == 1)
    // reconcile reclaims: physical rows drop, new generation tombstone-free
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    val droot = VectorLake.dataRoot(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$droot/tombstones")))
    assert(spark.read.schema(VectorLake.vectorsSchema)
      .parquet(s"$droot/vectors").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L, 12L), "the generation rewrite must reclaim the bytes")
  }

  test("compactLists collapses per-list ingest files; serve results byte-identical") {
    // r9 verdict ask #4: a high-frequency ingest leaves one small file set
    // per touched list per batch; the scheduled compaction must collapse
    // each list to ceil(rows/target) files WITHOUT changing a single
    // served byte, and a second run below threshold must be a no-op.
    val root = freshRoot("compactl")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    for (i <- 0 until 6)
      assert(VectorLake.ingest(spark, root,
        Seq((10L + i) -> unit(i * 5, 14f), (20L + i) -> unit(90 - i * 5, 14f))
          .toDF("vec_id", "embedding"),
        dupThreshold = 0.9999).kept == 2)
    val droot = VectorLake.dataRoot(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def filesPerList(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$droot/vectors"))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("ivf_list="))
        .map(st => st.getPath.getName ->
          fs.listStatus(st.getPath).count(f => f.isFile &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".")))
        .toMap
    val probes = Seq(101L -> unit(10, 14f), 102L -> unit(85, 14f))
      .toDF("probe_id", "embedding")
    def serve() = VectorLake
      .searchBatch(spark, root, probes, k = 12, nprobe = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sorted.toSeq
    val before = serve()
    val fBefore = filesPerList()
    assert(fBefore.values.forall(_ >= 6), s"expected >= 6 files/list: $fBefore")
    val report = VectorLake.compactLists(spark, root, minFilesPerList = 4)
    assert(report.keySet == fBefore.keySet.map(l => s"vectors/$l"), report)
    assert(filesPerList().values.forall(_ == 1),
      s"6 rows / 1e6 target must collapse to ONE file: ${filesPerList()}")
    assert(serve() == before, "compaction changed served bytes")
    // below threshold now: the next scheduled run compacts nothing
    assert(VectorLake.compactLists(spark, root, minFilesPerList = 4).isEmpty)
  }

  test("a crashed leaf compaction is invisible to readers and repaired at the next lease") {
    val root = freshRoot("compactcrash")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root,
      Seq(1L -> unit(0, 14f), 2L -> unit(90, 14f)).toDF("vec_id", "embedding"))
      .kept == 2)
    val droot = VectorLake.dataRoot(spark, root)
    val base = new org.apache.hadoop.fs.Path(s"$droot/vectors")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the crash-between-renames window: the leaf is displaced to
    // its HIDDEN __cold sibling and the process died before the promote
    assert(fs.rename(new org.apache.hadoop.fs.Path(base, "ivf_list=0"),
      new org.apache.hadoop.fs.Path(base, ".ivf_list=0__cold")))
    // readers see the list transiently missing — but NEVER a ghost
    // null-partition row (the hidden name is skipped by the listing)
    val visible = VectorLake.vectors(spark, root)
    assert(visible.filter(col("ivf_list").isNull).count() == 0)
    assert(visible.count() == 1)
    // the next leased mutation repairs the leaf before reading
    assert(VectorLake.ingest(spark, root,
      Seq(3L -> unit(45, 14f)).toDF("vec_id", "embedding")).kept == 1)
    assert(VectorLake.vectors(spark, root).count() == 3,
      "recovery must restore the displaced leaf")
  }

  test("delete repairs a crashed leaf compaction first — never silently skips ids in the displaced leaf") {
    val root = freshRoot("delcrash")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root,
      Seq(1L -> unit(0, 14f), 2L -> unit(90, 14f)).toDF("vec_id", "embedding"))
      .kept == 2)
    val droot = VectorLake.dataRoot(spark, root)
    val base = new org.apache.hadoop.fs.Path(s"$droot/vectors")
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(base, "ivf_list=0"),
      new org.apache.hadoop.fs.Path(base, ".ivf_list=0__cold")))
    // vec 1 lives in the displaced leaf: without the repair, delete's
    // resident semi-join would miss it, report 0, and the purge would
    // silently not happen — the one delete outcome worse than failing
    assert(VectorLake.delete(spark, root, Seq(1L).toDF("vec_id")) == 1L)
    assert(VectorLake.vectors(spark, root).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("SQ8 refine: quantized scan + float rescore EQUALS the float serve, scores included") {
    // the r9 verdict's top ask, lake-level: searchBatch(quantized = true,
    // refineFactor = r) scans the 4×-smaller codes tier for top-(k·r)
    // candidates, rescores ONLY those against gen-N/vectors, and re-ranks
    // exact. Where the candidate set contains the float top-k (q152's
    // recall contract — guaranteed here by well-separated data), the
    // refined rows must equal the float serve EXACTLY — ids, ranks, AND
    // the 6-decimal cos, because the final scores are float cosines on the
    // same rows, not dequantized approximations.
    val root = freshRoot("sq8refine")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f),
      4L -> unit(170, 14f)).toDF("vec_id", "embedding")).kept == 4)
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 0.5, sqRecallK = 2)
    val probes = Seq(101L -> unit(10, 14f), 102L -> unit(85, 14f))
      .toDF("probe_id", "embedding")
    def rows(quantized: Boolean, refine: Int) = VectorLake
      .searchBatch(spark, root, probes, k = 3, nprobe = 2,
        quantized = quantized, refineFactor = refine)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val exact = rows(quantized = false, refine = 0)
    assert(rows(quantized = true, refine = 2) == exact,
      "refined serve must reproduce the float serve bit-for-bit")
    // refineFactor = 1 rescans exactly the quantized top-k — ids may match
    // but the SCORES must already be float-exact (the refine contract)
    assert(rows(quantized = true, refine = 1).forall { case (p, n, c, _) =>
      exact.exists(e => e._1 == p && e._2 == n && e._3 == c) ||
        !exact.exists(e => e._1 == p && e._2 == n)
    }, "a refined score must be the float cosine, never the dequantized one")
    // refine without a quantized scan is refused loudly: a float scan is
    // already exact
    val e = intercept[IllegalArgumentException] {
      VectorLake.searchBatch(spark, root, probes, k = 3,
        quantized = false, refineFactor = 2)
    }
    assert(e.getMessage.contains("refine"), e.getMessage)
  }

  test("SQ8 tier: a refused recall gate leaves the generation float-only; quantized read fails loudly") {
    val root = freshRoot("sq8no")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(30, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding")).kept == 3)
    var gate: Option[(Double, Boolean)] = None
    // an unreachable bar: the gate must REFUSE and adoption must not happen
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 1.01, sqRecallK = 2,
      onSqGate = (r, a) => gate = Some((r, a)))
    assert(gate.exists(!_._2), s"an unreachable bar must refuse: $gate")
    val droot = VectorLake.dataRoot(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$droot/codes")))
    val probes = Seq(101L -> unit(10, 14f)).toDF("probe_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      VectorLake.searchBatch(spark, root, probes, k = 1, quantized = true)
    }
    assert(e.getMessage.contains("sqMinRecall"), e.getMessage)
    // the float path is untouched by the refusal
    assert(VectorLake.searchBatch(spark, root, probes, k = 3).count() == 3)
  }

  test("SQ8 tier: a crash between the vectors and codes appends is repaired by the replay") {
    val root = freshRoot("sq8torn")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(80, 14f)).toDF("vec_id", "embedding")).kept == 2)
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 0.5, sqRecallK = 1)
    val droot = VectorLake.dataRoot(spark, root)
    val batch = Seq(5L -> unit(40, 14f)).toDF("vec_id", "embedding")
    intercept[RuntimeException] {
      VectorLake.ingest(spark, root, batch,
        failpointAfterVectors = () => throw new RuntimeException("torn"))
    }
    // the torn window: the vector landed, its codes did not
    assert(VectorLake.vectors(spark, root).count() == 3)
    assert(spark.read.parquet(s"$droot/codes").count() == 2)
    // the replay writes no vectors (anti-joined) but REPAIRS the codes —
    // derived from the codes dir itself, not from the replay's empty toWrite
    assert(VectorLake.ingest(spark, root, batch).kept == 1)
    assert(VectorLake.vectors(spark, root).count() == 3)
    assert(spark.read.parquet(s"$droot/codes").count() == 3)
  }

  test("search on an initialized-but-empty store returns empty, never throws") {
    val root = freshRoot("searchempty")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    assert(searchOne(root, unit(10), k = 5).count() == 0)
    // nprobe beyond the list count clamps to exact search, same contract
    assert(searchOne(root, unit(10), k = 5, nprobe = 99).count() == 0)
    // batched read: an empty store AND an empty probe batch both yield
    // empty results (an empty batch has no gate lists to prune to)
    assert(VectorLake.searchBatch(spark, root,
      Seq(1L -> unit(10)).toDF("probe_id", "embedding"), k = 5).count() == 0)
    assert(VectorLake.searchBatch(spark, root,
      Seq.empty[(Long, Array[Float])].toDF("probe_id", "embedding"),
      k = 5).count() == 0)
  }

  test("shadow read: a pinned view serves the old generation") {
    val root = freshRoot("shadow")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0), 2L -> unit(45, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding"))
    // two promotions: gen-0 (init) -> gen-1 -> gen-2; retention keeps 1 and 2
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    assert(VectorLake.generations(spark, root) == Seq(1L, 2L))
    val probes = Seq(101L -> unit(44, 14f)).toDF("probe_id", "embedding")
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.orderBy("rank").collect().map(_.getLong(1)).toSeq
    // the A/B read: both resident generations serve the same probe batch;
    // same data (no ingest between), so the shadow diff is empty — the
    // promotion did not regress recall
    val cur = ids(VectorLake.searchBatch(spark, root, probes, k = 2, nprobe = 2))
    def pinned(g: Long): ReadView = ReadView.Pinned(Some(g))
    val shadowNew = ids(VectorLake.searchBatch(spark, root, probes, k = 2, nprobe = 2,
      view = pinned(2L)))
    val shadowOld = ids(VectorLake.searchBatch(spark, root, probes, k = 2, nprobe = 2,
      view = pinned(1L)))
    assert(cur == shadowNew && shadowNew == shadowOld, s"$cur / $shadowNew / $shadowOld")
    // a generation retention dropped fails loudly at resolve time
    val e = intercept[IllegalStateException] {
      VectorLake.searchBatch(spark, root, probes, k = 2, view = pinned(0L)).count()
    }
    assert(e.getMessage.contains("EXPIRED"))
    // hybrid composition: the lake's batched serve feeds rrfFuse directly
    // (the serving stack's lexical+vector merge over a LAKE read)
    val lex = Seq((3L, 1L), (9L, 2L)).toDF("neighbor_id", "rank")
    val fused = graft.operators.Similarity.rrfFuse(
      VectorLake.searchBatch(spark, root, probes, k = 2, nprobe = 2),
      lex, probes.select(org.apache.spark.sql.functions.col("probe_id")), k = 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    // doc 3 is in both lists (vector hit for a 44deg probe? 45 and 80 are
    // the two hits; 3 ranks second) and must fuse ABOVE the vector-only 2
    assert(fused.head == 3L, s"fused order: $fused")
    assert(fused.contains(9L), s"lexical-only doc must appear: $fused")
  }

  test("upsert replaces by id across lists, updates SQ codes, resurrects tombstoned ids") {
    val root = freshRoot("upsert")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    assert(VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(40, 14f), 3L -> unit(85, 14f))
      .toDF("vec_id", "embedding")).kept == 3)
    // adopt the SQ tier so the upsert must maintain the codes too
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 0.01, sqRecallK = 2)
    assert(VectorLake.delete(spark, root, Seq(3L).toDF("vec_id")) == 1L)
    // the refresh: v1 re-embeds ACROSS lists (0deg -> 80deg), v3 was
    // tombstoned and comes back as new content (the sanctioned
    // resurrection), v9 is a plain insert through the upsert path
    assert(VectorLake.upsert(spark, root, Seq(
      1L -> unit(80, 14f), 3L -> unit(75, 14f), 9L -> unit(5, 14f))
      .toDF("vec_id", "embedding")) == 3L)
    val got = VectorLake.vectors(spark, root)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).head).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 9L))
    // v1's stored embedding IS the refreshed one (cos(80deg) x component)
    assert(math.abs(got(1L) - unit(80, 14f)(0)) < 1e-5,
      s"v1 must carry the refreshed embedding, got ${got(1L)}")
    // exactly ONE physical row per id — the replace removed the old copy
    assert(VectorLake.vectors(spark, root).groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0)
    // the quantized serve sees the refresh: v1 now answers an 80deg probe
    val probes = Seq(101L -> unit(80, 14f)).toDF("probe_id", "embedding")
    val q = VectorLake.searchBatch(spark, root, probes, k = 2, nprobe = 2,
      quantized = true).orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(q.head == 1L || q.head == 3L, s"refreshed ids must serve: $q")
    assert(q.toSet.subsetOf(Set(1L, 3L)), s"quantized serve stale: $q")
    // an exact replay is a state no-op (same values, still one row per id)
    VectorLake.upsert(spark, root, Seq(
      1L -> unit(80, 14f), 3L -> unit(75, 14f), 9L -> unit(5, 14f))
      .toDF("vec_id", "embedding"))
    assert(VectorLake.vectors(spark, root).count() == 4)
    // duplicate ids in one batch are refused loudly
    val e = intercept[IllegalArgumentException] {
      VectorLake.upsert(spark, root,
        Seq(5L -> unit(1), 5L -> unit(2)).toDF("vec_id", "embedding"))
    }
    assert(e.getMessage.contains("duplicate vec_id"))
  }

  test("a torn upsert (edit landed, tombstone not yet dropped) is repaired by the replay") {
    // the overlay torn window: the next overlay (edit + tombstone drop)
    // is written in full, the crash hits before its pointer flip — nothing
    // is committed, so a TOMBSTONED id's resurrection stays masked until
    // the replay commits edit and drop together
    val root = freshRoot("upserttorn")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(85, 14f)).toDF("vec_id", "embedding"))
    assert(VectorLake.delete(spark, root, Seq(1L).toDF("vec_id")) == 1L)
    val boom = intercept[RuntimeException] {
      VectorLake.upsert(spark, root,
        Seq(1L -> unit(30, 14f)).toDF("vec_id", "embedding"),
        failpointAfterEdits = () => throw new RuntimeException("torn"))
    }
    assert(boom.getMessage == "torn")
    // the torn window: the tombstone still masks the id
    assert(VectorLake.vectors(spark, root).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // the replay drops the tombstone and the refresh serves
    assert(VectorLake.upsert(spark, root,
      Seq(1L -> unit(30, 14f)).toDF("vec_id", "embedding")) == 1L)
    val one = VectorLake.vectors(spark, root)
      .filter(col("vec_id") === 1L).select("embedding").collect()
    assert(one.length == 1)
    assert(math.abs(one.head.getSeq[Float](0).head - unit(30, 14f)(0)) < 1e-5)
  }

  test("streaming upsert twin: re-embedding micro-batches replace by id across a reconcile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("upsertstream")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(85, 14f)).toDF("vec_id", "embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.Streams.vectorLakeUpsertStream(
        input.toDF().toDF("vec_id", "embedding"), root,
        onUpserted = (e, n) => counts.synchronized { counts += e -> n; () })
      .start()
    try {
      // the model refresh re-encodes v1 across lists (60deg keeps it
      // outside the 0.95-cosine repair threshold of v2's 85deg — the
      // mid-test reconcile must not legitimately drop either) and inserts v9
      input.addData(1L -> unit(60, 14f), 9L -> unit(5, 14f))
      q.processAllAvailable()
      // mid-stream maintenance promotes a new generation; the next
      // micro-batch must rewrite leaves under THAT generation
      VectorLake.reconcile(spark, root, k = 2, iters = 3)
      input.addData(9L -> unit(10, 14f))
      q.processAllAvailable()
    } finally q.stop()
    assert(counts.sortBy(_._1).map(_._2).toList == List(2L, 1L), counts.toString)
    val got = VectorLake.vectors(spark, root)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).head).toMap
    assert(got.keySet == Set(1L, 2L, 9L))
    assert(math.abs(got(1L) - unit(60, 14f)(0)) < 1e-5, s"v1 refresh lost: $got")
    assert(math.abs(got(9L) - unit(10, 14f)(0)) < 1e-5, s"later epoch must win: $got")
    assert(VectorLake.vectors(spark, root).groupBy("vec_id").count()
      .filter(col("count") > 1).count() == 0, "one physical row per id")
  }

  test("overlayReport counts the mutation state a pinned read is not seeing; the fold clears it") {
    val root = freshRoot("ovreport")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(40, 14f), 3L -> unit(85, 14f))
      .toDF("vec_id", "embedding"))
    assert(VectorLake.overlayReport(spark, root) == (0L, 0L))
    VectorLake.delete(spark, root, Seq(1L).toDF("vec_id"))
    VectorLake.upsert(spark, root,
      Seq(2L -> unit(60, 14f), 9L -> unit(20, 14f)).toDF("vec_id", "embedding"))
    assert(VectorLake.overlayReport(spark, root) == (1L, 2L))
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    assert(VectorLake.overlayReport(spark, root) == (0L, 0L),
      "the fold commits the overlays and clears the report")
  }

  test("rollback: the pointer flips back to a resident generation; orphans above are refused") {
    val root = freshRoot("rollback")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0), 2L -> unit(45, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding"))
    VectorLake.reconcile(spark, root, k = 2, iters = 3) // gen-1
    VectorLake.reconcile(spark, root, k = 2, iters = 3) // gen-2
    val probes = Seq(101L -> unit(44, 14f)).toDF("probe_id", "embedding")
    def serveIds(): Seq[Long] =
      VectorLake.searchBatch(spark, root, probes, k = 2, nprobe = 2)
        .orderBy("rank").collect().map(_.getLong(1)).toSeq
    val before = serveIds()
    // the shadow read judged gen-2 a regression (here: same data, same
    // results — the mechanics are what the test pins): flip back to gen-1
    VectorLake.rollback(spark, root, 1L)
    assert(serveIds() == before)
    assert(VectorLake.generations(spark, root) == Seq(1L, 2L),
      "the regressed generation stays resident for in-flight readers")
    // forward rollback = a possibly-torn orphan: refused loudly
    val e = intercept[IllegalArgumentException] {
      VectorLake.rollback(spark, root, 2L)
    }
    assert(e.getMessage.contains("not BELOW"))
    // an expired target is refused with the stranded-reader message
    assert(intercept[IllegalStateException] {
      VectorLake.rollback(spark, root, 0L)
    }.getMessage.contains("EXPIRED"))
    // the next reconcile promotes FROM gen-1, overwriting the regressed
    // gen-2 dir, and the lake serves on as if the regression never happened
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    assert(VectorLake.generations(spark, root) == Seq(1L, 2L))
    assert(serveIds() == before)
  }

  test("rollback carries the regressed generation's tombstones — a purge survives the undo") {
    val root = freshRoot("rolldel")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0), 2L -> unit(45, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding"))
    VectorLake.reconcile(spark, root, k = 2, iters = 3) // gen-1
    VectorLake.reconcile(spark, root, k = 2, iters = 3) // gen-2
    // the purge lands while gen-2 serves (the ROOT overlay since round 12;
    // pre-round-12 generations carried them under the gen dir, which
    // rollback still carries for legacy stores)
    assert(VectorLake.delete(spark, root, Seq(2L).toDF("vec_id")) == 1L)
    assert(VectorLake.vectors(spark, root).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
    // the pointer flip must not resurrect id 2 — root overlays survive it
    VectorLake.rollback(spark, root, 1L)
    assert(VectorLake.vectors(spark, root).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L),
      "a deleted id must NOT resurface after rollback")
    // and the next reconcile physically reclaims it as usual
    VectorLake.reconcile(spark, root, k = 2, iters = 3)
    assert(VectorLake.vectors(spark, root).select("vec_id")
      .collect().map(_.getLong(0)).toSet == Set(1L, 3L))
  }

  test("streaming serve: per-epoch searchBatch parity; a promotion lands on the next micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("servestream")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0), 2L -> unit(45, 14f), 3L -> unit(80, 14f))
      .toDF("vec_id", "embedding"))
    val input = MemoryStream[(Long, Array[Float])]
    val results = scala.collection.mutable.Map.empty[Long, Seq[(Long, Long, Long)]]
    val q = graft.streaming.Streams.vectorLakeServeStream(
        input.toDF().toDF("probe_id", "embedding"), root, k = 2,
        nprobe = 2) { (epoch, df) =>
      val rows = df.orderBy("probe_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
      results.synchronized { results += epoch -> rows; () }
    }.start()
    try {
      input.addData(101L -> unit(44, 14f))
      q.processAllAvailable()
      // epoch 0 equals the direct batched read over the same store
      val direct = VectorLake.searchBatch(spark, root,
          Seq(101L -> unit(44, 14f)).toDF("probe_id", "embedding"),
          k = 2, nprobe = 2)
        .orderBy("probe_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
      assert(results.values.flatten.toSeq.sorted == direct.sorted,
        s"stream=$results direct=$direct")
      // a reconcile PROMOTES a new generation mid-stream (k=2 retrain);
      // the next micro-batch re-resolves the pointer and serves it —
      // same data, so the same neighbors come back (the store did not
      // strand the stream on a displaced generation path)
      VectorLake.reconcile(spark, root, k = 2, iters = 3)
      input.addData(102L -> unit(44, 14f))
      q.processAllAvailable()
      val post = results.synchronized {
        results.toSeq.sortBy(_._1).last._2 }
      assert(post.map(_._2) == direct.map(_._2),
        s"post-promotion neighbors drifted: $post vs $direct")
    } finally q.stop()
  }

  test("streaming serve quantized: epochs serve from the SQ tier and track an upsert") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = freshRoot("servestreamq")
    VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
    VectorLake.ingest(spark, root, Seq(
      1L -> unit(0, 14f), 2L -> unit(40, 14f), 3L -> unit(85, 14f))
      .toDF("vec_id", "embedding"))
    VectorLake.reconcile(spark, root, k = 2, iters = 3,
      sqMinRecall = 0.01, sqRecallK = 2)
    val input = MemoryStream[(Long, Array[Float])]
    val results = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = graft.streaming.Streams.vectorLakeServeStream(
        input.toDF().toDF("probe_id", "embedding"), root, k = 1,
        nprobe = 2, quantized = true) { (epoch, df) =>
      val ids = df.orderBy("rank").collect().map(_.getLong(1)).toSeq
      results.synchronized { results += epoch -> ids; () }
    }.start()
    try {
      input.addData(101L -> unit(84, 14f))
      q.processAllAvailable()
      // epoch 1: the nearest stored vector by the SQ8 asymmetric score
      assert(results.synchronized(results.last._2) == Seq(3L), results.toString)
      // a refresh lands between epochs: v3 re-embeds away, v1 moves close
      // to the probe — the next epoch's quantized read serves the refresh
      // (upsert maintained the codes tier)
      VectorLake.upsert(spark, root, Seq(
        1L -> unit(82, 14f), 3L -> unit(5, 14f)).toDF("vec_id", "embedding"))
      input.addData(102L -> unit(84, 14f))
      q.processAllAvailable()
      assert(results.synchronized(results.last._2) == Seq(1L), results.toString)
    } finally q.stop()
  }

  test("writer lease: a second writer fails fast") {
    val root = freshRoot("lock")
    VectorLake.init(spark, root, Seq(Seq(0.0, 0.0), Seq(10.0, 10.0)))
    val lock = new org.apache.hadoop.fs.Path(s"$root/_LOCK")
    val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(lock, false)
    out.write(s"${System.currentTimeMillis()}:other".getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalArgumentException] {
      VectorLake.ingest(spark, root,
        Seq((1L, unit(0))).toDF("vec_id", "embedding"))
    }
    assert(e.getMessage.contains("locked by another writer"))
  }
}
