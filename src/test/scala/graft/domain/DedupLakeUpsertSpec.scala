package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The dedup lake's content-EDIT path (VectorLake.upsert's document twin):
  * the `edits/` overlay supersedes the append-only archive at every read,
  * the ingest probe gates on the CURRENT content, reconcile folds the
  * overlay into the physical archive and clears it, and the torn windows
  * replay-repair. */
class DedupLakeUpsertSpec extends SparkSpec {
  import spark.implicits._

  // the DedupLakeSpec chain fixture: B near-dups A; X is unrelated to both
  private val textB = "sigma omicron tau zeta theta ALTB delta zeta mu upsilon sigma theta"
  private val textX = "an entirely rewritten corpus entry about maritime shipping lanes"

  private def keepIds(df: DataFrame): Set[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSet
  private def corpusMap(root: String): Map[Long, String] =
    DedupLake.corpus(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  test("upsert supersedes at every read: corpus folds, old content stops gating, new content gates") {
    val root = java.nio.file.Files.createTempDirectory("dedup-upsert").toString
    DedupLake.ingest(spark, root,
      Seq((30L, textB), (40L, "unrelated content entirely elsewhere")).toDF("doc_id", "text"))
    assert(DedupLake.upsert(spark, root, Seq((30L, textX)).toDF("doc_id", "text")) == 1L)
    // corpus serves the edit; the physical archive still holds the old text
    assert(corpusMap(root) == Map(30L -> textX, 40L -> "unrelated content entirely elsewhere"))
    assert(spark.read.parquet(s"$root/archive").where("doc_id = 30")
      .head().getString(1) == textB, "archive rewrite is reconcile's job, not upsert's")
    // a dup of the OLD text is now kept (the old content no longer exists),
    // a dup of the NEW text drops against the overlay's band rows
    assert(keepIds(DedupLake.ingest(spark, root,
      Seq((90L, textB)).toDF("doc_id", "text"))) == Set(90L))
    assert(keepIds(DedupLake.ingest(spark, root,
      Seq((91L, textX)).toDF("doc_id", "text"))) == Set.empty[Long])
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L, 40L, 90L))
  }

  test("upsert of an unseen id is an insert: kept, served, delete-able") {
    val root = java.nio.file.Files.createTempDirectory("dedup-upsert-ins").toString
    DedupLake.ingest(spark, root,
      Seq((40L, "unrelated content entirely elsewhere")).toDF("doc_id", "text"))
    DedupLake.upsert(spark, root, Seq((77L, textX)).toDF("doc_id", "text"))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(40L, 77L))
    assert(corpusMap(root).get(77L).contains(textX))
    // an overlay-only id is resident content: a purge ordered before the
    // fold must still tombstone it
    assert(DedupLake.delete(spark, root, Seq(77L).toDF("doc_id")) == 1L)
    assert(!corpusMap(root).contains(77L))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(40L))
  }

  test("upsert resurrects a deleted id and is idempotent; torn windows replay-repair") {
    val root = java.nio.file.Files.createTempDirectory("dedup-upsert-res").toString
    DedupLake.ingest(spark, root, Seq((30L, textB)).toDF("doc_id", "text"))
    DedupLake.delete(spark, root, Seq(30L).toDF("doc_id"))
    assert(corpusMap(root).isEmpty)
    // torn window 1: the next overlay (edit + tombstone drop) written in
    // full, crash BEFORE its pointer flip — nothing committed, the id is
    // still tombstoned until the replay commits both at once
    intercept[RuntimeException] {
      DedupLake.upsert(spark, root, Seq((30L, textX)).toDF("doc_id", "text"),
        failpointAfterEdits = () => throw new RuntimeException("torn"))
    }
    assert(corpusMap(root).isEmpty, "an unflipped overlay must not serve")
    assert(DedupLake.upsert(spark, root, Seq((30L, textX)).toDF("doc_id", "text")) == 1L)
    assert(corpusMap(root) == Map(30L -> textX))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L))
    // exact replay: overlay (last-writer-wins), tombstones, keeps all no-op
    def edits() = GenStore.readOverlay(spark, root,
      DedupLake.tombstonesSchema, DedupLake.archiveSchema)
      .fold(Set.empty[org.apache.spark.sql.Row])(_._2.collect().toSet)
    val snapshot = (edits(), spark.read.parquet(s"$root/keeps").count())
    DedupLake.upsert(spark, root, Seq((30L, textX)).toDF("doc_id", "text"))
    assert((edits(), spark.read.parquet(s"$root/keeps").count()) == snapshot)
    // torn window 2: crash BEFORE the keeps append on an INSERTED id — the
    // corpus serves it, keeps misses it, the replay repairs exactly that
    intercept[RuntimeException] {
      DedupLake.upsert(spark, root, Seq((88L, "a fresh standalone insert subject")).toDF("doc_id", "text"),
        failpointAfterTombstones = () => throw new RuntimeException("torn-2"))
    }
    assert(corpusMap(root).contains(88L))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L))
    DedupLake.upsert(spark, root, Seq((88L, "a fresh standalone insert subject")).toDF("doc_id", "text"))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L, 88L))
  }

  test("reconcile folds the overlay into the archive, clears it, and rebuilds the index on edited content") {
    val root = java.nio.file.Files.createTempDirectory("dedup-upsert-rec").toString
    DedupLake.ingest(spark, root,
      Seq((30L, textB), (40L, "unrelated content entirely elsewhere")).toDF("doc_id", "text"))
    DedupLake.upsert(spark, root, Seq((30L, textX)).toDF("doc_id", "text"))
    DedupLake.delete(spark, root, Seq(40L).toDF("doc_id"))
    val before = corpusMap(root)
    DedupLake.reconcile(spark, root)
    assert(corpusMap(root) == before, "the fold changes WHERE the truth lives, not what it says")
    assert(before == Map(30L -> textX))
    assert(GenStore.readOverlay(spark, root, DedupLake.tombstonesSchema,
      DedupLake.archiveSchema).isEmpty, "overlay folded, tombstones reclaimed")
    assert(GenStore.current(spark, GenStore.overlay(root)) ==
      s"$root/overlay.gen-1", "the clear is a commit of its own")
    assert(GenStore.read(spark, s"$root/archive", DedupLake.archiveSchema).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap == Map(30L -> textX),
      "the physical archive now holds the edited text")
    // the rebuilt index gates on the CURRENT content
    assert(keepIds(DedupLake.ingest(spark, root,
      Seq((95L, textB)).toDF("doc_id", "text"))) == Set(95L))
    assert(keepIds(DedupLake.ingest(spark, root,
      Seq((96L, textX)).toDF("doc_id", "text"))) == Set.empty[Long])
  }

  test("re-ingesting an upserted id is a state no-op; duplicate batch ids are refused") {
    val root = java.nio.file.Files.createTempDirectory("dedup-upsert-noop").toString
    DedupLake.upsert(spark, root, Seq((77L, textX)).toDF("doc_id", "text"))
    def counts() = {
      val p = new org.apache.hadoop.fs.Path(s"$root/archive")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val archiveRows = if (fs.exists(p))
        spark.read.schema(DedupLake.archiveSchema).parquet(s"$root/archive").count()
      else 0L
      (archiveRows, spark.read.parquet(s"$root/keeps").count())
    }
    val before = counts()
    DedupLake.ingest(spark, root,
      Seq((77L, "different text under the same id")).toDF("doc_id", "text"))
    assert(counts() == before, "the overlay id is already durable — nothing appends")
    assert(corpusMap(root) == Map(77L -> textX), "the overlay still supersedes")
    val ex = intercept[IllegalArgumentException] {
      DedupLake.upsert(spark, root,
        Seq((5L, "one"), (5L, "two")).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("duplicate doc_id"))
  }

  test("streaming upsert twin: edits apply per micro-batch, later batches win, replay-safe across a reconcile") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("dedup-upsert-stream").toString
    DedupLake.ingest(spark, root,
      Seq((30L, textB), (40L, "unrelated content entirely elsewhere")).toDF("doc_id", "text"))
    val input = MemoryStream[(Long, String)]
    val counts = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = graft.streaming.Streams.dedupLakeUpsertStream(
        input.toDF().toDF("doc_id", "text"), root,
        onUpserted = (e, n) => counts.synchronized { counts += e -> n; () })
      .start()
    try {
      input.addData(30L -> "first edit of the shipping entry", 88L -> textX)
      q.processAllAvailable()
      // a mid-stream reconcile folds the overlay and versions the store;
      // the next micro-batch must commit against the NEW generation
      DedupLake.reconcile(spark, root)
      assert(GenStore.dataRoot(spark, root) == s"$root/gen-0")
      input.addData(30L -> textX.replace("maritime", "aerial"))
      q.processAllAvailable()
    } finally q.stop()
    assert(counts.sortBy(_._1).map(_._2).toList == List(2L, 1L), counts.toString)
    assert(corpusMap(root) == Map(
      30L -> textX.replace("maritime", "aerial"), 88L -> textX,
      40L -> "unrelated content entirely elsewhere"))
    assert(keepIds(DedupLake.keeps(spark, root)) == Set(30L, 40L, 88L))
  }

  test("the overlay cap refuses loudly instead of growing corpus-sized") {
    val root = java.nio.file.Files.createTempDirectory("dedup-upsert-cap").toString
    DedupLake.upsert(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"), maxOverlayRows = 3L)
    val ex = intercept[IllegalArgumentException] {
      DedupLake.upsert(spark, root,
        Seq((3L, "c"), (4L, "d")).toDF("doc_id", "text"), maxOverlayRows = 3L)
    }
    assert(ex.getMessage.contains("maxOverlayRows"))
    // re-editing resident ids does not grow the overlay — still inside the cap
    assert(DedupLake.upsert(spark, root,
      Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("doc_id", "text"),
      maxOverlayRows = 3L) == 3L)
    assert(corpusMap(root) == Map(1L -> "a2", 2L -> "b2", 3L -> "c"))
  }
}
