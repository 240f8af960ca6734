package graft.domain

import graft.SparkSpec
import graft.sources.Writers
import org.apache.spark.sql.functions.col

/** The one commit protocol, checked per converted state dir: a version
  * written IN FULL whose pointer flip never happened reads as the previous
  * version, and the next commit overwrites that orphan and lands on its
  * number. The crash is injected at the flip itself, through the pointer
  * commit seam — the operation under test runs unmodified. */
class VersionedDirSpec extends SparkSpec {
  import spark.implicits._

  /** A pointer primitive that dies at the flip. */
  private object CrashAtFlip extends Writers.PointerCommit {
    val name = "crash-at-flip"
    def put(fs: org.apache.hadoop.fs.FileSystem,
            dst: org.apache.hadoop.fs.Path, value: String): Unit =
      throw new RuntimeException("crash before the pointer flip")
    def recover(fs: org.apache.hadoop.fs.FileSystem,
                dst: org.apache.hadoop.fs.Path): Unit =
      Writers.RenamePointerCommit.recover(fs, dst)
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"vdir-$tag").toString

  private def unit(deg: Double): Array[Float] = {
    val r = math.toRadians(deg)
    Array((math.cos(r) * 14).toFloat, (math.sin(r) * 14).toFloat)
  }

  /** One converted dir: `setup` builds a store with committed state, and
    * returns the versioned store, a read of its state, and a commit of
    * the next version (the same operation both times). */
  private final case class Case(name: String,
                                setup: () => (GenStore.Store, () => Any, () => Unit),
                                after: Any)

  private def lexServe(root: String): Set[Long] =
    LexLake.serve(spark, root,
        Seq((9L, Seq("omega"))).toDF("probe_id", "terms"), n = 5)
      .collect().map(_.getLong(1)).toSet

  private val cases = Seq(
    Case("warehouse crawl_state", () => {
      val wh = tmp("wh")
      def merge(ts: Long): Unit = graft.streaming.PricePipeline.mergeBatch(
        spark, wh, Seq((1, 999L, 0.0, 999L, new java.sql.Timestamp(ts * 1000)))
          .toDF("appid", "price_cents", "discount", "initial_price_cents", "ts"))
      merge(100)
      (GenStore.Store.dir(s"$wh/crawl_state"),
        () => spark.read.parquet(GenStore.currentDir(spark, s"$wh/crawl_state"))
          .select(col("last_price_timestamp").cast("long")).as[Long].collect().toSeq,
        () => merge(300))
    }, Seq(300L)),
    Case("dedup archive", () => {
      val root = tmp("archive")
      for (i <- 1 to 3) DedupLake.ingest(spark, root,
        Seq((i.toLong, s"standalone document number $i topic $i"))
          .toDF("doc_id", "text")).count()
      (GenStore.Store.dir(s"$root/archive"),
        () => new java.io.File(GenStore.currentDir(spark, s"$root/archive"))
          .list().count(_.endsWith(".parquet")),
        () => { DedupLake.compactStores(spark, root, minFilesPerStore = 3); () })
    }, 1),
    Case("dedup overlay", () => {
      val root = tmp("dedupov")
      DedupLake.ingest(spark, root,
        Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")).count()
      DedupLake.delete(spark, root, Seq(1L).toDF("doc_id"))
      (GenStore.overlay(root),
        () => DedupLake.corpus(spark, root).collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap,
        () => { DedupLake.upsert(spark, root,
          Seq((1L, "rewritten body")).toDF("doc_id", "text")); () })
    }, Map(1L -> "rewritten body")),
    Case("dedup generations", () => {
      val root = tmp("dedupgen")
      DedupLake.ingest(spark, root, Seq((1L, "alpha beta gamma delta"),
        (2L, "alpha beta gamma delta")).toDF("doc_id", "text")).count()
      DedupLake.reconcile(spark, root)
      DedupLake.upsert(spark, root, Seq((3L, "alpha beta gamma delta"))
        .toDF("doc_id", "text"))
      (GenStore.Store.lake(root),
        () => DedupLake.keeps(spark, root).as[Long].collect().toSet,
        () => { DedupLake.reconcile(spark, root); () })
    }, Set(1L)),
    Case("lex layout conf", () => {
      val root = tmp("lexconf") + "/lake"
      (GenStore.Store.dir(s"$root/conf"),
        () => scala.util.Try(lexServe(root)).toOption,
        () => { LexLake.ingest(spark, root,
          Seq((1L, "omega psi")).toDF("doc_id", "text"), nBuckets = 4); () })
    }, Some(Set(1L))),
    Case("lex overlay", () => {
      val root = tmp("lexov")
      LexLake.ingest(spark, root, Seq((1L, "omega psi"), (2L, "chi phi"))
        .toDF("doc_id", "text"), nBuckets = 4)
      LexLake.delete(spark, root, Seq(1L).toDF("doc_id"))
      (GenStore.overlay(root), () => lexServe(root),
        () => { LexLake.upsert(spark, root,
          Seq((1L, "omega again"), (2L, "omega too")).toDF("doc_id", "text")); () })
    }, Set(1L, 2L)),
    Case("vector overlay", () => {
      val root = tmp("vecov")
      VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
      VectorLake.ingest(spark, root, Seq(1L -> unit(0), 2L -> unit(90))
        .toDF("vec_id", "embedding"))
      VectorLake.delete(spark, root, Seq(1L).toDF("vec_id"))
      (GenStore.overlay(root),
        () => VectorLake.vectors(spark, root).select("vec_id").as[Long]
          .collect().toSet,
        () => { VectorLake.upsert(spark, root,
          Seq(1L -> unit(10)).toDF("vec_id", "embedding")); () })
    }, Set(1L, 2L)),
    Case("vector centroids", () => {
      val root = tmp("veccent")
      VectorLake.init(spark, root, Seq(Seq(10.0, 0.0), Seq(0.0, 10.0)))
      (GenStore.Store.dir(s"$root/gen-0/centroids"),
        () => VectorLake.centroids(spark, root),
        () => VectorLake.init(spark, root, Seq(Seq(5.0, 5.0), Seq(-5.0, 5.0))))
    }, Seq(Seq(5.0, 5.0), Seq(-5.0, 5.0))),
    Case("sync intent logs", () => {
      val sync = tmp("sync")
      LakeSync.requestDelete(spark, sync, Seq(7L).toDF("doc_id"))
      (GenStore.Store.under(sync, "log"),
        () => (LakeSync.pending(spark, sync).as[Long].collect().toSet,
          LakeSync.pendingUpserts(spark, sync).select("doc_id").as[Long]
            .collect().toSet),
        () => { LakeSync.requestUpsert(spark, sync,
          Seq((7L, "edited", unit(0))).toDF("doc_id", "text", "embedding")); () })
    }, (Set.empty[Long], Set(7L)))
  )

  for (c <- cases)
    test(s"[${c.name}] a version written but not flipped reads as the previous one; the next commit overwrites it") {
      val (store, read, commit) = c.setup()
      val before = read()
      val orphan = store.root(Some(
        GenStore.version(spark, store).fold(0L)(_ + 1)))
      val e = intercept[RuntimeException] {
        Writers.withPointerCommit(CrashAtFlip)(commit())
      }
      assert(e.getMessage == "crash before the pointer flip", e.getMessage)
      assert(GenStore.exists(spark, orphan), s"$orphan was not written")
      assert(read() == before, "an unflipped version must not be read")
      commit()
      assert(GenStore.current(spark, store) == orphan,
        "the next commit lands on the orphan's number")
      assert(read() == c.after)
    }
}
