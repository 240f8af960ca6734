package graft.sources

import graft.SparkSpec
import graft.domain.GenStore
import org.apache.spark.sql.functions._

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))

  private val kSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.IntegerType)))

  private def readK(dir: String): Set[Int] =
    GenStore.read(spark, dir, kSchema).as[Int].collect().toSet

  test("compact collapses a small-file tail without changing values") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    val df = (1 to 1000).map(i => (i, s"v$i")).toDF("k", "v")
    df.repartition(20).write.parquet(dir)
    assert(parquetFiles(dir).size == 20)
    val before = spark.read.parquet(dir).collect().map(_.toSeq).toSet

    GenStore.commitCompacted(spark, dir, spark.read.parquet(dir), 1000L,
      targetRecordsPerFile = 600)
    val cur = GenStore.currentDir(spark, dir)
    assert(cur == s"$dir.gen-0")
    assert(parquetFiles(cur).size == 2) // ceil(1000/600)
    val after = spark.read.parquet(cur).collect().map(_.toSeq).toSet
    assert(after == before)
    // the displaced (legacy) layout stays for one more commit — a reader
    // that listed it keeps its files — and no rename residue exists
    assert(parquetFiles(dir).size == 20)
    GenStore.commitCompacted(spark, dir, spark.read.parquet(cur), 1000L,
      targetRecordsPerFile = 600)
    assert(!new java.io.File(dir).exists(), "legacy layout past retention")
    assert(new java.io.File(dir).getParentFile.list()
      .filterNot(_.startsWith(".")).toSet == Set("t.GEN", "t.gen-0", "t.gen-1"))
  }

  test("compact to a single file when the table fits the target") {
    val dir = java.nio.file.Files.createTempDirectory("compact1").toString + "/t"
    (1 to 50).toDF("k").repartition(8).write.parquet(dir)
    GenStore.commitCompacted(spark, dir, spark.read.parquet(dir), 50L,
      targetRecordsPerFile = 1000000L)
    assert(parquetFiles(GenStore.currentDir(spark, dir)).size == 1)
    assert(readK(dir) == (1 to 50).toSet)
  }

  test("an orphan version left by an interrupted prior commit is never read and is overwritten") {
    val dir = java.nio.file.Files.createTempDirectory("compact2").toString + "/t"
    (1 to 100).toDF("k").repartition(4).write.parquet(dir)
    // an interrupted prior commit: its version written, pointer never flipped
    (999 to 999).toDF("k").write.parquet(dir + ".gen-0")
    assert(readK(dir) == (1 to 100).toSet, "an unflipped version is invisible")
    GenStore.commitCompacted(spark, dir, spark.read.parquet(dir), 100L,
      targetRecordsPerFile = 1000)
    assert(GenStore.currentDir(spark, dir) == s"$dir.gen-0")
    assert(readK(dir) == (1 to 100).toSet, "the orphan's rows must be gone")
  }

  test("a version written in full but not flipped reads as the previous one; readers never rename") {
    // the reader half of the protocol: resolution reads the pointer and
    // mutates nothing, whatever state a crashed writer left behind
    val dir = java.nio.file.Files.createTempDirectory("roswap").toString + "/t"
    // absent everywhere: empty frame, not an error
    assert(GenStore.read(spark, dir, kSchema).count() == 0)
    (1 to 5).toDF("k").write.parquet(dir) // a pointer-less (legacy) dir
    assert(readK(dir) == (1 to 5).toSet)
    GenStore.commitDir(spark, dir, (6 to 9).toDF("k"))
    assert(readK(dir) == (6 to 9).toSet)
    // crash window: the next version fully written (its _SUCCESS proves
    // it), the pointer flip never happened
    (10 to 12).toDF("k").write.parquet(dir + ".gen-1")
    val listing = new java.io.File(dir).getParentFile.list().toSet
    assert(readK(dir) == (6 to 9).toSet)
    assert(new java.io.File(dir).getParentFile.list().toSet == listing,
      "a reader mutated the store")
    // the next commit overwrites the orphan and flips
    GenStore.commitDir(spark, dir, (13 to 14).toDF("k"))
    assert(GenStore.currentDir(spark, dir) == s"$dir.gen-1")
    assert(readK(dir) == (13 to 14).toSet)
  }

  test("the overlay existence probe sees committed state through every commit window") {
    // a lake's overlay fast path ("no overlay -> no join nodes") must
    // never report committed state absent: not while the next version is
    // written but unflipped, and not inside the pointer's rename window
    val root = java.nio.file.Files.createTempDirectory("seprobe").toString
    val tSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType)))
    def probe() = GenStore.readOverlay(spark, root, tSchema, tSchema)
    assert(probe().isEmpty, "absent everywhere")
    // legacy layout: a plain tombstones dir at the root
    Seq(1L).toDF("doc_id").write.parquet(s"$root/tombstones")
    assert(probe().map(_._1.count()).contains(1L))
    GenStore.commitOverlay(spark, root, Some(Seq(1L, 2L).toDF("doc_id")), None)
    assert(probe().map(_._1.count()).contains(2L))
    // the next version written in full, not flipped: still the committed one
    new java.io.File(s"$root/overlay.gen-1").mkdirs()
    assert(probe().map(_._1.count()).contains(2L))
    // inside the rename window (destination deleted, __tmp not yet
    // renamed): the reader resolves the fully-written __tmp value
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/overlay.GEN"), false)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$root/overlay.GEN__tmp"))
    out.write("0".getBytes("UTF-8")); out.close()
    assert(probe().map(_._1.count()).contains(2L))
    // an EMPTY committed version is committed state too: no overlay
    GenStore.commitOverlay(spark, root, None, None)
    assert(probe().isEmpty)
  }

  test("pointer protocol: flip is atomic-enough for readers; recovery completes or discards") {
    val dir = java.nio.file.Files.createTempDirectory("ptr").toString
    val ptr = s"$dir/GEN"
    // no pointer at all -> None (the legacy-store signal), answered at
    // once: the backoff retries are for a pointer seen but unreadable
    assert(Writers.readPointerReadOnly(spark, ptr).isEmpty)
    val t0 = System.nanoTime()
    assert(Writers.readPointerReadOnly(spark, ptr).isEmpty)
    assert(System.nanoTime() - t0 < 120L * 1000 * 1000, "absent pointer waited")
    Writers.writePointer(spark, ptr, "0")
    assert(Writers.readPointerReadOnly(spark, ptr).contains("0"))
    Writers.writePointer(spark, ptr, "1")
    assert(Writers.readPointerReadOnly(spark, ptr).contains("1"))
    val fs = new org.apache.hadoop.fs.Path(ptr)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def plant(path: String, v: String): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(path), true)
      out.write(v.getBytes("UTF-8")); out.close()
    }
    // crash between the delete and the rename: only __tmp survives — a
    // reader resolves the NEW value; writer-side recovery promotes it
    fs.delete(new org.apache.hadoop.fs.Path(ptr), false)
    plant(s"${ptr}__tmp", "2")
    assert(Writers.readPointerReadOnly(spark, ptr).contains("2"))
    Writers.recoverPointer(spark, ptr)
    assert(Writers.readPointerReadOnly(spark, ptr).contains("2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${ptr}__tmp")))
    // crash BEFORE the delete: destination wins, the stale attempt drops
    plant(s"${ptr}__tmp", "9")
    assert(Writers.readPointerReadOnly(spark, ptr).contains("2"),
      "destination must shadow a not-yet-committed __tmp")
    Writers.recoverPointer(spark, ptr)
    assert(Writers.readPointerReadOnly(spark, ptr).contains("2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${ptr}__tmp")))
    // an empty/torn pointer file throws LOUDLY rather than reading as
    // absent: absent means "legacy store, use the root layout", and a
    // versioned store degraded there serves an empty frame — a transient-
    // IO-to-wrong-answer path (round-9 advice)
    fs.delete(new org.apache.hadoop.fs.Path(ptr), false)
    plant(ptr, "")
    val ex = intercept[IllegalStateException] {
      Writers.readPointerReadOnly(spark, ptr)
    }
    assert(ex.getMessage.contains("could not be read"))
  }
}
