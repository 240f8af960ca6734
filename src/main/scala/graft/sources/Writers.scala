package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch file sinks (SURVEY §2.1 S9-S10). Buffering/batching from the
  * reference is Spark-internal; the semantic knobs that survive are part-file
  * record caps and append mode.
  */
object Writers {

  /** S9: append CSV with header. */
  def appendCsv(df: DataFrame, path: String): Unit =
    df.write.mode("append").option("header", "true").csv(path)

  /** S10: size-capped JSON part files (reference rolls every 50 000 records,
    * utils/steam_reviews_crawler_validated_proxies.py:286-382). */
  def jsonParts(df: DataFrame, path: String, maxRecordsPerFile: Int = 50000): Unit =
    df.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile.toLong)
      .json(path)

  /** Warehouse-table write: parquet, optionally partitioned — at 100 TB the
    * prices/events tables partition by date so incremental jobs prune. */
  def table(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
            mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed catalog table: co-locates and pre-sorts by the join/agg key so
    * repeated joins between tables bucketed the same way skip the shuffle
    * entirely (the 100 TB answer to "this join runs every day"). */
  def bucketedTable(df: DataFrame, tableName: String, key: String,
                    numBuckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(tableName)

  /** S14/S15 export edge: mongoimport-compatible RELAXED EXTENDED JSON
    * lines — the PUBLIC wire format mongoexport/mongoimport speak, closing
    * the document-store substitute's bridge back to a real MongoDB
    * (`mongoimport --collection reviews file.jsonl` ingests the output
    * as-is; reference sink: etl/load/load_mongo.py:26-38). `_id` is a
    * DETERMINISTIC ObjectId — the first 12 bytes of md5 over the key
    * columns — so re-exports and at-least-once replays produce identical
    * documents (a real insert_many with auto ObjectIds would duplicate on
    * replay; the reference's upsert-dedup sink keys on content for the same
    * reason). Timestamp columns render as {"$date": ISO-8601}, the
    * extended-JSON date form (assumes the session's UTC timezone contract,
    * GraftSession default). Rows with a null key column are DROPPED (the
    * reference loaders' skip-on-invalid policy) — a null would md5 to the
    * empty segment and silently collide ids. */
  def mongoExtendedJsonl(df: DataFrame, keyCols: Seq[String], path: String): Unit = {
    import org.apache.spark.sql.functions._
    require(keyCols.nonEmpty, "need at least one key column for the ObjectId")
    val keyed = df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
    val oid = struct(substring(md5(
      concat_ws("\u0001", keyCols.map(col): _*)), 1, 24).as("$oid")).as("_id")
    // null guard on wrapped types: without it a null timestamp/binary would
    // render as a non-null struct of nulls, which toJSON prints as {} — an
    // empty subdocument where the reference loader stores null
    def nullable(c: org.apache.spark.sql.Column, wrapped: org.apache.spark.sql.Column) =
      when(c.isNull, lit(null)).otherwise(wrapped)
    val fields = df.schema.fields.map { f =>
      f.dataType.typeName match {
        case "timestamp" =>
          nullable(col(f.name),
            struct(date_format(col(f.name), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
              .as("$date"))).as(f.name)
        case "binary" => // extended-JSON generic BinData, not bare base64
          nullable(col(f.name),
            struct(struct(base64(col(f.name)).as("base64"),
              lit("00").as("subType")).as("$binary"))).as(f.name)
        case "date" => // BSON has only datetime: a DateType renders at
          // midnight UTC, not as a bare string mongoimport would keep a string
          nullable(col(f.name),
            struct(date_format(col(f.name), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
              .as("$date"))).as(f.name)
        case _ => col(f.name)
      }
    }
    keyed.select(oid +: fields.toSeq: _*).toJSON.write.mode("overwrite").text(path)
  }

  private def hfsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  // ---- version-pointer protocol (the commit of every state dir) ----------
  // A tiny text file naming the CURRENT version of a versioned store
  // (a lake's `GEN` -> "3" meaning gen-3/{vectors,centroids}, or the
  // warehouse's `crawl_state.GEN` -> "3" meaning crawl_state.gen-3/; the
  // layouts are graft.domain.GenStore's). Version dirs are written whole
  // under fresh names before the flip, so any resolvable value names a
  // complete version. The default flip is write-tmp / delete / rename: a
  // reader sees the old value, the new value (via the fully-written __tmp
  // during the rename window), or the new value after the rename.

  /** READER-side pointer resolution: the destination, else a non-empty
    * `__tmp` (the flip's rename window), else the destination again — a
    * flip renames `__tmp` onto it atomically, so a reader that found
    * neither file in that order raced no flip and the store has no pointer
    * (None: an unversioned/legacy store, answered without any wait). A
    * pointer seen but unreadable or empty is retried with backoff and then
    * THROWS: returning None there would silently degrade a versioned store
    * to its legacy layout — DedupLake.keeps would serve an empty frame and
    * a post-migration VectorLake would see no vectors — turning a
    * transient IO error into a wrong answer (the lock protocol's
    * live-on-read-error rule, applied to the pointer). */
  def readPointerReadOnly(spark: SparkSession, path: String): Option[String] = {
    val (fs, dst) = hfsOf(spark, path)
    val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
    def readF(p: org.apache.hadoop.fs.Path): Option[String] =
      try {
        val in = fs.open(p)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim).filter(_.nonEmpty)
        finally in.close()
      } catch { case _: Exception => None }
    var sawPointer = false
    val resolved = Iterator.range(0, 3).map { i =>
      if (i > 0) Thread.sleep(25L << i)
      Seq(dst, tmp, dst).find(fs.exists).flatMap { p =>
        sawPointer = true; readF(p)
      }
    }.find(r => r.isDefined || !sawPointer).flatten
    if (resolved.isEmpty && sawPointer)
      throw new IllegalStateException(
        s"generation pointer at $path exists but could not be read (empty " +
          "or IO error through 3 backoff retries) — refusing to fall back " +
          "to the legacy root layout, which would silently serve an empty " +
          "store. Retry the read; if the pointer file is truly corrupt, " +
          "restore it under the writer lease.")
    resolved
  }

  // ---- the COMMIT PRIMITIVE seam (r12 verdict ask #7) --------------------
  // The pointer flip is THE commit of every state-dir mutation — lake
  // generations, lake overlays, the layout conf, centroids, the dedup
  // archive, the sync logs and the warehouse's crawl_state all commit
  // through writePointer. The default implementation relies on ATOMIC
  // RENAME — true on HDFS and local filesystems, FALSE on S3-style object
  // stores (rename = copy + delete, neither atomic nor cheap). The
  // primitive is therefore INJECTABLE: a deployment on an object store
  // scopes its writers in withPointerCommit(OverwritePutPointerCommit) —
  // one atomic overwrite PUT of the pointer object (the
  // conditional-put/pointer-object idiom), no delete-to-rename window at
  // all — without touching any store code. DATA never needs the seam:
  // versions are written WHOLE under fresh names before the pointer
  // commits, and appends go into the current version. The one rename
  // path left is the hidden-sibling leaf swap below (compactPartition /
  // rewriteLeaf), which rewrites a partition leaf inside a generation.

  /** How a pointer value is atomically PUBLISHED and RECOVERED — the one
    * interface [[writePointer]]/[[recoverPointer]] route through. A
    * primitive must guarantee readers resolve the OLD or the NEW value at
    * every instant ([[readPointerReadOnly]] reads the destination, then a
    * surviving `__tmp`). */
  trait PointerCommit extends Serializable {
    def name: String
    /** Publish `value` at `dst` (called under the writer lease, after
      * [[recover]]). */
    def put(fs: org.apache.hadoop.fs.FileSystem,
            dst: org.apache.hadoop.fs.Path, value: String): Unit
    /** Complete or discard a `put` interrupted last run. */
    def recover(fs: org.apache.hadoop.fs.FileSystem,
                dst: org.apache.hadoop.fs.Path): Unit
  }

  /** The atomic-RENAME protocol (HDFS/local default): write `__tmp`,
    * delete the destination, rename `__tmp` over it. A crash between the
    * delete and the rename leaves only `__tmp` — readers resolve it,
    * recovery promotes it. */
  object RenamePointerCommit extends PointerCommit {
    val name = "rename"
    def put(fs: org.apache.hadoop.fs.FileSystem,
            dst: org.apache.hadoop.fs.Path, value: String): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dst.toString + "__tmp")
      val out = fs.create(tmp, /*overwrite=*/ true)
      try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (fs.exists(dst)) fs.delete(dst, false)
      require(fs.rename(tmp, dst), s"pointer flip failed: $tmp -> $dst")
    }
    def recover(fs: org.apache.hadoop.fs.FileSystem,
                dst: org.apache.hadoop.fs.Path): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dst.toString + "__tmp")
      if (fs.exists(tmp)) {
        if (!fs.exists(dst)) require(fs.rename(tmp, dst),
          s"pointer recovery failed: $tmp -> $dst")
        else fs.delete(tmp, false)
        ()
      }
    }
  }

  /** The OBJECT-STORE protocol: ONE overwrite PUT of the pointer object —
    * object PUTs are atomic (readers see the old or the new bytes, never
    * a missing pointer), so there is no torn window and nothing to
    * recover beyond promoting a `__tmp` stranded by a PREVIOUS
    * rename-protocol writer (mixed-primitive upgrade path). */
  object OverwritePutPointerCommit extends PointerCommit {
    val name = "overwrite-put"
    def put(fs: org.apache.hadoop.fs.FileSystem,
            dst: org.apache.hadoop.fs.Path, value: String): Unit = {
      val out = fs.create(dst, /*overwrite=*/ true)
      try out.write(value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    def recover(fs: org.apache.hadoop.fs.FileSystem,
                dst: org.apache.hadoop.fs.Path): Unit = {
      val tmp = new org.apache.hadoop.fs.Path(dst.toString + "__tmp")
      if (fs.exists(tmp)) {
        if (!fs.exists(dst)) {
          val in = fs.open(tmp)
          val bytes =
            try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
            finally in.close()
          put(fs, dst, new String(bytes,
            java.nio.charset.StandardCharsets.UTF_8))
        }
        fs.delete(tmp, false)
        ()
      }
    }
  }

  private val pointerCommitVar =
    new scala.util.DynamicVariable[PointerCommit](RenamePointerCommit)

  /** Scope every [[writePointer]]/[[recoverPointer]] inside `f` to commit
    * through `cp` — how an object-store deployment swaps the primitive.
    * Thread-scoped (DynamicVariable): the scope must enclose the WRITER
    * call (reconcile/ingest run their commits on the calling thread). */
  def withPointerCommit[T](cp: PointerCommit)(f: => T): T =
    pointerCommitVar.withValue(cp)(f)

  /** WRITER-side flip (call under the store's lease), through the scoped
    * [[PointerCommit]]. Runs pointer recovery first so a flip interrupted
    * last run is resolved before the new one starts. */
  def writePointer(spark: SparkSession, path: String, value: String): Unit = {
    require(value.nonEmpty, "pointer value must be non-empty")
    val (fs, dst) = hfsOf(spark, path)
    val cp = pointerCommitVar.value
    cp.recover(fs, dst)
    cp.put(fs, dst, value)
  }

  /** WRITER-side recovery through the scoped [[PointerCommit]]: complete a
    * flip that crashed mid-commit, or drop a stale leftover from an
    * attempt that crashed before committing. */
  def recoverPointer(spark: SparkSession, path: String): Unit = {
    val (fs, dst) = hfsOf(spark, path)
    pointerCommitVar.value.recover(fs, dst)
  }

  // ---- hidden-sibling compaction for PARTITION LEAF dirs ------------------
  // The one rename protocol left. It rewrites ONE leaf of a partitionBy'd
  // table inside a generation (a vector list, a posting bucket, a dedup
  // generation's keeps/index), and cannot commit through a version
  // pointer: Spark's partition discovery lists the table dir and cannot
  // follow a per-leaf pointer. Plain `__tmp`/`__old` sibling names would
  // be worse — a crash would leave `ivf_list=3__old` as a SIBLING
  // PARTITION whose value fails the partition-column cast and surfaces
  // ghost null-partition rows to every table reader. The swap therefore
  // goes through HIDDEN dot-prefixed siblings (`.ivf_list=3__ctmp` /
  // `.ivf_list=3__cold`), which Spark's file listing skips at every level
  // — no crash state is ever VISIBLE to a reader; the only
  // reader-observable anomaly is the leaf-absent instant between the two
  // renames, and a crash there is repaired by [[recoverPartitionCompact]]
  // under the next writer lease. On an object store without atomic
  // rename, skip leaf compaction: the next reconcile's generation rewrite
  // compacts the same leaves through the pointer.

  private def leafTmp(dst: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dst.getParent, s".${dst.getName}__ctmp")
  private def leafOld(dst: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(dst.getParent, s".${dst.getName}__cold")

  /** Small-file compaction of ONE leaf of a partitioned table into
    * ceil(rows / targetRecordsPerFile) files (values untouched,
    * layout-only; `coalesce` avoids a shuffle — data only narrows).
    * WRITER-SIDE: call under the store's lease, AFTER
    * [[recoverPartitionCompact]] on the table dir. */
  def compactPartition(spark: SparkSession, leafDir: String,
                       targetRecordsPerFile: Long = 1000000L): Unit =
    rewriteLeaf(spark, leafDir, targetRecordsPerFile)(identity)

  /** The data files directly under `dir` (names not starting with `_` or
    * `.`), 0 when `dir` is absent. */
  def dataFiles(spark: SparkSession, dir: String): Long = {
    val (fs, p) = hfsOf(spark, dir)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).count(f =>
      f.isFile && !"_.".contains(f.getPath.getName.head)).toLong
  }

  /** WRITER-side small-file compaction of a partitioned table (call under
    * the store's lease): repair crashed leaf swaps
    * ([[recoverPartitionCompact]]), then [[compactPartition]] each visible
    * `k=v` leaf holding at least `minFiles` data files. Returns the
    * compacted leaves' names with their prior file counts; empty when the
    * table dir is absent. */
  def compactLeaves(spark: SparkSession, tableDir: String, minFiles: Int,
                    targetRecordsPerFile: Long): Map[String, Long] = {
    val (fs, base) = hfsOf(spark, tableDir)
    if (!fs.exists(base)) return Map.empty
    recoverPartitionCompact(spark, tableDir)
    (for {
      st <- fs.listStatus(base).toSeq
      name = st.getPath.getName
      if st.isDirectory && name.contains("=") && !name.startsWith(".")
      nFiles = dataFiles(spark, st.getPath.toString)
      if nFiles >= minFiles
    } yield {
      compactPartition(spark, st.getPath.toString, targetRecordsPerFile)
      name -> nFiles
    }).toMap
  }

  /** Rewrite ONE leaf of a partitioned table as `transform(current rows)`
    * through the same hidden-sibling swap as [[compactPartition]] — the
    * row-level mutation primitive a partitioned store needs (e.g. a vector
    * upsert removing the replaced ids from their old list): crash states
    * stay invisible to readers and are repaired by
    * [[recoverPartitionCompact]] under the next lease. WRITER-SIDE only.
    * An empty transform result still swaps in an empty leaf (readers with
    * an imposed schema see zero rows from it). */
  def rewriteLeaf(spark: SparkSession, leafDir: String,
                  targetRecordsPerFile: Long = 1000000L)
                 (transform: DataFrame => DataFrame): Unit = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be positive")
    val (fs, dst) = hfsOf(spark, leafDir)
    val tmp = leafTmp(dst)
    val old = leafOld(dst)
    val df = transform(graft.Tables.read(spark, leafDir))
    val rows = df.count()
    val files = math.max(1L, (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    df.coalesce(files.toInt).write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(old)) fs.delete(old, true) // stale leftover: rename onto an
    // existing dir would nest INTO it on HDFS/local instead of replacing
    require(fs.rename(dst, old), s"leaf rewrite failed: $dst -> $old")
    require(fs.rename(tmp, dst), s"leaf rewrite failed: $tmp -> $dst")
    fs.delete(old, true)
    ()
  }

  /** WRITER-side recovery for [[compactPartition]] crashes anywhere in a
    * table's leaves: restore a leaf absent mid-swap (complete hidden
    * `__ctmp` first, else the displaced `__cold`), then drop stale hidden
    * leftovers. One listing of the table dir — cheap enough to run at the
    * start of every leased mutation. No-op when the table dir is absent. */
  def recoverPartitionCompact(spark: SparkSession, tableDir: String): Unit = {
    val (fs, base) = hfsOf(spark, tableDir)
    if (!fs.exists(base)) return
    val names = fs.listStatus(base).map(_.getPath.getName)
    val leaves = names.collect {
      case n if n.startsWith(".") && n.endsWith("__ctmp") =>
        n.stripPrefix(".").stripSuffix("__ctmp")
      case n if n.startsWith(".") && n.endsWith("__cold") =>
        n.stripPrefix(".").stripSuffix("__cold")
    }.distinct
    for (leaf <- leaves) {
      val dst = new org.apache.hadoop.fs.Path(base, leaf)
      val tmp = leafTmp(dst)
      val old = leafOld(dst)
      if (!fs.exists(dst)) {
        if (fs.exists(tmp) &&
            fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS")))
          require(fs.rename(tmp, dst), s"leaf recovery failed: $tmp -> $dst")
        else if (fs.exists(old))
          require(fs.rename(old, dst), s"leaf recovery failed: $old -> $dst")
      }
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(old)) fs.delete(old, true)
    }
  }
}
