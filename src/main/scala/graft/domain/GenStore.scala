package graft.domain

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.Serving
import graft.sources.Writers

/** The ONE commit protocol of every mutable state dir: immutable numbered
  * versions plus a pointer naming the current one (Delta Lake's
  * log-structured commit, Armbrust et al., VLDB 2020, at directory scale).
  * The pointer file's own crash protocol is [[Writers]]' (injectable
  * through `withPointerCommit`). A [[Store]] is a lake's generations
  * (`root/GEN`, `root/gen-N/`), one state dir `d` (`d.GEN`, `d.gen-N/`:
  * `crawl_state`, the dedup archive, the lex conf, centroids), or a set of
  * dirs committed together (`root/name.GEN`, `root/name.gen-N/{a,b}`: a
  * lake's tombstones+edits overlay, the sync logs).
  *
  * Readers resolve the pointer ONCE per operation, so every read comes
  * from one version, and a lazily listed read keeps its files until
  * retention drops them. Writers (under the store's lease) write the WHOLE
  * next version, then flip the pointer; a crash before the flip leaves an
  * orphan the next attempt deletes. Appends go into the current version. A
  * pointer-less store reads its legacy layout exactly as before and is
  * migrated by its first commit. Retention keeps the newest two versions
  * (the legacy layout counts as the one before gen-0; lake reconciles may
  * raise it); a reader that outlives it fails LOUDLY ([[requireLive]],
  * [[requireLiveScan]]), never with an empty frame or a raw
  * FileNotFoundException. */
private[graft] object GenStore {

  /** Where one versioned store lives: `stem + "GEN"` is the pointer,
    * `stem + "gen-N"` version N, and `legacy` the pointer-less layout. */
  final case class Store(stem: String, legacy: String) {
    def pointer: String = s"${stem}GEN"
    def root(version: Option[Long]): String =
      version.fold(legacy)(n => s"${stem}gen-$n")
  }

  object Store {
    /** A lake's generations: `root/GEN`, `root/gen-N`. */
    def lake(root: String): Store = Store(s"$root/", root)
    /** One plain state dir: `dir.GEN`, `dir.gen-N`. */
    def dir(path: String): Store = Store(s"$path.", path)
    /** A set of dirs committed together: `root/name.GEN`,
      * `root/name.gen-N/<member>`, legacy members at `root/<member>`. */
    def under(root: String, name: String): Store = Store(s"$root/$name.", root)
  }

  private def fsOf(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsOf(spark, path)
    fs.exists(p)
  }

  /** READER-side: the store's current version id, `None` when pointer-less. */
  def version(spark: SparkSession, s: Store): Option[Long] =
    Writers.readPointerReadOnly(spark, s.pointer).map(_.toLong)

  /** READER-side: the store's current root, resolved once. */
  def current(spark: SparkSession, s: Store): String =
    s.root(version(spark, s))

  /** The current root of the plain state dir `dir` — what a reader that
    * builds its own `spark.read` (the warehouse loaders) resolves first. */
  def currentDir(spark: SparkSession, dir: String): String =
    current(spark, Store.dir(dir))

  /** The one read-or-empty reader: `path` as `schema`, an empty frame if
    * absent. Plain — callers pass a path under a root they resolved. */
  def readOrEmpty(spark: SparkSession, path: String,
                  schema: StructType): DataFrame =
    if (exists(spark, path)) spark.read.schema(schema).parquet(path)
    else empty(spark, schema)

  def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** The state dir `dir` at its current version, or empty. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    readOrEmpty(spark, currentDir(spark, dir), schema)

  /** WRITER-side commit of the next version of `s`: `write` fills the
    * fresh version root, the pointer flip commits it. `legacyMembers`
    * (absolute paths) are the pointer-less layout. */
  def commit(spark: SparkSession, s: Store, legacyMembers: Seq[String])
            (write: String => Unit): Unit = {
    Writers.recoverPointer(spark, s.pointer)
    promoteStore(spark, s, version(spark, s), 2, legacyMembers)(write)
  }

  /** [[commit]] of a plain state dir whose next content is `df`. */
  def commitDir(spark: SparkSession, dir: String, df: DataFrame): Unit =
    commit(spark, Store.dir(dir), Seq(dir))(df.write.parquet(_))

  /** [[commitDir]] in ceil(rows / targetRecordsPerFile) files — compaction
    * as a version commit (values untouched; `coalesce` only narrows). */
  def commitCompacted(spark: SparkSession, dir: String, df: DataFrame,
                      rows: Long, targetRecordsPerFile: Long): Unit =
    commitDir(spark, dir, compacted(df, rows, targetRecordsPerFile))

  /** `df` (of `rows` rows) in ceil(rows / targetRecordsPerFile) files. */
  def compacted(df: DataFrame, rows: Long,
                targetRecordsPerFile: Long): DataFrame = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be positive")
    val files = math.max(1L,
      (rows + targetRecordsPerFile - 1) / targetRecordsPerFile)
    df.coalesce(files.toInt)
  }

  /** [[commit]] of a set whose next members are `next` (every member,
    * name -> frame); a `None` member is left out of the new version (reads
    * as empty). */
  def commitMembers(spark: SparkSession, s: Store,
                    next: Seq[(String, Option[DataFrame])],
                    beforeFlip: () => Unit = () => ()): Unit =
    commit(spark, s, next.map { case (m, _) => s"${s.legacy}/$m" }) { vroot =>
      for ((m, df) <- next; d <- df) d.write.parquet(s"$vroot/$m")
      // an empty version still needs its dir: it IS the committed state
      val (fs, p) = fsOf(spark, vroot)
      fs.mkdirs(p)
      beforeFlip()
    }

  // ---- a lake's root overlay: tombstones + edits, committed together ------

  def overlay(root: String): Store = Store.under(root, "overlay")

  /** The overlay `view` applies — the one place that policy lives: the
    * current overlay's (tombstones, edits) for [[ReadView.Live]], resolved
    * once; `None` for a pinned view, or when neither member exists (the
    * fast path that keeps reader plans free of dead join nodes). Readers
    * resolve it BEFORE the generation: a reconcile commits the folded
    * generation first and clears the overlay second, so this order can
    * only re-apply a folded overlay (a no-op), never miss a pending one. */
  def readOverlay(spark: SparkSession, root: String, tombstones: StructType,
                  edits: StructType, view: ReadView = ReadView.Live)
      : Option[(DataFrame, DataFrame)] = view match {
    case ReadView.Pinned(_) => None
    case ReadView.Live =>
      val ov = current(spark, overlay(root))
      if (!exists(spark, s"$ov/tombstones") && !exists(spark, s"$ov/edits"))
        None
      else Some((readOrEmpty(spark, s"$ov/tombstones", tombstones),
        readOrEmpty(spark, s"$ov/edits", edits)))
  }

  /** WRITER-side: the current overlay's (tombstones, edits), the
    * [[noOverlay]] pair when none is pending. */
  def overlayOrEmpty(spark: SparkSession, root: String, tombstones: StructType,
                     edits: StructType): (DataFrame, DataFrame) =
    readOverlay(spark, root, tombstones, edits)
      .getOrElse(noOverlay(spark, tombstones, edits))

  def noOverlay(spark: SparkSession, tombstones: StructType,
                edits: StructType): (DataFrame, DataFrame) =
    (empty(spark, tombstones), empty(spark, edits))

  /** The overlay a serve applies to stored rows keyed by `idCol`: `None`
    * where [[readOverlay]] is (a pinned view, or nothing pending), else
    * (edits minus tombstones, overlay id union). A tombstone on an edited
    * id wins (a delete after the upsert). The id union BROADCASTS at every
    * appliance: bounded by the overlays-are-interim-state contract and
    * ENFORCED here, so a mass-deletion day refuses loudly instead of
    * OOMing the driver. */
  def servedOverlay(spark: SparkSession, root: String, idCol: String,
                    tombstones: StructType, edits: StructType, view: ReadView,
                    maxOverlayRows: Long): Option[(DataFrame, DataFrame)] =
    readOverlay(spark, root, tombstones, edits, view).map {
      case (tombs, edits0) =>
        val live = edits0.join(tombs, Seq(idCol), "left_anti")
        val ids = live.select(idCol)
          .unionByName(tombs.select(idCol)).distinct()
        graft.operators.Serving.requireBroadcastable(ids, maxOverlayRows,
          s"the tombstone/edit overlay id set ($idCol)",
          "Overlays are bounded interim state by contract — run reconcile " +
            "to fold them, then retry the read.")
        (live, ids)
    }

  /** `df` as a next-version member, `None` when it has no rows (one
    * bounded probe). */
  def nonEmpty(df: DataFrame): Option[DataFrame] =
    if (Serving.boundedCount(df, 1) > 0) Some(df) else None

  private def idOnly(idCol: String) =
    StructType(Seq(StructField(idCol, LongType)))

  /** WRITER-side DELETE by id, the one delete body of every lake (call
    * under the lake's lease): tombstone each distinct `idCol` value of
    * `ids` that is RESIDENT — in `stored`, the lake's physical rows, or in
    * the edit overlay (an upsert-inserted id lives only there until a
    * reconcile folds it, and a purge ordered in that window must still
    * reach it) — and not tombstoned yet, by an append into the CURRENT
    * overlay version (the legacy `root/tombstones` while pointer-less). Ids
    * resident nowhere are ignored; an exact replay appends nothing. Returns
    * the number of ids newly tombstoned. */
  def delete(spark: SparkSession, root: String, idCol: String,
             ids: DataFrame, stored: DataFrame): Long = {
    val ov = current(spark, overlay(root))
    val resident = stored.select(idCol)
      .unionByName(readOrEmpty(spark, s"$ov/edits", idOnly(idCol)))
    Serving.withPinned(ids.select(col(idCol).cast("long").as(idCol))
        .distinct()
        .join(resident, Seq(idCol), "left_semi")
        .join(readOrEmpty(spark, s"$ov/tombstones", idOnly(idCol)),
          Seq(idCol), "left_anti")) { toWrite =>
      // count while pinned and BEFORE the append — afterwards the plan's
      // tombstone read would see its own rows
      val n = toWrite.count()
      if (n > 0) toWrite.write.mode("append").parquet(s"$ov/tombstones")
      n
    }
  }

  /** The row cap of an upsert's merged member: a refusal names the member
    * as `what` and the cap as `name=max`, then says `remedy`. */
  final case class RowCap(what: String, name: String, max: Long,
                          remedy: String)

  /** WRITER-side UPSERT by id, the one upsert body of every lake's overlay
    * and of the sync log (call under the store's lease): `batch`, already
    * projected to member `into`'s schema and pinned for the whole call,
    * merges over `into` LAST-WRITER-WINS per `idCol` (the
    * `ON DUPLICATE KEY UPDATE` of a mutable table), and member `drop` loses
    * its rows under the batch ids, both in ONE [[commitMembers]] flip — an
    * upsert is explicit new content, so it cancels a pending tombstone or
    * purge for its ids. One agg over the batch counts its rows, its
    * distinct ids and the caller's `extra` columns: duplicate ids are
    * refused (two rows would race for one id), the merged member must fit
    * `cap`, then `check` sees the `extra` values and the merged row count.
    * `beforeFlip` runs once the next version is written in full, before
    * the pointer commits it; `after` runs on the pinned batch once the
    * commit is done. An empty batch commits nothing. Returns the batch row
    * count. */
  def upsert(spark: SparkSession, s: Store, into: String, drop: String,
             batch: DataFrame, idCol: String, cap: RowCap,
             extra: Seq[Column] = Nil,
             check: (Row, Long) => Unit = (_, _) => (),
             beforeFlip: () => Unit = () => (),
             after: DataFrame => Unit = _ => ()): Long =
    Serving.withPinned(batch) { b =>
      val c = b.agg(count(lit(1)), count_distinct(col(idCol)) +: extra: _*)
        .head()
      val n = c.getLong(0)
      Serving.requireUnique(n, c.getLong(1), idCol, "upsert batch",
        "two rows would land under one id. Deduplicate the batch first.")
      val v = current(spark, s)
      val ids = broadcast(b.select(idCol))
      val intoSchema = StructType(b.schema.map(_.copy(nullable = true)))
      Serving.withPinned(readOrEmpty(spark, s"$v/$into", intoSchema)
          .join(ids, Seq(idCol), "left_anti").unionByName(b)) { merged =>
        val m = merged.count()
        require(m <= cap.max, s"${cap.what} would grow to $m rows > " +
          s"${cap.name}=${cap.max} — ${cap.remedy}")
        check(Row.fromSeq(c.toSeq.drop(2)), m)
        if (n > 0) commitMembers(spark, s, Seq(
          drop -> nonEmpty(readOrEmpty(spark, s"$v/$drop", idOnly(idCol))
            .join(ids, Seq(idCol), "left_anti")),
          into -> Some(merged)), beforeFlip)
      }
      after(b)
      n
    }

  /** WRITER-side: commit the next overlay — both members in ONE flip (a
    * `None` member is left out: two clear the overlay, as a reconcile
    * does once it has folded it). */
  def commitOverlay(spark: SparkSession, root: String,
                    tombstones: Option[DataFrame],
                    edits: Option[DataFrame]): Unit =
    commitMembers(spark, overlay(root),
      Seq("tombstones" -> tombstones, "edits" -> edits))

  // ---- lake generations (Store.lake) ---------------------------------------

  def pointer(root: String): String = Store.lake(root).pointer

  def currentGen(spark: SparkSession, root: String): Option[Long] =
    version(spark, Store.lake(root))

  def dataRootOf(root: String, gen: Option[Long]): String =
    Store.lake(root).root(gen)

  /** READER-side: one resolution per operation. */
  def dataRoot(spark: SparkSession, root: String): String =
    dataRootOf(root, currentGen(spark, root))

  /** A serve's [[ReadView]] as its generation data root — the one place a
    * view's generation is resolved (its overlay: [[readOverlay]]). The
    * root is expiry-checked here, so a pinned generation that retention
    * dropped (or never wrote) fails with the stranded-reader message
    * before any scan. */
  def resolve(spark: SparkSession, root: String, view: ReadView): String = {
    val droot = view match {
      case ReadView.Live => dataRoot(spark, root)
      case ReadView.Pinned(gen) => dataRootOf(root, gen)
    }
    requireLive(spark, droot)
    droot
  }

  private val versionRoot = """(?s).*[/.]gen-\d+""".r

  private def expired(root: String) = new IllegalStateException(
    s"generation at $root has EXPIRED — later commits dropped it under " +
      "the store's retention. Re-resolve the pointer (GenStore.current / " +
      "dataRoot) and re-read under the current version; if readers " +
      "legitimately outlive two promotions, raise retainGenerations on " +
      "the reconcile/promote call.")

  /** Expiry guard for a PREVIOUSLY-resolved lake generation root, raised
    * at the next read instead of a silently-EMPTY frame (DedupLake.keeps
    * would serve "no keeps" as an answer) or a mid-scan
    * FileNotFoundException. A resolved lake ROOT layout expires once a
    * pointer exists: its legacy dirs are then at most one promotion from
    * deletion. */
  def requireLive(spark: SparkSession, droot: String): Unit =
    if (versionRoot.matches(droot)) {
      if (!exists(spark, droot)) throw expired(droot)
    } else if (exists(spark, pointer(droot)))
      throw new IllegalStateException(
        s"the legacy root layout at $droot has EXPIRED — the store was " +
          "versioned (a GEN pointer now exists) after this reader " +
          "resolved it, and promotions delete the legacy dirs once " +
          "displaced. Re-resolve the pointer (GenStore.dataRoot) and " +
          "re-read under the current generation.")

  /** Expiry guard for a frame built EARLIER over state dirs (a loaded
    * warehouse): a file-relation root that retention dropped — a version,
    * or a legacy dir whose store was versioned since — fails with the
    * expiry message, not a raw FILE_NOT_EXIST mid-scan. No Spark job. */
  def requireLiveScan(spark: SparkSession, df: DataFrame): Unit = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val roots = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.distinct
    for (r <- roots if !exists(spark, r))
      if (versionRoot.matches(r) || exists(spark, Store.dir(r).pointer))
        throw expired(r)
  }

  /** READER-side generation-scoped read: [[readOrEmpty]] behind the
    * [[requireLive]] expiry guard — what the lakes' reader paths call so a
    * stranded reader fails loudly, not emptily. */
  def readGenOrEmpty(spark: SparkSession, droot: String, sub: String,
                     schema: StructType): DataFrame = {
    requireLive(spark, droot)
    readOrEmpty(spark, s"$droot/$sub", schema)
  }

  /** WRITER-side ROLLBACK (call under the store's lease): flip the pointer
    * BACK to a still-resident older generation — the undo of a promotion a
    * shadow read (a pinned searchBatch vs the current generation) judged a
    * regression. Strictly backward: `toGen` must be BELOW the current
    * pointer, because a gen dir ABOVE it is a crashed promotion's orphan —
    * possibly torn, never committed — and flipping to it would serve a
    * half-written tree. The regressed generation stays resident (in-flight
    * readers keep working) and is overwritten by the next promotion, whose
    * newGen = toGen + 1 lands exactly on it; retention then proceeds as if
    * the regression never happened. */
  def rollback(spark: SparkSession, root: String, toGen: Long): Unit = {
    Writers.recoverPointer(spark, pointer(root))
    val cur = currentGen(spark, root).getOrElse(throw new IllegalStateException(
      s"store at $root has no generation pointer — nothing to roll back"))
    require(toGen < cur,
      s"rollback target gen-$toGen is not BELOW the current gen-$cur — a " +
        "generation dir above the pointer is a crashed promotion's orphan " +
        "(possibly torn, never committed); only committed past generations " +
        "can be rolled back to")
    requireLive(spark, s"$root/gen-$toGen")
    Writers.writePointer(spark, pointer(root), toGen.toString)
  }

  /** The resident version numbers of `s`, oldest first — one listing of
    * the stem's parent. */
  private def versions(spark: SparkSession, s: Store): Seq[(Long, String)] = {
    val (fs, stem) = fsOf(spark, s.pointer)
    val base = stem.getParent
    val head = s.stem.substring(s.stem.lastIndexOf('/') + 1)
    val name = s"""\\Q$head\\Egen-(\\d+)""".r
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq.collect {
      case st if st.isDirectory => st.getPath.getName match {
        case name(g) => Some(g.toLong -> st.getPath.toString)
        case _ => None
      }
    }.flatten.sortBy(_._1)
  }

  /** The resident generation numbers under `root`, oldest first — one root
    * listing. Under the default retention this is (displaced, current); the
    * displaced generation survives exactly one promotion FOR shadow reads.
    * Empty for a pointer-less legacy store. */
  def generations(spark: SparkSession, root: String): Seq[Long] =
    versions(spark, Store.lake(root)).map(_._1)

  def deleteDir(spark: SparkSession, path: String): Unit = {
    val (fs, p) = fsOf(spark, path)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** WRITER-side lake promotion (under the lease, `cur` read AFTER
    * [[Writers.recoverPointer]]): `write` fills gen-(N+1) completely, the
    * pointer flip COMMITS it, and the newest `retainGenerations` survive
    * (1 = no concurrent readers allowed). A pre-versioning store's
    * `legacyDirs` — and any dir store versioned at them — drop once the
    * legacy layout leaves the retention window. */
  def promote(spark: SparkSession, root: String, cur: Option[Long],
              legacyDirs: Seq[String],
              retainGenerations: Int = 2)(write: String => Unit): Unit =
    promoteStore(spark, Store.lake(root), cur, retainGenerations,
      legacyDirs.map(d => s"$root/$d"), nestedLegacy = true)(write)

  private def promoteStore(spark: SparkSession, s: Store, cur: Option[Long],
                           retain: Int, legacy: Seq[String],
                           nestedLegacy: Boolean = false)
                          (write: String => Unit): Unit = {
    require(retain >= 1, s"retainGenerations must be >= 1, got $retain")
    val newVersion = cur.map(_ + 1).getOrElse(0L)
    val next = s.root(Some(newVersion))
    deleteDir(spark, next)
    write(next)
    Writers.writePointer(spark, s.pointer, newVersion.toString)
    // retention drops the versions that actually EXIST below the cutoff
    // (one listing), not a 0..newVersion probe sweep
    val cutoff = newVersion - (retain - 1)
    for ((v, path) <- versions(spark, s) if v < cutoff) deleteDir(spark, path)
    // the legacy layout counts as the version BEFORE gen-0: it leaves the
    // retention window at the same commit gen-0 would
    if (newVersion >= retain - 1)
      for (d <- legacy) {
        deleteDir(spark, d)
        // a legacy lake dir may itself be a versioned dir store (a
        // pre-versioning vector lake's re-initialized centroids)
        if (nestedLegacy) {
          val ds = Store.dir(d)
          versions(spark, ds).foreach { case (_, p) => deleteDir(spark, p) }
          deleteDir(spark, ds.pointer)
        }
      }
  }
}
