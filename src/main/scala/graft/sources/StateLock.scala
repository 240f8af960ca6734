package graft.sources

import org.apache.spark.sql.SparkSession

/** Exclusive writer lease over lake-resident mutable state (dedup indexes,
  * keep sets), behind a pluggable [[StateLock.LockProvider]].
  *
  * The default provider is a lock FILE created with overwrite=false — atomic
  * on HDFS (namenode-serialized create); on the local filesystem Hadoop's
  * ChecksumFileSystem implements it as exists-then-create, a narrow TOCTOU
  * best effort that is fine for tests and single-host tools. Object stores
  * WITHOUT atomic create must not use the file protocol at all: inject a
  * [[StateLock.LockProvider]] backed by a CAS-capable service (DynamoDB
  * conditional put, a database row, ZooKeeper) — the protocol logic here
  * (lease expiry, ownership checks, bounded waiting) is provider-agnostic.
  *
  * Why it exists: read-probe-append state (incremental dedup) is only
  * correct when each batch's probe sees every prior batch's append. Two
  * concurrent writers interleaving probe-before-append both keep a pair of
  * near-dup twins — silent divergence that only a reconcile pass repairs.
  * Serializing mutators through this lease turns that race into either a
  * short wait (`waitMs` > 0, the streaming-twins case) or a loud refusal
  * (`waitMs` = 0, the fail-fast case).
  *
  * The lock payload is `<acquisition-epoch-millis>:<unique-token>`: the
  * timestamp drives stale-lease expiry after `leaseMs`, and the token makes
  * every delete OWNERSHIP-CHECKED — release only removes the lock if the
  * payload still carries this holder's token (a holder that overran its
  * lease and was broken must NOT delete the new holder's lock), and a stale
  * break goes through [[StateLock.LockProvider.deleteIfMatches]], which on
  * a CAS provider is atomic compare-and-delete and on the file provider
  * re-reads immediately before deleting (shrinking the unowned-delete
  * window from "any time after a stale read" to the instants between a
  * re-read and its delete).
  *
  * Read-failure policy (the r7 advice race): a lock that EXISTS but whose
  * payload cannot be read after retries is classified LIVE, never stale —
  * two transient IO errors against a healthy holder must not delete its
  * lease and admit a second writer. Readable-but-garbage payloads (torn
  * write, the empty create-window file) still classify stale: no valid
  * holder wrote them. The cost of the live-on-read-error rule is that a
  * lock orphaned UNREADABLE blocks contenders until `leaseMs` expiry — the
  * safe side of the trade, and self-healing.
  *
  * Clock and sleeper are injected (the Scheduler contract) so lease expiry
  * and bounded waiting unit-test in simulated time. */
object StateLock {

  /** The minimal primitive set a lock backend must provide. Contracts:
    *  - [[tryCreate]] MUST be atomic create-if-absent (CAS). The Hadoop
    *    file provider approximates this with create(overwrite=false) — see
    *    the class doc for where that approximation is exact.
    *  - [[read]] returns the current payload; `None` means ABSENT OR the
    *    read failed (callers retry and then treat persistent None on an
    *    existing lock as live).
    *  - [[deleteIfMatches]] removes the lock iff its payload equals
    *    `observed` — atomic where the store supports compare-and-delete,
    *    read-then-delete best effort otherwise. */
  trait LockProvider {
    def tryCreate(payload: String): Boolean
    def read(): Option[String]
    def deleteIfMatches(observed: String): Boolean
    def exists(): Boolean
    /** Unconditional replace (heartbeat write). Unlike [[tryCreate]] this
      * need NOT be atomic: heartbeat readers ignore anything torn, garbage,
      * or token-mismatched, so the worst a broken write can do is fail to
      * extend the lease. Providers that cannot replace keep the default
      * (heartbeats silently unsupported — leases behave as fixed-length). */
    def writeReplace(payload: String): Boolean = false
  }

  /** The Hadoop-filesystem protocol (HDFS/local): atomic-create lock file,
    * read-confirm-delete breaks. The create leaves the file VISIBLE with an
    * empty payload between create and write — [[withLock]]'s post-create
    * verify handles that window. */
  final class HadoopFileLockProvider(spark: SparkSession, lockPath: String)
      extends LockProvider {
    private val lock = new org.apache.hadoop.fs.Path(lockPath)
    private val fs = lock.getFileSystem(spark.sessionState.newHadoopConf())
    Option(lock.getParent).foreach(fs.mkdirs)
    // the heartbeat's rename handle, built once per provider, not per beat
    private lazy val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, fs.getConf)

    def tryCreate(payload: String): Boolean =
      try {
        val out = fs.create(lock, /*overwrite=*/ false)
        try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }

    def read(): Option[String] =
      try {
        val in = fs.open(lock)
        try Some(new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        finally in.close()
      } catch { case _: Exception => None }

    def deleteIfMatches(observed: String): Boolean =
      // no filesystem compare-and-delete exists: re-read (retried — a
      // transient error here must not abort a legitimate break, r7 advice)
      // immediately before the delete and only remove the exact payload
      // the caller observed
      if (readRetry(this).contains(observed)) fs.delete(lock, false)
      else false

    def exists(): Boolean = fs.exists(lock)

    override def writeReplace(payload: String): Boolean =
      try {
        // ATOMIC for readers (r8 advice, medium): create(overwrite=true) is
        // truncate-then-write, and a contender classifying a renewing
        // holder's lease during that window reads an EMPTY payload — which
        // is "readable garbage", classifies the heartbeat useless, falls
        // back to the lock's by-design-old timestamp, and breaks a LIVE
        // holder mid-run. Write the new beat to a sibling tmp and RENAME it
        // over the hb path instead: readers see the old beat or the new
        // beat, never a torn one. FileContext.rename(OVERWRITE) is atomic
        // on HDFS and local; stores without it fall back to
        // delete-then-rename, whose worst case is a transient ABSENT read —
        // which readRetry already retries and effectiveTs treats as
        // bounded-harm (base lease), never as garbage.
        val tmp = new org.apache.hadoop.fs.Path(lockPath + ".tmp")
        val out = fs.create(tmp, /*overwrite=*/ true)
        try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        try {
          fc.rename(fs.makeQualified(tmp), fs.makeQualified(lock),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          true
        } catch { case _: Exception =>
          if (fs.exists(lock)) fs.delete(lock, false)
          fs.rename(tmp, lock)
        }
      } catch { case _: java.io.IOException => false }
  }

  private def payloadTs(p: String): Option[Long] =
    p.split(":", 2).headOption.flatMap(s => scala.util.Try(s.toLong).toOption)

  private def payloadToken(p: String): Option[String] =
    p.split(":", 2) match { case Array(_, tok) => Some(tok); case _ => None }

  /** Lease-expiry timestamp of an observed lock payload, heartbeat-aware:
    * a readable heartbeat whose TOKEN matches the lock's extends the lease
    * to the later of the two timestamps. Torn, garbage, or stale-token (a
    * previous broken holder's leftover) beats fall back to the lock's own
    * timestamp, so a failed renewal can only SHORTEN a lease back to its
    * base length, never corrupt classification. The hb read is RETRIED
    * (same rule as every other lease-fate read): a renewing holder's lock
    * timestamp is old BY DESIGN, so mistaking one transient hb read error
    * for no-heartbeat would break a live holder — the exact
    * single-attempt-read race the r7 advice closed on the lock itself.
    * A heartbeat that stays unreadable after retries cannot extend the
    * lease (we can't know its timestamp), but the base leaseMs still
    * applies from the lock's own write — the bounded-harm side. */
  private def effectiveTs(lockPayload: String,
                          hb: Option[LockProvider]): Option[Long] =
    payloadTs(lockPayload).map { t0 =>
      val hbTs = for {
        p <- hb; hp <- readRetry(p); tok <- payloadToken(lockPayload)
        if payloadToken(hp).contains(tok); ts <- payloadTs(hp)
      } yield ts
      math.max(t0, hbTs.getOrElse(Long.MinValue))
    }

  // a transient IO hiccup must not be mistaken for a missing/garbage
  // payload at ANY decision point — stale classification, acquire verify,
  // and release all decide lease fate from this read (r7 advice: the
  // single-attempt stale read was the unowned-delete race)
  private def readRetry(p: LockProvider, attempts: Int = 3): Option[String] =
    Iterator.range(0, attempts).map(_ => p.read())
      .find(_.isDefined).flatten

  /** `heartbeatMs` > 0 turns the fixed lease into a RENEWED one: a daemon
    * thread rewrites `<lockPath>.hb` with a fresh `<ts>:<token>` every
    * heartbeatMs, and contenders measure expiry from the LATEST
    * token-matched timestamp (lock or heartbeat). This is what lets a
    * maintenance pass whose wall time scales with the corpus (a reconcile
    * retraining on 100 TB) hold the lease for its whole run without
    * either picking an unbounded leaseMs up front or getting broken
    * mid-swap by a contender that then ingests into a store the reconcile
    * is about to overwrite. A holder that CRASHES stops heartbeating and
    * expires leaseMs after its last beat — renewal never makes a dead
    * lease immortal. */
  def withLock[T](spark: SparkSession, lockPath: String,
                  leaseMs: Long = 30 * 60 * 1000L,
                  waitMs: Long = 0L,
                  pollMs: Long = 200L,
                  now: () => Long = System.currentTimeMillis _,
                  sleep: Long => Unit = Thread.sleep(_: Long),
                  provider: Option[LockProvider] = None,
                  heartbeatMs: Long = 0L,
                  hbProvider: Option[LockProvider] = None)(f: => T): T = {
    val lock = provider.getOrElse(new HadoopFileLockProvider(spark, lockPath))
    val hb: Option[LockProvider] =
      hbProvider.orElse(
        if (provider.isEmpty)
          Some(new HadoopFileLockProvider(spark, s"$lockPath.hb"))
        else None)
    val uuid = java.util.UUID.randomUUID().toString
    // the payload actually written on the successful acquire — its timestamp
    // is taken AT acquisition, not at withLock entry: a contender that spent
    // most of waitMs polling must not start with a lease that already looks
    // that much older (it would be prematurely breakable)
    var written: String = null

    def tryAcquire(): Boolean = {
      // break a stale lease BEFORE trying to acquire. Classification reads
      // are retried; a lock that exists but stays UNREADABLE is LIVE (see
      // object doc) — only a readable payload can be stale: garbage/empty
      // (no valid holder wrote it) or a parsed timestamp past the lease.
      if (lock.exists()) {
        val observed = readRetry(lock)
        // expiry measures from the LATEST token-matched timestamp — the
        // lock's own, or a live holder's heartbeat (see effectiveTs)
        val stale = observed.exists(p =>
          effectiveTs(p, hb).forall(t => now() - t > leaseMs))
        if (stale) {
          // hygiene: drop the broken holder's heartbeat with the lock (an
          // orphaned hb is harmless — token-mismatched against any future
          // holder — but would sit there forever)
          for (p <- hb; hp <- p.read()
               if payloadToken(hp) == observed.flatMap(payloadToken))
            p.deleteIfMatches(hp)
          lock.deleteIfMatches(observed.get)
        }
      }
      val payload = s"${now()}:$uuid"
      if (!lock.tryCreate(payload)) false
      else readRetry(lock) match {
        // the file protocol leaves the lock VISIBLE with an empty payload
        // between create and write — a contender reading in that window
        // classifies it stale and may have deleted or replaced it.
        // Acquisition only counts once a read confirms OUR payload survived.
        case Some(p) if p == payload => written = payload; true
        // a contender broke our create-window file and owns the lock now
        case Some(_) => false
        case None =>
          // persistent transient failure reading our own fresh write: one
          // more retry round — if it confirms ownership, acquire (leaving a
          // fresh VALID lease orphaned here would block every fail-fast
          // writer for the full leaseMs, r7 advice). If it reads a
          // contender's payload, theirs; if still unreadable after six
          // attempts, give up WITHOUT deleting (we cannot confirm the file
          // is still ours) — the orphan blocks until lease expiry, the safe
          // side of an unowned delete.
          if (readRetry(lock).contains(payload)) { written = payload; true }
          else false
      }
    }

    val deadline = now() + waitMs
    var acquired = tryAcquire()
    while (!acquired && now() < deadline) {
      sleep(pollMs)
      acquired = tryAcquire()
    }
    require(acquired,
      s"state at $lockPath is locked by another writer (lease not expired" +
        (if (waitMs > 0) s"; waited ${waitMs} ms" else "") +
        ") — concurrent mutators would interleave index probes with appends. " +
        "Retry after the holder finishes, or raise waitMs to serialize behind it.")
    // lease renewal: a daemon beats <lockPath>.hb with a fresh
    // <ts>:<our-token> while f runs. A failed/torn beat is ignored by
    // readers (token/parse-gated), so the thread never needs to handle
    // write errors; a crash of THIS process stops the beats and the lease
    // expires leaseMs after the last one.
    val beating = new java.util.concurrent.atomic.AtomicBoolean(
      heartbeatMs > 0 && hb.nonEmpty)
    val beater = if (!beating.get) None else Some {
      val t = new Thread(() => {
        try {
          while (beating.get) {
            sleep(heartbeatMs)
            if (beating.get) {
              // all holders share ONE hb path, so a holder that overran its
              // lease and was (rightly or wrongly) broken must stop beating
              // once the lock carries someone else's token — its stale
              // token-mismatched beats would otherwise keep overwriting the
              // NEW holder's renewals for the rest of this run (r8 advice).
              // Only a READABLE foreign payload stops the beats: an
              // unreadable lock is indistinguishable from a transient IO
              // error, and wrongly silencing a live holder's renewal is the
              // exact failure heartbeats exist to prevent (a stale extra
              // beat, by contrast, is token-gated by every reader). Same
              // rule for a readable-but-TOKENLESS payload (a contender that
              // crashed mid-tryCreate leaves an empty create-window file):
              // garbage parses to no token, readers already ignore it, and
              // stopping a live holder's beats over it would let the lease
              // expire under a running writer — only a parsed token that
              // MISMATCHES proves a new holder owns the lock.
              val broken = readRetry(lock)
                .exists(p => payloadToken(p).exists(_ != uuid))
              if (broken) beating.set(false)
              else { hb.foreach(_.writeReplace(s"${now()}:$uuid")); () }
            }
          }
        } catch { case _: InterruptedException => () }
      }, s"statelock-heartbeat-${lockPath.hashCode}")
      t.setDaemon(true)
      t.start()
      t
    }
    try f finally {
      beating.set(false)
      beater.foreach { t => t.interrupt(); t.join(1000) }
      // remove our own heartbeat (ownership-checked: a successor after an
      // overrun break writes its own token, which must stay)
      for (p <- hb; hp <- p.read() if payloadToken(hp).contains(uuid))
        p.deleteIfMatches(hp)
      // release ONLY our own lock: if this holder overran its lease and a
      // contender broke it and acquired, the payload no longer carries our
      // token and the new holder's lock must stay. deleteIfMatches performs
      // the ownership check (retried read on the file provider, atomic CAS
      // on capable stores); a still-unreadable payload deletes NOTHING —
      // unreadable ⇒ the next acquirer cannot classify it stale either, so
      // it blocks until lease expiry rather than risking an unowned delete.
      if (written != null) { lock.deleteIfMatches(written); () }
    }
  }

  /** The lake-writer convention shared by DedupLake and VectorLake: one
    * `_LOCK` under the store's root, fail-fast by default (an ingest and a
    * reconcile must never interleave, so a BATCH contender refuses instead
    * of queueing). `waitMs` > 0 is the STREAMING-ingest stance: a
    * micro-batch that collides with the scheduled reconcile should stall
    * behind it and then proceed, not crash the query. */
  def withRootLock[T](spark: SparkSession, root: String,
                      leaseMs: Long = 30 * 60 * 1000L,
                      now: () => Long = System.currentTimeMillis _,
                      waitMs: Long = 0L,
                      heartbeatMs: Long = 0L)(f: => T): T =
    withLock(spark, s"$root/_LOCK", leaseMs, waitMs = waitMs, now = now,
      heartbeatMs = heartbeatMs)(f)
}
