package graft.sources

import java.nio.charset.StandardCharsets

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/**
 * Cooperative writer-exclusion lease for a table directory.
 *
 * [[Maintenance.compact]], the partition-rewrite DML path
 * ([[LedgerTables.updateWhere]]/[[LedgerTables.deleteWhere]]) and the
 * LSH-store and IVF-index compactions commit through
 * [[Maintenance.rewrite]], which is correct only when a single
 * rewriter mutates the table at a time. The lease turns a
 * violation of that contract from silent corruption into a loud error:
 * every writer acquires `_writer_lease` at the table root before touching
 * files and releases it when done. The underscore prefix keeps the file
 * invisible to Spark's data-file listing (of this table and of any parent
 * directory), and holding it requires no access outside the table root.
 * No rewrite moves a directory, so the lease file stays in place for its
 * whole lifetime.
 *
 * Mechanics: acquisition is a create-no-overwrite of the lease file
 * (atomic on local filesystems and HDFS), carrying owner id, acquisition
 * time, and a TTL; expiry is judged on the file's MODIFICATION time so
 * [[renew]] can extend a held lease with an atomic metadata touch. A
 * second writer's create fails and throws
 * [[WriterLease.HeldByOtherWriterException]] naming the current holder. A
 * writer that crashes without releasing leaves its lease behind; once the
 * TTL passes (or the operator calls [[breakLease]] after confirming the
 * holder is dead) the next acquirer reclaims it: re-read the lease,
 * confirm it is still the SAME stale lease (owner + timestamp identity),
 * delete, and race the exclusive create.
 *
 * Scope: the lease serializes REWRITERS — one commit for every table
 * rewrite: ledger compaction and UPDATE/DELETE, and the store compactions
 * — against each other. Append-only writers ([[LedgerTables.write]],
 * [[graft.streaming.LedgerStream.appendBatch]], the store appends and
 * tombstone retirements) deliberately do not take it: a rewrite retires
 * only the snapshot of files it read, and reads, deletes and
 * manifest-names nothing else, so a file appended mid-rewrite is
 * untouched by construction, as are `_`-prefixed children
 * (an in-flight append's `_temporary` committer dir, the streaming replay
 * markers). Serializing appends under the lease would throttle streaming
 * ingest for nothing.
 *
 * Honest limits of a filesystem without compare-and-swap: a reclaimer
 * that stalls between its identity recheck and the delete can still evict
 * a CONCURRENT RECLAIMER's just-created lease (never a live renewing
 * holder — its fresh modification time fails the staleness recheck); the
 * window is one metadata operation wide, and an evicted holder's next
 * heartbeat detects and logs the loss. Where OS advisory locking exists
 * (local disks, NFSv4), [[WriterLease.LeaseArbiter.fileLock]] closes even
 * that window — both decisions run atomically under a sidecar FileLock.
 * On object stores without atomic create, the DEFAULT arbiter is advisory
 * — the same caveat the commit itself carries ([[Maintenance]] scaladoc) —
 * but the arbitration is pluggable ([[WriterLease.LeaseArbiter]]): a
 * backend built on the store's conditional write (If-None-Match /
 * precondition PUT) makes the exclusion decisive there too.
 */
object WriterLease {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /**
   * How the exclusive "create the lease file iff absent" is decided. The
   * decision MUST be made by the store, not by an exists-then-create in
   * this process — that is the whole arbitration. Implementations create
   * an EMPTY placeholder; the winner's lease content is written afterwards
   * under the corrupt-lease grace TTL (see [[WriterLease.CorruptGraceMs]]),
   * so a placeholder is never reclaimed out from under its content write.
   *
   * Built-ins cover POSIX (`O_CREAT|O_EXCL`) and HDFS-style server-side
   * `create(overwrite = false)`. An object store with conditional writes
   * (If-None-Match / precondition PUT) slots in as a third implementation
   * — with it the lease's "advisory on object stores" caveat becomes a
   * backend property, not a design limit.
   */
  trait LeaseArbiter {
    /** Atomically create an empty placeholder at `p` iff nothing exists
      * there; true iff THIS caller created it. */
    def createIfAbsent(fs: FileSystem, p: Path): Boolean

    /** Reclaim step: delete `p` only if it is still the stale lease the
      * caller observed (owner + acquisition-time identity, where the
      * acquisition time is `max(content timestamp, file modification
      * time)` — exactly what [[WriterLease.read]] reports). The DEFAULT is
      * a plain delete — the caller's identity recheck happens just before,
      * so on a plain filesystem this carries the documented
      * one-metadata-op reclaimer-vs-reclaimer window. A conditional-write
      * store overrides with an atomic compare-and-delete (ETag/If-Match),
      * which closes that window and makes reclaim decisive too.
      *
      * Contract note for overriders: `expected.owner` may be
      * [[WriterLease.CorruptOwner]] — the sentinel for a placeholder whose
      * content was never written (a writer crashed between create and
      * content write). That lease HAS no owner line to match; the
      * implementation must treat "still unparseable, same modification
      * identity" as a match, or such a crash locks the table until a
      * manual breakLease. */
    def deleteIfMatches(fs: FileSystem, p: Path, expected: LeaseInfo): Boolean =
      fs.delete(p, false)
  }

  object LeaseArbiter {
    /** POSIX atomic create via `java.io.File.createNewFile`
      * (`O_CREAT|O_EXCL`). Needed because Hadoop's LOCAL
      * `create(overwrite = false)` is exists-then-create — NOT atomic
      * (measured: 6 racing threads produced overlapping "exclusive"
      * creates). */
    val posixLocal: LeaseArbiter = (fs: FileSystem, p: Path) => {
      // File(URI) handles the path conversion on every platform (a raw
      // toUri.getPath breaks on Windows drive letters)
      val qualified = fs.makeQualified(p).toUri
      val local = try new java.io.File(qualified)
        catch { case _: IllegalArgumentException => new java.io.File(qualified.getPath) }
      Option(local.getParentFile).foreach(_.mkdirs())
      try local.createNewFile() catch { case _: java.io.IOException => false }
    }

    /** Server-side `create(overwrite = false)` — atomic on HDFS and any
      * store whose namenode/metadata layer arbitrates the create. */
    val exclusiveCreate: LeaseArbiter = (fs: FileSystem, p: Path) => {
      try { fs.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }

    /** The default for a filesystem: POSIX on `file://`, server-side
      * exclusive create elsewhere. (`getUri.getScheme`, not `getScheme()`:
      * the latter's Hadoop base implementation throws on filesystems that
      * never overrode it.) */
    def forFileSystem(fs: FileSystem): LeaseArbiter =
      if (fs.getUri.getScheme == "file") posixLocal else exclusiveCreate

    /**
     * FULLY DECISIVE arbitration on any filesystem with OS advisory
     * locking (local disks, NFSv4): every decision — create-iff-absent
     * AND the reclaim's compare-and-delete — executes as one atomic step
     * under an exclusive `FileLock` on a sidecar `_writer_lease.arb`
     * file, closing the one-metadata-op reclaimer-vs-reclaimer window
     * that [[posixLocal]]'s plain-delete default documents. A JVM-striped
     * monitor serializes in-process callers first (the JVM throws
     * `OverlappingFileLockException` rather than queueing overlapping
     * locks from one process); the OS lock then arbitrates across
     * processes. The sidecar is underscore-prefixed (invisible to Spark
     * listings, never touched by a rewrite) and is itself
     * never deleted — deleting it would race its own lock.
     *
     * This is the second REAL backend behind the [[LeaseArbiter]] seam
     * (beside the create-only [[posixLocal]]/[[exclusiveCreate]] pair and
     * the conditional-write shape a cloud object store provides):
     * lifecycle- and contention-tested in WriterLeaseArbiterSpec.
     * Requires a `file://` path — the sidecar is locked through java.nio.
     */
    val fileLock: LeaseArbiter = new LeaseArbiter {
      private val jvmLocks =
        new java.util.concurrent.ConcurrentHashMap[String, Object]()
      private def withSidecarLock[A](fs: FileSystem, p: Path)(body: => A): A = {
        val uri = fs.makeQualified(p).toUri
        require(uri.getScheme == null || uri.getScheme == "file",
          s"fileLock arbiter needs a java.nio-lockable file:// path, got $uri")
        val target = java.nio.file.Paths.get(uri.getPath)
        val side = target.resolveSibling(target.getFileName.toString + ".arb")
        Option(side.getParent).foreach(java.nio.file.Files.createDirectories(_))
        val mon = jvmLocks.computeIfAbsent(side.toString, _ => new Object)
        mon.synchronized {
          val ch = java.nio.channels.FileChannel.open(side,
            java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.WRITE)
          try {
            val l = ch.lock()
            try body finally l.release()
          } finally ch.close()
        }
      }
      override def createIfAbsent(fs: FileSystem, p: Path): Boolean =
        withSidecarLock(fs, p) {
          // absence check and create commit under ONE lock — the
          // overwrite flag is irrelevant here, exclusion came first
          if (fs.exists(p)) false
          else { fs.create(p, true).close(); true }
        }
      override def deleteIfMatches(fs: FileSystem, p: Path,
          expected: LeaseInfo): Boolean =
        withSidecarLock(fs, p) {
          // the full (owner, effective-acquisition-time) identity — which
          // readAt already computes, including the corrupt-placeholder
          // sentinel — rechecked and acted on atomically
          readAt(fs, p).exists(r => r.owner == expected.owner &&
            r.acquiredAtMs == expected.acquiredAtMs) && fs.delete(p, false)
        }
    }
  }

  /** Lease file name, inside the table root; underscore-prefixed so Spark
    * listings never see it as data. */
  val LeaseName = "_writer_lease"

  /** Default lease TTL: generous for a partition rewrite or compaction
    * sweep; a crashed writer blocks the table for at most this long. A
    * LIVE writer is not bounded by it — [[withLease]] heartbeats. */
  val DefaultTtlMs: Long = 15 * 60 * 1000L

  /** TTL assigned to an unparseable lease file. A reader can catch the
    * instant between a winner's exclusive create and its content write (or
    * mid-rewrite in [[renew]]'s fallback) — a zero TTL would make that
    * fresh-but-empty lease instantly reclaimable, re-opening the very race
    * the exclusive create arbitrates. The grace period lets the winner
    * finish writing; a writer that truly crashed mid-create blocks the
    * table for only this long. */
  val CorruptGraceMs: Long = 30 * 1000L

  /** Sentinel owner reported for an unparseable/empty lease file (a writer
    * crashed between its exclusive create and the content write). Part of
    * the [[LeaseArbiter.deleteIfMatches]] contract — see its scaladoc. */
  val CorruptOwner: String = "corrupt-lease"

  final case class LeaseInfo(owner: String, acquiredAtMs: Long, ttlMs: Long) {
    def expiresAtMs: Long = acquiredAtMs + ttlMs
  }

  final class HeldByOtherWriterException(message: String)
    extends IllegalStateException(message)

  private def leasePath(root: Path) = new Path(root, LeaseName)

  /** Process-unique default owner id: host + pid + nonce. */
  def defaultOwner(): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"$host/pid-${ProcessHandle.current.pid}/${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Digit strings that fit a Long without overflow. */
  private def parseableLong(s: String): Boolean =
    s.nonEmpty && s.length <= 18 && s.forall(_.isDigit)

  private def readAt(fs: FileSystem, p: Path): Option[LeaseInfo] =
    try {
      if (!fs.exists(p)) None
      else {
        val modTime = fs.getFileStatus(p).getModificationTime
        val in = fs.open(p)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        text.split('\n') match {
          case Array(owner, ts, ttl, _*) if parseableLong(ts) && parseableLong(ttl) =>
            Some(LeaseInfo(owner, math.max(ts.toLong, modTime), ttl.toLong))
          case _ =>
            // a writer mid-create (or crashed there, or garbage): grant the
            // grace TTL so a winner that has created but not yet written is
            // not instantly reclaimed out from under its content write
            Some(LeaseInfo(CorruptOwner, modTime, CorruptGraceMs))
        }
      }
    } catch {
      // vanished between exists/open (released under us): report no lease
      case _: java.io.FileNotFoundException => None
    }

  /** The current lease, if one exists. `acquiredAtMs` reflects the last
    * heartbeat (file modification time), not only the create moment. */
  def read(fs: FileSystem, root: Path): Option[LeaseInfo] =
    readAt(fs, leasePath(root))

  private def writeLeaseFile(fs: FileSystem, p: Path, info: LeaseInfo,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(s"${info.owner}\n${info.acquiredAtMs}\n${info.ttlMs}\n"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /**
   * Heartbeat: push the held lease's expiry forward. Primary path is an
   * atomic modification-time touch; a filesystem that refuses `setTimes`
   * (IOException or UnsupportedOperationException alike) falls back to
   * rewriting the content in place — but only after re-confirming the
   * lease is still ours AND not yet expired, so a holder that stalled past
   * its TTL never clobbers a reclaimer that legitimately took over.
   * Returns false — and logs — when the lease could not be renewed or was
   * lost; the operation itself is not killed (it may be mid-commit, and
   * stopping it there is worse than racing — the log line is the
   * operator's signal).
   */
  def renew(fs: FileSystem, root: Path, owner: String,
      nowMs: () => Long = () => System.currentTimeMillis()): Boolean = {
    val p = leasePath(root)
    read(fs, root) match {
      case Some(l) if l.owner == owner =>
        try { fs.setTimes(p, nowMs(), -1); true }
        catch {
          case NonFatal(_) =>
            read(fs, root) match {
              case Some(l2) if l2.owner == owner && nowMs() <= l2.expiresAtMs =>
                try { writeLeaseFile(fs, p, LeaseInfo(owner, nowMs(), l2.ttlMs),
                  overwrite = true); true }
                catch {
                  case NonFatal(e) =>
                    log.warn(s"writer-lease renewal failed for $root (owner $owner): $e")
                    false
                }
              case other =>
                log.warn(s"writer lease for $root lost before renewal: owner $owner, " +
                  s"current ${other.map(_.owner).getOrElse("<none>")}")
                false
            }
        }
      case other =>
        log.warn(s"writer-lease renewal skipped for $root: owner $owner no longer " +
          s"holds it (current: ${other.map(_.owner).getOrElse("<none>")})")
        false
    }
  }

  /**
   * Acquire the table's writer lease or throw [[HeldByOtherWriterException]].
   * An expired (or corrupt) lease is reclaimed by identity-checked
   * delete-and-recreate (see the object scaladoc for the exact guarantees);
   * the loser of any straight acquisition race fails on the atomic
   * create-no-overwrite.
   */
  def acquire(
      fs: FileSystem,
      root: Path,
      owner: String = defaultOwner(),
      ttlMs: Long = DefaultTtlMs,
      nowMs: () => Long = () => System.currentTimeMillis(),
      arbiter: LeaseArbiter = null): LeaseInfo = {
    val p = leasePath(root)
    val arb = Option(arbiter).getOrElse(LeaseArbiter.forFileSystem(fs))
    def tryCreate(): Option[LeaseInfo] = {
      val info = LeaseInfo(owner, nowMs(), ttlMs)
      // The store decides the winner ([[LeaseArbiter]]); the winner then
      // writes the content into its own empty placeholder, protected from
      // instant reclaim by the corrupt-lease grace TTL.
      if (!arb.createIfAbsent(fs, p)) None
      // Only write the content while the grace TTL provably still covers
      // our empty file: a winner stalled past half the grace window may
      // already have been reclaimed, and a blind overwrite would clobber
      // the reclaimer's valid lease. Abstaining loses the acquisition —
      // and while the stall is still INSIDE the grace window the empty
      // file is provably still ours (reclaim needs the full window), so
      // it can be deleted to spare the next acquirer the wait; past the
      // window it may be someone else's and is left alone.
      else if (nowMs() - info.acquiredAtMs > CorruptGraceMs / 2) {
        if (nowMs() - info.acquiredAtMs < CorruptGraceMs) fs.delete(p, false)
        None
      }
      else {
        try { writeLeaseFile(fs, p, info, overwrite = true); Some(info) }
        catch { case _: java.io.IOException => fs.delete(p, false); None }
      }
    }
    // bounded retry: each pass either creates, throws on a live holder, or
    // clears a stale lease; repeated create failures WITHOUT a readable
    // lease indicate an unwritable root, reported as such below
    var attempt = 0
    while (attempt < 3) {
      attempt += 1
      tryCreate() match {
        case Some(info) => return info
        case None =>
          readAt(fs, p) match {
            case None =>
              // released (or reclaimed away) between our create and read —
              // loop and race the create again
              ()
            case Some(l) if nowMs() <= l.expiresAtMs =>
              throw new HeldByOtherWriterException(
                s"table $root is being written by ${l.owner} " +
                  s"(lease expires ${java.time.Instant.ofEpochMilli(l.expiresAtMs)}); " +
                  "concurrent writers would corrupt the staged rewrite — retry after " +
                  "the lease clears, or breakLease() if the holder is known dead")
            case Some(stale) =>
              // identity-checked reclaim: delete only if the file is still
              // the very lease we judged expired (a live holder's heartbeat
              // or another reclaimer's fresh create changes the identity);
              // the delete itself goes through the arbiter, so a
              // conditional-write backend can make recheck+delete atomic
              val recheck = readAt(fs, p)
              if (recheck.exists(r => r.owner == stale.owner &&
                  r.acquiredAtMs == stale.acquiredAtMs && nowMs() > r.expiresAtMs))
                arb.deleteIfMatches(fs, p, stale)
              // loop: the exclusive create decides the reclaim winner
          }
      }
    }
    throw new HeldByOtherWriterException(
      s"could not acquire the writer lease at $p after $attempt attempts — " +
        "either heavy lease contention, or the table root is not writable " +
        "by this process (the exclusive create keeps failing with no " +
        "readable lease present)")
  }

  /** Release the lease if this owner still holds it. A lease someone else
    * reclaimed after our TTL lapsed is left alone — deleting it would evict
    * the live writer that legitimately took over. */
  def release(fs: FileSystem, root: Path, owner: String): Unit =
    read(fs, root) match {
      case Some(l) if l.owner == owner => fs.delete(leasePath(root), false)
      case _ => ()
    }

  /** Operator override: drop whatever lease exists (use only after
    * confirming the holding writer is dead). */
  def breakLease(fs: FileSystem, root: Path): Unit =
    fs.delete(leasePath(root), false)

  /** Run `body` holding the table's writer lease; always released on exit.
    * A daemon heartbeat renews the lease every ttl/3, so an operation that
    * outlives the TTL (a large compaction) keeps its exclusion as long as
    * the process is alive and the filesystem honours some renewal path —
    * a failed or lost renewal is logged by [[renew]]. */
  def withLease[A](
      fs: FileSystem,
      root: Path,
      ttlMs: Long = DefaultTtlMs,
      arbiter: LeaseArbiter = null)(body: => A): A = {
    val info = acquire(fs, root, ttlMs = ttlMs, arbiter = arbiter)
    val hb = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(50L, ttlMs / 3))
          try renew(fs, root, info.owner)
          catch { case NonFatal(e) =>
            log.warn(s"writer-lease heartbeat error for $root: $e") }
        }
      } catch { case _: InterruptedException => () }
    }, "graft-writer-lease-heartbeat")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hb.interrupt()
      hb.join(1000)
      release(fs, root, info.owner)
    }
  }
}
