package graft.sources

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}

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
 * Mechanics: acquisition is one exclusive create of the lease file
 * (`O_CREAT|O_EXCL` through `java.nio` on `file:`, `create(overwrite =
 * false)` elsewhere, which is atomic on HDFS) whose stream writes owner
 * id, acquisition time and TTL; a re-read then confirms the winner still
 * holds it. Expiry is judged on the file's MODIFICATION time so [[renew]]
 * can extend a held lease with an atomic metadata touch. A second
 * writer's create fails and throws
 * [[WriterLease.HeldByOtherWriterException]] naming the current holder. A
 * writer that crashes without releasing leaves its lease behind; once the
 * TTL passes (or the operator calls [[breakLease]] after confirming the
 * holder is dead) the next acquirer reclaims it: re-read the lease,
 * confirm it is still the SAME stale lease (owner + timestamp identity),
 * delete, and race the exclusive create. Every other operation goes to
 * the raw filesystem under a checksummed one, so a lease has no `.crc`
 * sidecar for a concurrent reader to find half-written.
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
 * heartbeat detects and logs the loss. On object stores without atomic
 * create the lease is advisory — the same caveat the commit itself
 * carries ([[Maintenance]] scaladoc) — so serialize rewrites there
 * outside the engine.
 */
object WriterLease {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Lease file name, inside the table root; underscore-prefixed so Spark
    * listings never see it as data. */
  val LeaseName = "_writer_lease"

  /** Default lease TTL: generous for a partition rewrite or compaction
    * sweep; a crashed writer blocks the table for at most this long. A
    * LIVE writer is not bounded by it — [[withLease]] heartbeats. */
  val DefaultTtlMs: Long = 15 * 60 * 1000L

  /** TTL assigned to an unparseable lease file. A reader can catch the
    * instant between a winner's exclusive create and its first write (or
    * mid-rewrite in [[renew]]'s fallback) — a zero TTL would make that
    * fresh-but-empty lease instantly reclaimable, re-opening the very race
    * the exclusive create arbitrates. The grace period lets the winner
    * finish writing; a writer that truly crashed mid-create blocks the
    * table for only this long. */
  val CorruptGraceMs: Long = 30 * 1000L

  /** Owner reported for an unparseable/empty lease file (a writer crashed
    * between its exclusive create and its write). */
  private val CorruptOwner = "corrupt-lease"

  final case class LeaseInfo(owner: String, acquiredAtMs: Long, ttlMs: Long) {
    def expiresAtMs: Long = acquiredAtMs + ttlMs
  }

  final class HeldByOtherWriterException(message: String)
    extends IllegalStateException(message)

  private def leasePath(root: Path) = new Path(root, LeaseName)

  /** The filesystem the lease file lives on: the raw one under a
    * checksummed filesystem, which would otherwise write (and make every
    * read verify) a `._writer_lease.crc` sidecar as a second file. */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case other => other
  }

  /** Process-unique default owner id: host + pid + nonce. */
  def defaultOwner(): String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"$host/pid-${ProcessHandle.current.pid}/${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** Digit strings that fit a Long without overflow. */
  private def parseableLong(s: String): Boolean =
    s.nonEmpty && s.length <= 18 && s.forall(_.isDigit)

  /** The lease as written (owner, acquisition time, TTL) and the file's
    * modification time; None when there is no lease file. */
  private def readFile(fs: FileSystem, p: Path): Option[(LeaseInfo, Long)] =
    try {
      val modTime = fs.getFileStatus(p).getModificationTime
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
        finally in.close()
      val written = text.split('\n') match {
        case Array(owner, ts, ttl, _*) if parseableLong(ts) && parseableLong(ttl) =>
          LeaseInfo(owner, ts.toLong, ttl.toLong)
        case _ =>
          // a writer mid-create (or crashed there, or garbage): grant the
          // grace TTL so a winner that has created but not yet written is
          // not instantly reclaimed out from under its write
          LeaseInfo(CorruptOwner, modTime, CorruptGraceMs)
      }
      Some((written, modTime))
    } catch {
      // absent, or released between stat and open
      case _: FileNotFoundException => None
    }

  /** The current lease, if one exists. `acquiredAtMs` reflects the last
    * heartbeat (file modification time), not only the create moment. */
  def read(fs: FileSystem, root: Path): Option[LeaseInfo] =
    readFile(raw(fs), leasePath(root)).map { case (l, modTime) =>
      l.copy(acquiredAtMs = math.max(l.acquiredAtMs, modTime)) }

  private def writeTo(out: OutputStream, info: LeaseInfo): Unit =
    try out.write(s"${info.owner}\n${info.acquiredAtMs}\n${info.ttlMs}\n"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()

  /** Create the lease file iff nothing exists at `p`, decided by the
    * store: Hadoop's local `create(overwrite = false)` is
    * exists-then-create, not atomic, so `file:` takes `O_EXCL` through
    * `java.nio`. None when the file exists or cannot be created. */
  private def createExclusive(fs: FileSystem, p: Path): Option[OutputStream] =
    try Some(
      if (fs.getUri.getScheme == "file") {
        val local = Paths.get(fs.makeQualified(p).toUri)
        local.getParent.toFile.mkdirs()
        Files.newOutputStream(local, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
      } else raw(fs).create(p, false))
    catch { case _: IOException => None }

  /** Reclaim step: delete the lease under `root` only if it is still the
    * expired lease `stale` the caller observed (owner + acquisition-time
    * identity, as [[read]] reports it). A live holder's heartbeat or
    * another writer's fresh create changes the identity. The recheck and
    * the delete are two operations: see the object scaladoc's limits. */
  private[graft] def reclaim(fs: FileSystem, root: Path, stale: LeaseInfo,
      nowMs: Long): Boolean =
    read(fs, root).exists(r => r.owner == stale.owner &&
      r.acquiredAtMs == stale.acquiredAtMs && nowMs > r.expiresAtMs) &&
      raw(fs).delete(leasePath(root), false)

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
    val rfs = raw(fs)
    read(fs, root) match {
      case Some(l) if l.owner == owner =>
        try { rfs.setTimes(p, nowMs(), -1); true }
        catch {
          case NonFatal(_) =>
            read(fs, root) match {
              case Some(l2) if l2.owner == owner && nowMs() <= l2.expiresAtMs =>
                try { writeTo(rfs.create(p, true), LeaseInfo(owner, nowMs(), l2.ttlMs)); true }
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
   * the loser of any straight acquisition race fails on the exclusive
   * create.
   */
  def acquire(
      fs: FileSystem,
      root: Path,
      owner: String = defaultOwner(),
      ttlMs: Long = DefaultTtlMs,
      nowMs: () => Long = () => System.currentTimeMillis()): LeaseInfo = {
    val p = leasePath(root)
    // One create per attempt, written through its own stream. A winner
    // that stalled past CorruptGraceMs before writing may have been
    // reclaimed meanwhile, so the re-read confirms the file still holds
    // exactly what this attempt wrote; a failed write propagates and
    // leaves an unparseable file, which the grace TTL covers.
    def tryCreate(): Option[LeaseInfo] = {
      val info = LeaseInfo(owner, nowMs(), ttlMs)
      createExclusive(fs, p).flatMap { out =>
        writeTo(out, info)
        readFile(raw(fs), p).collect { case (written, _) if written == info => info }
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
          read(fs, root) match {
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
              reclaim(fs, root, stale, nowMs())
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
      case Some(l) if l.owner == owner => raw(fs).delete(leasePath(root), false)
      case _ => ()
    }

  /** Operator override: drop whatever lease exists (use only after
    * confirming the holding writer is dead). */
  def breakLease(fs: FileSystem, root: Path): Unit =
    raw(fs).delete(leasePath(root), false)

  /** Run `body` holding the table's writer lease; always released on exit.
    * A daemon heartbeat renews the lease every ttl/3, so an operation that
    * outlives the TTL (a large compaction) keeps its exclusion as long as
    * the process is alive and the filesystem honours some renewal path —
    * a failed or lost renewal is logged by [[renew]]. */
  def withLease[A](fs: FileSystem, root: Path, ttlMs: Long = DefaultTtlMs)(body: => A): A = {
    val info = acquire(fs, root, ttlMs = ttlMs)
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
