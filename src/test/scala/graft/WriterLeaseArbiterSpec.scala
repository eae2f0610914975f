package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sources.WriterLease
import graft.sources.WriterLease.LeaseArbiter

/**
 * The pluggable lease arbitration backend: a mock conditional-write store
 * (atomic "create iff absent" decided under one lock — the filesystem
 * model of an If-None-Match PUT) drives the full acquire/renew/reclaim
 * lifecycle, proving the lease logic needs nothing from the filesystem
 * beyond what the arbiter contract provides.
 */
class WriterLeaseArbiterSpec extends SparkSpec {

  /** Conditional-write mock: the absence check and the create commit
    * atomically (one global lock = the store's strong metadata layer);
    * every decision is counted so tests can assert the mock — not the
    * filesystem default — did the arbitration. */
  private class ConditionalStore extends LeaseArbiter {
    val decisions = new AtomicInteger(0)
    val wins = new AtomicInteger(0)
    val conditionalDeletes = new AtomicInteger(0)
    override def createIfAbsent(fs: FileSystem, p: Path): Boolean =
      synchronized {
        decisions.incrementAndGet()
        if (fs.exists(p)) false
        else { fs.create(p, true).close(); wins.incrementAndGet(); true }
      }
    // atomic compare-and-delete (the If-Match form): the FULL identity
    // check (owner + effective acquisition time, i.e. max(content ts,
    // modification time) — exactly WriterLease.read's identity) and the
    // delete commit under the same lock, closing the
    // reclaimer-vs-reclaimer window the plain-FS default carries. Owner
    // alone would be wrong: a writer with a stable owner id that crashed,
    // restarted, and re-acquired must not be evicted by a reclaimer
    // holding a stale observation of its PREVIOUS lease. The contract's
    // corrupt-placeholder sentinel (no content to match) matches on
    // still-unparseable + same modification identity.
    override def deleteIfMatches(fs: FileSystem, p: Path,
        expected: WriterLease.LeaseInfo): Boolean =
      synchronized {
        conditionalDeletes.incrementAndGet()
        try {
          val mod = fs.getFileStatus(p).getModificationTime
          val in = fs.open(p)
          val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
            finally in.close()
          val identity = lines match {
            case owner :: ts :: _ if ts.nonEmpty && ts.forall(_.isDigit) =>
              (owner, math.max(ts.toLong, mod))
            case _ => (WriterLease.CorruptOwner, mod)
          }
          if (identity == ((expected.owner, expected.acquiredAtMs)))
            fs.delete(p, false)
          else false
        } catch { case _: java.io.IOException => false }
      }
  }

  private def fixture() = {
    val tmp = tempDir("graft_arb").toString
    val base = new Path(tmp)
    (base.getFileSystem(spark.sessionState.newHadoopConf()), base)
  }

  test("acquire/renew/release run entirely through a conditional-write arbiter") {
    val (fs, base) = fixture()
    val store = new ConditionalStore
    val got = WriterLease.acquire(fs, base, owner = "writer-A", arbiter = store)
    assert(store.wins.get() == 1, "the mock must have decided the create")
    // a second writer loses at the arbiter, not at a local-FS race
    val e = intercept[WriterLease.HeldByOtherWriterException] {
      WriterLease.acquire(fs, base, owner = "writer-B", arbiter = store)
    }
    assert(e.getMessage.contains("writer-A"))
    assert(store.decisions.get() >= 2)
    assert(WriterLease.renew(fs, base, got.owner))
    WriterLease.release(fs, base, got.owner)
    assert(WriterLease.read(fs, base).isEmpty)
    // and the slot is reusable through the same backend
    val again = WriterLease.acquire(fs, base, owner = "writer-B", arbiter = store)
    assert(again.owner == "writer-B" && store.wins.get() == 2)
    WriterLease.release(fs, base, again.owner)
  }

  test("an expired lease is reclaimed through the arbiter's exclusive create") {
    val (fs, base) = fixture()
    val store = new ConditionalStore
    WriterLease.acquire(fs, base, owner = "crashed-writer", ttlMs = 0L, arbiter = store)
    Thread.sleep(5) // strictly past the 0 ms TTL
    val got = WriterLease.acquire(fs, base, owner = "reclaimer", arbiter = store)
    assert(got.owner == "reclaimer")
    // reclaim = the arbiter's compare-and-delete of the identity-checked
    // stale lease, then the arbiter decides the re-create race
    assert(store.wins.get() == 2, s"expected both creates arbitrated: ${store.wins}")
    assert(store.conditionalDeletes.get() >= 1,
      "the stale-lease delete must route through the arbiter")
    WriterLease.release(fs, base, got.owner)
  }

  test("a crashed writer's empty placeholder is reclaimable through a conditional arbiter") {
    val (fs, base) = fixture()
    val store = new ConditionalStore
    val p = new Path(base, WriterLease.LeaseName)
    // the crash window: exclusive create happened, content write did not
    fs.create(p, true).close()
    // ...and the grace TTL has long passed
    fs.setTimes(p, System.currentTimeMillis() - 2 * WriterLease.CorruptGraceMs, -1)
    val got = WriterLease.acquire(fs, base, owner = "writer-C", arbiter = store)
    assert(got.owner == "writer-C",
      "the corrupt-placeholder sentinel must be reclaimable, not a lockout")
    assert(store.conditionalDeletes.get() >= 1)
    WriterLease.release(fs, base, got.owner)
  }

  test("fileLock backend: full lifecycle — acquire, deny, renew, release, reclaim") {
    val (fs, base) = fixture()
    val arb = LeaseArbiter.fileLock
    val got = WriterLease.acquire(fs, base, owner = "writer-A", arbiter = arb)
    val e = intercept[WriterLease.HeldByOtherWriterException] {
      WriterLease.acquire(fs, base, owner = "writer-B", arbiter = arb)
    }
    assert(e.getMessage.contains("writer-A"))
    assert(WriterLease.renew(fs, base, got.owner))
    WriterLease.release(fs, base, got.owner)
    // expired-lease reclaim routes through the locked compare-and-delete
    WriterLease.acquire(fs, base, owner = "crashed", ttlMs = 0L, arbiter = arb)
    Thread.sleep(5)
    val re = WriterLease.acquire(fs, base, owner = "reclaimer", arbiter = arb)
    assert(re.owner == "reclaimer")
    WriterLease.release(fs, base, re.owner)
    // the sidecar must stay invisible to data listings (underscore prefix)
    val children = fs.listStatus(base).map(_.getPath.getName).toSet
    assert(children.forall(_.startsWith("_")), children.toString)
  }

  test("fileLock compare-and-delete refuses a stale identity observation") {
    val (fs, base) = fixture()
    val arb = LeaseArbiter.fileLock
    val p = new Path(base, WriterLease.LeaseName)
    val first = WriterLease.acquire(fs, base, owner = "writer-A", arbiter = arb)
    val staleObservation = WriterLease.read(fs, base).get
    // the holder releases and a NEW writer takes the slot...
    WriterLease.release(fs, base, first.owner)
    Thread.sleep(5) // a fresh acquisition gets a distinct timestamp identity
    val second = WriterLease.acquire(fs, base, owner = "writer-B", arbiter = arb)
    // ...so a reclaimer still holding the OLD observation must not evict it
    assert(!arb.deleteIfMatches(fs, p, staleObservation),
      "a changed identity must refuse the conditional delete")
    assert(WriterLease.read(fs, base).exists(_.owner == "writer-B"),
      "writer-B's live lease must survive the stale delete attempt")
    // while the CURRENT identity does delete
    val current = WriterLease.read(fs, base).get
    assert(arb.deleteIfMatches(fs, p, current))
    assert(WriterLease.read(fs, base).isEmpty)
    WriterLease.release(fs, base, second.owner) // no-op; slot already clear
  }

  test("racing writers through the fileLock backend never overlap") {
    val (fs, base) = fixture()
    val inCritical = new AtomicBoolean(false)
    val overlaps = new AtomicInteger(0)
    val completed = new AtomicInteger(0)
    val threads = (1 to 6).map { _ =>
      new Thread(() => {
        var done = false
        while (!done) {
          try {
            WriterLease.withLease(fs, base, arbiter = LeaseArbiter.fileLock) {
              if (!inCritical.compareAndSet(false, true)) overlaps.incrementAndGet()
              Thread.sleep(20)
              inCritical.set(false)
            }
            completed.incrementAndGet(); done = true
          } catch {
            case _: WriterLease.HeldByOtherWriterException => Thread.sleep(10)
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(completed.get() == 6, s"all writers must eventually run: ${completed.get()}")
    assert(overlaps.get() == 0, s"overlapping critical sections: ${overlaps.get()}")
  }

  test("racing writers through the conditional backend never overlap") {
    val (fs, base) = fixture()
    val store = new ConditionalStore
    val inCritical = new AtomicBoolean(false)
    val overlaps = new AtomicInteger(0)
    val completed = new AtomicInteger(0)
    val threads = (1 to 6).map { _ =>
      new Thread(() => {
        var done = false
        while (!done) {
          try {
            WriterLease.withLease(fs, base, arbiter = store) {
              if (!inCritical.compareAndSet(false, true)) overlaps.incrementAndGet()
              Thread.sleep(20)
              inCritical.set(false)
            }
            completed.incrementAndGet(); done = true
          } catch {
            case _: WriterLease.HeldByOtherWriterException => Thread.sleep(10)
          }
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(completed.get() == 6, s"all writers must eventually run: ${completed.get()}")
    assert(overlaps.get() == 0, s"overlapping critical sections: ${overlaps.get()}")
  }
}
