package graft

import graft.sources.{LedgerTables, Maintenance}

class MaintenanceSpec extends SparkSpec {

  test("compaction merges fragmented partitions without changing the data") {
    val rows = (0 until 120).map { i =>
      ((i + 1).toLong, "p", "i",
        f"2024-01-${1 + i % 3}%02d 10:00:00", f"2024-01-${1 + i % 3}%02d 11:00:00",
        "completed")
    }
    val tmp = tempDir("graft_compact").toString
    // fragment: 8 files per day partition
    LedgerTables.write(ledgerOf(rows: _*).repartition(8), tmp)
    def fileCount(day: String) =
      new java.io.File(s"$tmp/query_window_start_day=2024-01-$day")
        .listFiles().count(_.getName.endsWith(".parquet"))
    assert(fileCount("01") > 1, "fixture should be fragmented")
    val before = LedgerTables.read(spark, tmp).collect().map(_.toString).sorted.toSeq
    val results = Maintenance.compact(spark, tmp, targetBytes = 1L << 30)
    assert(results.nonEmpty)
    results.foreach { r => assert(r.filesAfter == 1, r.toString) }
    assert(fileCount("01") == 1 && fileCount("02") == 1 && fileCount("03") == 1)
    val after = LedgerTables.read(spark, tmp).collect().map(_.toString).sorted.toSeq
    assert(after == before, "compaction must not change data")
    // idempotent: nothing left to compact
    assert(Maintenance.compact(spark, tmp, targetBytes = 1L << 30).isEmpty)
  }

  test("compaction recovers a crashed swap from the manifest and sweeps uncommitted staging") {
    import org.apache.hadoop.fs.Path
    val rows = (0 until 40).map { i =>
      ((i + 1).toLong, "p", "i", "2024-01-05 10:00:00", "2024-01-05 11:00:00", "completed")
    }
    val tmp = tempDir("graft_crash").toString
    LedgerTables.write(ledgerOf(rows: _*).repartition(2), tmp)
    val before = LedgerTables.read(spark, tmp).collect().map(_.toString).sorted.toSeq
    val dir = new Path(s"$tmp/query_window_start_day=2024-01-05")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val parquets = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(parquets.length == 2)
    // Simulate a crash AFTER the manifest commit: file A sits in the
    // staging dir beside the table (pretend it is the compacted output) and
    // the root manifest names that dir and retires A — the deletes and the
    // move-in never ran.
    val a = parquets.head
    val staging = new Path(s"${tmp}_staging_0badf00d")
    val stagedDir = new Path(staging, dir.getName)
    fs.mkdirs(stagedDir)
    assert(fs.rename(a, new Path(stagedDir, a.getName)))
    val out = fs.create(new Path(tmp, Maintenance.ManifestName), true)
    out.write(s"${staging.getName}\n${dir.getName}/${a.getName}".getBytes("UTF-8")); out.close()
    // Recovery replays: delete the (already-moved) original, move A in.
    Maintenance.compact(spark, tmp, targetBytes = 1L << 30)
    val after = LedgerTables.read(spark, tmp).collect().map(_.toString).sorted.toSeq
    assert(after == before, "manifest recovery must restore the exact data")
    val names = fs.listStatus(dir).map(_.getPath.getName)
    assert(!names.exists(_.startsWith(".compact_")), names.mkString(","))
    assert(!fs.exists(staging) && !fs.exists(new Path(tmp, Maintenance.ManifestName)))
    // Simulate a crash BEFORE the manifest commit: a staged file, no manifest.
    val b = fs.listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val stray = new Path(stagedDir, "stray.parquet")
    val in = fs.open(b); val cp = fs.create(stray, true)
    org.apache.hadoop.io.IOUtils.copyBytes(in, cp, 4096, true)
    Maintenance.compact(spark, tmp, targetBytes = 1L << 30)
    assert(!fs.exists(staging), "an uncommitted staging dir is removed")
    val after2 = LedgerTables.read(spark, tmp).collect().map(_.toString).sorted.toSeq
    assert(after2 == before, "uncommitted hidden files must be swept, not surfaced")
  }

  test("writer lease: a second writer fails loudly; a crashed lease is reclaimed after its TTL") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.WriterLease
    val rows = (0 until 20).map { i =>
      ((i + 1).toLong, "p", "i", "2024-02-01 10:00:00", "2024-02-01 11:00:00",
        if (i % 2 == 0) "pending" else "completed")
    }
    val tmp = tempDir("graft_lease").toString
    LedgerTables.write(ledgerOf(rows: _*).repartition(4), tmp)
    val base = new Path(tmp)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    // the lease files beside `_writer_lease` itself (a `.crc`, an `.arb`)
    def leaseSidecars() = new java.io.File(tmp).list().toSeq
      .filter(n => n.contains(WriterLease.LeaseName) && n != WriterLease.LeaseName)
    // writer A holds the lease: compaction AND DML both refuse, data untouched
    val held = WriterLease.acquire(fs, base, owner = "writer-A")
    assert(leaseSidecars().isEmpty, "the lease is one file, with no checksum sidecar")
    assert(WriterLease.renew(fs, base, held.owner))
    val e1 = intercept[WriterLease.HeldByOtherWriterException] {
      Maintenance.compact(spark, tmp, targetBytes = 1L << 30)
    }
    assert(e1.getMessage.contains("writer-A"))
    val e2 = intercept[WriterLease.HeldByOtherWriterException] {
      LedgerTables.updateWhere(spark, tmp,
        col("pipeline_status") === "pending",
        Seq("pipeline_status" -> lit("completed")))
    }
    assert(e2.getMessage.contains("writer-A"))
    assert(LedgerTables.read(spark, tmp)
      .filter(col("pipeline_status") === "pending").count() == 10)
    WriterLease.release(fs, base, held.owner)
    assert(WriterLease.read(fs, base).isEmpty)
    // once another owner holds the lease, the old owner's renew fails
    val other = WriterLease.acquire(fs, base, owner = "writer-B")
    assert(!WriterLease.renew(fs, base, held.owner))
    WriterLease.release(fs, base, other.owner)
    // crashed writer: lease left behind, TTL already lapsed — the next DML
    // reclaims it, runs, and releases
    WriterLease.acquire(fs, base, owner = "crashed-writer", ttlMs = 0L)
    Thread.sleep(5) // strictly past the 0 ms TTL
    val updated = LedgerTables.updateWhere(spark, tmp,
      col("pipeline_status") === "pending",
      Seq("pipeline_status" -> lit("completed")))
    assert(updated == 10L)
    assert(WriterLease.read(fs, base).isEmpty, "lease must be released after the rewrite")
    // and compaction acquires/releases cleanly afterwards
    Maintenance.compact(spark, tmp, targetBytes = 1L << 30)
    assert(WriterLease.read(fs, base).isEmpty)
    // a writer crashed between its create and its write: the empty lease
    // blocks for CorruptGraceMs, then is reclaimed
    val leaseFile = new Path(base, WriterLease.LeaseName)
    assert(new java.io.File(tmp, WriterLease.LeaseName).createNewFile())
    intercept[WriterLease.HeldByOtherWriterException] {
      WriterLease.acquire(fs, base, owner = "writer-C")
    }
    fs.setTimes(leaseFile, System.currentTimeMillis() - 2 * WriterLease.CorruptGraceMs, -1)
    val reclaimed = WriterLease.acquire(fs, base, owner = "writer-C")
    assert(reclaimed.owner == "writer-C")
    WriterLease.release(fs, base, reclaimed.owner)
    assert(WriterLease.read(fs, base).isEmpty)
    assert(leaseSidecars().isEmpty, leaseSidecars().mkString(","))
  }

  test("writer lease: a reclaim holding a stale observation never evicts a fresh lease") {
    import org.apache.hadoop.fs.Path
    import graft.sources.WriterLease
    val base = new Path(tempDir("graft_reclaim").toString)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    def now() = System.currentTimeMillis()
    // a reclaimer observes writer A's expired lease...
    WriterLease.acquire(fs, base, owner = "writer-A", ttlMs = 0L)
    Thread.sleep(5)
    val staleA = WriterLease.read(fs, base).get
    // ...but writer B reclaims it first and holds a fresh lease
    val b = WriterLease.acquire(fs, base, owner = "writer-B")
    assert(!WriterLease.reclaim(fs, base, staleA, now()))
    assert(WriterLease.read(fs, base).exists(_.owner == "writer-B"))
    WriterLease.release(fs, base, b.owner)
    // the same owner id re-acquired after a restart is a different lease
    WriterLease.acquire(fs, base, owner = "writer-A", ttlMs = 0L)
    Thread.sleep(5)
    val first = WriterLease.read(fs, base).get
    WriterLease.breakLease(fs, base)
    WriterLease.acquire(fs, base, owner = "writer-A", ttlMs = 0L)
    Thread.sleep(5)
    assert(!WriterLease.reclaim(fs, base, first, now()))
    // while the current observation of an expired lease is reclaimed
    val current = WriterLease.read(fs, base).get
    assert(current.acquiredAtMs != first.acquiredAtMs)
    assert(WriterLease.reclaim(fs, base, current, now()))
    assert(WriterLease.read(fs, base).isEmpty)
  }

  test("DML replays a crashed compaction before reading — no permanent row loss") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit}
    val rows = (0 until 30).map { i =>
      ((i + 1).toLong, "p", "i", "2024-01-07 10:00:00", "2024-01-07 11:00:00", "pending")
    }
    val tmp = tempDir("graft_dmlrec").toString
    LedgerTables.write(ledgerOf(rows: _*).repartition(3), tmp)
    val dir = new Path(s"$tmp/query_window_start_day=2024-01-07")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    def parquets() = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val snapshot = parquets()
    assert(snapshot.length == 3)
    // Build a real compacted file holding the partition's FULL data in a
    // staging dir beside the table, then simulate a crash mid-step-3:
    // manifest committed, ONE snapshot file already deleted, compacted file
    // not moved in yet. The visible view now MISSES that file's rows —
    // exactly what a DML must not read.
    val stage = new Path(s"${tmp}_staging_0badf00d")
    spark.read.parquet(dir.toString).coalesce(1).write.mode("overwrite")
      .parquet(new Path(stage, dir.getName).toString)
    val out = fs.create(new Path(tmp, Maintenance.ManifestName), true)
    out.write((stage.getName +: snapshot.map(p => s"${dir.getName}/${p.getName}").toSeq)
      .mkString("\n").getBytes("UTF-8")); out.close()
    fs.delete(snapshot.head, false)
    assert(LedgerTables.read(spark, tmp).count() < 30,
      "fixture must visibly miss rows pre-recovery")
    // The DML must replay the manifest under its lease BEFORE reading —
    // all 30 rows present and updated afterwards, recovery state consumed.
    val n = LedgerTables.updateWhere(spark, tmp,
      col("pipeline_status") === "pending",
      Seq("pipeline_status" -> lit("completed")))
    assert(n == 30L, s"update must see the recovered partition: $n")
    val after = LedgerTables.read(spark, tmp)
    assert(after.count() == 30)
    assert(after.filter(col("pipeline_status") === "completed").count() == 30)
    val names = fs.listStatus(dir).map(_.getPath.getName)
    assert(!names.exists(_.startsWith(".compact_")), names.mkString(","))
  }

  test("writer lease: heartbeat keeps a long operation exclusive past its TTL") {
    import org.apache.hadoop.fs.Path
    import graft.sources.WriterLease
    val tmp = tempDir("graft_hb").toString
    val base = new Path(tmp)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    WriterLease.withLease(fs, base, ttlMs = 6000L) {
      // sleep well past the TTL: the heartbeat (every ttl/3 = 2 s) must
      // keep the lease fresh, so a second writer still fails. The lease
      // stays live as long as SOME heartbeat lands within each 6 s window,
      // so only a scheduling/GC pause longer than ~4 s can flake this —
      // far beyond anything observed in CI (the old 2 s TTL tolerated
      // only ~1.3 s and was a real flake risk).
      Thread.sleep(9000L)
      val e = intercept[WriterLease.HeldByOtherWriterException] {
        WriterLease.acquire(fs, base, owner = "writer-B", ttlMs = 2000L)
      }
      assert(e.getMessage.contains("being written"), e.getMessage)
    }
    // released on exit: the next writer acquires cleanly
    assert(WriterLease.read(fs, base).isEmpty)
    val got = WriterLease.acquire(fs, base, owner = "writer-B")
    WriterLease.release(fs, base, got.owner)
  }

  test("writer lease: racing threads never overlap in the critical section") {
    import org.apache.hadoop.fs.Path
    import graft.sources.WriterLease
    val tmp = tempDir("graft_race").toString
    val base = new Path(tmp)
    val inCritical = new java.util.concurrent.atomic.AtomicBoolean(false)
    val overlaps = new java.util.concurrent.atomic.AtomicInteger(0)
    val completed = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 6).map { i =>
      new Thread(() => {
        // each thread needs its own FileSystem? No — Hadoop FS is
        // thread-safe; what matters is each acquire uses a distinct owner.
        val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
        var done = false
        var tries = 0
        while (!done && tries < 2000) {
          tries += 1
          try {
            WriterLease.withLease(fs, base, ttlMs = 30000L) {
              if (inCritical.getAndSet(true)) overlaps.incrementAndGet()
              Thread.sleep(2)
              inCritical.set(false)
            }
            completed.incrementAndGet()
            done = true
          } catch {
            case _: WriterLease.HeldByOtherWriterException => Thread.sleep(1)
          }
        }
      }, s"lease-racer-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(overlaps.get() == 0, s"${overlaps.get()} critical-section overlaps")
    assert(completed.get() == 6, s"only ${completed.get()} of 6 threads ever acquired")
    assert(WriterLease.read(
      base.getFileSystem(spark.sessionState.newHadoopConf()), base).isEmpty)
  }

  test("format guard: a directory with another format's markers is refused untouched") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    val rows = (0 until 10).map { i =>
      ((i + 1).toLong, "p", "i", "2024-03-01 10:00:00", "2024-03-01 11:00:00", "pending")
    }
    val tmp = tempDir("graft_fmt").toString
    LedgerTables.write(ledgerOf(rows: _*).repartition(4), tmp)
    val base = new Path(tmp)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new Path(base, "_delta_log"))
    val before = LedgerTables.read(spark, tmp).collect().map(_.toString).sorted.toSeq
    val e1 = intercept[IllegalArgumentException] {
      Maintenance.compact(spark, tmp, targetBytes = 1L << 30)
    }
    assert(e1.getMessage.contains("_delta_log"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      LedgerTables.deleteWhere(spark, tmp, col("record_id") <= 5)
    }
    assert(e2.getMessage.contains("_delta_log"), e2.getMessage)
    assert(LedgerTables.read(spark, tmp).collect().map(_.toString).sorted.toSeq == before,
      "a refused directory must be byte-for-byte untouched")
  }

  test("compaction and partition-rewrite DML run through the Hadoop FS on a file:/// URI") {
    import org.apache.spark.sql.functions.{col, lit}
    val rows = (0 until 60).map { i =>
      ((i + 1).toLong, "p", "i",
        f"2024-01-${1 + i % 2}%02d 10:00:00", f"2024-01-${1 + i % 2}%02d 11:00:00",
        if (i % 3 == 0) "pending" else "completed")
    }
    val local = tempDir("graft_fs").toString
    val uri = s"file://$local"
    LedgerTables.write(ledgerOf(rows: _*).repartition(6), uri)
    val results = Maintenance.compact(spark, uri, targetBytes = 1L << 30)
    assert(results.nonEmpty)
    results.foreach(r => assert(r.filesAfter == 1, r.toString))
    // partition-rewrite UPDATE/DELETE against the same URI
    val updated = LedgerTables.updateWhere(spark, uri,
      col("pipeline_status") === "pending",
      Seq("pipeline_status" -> lit("completed")))
    assert(updated == rows.count(_._6 == "pending").toLong)
    val deleted = LedgerTables.deleteWhere(spark, uri,
      col("record_id") <= 10)
    assert(deleted == 10L)
    assert(LedgerTables.read(spark, uri).count() == rows.length - 10L)
    // no staging leftovers beside the table
    val base = new org.apache.hadoop.fs.Path(uri)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val leftovers = fs.listStatus(base.getParent)
      .map(_.getPath.getName)
      .filter(n => n.startsWith(s"${base.getName}_staging_") ||
        n.startsWith(s"${base.getName}_old_"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }
}
