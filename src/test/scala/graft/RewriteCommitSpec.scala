package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimilarityOps}
import graft.sources.{LedgerTables, Maintenance, NioLocalFileSystem, WriterLease}
import graft.streaming.{CorpusStream, LedgerStream}

/** Failure-path coverage for the one rewrite commit (`Maintenance.rewrite`):
  * a fault before the manifest leaves the table as it was, a fault after it
  * is finished by the next writer, and neither touches an appender's files,
  * the writer lease or the stream's batch markers. The store compactions
  * commit through it too: what lands mid-compaction survives. */
class RewriteCommitSpec extends SparkSpec {

  /** The session's local filesystem, whose rename can be made to fail for
    * chosen paths or preceded by an injected action. */
  private class FaultyFs extends NioLocalFileSystem {
    @volatile var failWhen: (Path, Path) => Boolean = (_, _) => false
    @volatile var beforeRename: (Path, Path) => Unit = (_, _) => ()
    override def rename(src: Path, dst: Path): Boolean = {
      beforeRename(src, dst)
      if (failWhen(src, dst)) false else super.rename(src, dst)
    }
  }

  private def newFs(): FaultyFs = {
    val fs = new FaultyFs
    fs.initialize(java.net.URI.create("file:///"), spark.sessionState.newHadoopConf())
    fs
  }

  private def rowsOn(ids: Seq[Long], day: Int, status: String) = ledgerOf(ids.map { i =>
    (i, "p", "i", s"2024-01-$day 10:00:00", s"2024-01-$day 11:00:00", status)
  }: _*)

  /** 30 pending rows over the days 2024-01-15, 16 and 17. */
  private def threeDayLedger(name: String): String = {
    val path = tempDir(name).toString + "/ledger"
    LedgerTables.write((15 to 17).map(d =>
      rowsOn((0L until 30L).filter(_ % 3 == d - 15), d, "pending")).reduce(_ union _), path)
    path
  }

  private def rows(path: String): Seq[(Long, String)] =
    LedgerTables.read(spark, path).select("record_id", "pipeline_status").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1).toSeq

  private def complete(path: String, fs: FaultyFs): Long =
    LedgerTables.update(spark, path, col("pipeline_status") === "pending",
      Seq("pipeline_status" -> lit("completed")), Nil)(fs).rows

  private def stagingDirs(fs: FaultyFs, path: String): Seq[String] = {
    val base = new Path(path)
    fs.listStatus(base.getParent).map(_.getPath.getName)
      .filter(_.startsWith(s"${base.getName}_staging_")).toSeq
  }

  private def isStagedMove(src: Path): Boolean =
    src.toString.contains("_staging_") && src.getName.endsWith(".parquet")

  test("a rename failing mid-commit of a 3-day UPDATE is finished by the next UPDATE") {
    val path = threeDayLedger("graft_rc_mid")
    val fs = newFs()
    val moves = new AtomicInteger(0)
    fs.failWhen = (src, _) => isStagedMove(src) && moves.incrementAndGet() == 2
    intercept[java.io.IOException] { complete(path, fs) }
    assert(fs.exists(new Path(path, Maintenance.ManifestName)), "the commit point was passed")
    assert(rows(path).length < 30, "fixture must read partially committed before the replay")
    fs.failWhen = (_, _) => false
    // the next writer replays the manifest under its lease before it reads
    assert(complete(path, fs) == 0L)
    assert(rows(path) == (0L until 30L).map(_ -> "completed"),
      "every day holds its updated rows exactly once")
    assert(!fs.exists(new Path(path, Maintenance.ManifestName)))
    assert(stagingDirs(fs, path).isEmpty)
    (15 to 17).foreach(d =>
      assert(fs.exists(new Path(path, s"query_window_start_day=2024-01-$d"))))
  }

  test("a failure before the commit leaves the table as it was; the next writer removes the staging dir") {
    val path = threeDayLedger("graft_rc_pre")
    val before = rows(path)
    val fs = newFs()
    fs.failWhen = (_, dst) => dst.getName == Maintenance.ManifestName
    intercept[java.io.IOException] { complete(path, fs) }
    assert(rows(path) == before)
    assert(stagingDirs(fs, path).length == 1, "the uncommitted stage is left for the next writer")
    Maintenance.compact(spark, path)
    assert(stagingDirs(fs, path).isEmpty)
    assert(!fs.exists(new Path(path, Maintenance.ManifestName + ".tmp")))
    assert(rows(path) == before)
  }

  test("a file appended into an affected day between the snapshot and the commit survives") {
    val path = threeDayLedger("graft_rc_late")
    val fs = newFs()
    // the appender commits into 2024-01-15 after the rewrite read the table,
    // just before its manifest lands
    fs.beforeRename = (_, dst) =>
      if (dst.getName == Maintenance.ManifestName)
        LedgerStream.appendBatch(path)(rowsOn(Seq(100L, 101L), 15, "appended"), 0L)
    assert(complete(path, fs) == 30L)
    assert(rows(path) ==
      (0L until 30L).map(_ -> "completed") ++ Seq(100L -> "appended", 101L -> "appended"))
  }

  test("the writer lease and the stream's batch markers are untouched by every rewrite") {
    val path = tempDir("graft_rc_meta").toString + "/ledger"
    LedgerStream.appendBatch(path)(rowsOn(Seq(1L, 2L), 15, "pending"), 0L)
    LedgerStream.appendBatch(path)(rowsOn(Seq(3L, 4L), 16, "pending"), 1L)
    val fs = newFs()
    val markerDir = new Path(path, "_graft_batches")
    def markers() = fs.listStatus(markerDir)
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = markers()
    // every staged file moves in while this rewrite's own lease is held
    val owners = scala.collection.mutable.ArrayBuffer.empty[Option[String]]
    fs.beforeRename = (src, _) =>
      if (isStagedMove(src)) owners += WriterLease.read(fs, new Path(path)).map(_.owner)
    assert(complete(path, fs) == 4L)
    assert(LedgerTables.delete(spark, path, col("record_id") === 1L, Nil)(fs).rows == 1L)
    // declared partitioning other than the day layout: the whole table
    assert(LedgerTables.update(spark, path, col("record_id") >= 0L,
      Seq("pipeline_status" -> lit("archived")), Seq("pipeline_name"))(fs).rows == 3L)
    assert(owners.nonEmpty && owners.forall(_.nonEmpty), owners.mkString(","))
    assert(markers() == before)
    assert(WriterLease.read(fs, new Path(path)).isEmpty, "the lease is released")
    // a replayed batch still no-ops on its marker
    LedgerStream.appendBatch(path)(rowsOn(Seq(1L, 2L), 15, "pending"), 0L)
    assert(rows(path) == Seq(2L, 3L, 4L).map(_ -> "archived"))
  }

  /** 20 vectors in 4 dimensions; `writeIvfCentroids(_, _, 5, 4)` makes 4 cells. */
  private def vectors() = {
    import spark.implicits._
    (0L until 20L).map(i => (i, Array.tabulate(4)(j => math.sin(i * 7.0 + j).toFloat)))
      .toDF("vec_id", "embedding")
  }

  /** Every live id a query probing all 4 cells returns, vec 2's embedding as the query. */
  private def liveIds(path: String): Set[Long] = {
    val q = vectors().filter(col("vec_id") === 2L).select(col("embedding").as("qvec"))
    SimilarityOps.queryIvfIndexLive(spark, path, q, -1L, 30, 4).collect().map(_.getLong(0)).toSet
  }

  test("a vector and a retirement appended just before an IVF compaction commits survive it") {
    import spark.implicits._
    val path = tempDir("graft_rc_ivf").resolve("ivf").toString
    val emb = vectors()
    SimilarityOps.writeIvfCentroids(emb, path, 5, 4)
    CorpusStream.ivfIngestBatch(path)(emb.filter(col("vec_id") < 19L), 0L)
    SimilarityOps.retireIvfIndex(Seq(1L).toDF("vec_id"), path)
    val fs = newFs()
    val injected = new AtomicInteger(0)
    fs.beforeRename = (_, dst) =>
      if (dst.getName == Maintenance.ManifestName && injected.incrementAndGet() == 1) {
        CorpusStream.ivfIngestBatch(path)(emb.filter(col("vec_id") === 19L), 1L)
        SimilarityOps.retireIvfIndex(Seq(2L).toDF("vec_id"), path)
      }
    SimilarityOps.compactIvfIndex(spark, path, fs)
    assert(injected.get() == 1)
    assert(spark.read.parquet(path).select("vec_id").as[Long].collect().sorted.toSeq ==
      (0L until 20L).filter(_ != 1L), "the late vector survives; only the read tombstone applies")
    assert(spark.read.parquet(s"${path}_tombstones").select("vec_id").as[Long].collect().toSeq ==
      Seq(2L), "the late tombstone survives")
    assert(liveIds(path) == (0L until 20L).toSet -- Set(1L, 2L), "and still subtracts")
  }

  test("both stores build, retire, read live and compact under a path with a space") {
    import spark.implicits._
    val base = tempDir("graft rc space")
    val ivf = base.resolve("ivf index").toString
    SimilarityOps.buildIvfIndex(vectors(), ivf, 5, 4)
    SimilarityOps.retireIvfIndex(Seq(1L).toDF("vec_id"), ivf)
    assert(liveIds(ivf) == (0L until 20L).toSet - 1L)
    SimilarityOps.compactIvfIndex(spark, ivf)
    assert(liveIds(ivf) == (0L until 20L).toSet - 1L)
    assert(!new java.io.File(s"${ivf}_tombstones").exists())

    val store = base.resolve("lsh store").toString
    val fox = "the quick brown fox jumps over the lazy dog near the river bank at dawn"
    val spark4 = "a different sentence about spark engines writing parquet files to local disk"
    DedupOps.buildLshStore(docsOf((1L, fox, "en", "s"), (2L, spark4, "en", "s")), store)
    DedupOps.retireLshStore(Seq(1L).toDF("doc_id"), store)
    def pairs() = DedupOps.minhashLshIncremental(
        docsOf((10L, fox, "en", "s"), (11L, spark4, "en", "s")), store, 0.8, Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs() == Set((2L, 11L)), "the retired doc no longer matches")
    DedupOps.compactLshStore(spark, store)
    assert(pairs() == Set((2L, 11L)))
    assert(spark.read.parquet(s"$store/bands").select("doc_id").distinct().as[Long].collect()
      .toSeq == Seq(2L))
    assert(!new java.io.File(s"$store/tombstones").exists())

    // stream appends move their staged files in under the same root, each
    // batch replayed once as after a crash before its marker
    val fs = newFs()
    def replayed(root: String)(sink: Long => Unit): Unit = {
      sink(0L)
      assert(fs.delete(new Path(s"$root/_graft_batches/0"), false))
      sink(0L)
    }
    val more = vectors().select((col("vec_id") + 20L).as("vec_id"), col("embedding"))
      .filter(col("vec_id") < 25L)
    replayed(ivf)(CorpusStream.ivfIngestBatch(ivf)(more, _))
    assert(spark.read.parquet(ivf).select("vec_id").as[Long].collect().sorted.toSeq ==
      (0L until 25L).filter(_ != 1L))
    val ledger = base.resolve("run ledger").toString
    replayed(ledger)(LedgerStream.appendBatch(ledger)(
      rowsOn(Seq(1L, 2L), 15, "ok").union(rowsOn(Seq(3L), 16, "ok")), _))
    assert(rows(ledger) == Seq(1L, 2L, 3L).map(_ -> "ok"))
  }
}
