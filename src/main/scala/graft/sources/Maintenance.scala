package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.broadcast

/**
 * Table maintenance for the day-partitioned ledger, and one commit for
 * every table rewrite: the ledger's, and the compactions of the persisted
 * LSH store and IVF index ([[dropRetired]]). Streaming ingest and frequent
 * small appends fragment partitions into many tiny parquet files; at 100 TB
 * that multiplies scan tasks and footer reads. [[compact]] rewrites each
 * fragmented partition into ceil(bytes/target) files — one distributed job
 * per partition, untouched partitions keep their files.
 *
 * Every rewrite — compaction, the UPDATE/DELETE of [[LedgerTables]] and the
 * store compactions of [[graft.operators.DedupOps]] and
 * [[graft.operators.SimilarityOps]] — commits through [[rewrite]]:
 *
 *  1. Spark writes the replacement rows, in the table's layout, to a
 *     staging dir BESIDE the table root (a dir with '=' in its name inside
 *     the root would be read as a live partition if a crash left it);
 *  2. the commit point is one manifest at the root (`_graft_rewrite`,
 *     written to a tmp file and renamed) naming the staging dir and the
 *     snapshot files the rewrite retires, as table-relative paths;
 *  3. the retired files are deleted, each staged file moves to the same
 *     relative path in the table, directories left empty are removed, then
 *     the staging dir and the manifest.
 *
 * Step 3 is safe to run twice. Every rewriter, under the writer lease and
 * before it reads, replays a committed manifest a crash left, or removes
 * the staging dirs and tmp manifest of an uncommitted rewrite. One manifest
 * per rewrite makes a multi-day UPDATE all-or-nothing across a crash.
 *
 * A rewrite retires only the snapshot of files it read. A file appended
 * after that snapshot is neither read, deleted nor named in the manifest,
 * and directories never move, so a concurrent append survives every path
 * by construction. Readers are not isolated from step 3: a reader listing a
 * partition mid-commit can miss its rows.
 *
 * All filesystem access goes through the Hadoop [[FileSystem]] resolved from
 * the path's scheme and the session's Hadoop configuration, so the same code
 * runs against `file://`, HDFS, or an object store connector (rename is not
 * atomic on object stores; the manifest still makes every crash window
 * replayable).
 */
object Maintenance {

  final case class CompactionResult(partition: String, filesBefore: Int, filesAfter: Int)

  /** The commit manifest at a table root; `_`-prefixed, so readers skip it. */
  private[graft] val ManifestName = "_graft_rewrite"

  private[graft] def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def compact(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 2): Seq[CompactionResult] = {
    val base = new Path(path)
    val fs = fileSystem(spark, path)
    require(fs.getFileStatus(base).isDirectory, s"not a table directory: $path")
    rewrite(fs, base, IdempotentAppend.markerDir(base)) { staging =>
      val done = fs.listStatus(base)
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .toIndexedSeq.flatMap { part =>
          val name = part.getPath.getName
          val files = fs.listStatus(part.getPath).filter(_.getPath.getName.endsWith(".parquet"))
          val nOut = math.max(1,
            math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
          if (files.length < minFilesToCompact || nOut >= files.length) None
          else {
            val out = new Path(staging, name)
            // read exactly the snapshot files, not the directory — anything
            // appended after the listing must not be double-counted
            spark.read.parquet(files.map(_.getPath.toString).toIndexedSeq: _*)
              .repartition(nOut)
              .write.parquet(out.toString)
            val fresh = fs.listStatus(out).count(_.getPath.getName.endsWith(".parquet"))
            Some((files.map(f => s"$name/${f.getPath.getName}").toSeq,
              CompactionResult(name, files.length, fresh)))
          }
        }
      (done.flatMap(_._1), done.map(_._2))
    }._1
  }

  /**
   * Run one rewrite of the table at `base` under the writer lease. `stage`
   * reads the table, writes the replacement files under the staging dir it
   * is given at their table-relative paths, and returns the table-relative
   * snapshot files they replace with its result; nothing to retire commits
   * nothing. Returns that result and the table-relative directories the
   * commit left empty and removed. `markerDir` holds the commit markers of
   * the streams appending to the table: [[IdempotentAppend.markerDir]] of
   * the table root for the ledger and the IVF index, of the store root for
   * both LSH store tables.
   */
  private[graft] def rewrite[A](fs: FileSystem, base: Path, markerDir: Path)(
      stage: Path => (Seq[String], A)): (A, Seq[String]) = {
    requirePlainParquetTable(fs, base)
    // A crashed streaming append that has not replayed yet holds rows the
    // retry can only find by their b<batchId>_ file names — a rewrite here
    // would merge them into unprefixed files and the replay would install
    // the batch a second time. Fail fast instead (see IdempotentAppend).
    IdempotentAppend.assertNoUnresolved(fs, markerDir, Seq(base.toString))
    WriterLease.withLease(fs, base) {
      // a committed-but-unfinished rewrite shows partitions with retired
      // rows gone: finish it before reading, or the loss becomes permanent
      recover(fs, base)
      val staging = new Path(base.getParent,
        s"${base.getName}_staging_${java.util.UUID.randomUUID().toString.take(8)}")
      val (retired, result) = stage(staging)
      if (retired.isEmpty) {
        fs.delete(staging, true)
        (result, Nil)
      } else {
        writeManifest(fs, base, staging.getName +: retired)
        (result, replay(fs, base))
      }
    }
  }

  /**
   * Physically drop tombstoned rows from a persisted store: one [[rewrite]]
   * per table in `tables` without the rows whose `key` the tombstone table
   * names, staged in the table's `partitionCols` layout. Every table is
   * checked for an unresolved streaming append before the first is
   * rewritten, and all are rewritten against ONE snapshot of the tombstone
   * files. Once every table has committed, exactly those tombstone files
   * are deleted, and the tombstone directory goes when no data file is
   * left in it: a retirement appended meanwhile stays, and still subtracts
   * at read time until the next compaction.
   */
  private[graft] def dropRetired(spark: SparkSession, fs: FileSystem, tombstones: Path,
      key: String, markerDir: Path, tables: Seq[Path], partitionCols: Seq[String] = Nil): Unit = {
    if (!fs.exists(tombstones)) return
    IdempotentAppend.assertNoUnresolved(fs, markerDir, tables.map(_.toString))
    val retired = spark.read.parquet(tombstones.toString)
    tables.foreach { base =>
      rewrite(fs, base, markerDir) { staging =>
        val table = spark.read.parquet(base.toString)
        val w = table.join(retired, Seq(key), "left_anti").write.mode(SaveMode.Overwrite)
        (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
          .parquet(staging.toString)
        (snapshotRelPaths(fs, base, table), ())
      }
    }
    retired.inputFiles.foreach(f => fs.delete(new Path(new URI(f)), false))
    if (fs.listStatus(tombstones).forall(s => s.isFile && isHidden(s.getPath)))
      fs.delete(tombstones, true)
  }

  /** `table` without the rows whose `key` the tombstone table at
    * `tombstones` names, if there is one: the live read of a persisted
    * store between compactions (a broadcast anti-join, O(tombstones)). */
  private[graft] def withoutRetired(table: DataFrame, tombstones: Path, key: String): DataFrame = {
    val spark = table.sparkSession
    if (!fileSystem(spark, tombstones.toString).exists(tombstones)) table
    else table.join(broadcast(spark.read.parquet(tombstones.toString).distinct()),
      Seq(key), "left_anti")
  }

  /** A rewrite's input files as table-relative paths (scheme-free, so the
    * comparison is immune to URI slash/qualification differences). The
    * parquet read's file index is listed eagerly when the DataFrame is
    * made, so this is exactly the set the staged rewrite transforms, and
    * the set it retires by table-relative path. */
  private[graft] def snapshotRelPaths(fs: FileSystem, base: Path, table: DataFrame): Seq[String] = {
    val basePath = fs.makeQualified(base).toUri.getPath.stripSuffix("/")
    table.inputFiles.toSeq.map { f =>
      val p = new URI(f).getPath
      require(p.startsWith(basePath + "/"), s"input file $f is outside the table root $base")
      p.substring(basePath.length + 1)
    }
  }

  /** `_`/`.`-prefixed names (`_SUCCESS`, checksums, markers) are not data. */
  private def isHidden(p: Path): Boolean =
    p.getName.startsWith("_") || p.getName.startsWith(".")

  /**
   * Refuse to operate on a directory that carries another table format's
   * transaction/metadata markers. Compaction (and the partition-rewrite DML)
   * moves and deletes raw files — pointed at a Delta/Iceberg/Hudi table it
   * would silently corrupt the format's log, whose snapshots pin exact file
   * names. The marker directory names are each format's fixed, documented
   * layout; a plain Spark parquet write never creates them.
   */
  private def requirePlainParquetTable(fs: FileSystem, base: Path): Unit = {
    val markers = Seq(
      "_delta_log" -> "Delta Lake",
      ".hoodie" -> "Apache Hudi",
      "metadata" -> "Apache Iceberg")
    markers.foreach { case (name, format) =>
      if (fs.exists(new Path(base, name)))
        throw new IllegalArgumentException(
          s"$base contains '$name' — it looks like a $format table, not plain " +
            "parquet; file-level maintenance would corrupt its transaction log. " +
            "Use the format's own maintenance commands instead.")
    }
  }

  /** Finish a committed rewrite a crash left, then drop what uncommitted
    * ones left: the tmp manifest and the staging dirs beside the root.
    * Only the exact generated staging shape (8-hex-char suffix) matches, so
    * a sibling that merely shares the prefix is never touched. */
  private def recover(fs: FileSystem, base: Path): Unit = {
    if (fs.exists(new Path(base, ManifestName))) replay(fs, base)
    fs.delete(new Path(base, ManifestName + ".tmp"), false)
    val stagingName = (java.util.regex.Pattern.quote(base.getName) +
      "_staging_[0-9a-f]{8}").r
    fs.listStatus(base.getParent)
      .map(_.getPath)
      .filter(p => stagingName.matches(p.getName))
      .foreach(fs.delete(_, true))
  }

  /** Step 3 of the manifest at `base`; returns the directories it removed.
    * A directory is removed only when empty, deepest first, by a
    * non-recursive delete, so a file an appender commits into it survives. */
  private def replay(fs: FileSystem, base: Path): Seq[String] = {
    val manifest = new Path(base, ManifestName)
    val in = fs.open(manifest)
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val staging = new Path(base.getParent, lines.head)
    val retired = lines.tail
    retired.foreach(rel => fs.delete(new Path(base, rel), false))
    if (fs.exists(staging)) moveFiles(fs, staging, base)
    val removed = retired
      .flatMap(_.split('/').inits.drop(1).filter(_.nonEmpty).map(_.mkString("/")))
      .distinct.sortBy(-_.count(_ == '/'))
      .filter { rel =>
        val dir = new Path(base, rel)
        fs.exists(dir) && fs.listStatus(dir).isEmpty && fs.delete(dir, false)
      }
    fs.delete(staging, true)
    fs.delete(manifest, false)
    removed
  }

  /** Move every data file under `from` to the same relative path under `to`,
    * its name prefixed with `prefix`. A non-empty prefix is an append's
    * claim on those names ([[IdempotentAppend.append]]): a file carrying it
    * in a directory the move fills is residue of a crashed attempt of the
    * same append, and is deleted first. A rewrite's replay passes no prefix
    * and deletes nothing here. */
  private[sources] def moveFiles(fs: FileSystem, from: Path, to: Path, prefix: String = ""): Unit = {
    val (dirs, files) = fs.listStatus(from).filterNot(s => isHidden(s.getPath))
      .partition(_.isDirectory)
    if (files.nonEmpty) {
      fs.mkdirs(to)
      if (prefix.nonEmpty)
        fs.listStatus(to).filter(s => s.isFile && s.getPath.getName.startsWith(prefix))
          .foreach(s => fs.delete(s.getPath, false))
    }
    files.foreach { s =>
      val dest = new Path(to, prefix + s.getPath.getName)
      if (!fs.rename(s.getPath, dest))
        throw new java.io.IOException(
          s"cannot move ${s.getPath} to $dest; the move is safe to re-run, so the " +
            "next rewrite of the table, or the stream's replay of the batch, finishes it")
    }
    dirs.foreach(d => moveFiles(fs, d.getPath, new Path(to, d.getPath.getName), prefix))
  }

  private def writeManifest(fs: FileSystem, base: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(base, ManifestName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new Path(base, ManifestName)))
      throw new java.io.IOException(s"cannot commit the rewrite manifest in $base; table unchanged")
  }
}
