package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.model.Schemas

/**
 * Physical ledger management (SURVEY.md §1.3, §2.2 O20/O21; reference
 * `snowflake_tasks.py:9-62` passes caller DDL through — we own the schema).
 *
 * The ledger is parquet partitioned by `query_window_start_day`: the
 * reference's hand-maintained coarse day-band filter
 * (`overlap_checks.py:52-53`) becomes partition pruning — a day-band query
 * over a 100 TB ledger reads only the in-band partitions, verified by
 * `PartitionFilters` in the scan node (see LedgerTablesSpec).
 */
object LedgerTables {

  /** O20: CREATE TABLE IF NOT EXISTS — day-partitioned parquet in the session catalog. */
  def createDdl(table: String, locationClause: String = ""): String = {
    val cols = Schemas.pipelineRunSchema.fields
      .map(f => s"${f.name} ${f.dataType.sql}").mkString(",\n  ")
    s"""CREATE TABLE IF NOT EXISTS $table (
       |  $cols
       |) USING PARQUET
       |PARTITIONED BY (query_window_start_day)
       |$locationClause""".stripMargin
  }

  def ensure(spark: SparkSession, table: String): Unit =
    spark.sql(createDdl(table))

  /** Write/append a ledger DataFrame as day-partitioned parquet at `path`. */
  def write(ledger: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    ledger.write
      .mode(mode)
      .partitionBy("query_window_start_day")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /**
   * O21 UPDATE: apply `SET col = expr` assignments to matching rows,
   * rewriting only the affected day partitions (or the whole table —
   * preserving its partition layout — when it is not day-partitioned).
   * The reference issues a Snowflake UPDATE; parquet is immutable, so the
   * engine stages the affected partitions and swaps them in — at 100 TB an
   * update touching one day rewrites that day, not the table. A status
   * transition is `Seq("pipeline_status" -> lit(status))`. Returns rows
   * affected (V4 contract). Backs SQL-text UPDATE in
   * `QueryEngine.executeDmlQuery`, which passes Spark's parsed WHERE and
   * SET expressions with their `:name` parameters already bound.
   * `partitionCols` is the table's declared partitioning when the caller
   * knows it (catalog tables); empty means "detect the ledger layout".
   * Assigning a partition column is rejected — a row changing partitions
   * needs a delete+insert, not a partition swap. SET column names resolve
   * case-insensitively, like Spark's default analyzer.
   */
  def updateWhere(
      spark: SparkSession,
      path: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      partitionCols: Seq[String] = Nil): Long =
    update(spark, path, predicate, assignments, partitionCols).rows

  private[graft] def update(
      spark: SparkSession,
      path: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      partitionCols: Seq[String]): Rewritten = {
    require(assignments.nonEmpty, "UPDATE needs at least one SET assignment")
    rewriteAffectedPartitions(spark, path, predicate, partitionCols) { table =>
      // Validation runs against the IN-LEASE table snapshot, before the
      // rewrite's zero-match short-circuit: a malformed statement fails
      // loudly even when zero rows match, and the schema it validates
      // against can never be another writer's mid-swap view. Names resolve
      // case-insensitively, like Spark's default analyzer.
      val assigned = assignments.map { case (name, v) =>
        val resolved = table.columns.filter(_.equalsIgnoreCase(name))
        require(resolved.length == 1,
          s"UPDATE of ${if (resolved.isEmpty) "unknown" else "ambiguous"} column $name")
        resolved.head -> v
      }.toMap
      val parts = effectivePartitionCols(table, partitionCols)
      assigned.keys.foreach(c => require(!parts.exists(_.equalsIgnoreCase(c)),
        s"cannot UPDATE partition column $c; DELETE + INSERT instead"))
      // SQL UPDATE semantics: every SET expression and the predicate evaluate
      // against the PRE-update row, so all assignments go into one projection
      // (sequential withColumn would feed each assignment the previous one's
      // output — and a predicate on an updated column would stop matching).
      (ledger, pred) =>
        ledger.select(ledger.columns.toIndexedSeq.map { c =>
          assigned.get(c)
            .map(v => org.apache.spark.sql.functions.when(pred, v)
              .otherwise(org.apache.spark.sql.functions.col(c)).as(c))
            .getOrElse(org.apache.spark.sql.functions.col(c))
        }: _*)
    }
  }

  /** O21 DELETE: drop matching rows, rewriting only their day partitions. */
  def deleteWhere(
      spark: SparkSession,
      path: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String] = Nil): Long =
    delete(spark, path, predicate, partitionCols).rows

  private[graft] def delete(
      spark: SparkSession,
      path: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String]): Rewritten =
    rewriteAffectedPartitions(spark, path, predicate, partitionCols) { _ => (ledger, pred) =>
      // Keep any row the predicate does not POSITIVELY match: a NULL
      // predicate result must retain the row (plain `!pred` is NULL for
      // NULL input and filter would silently delete non-matching rows).
      ledger.filter(!org.apache.spark.sql.functions.coalesce(
        pred, org.apache.spark.sql.functions.lit(false)))
    }

  /** What a rewrite did: the rows it affected, and the day partitions it
    * left without a directory. A DELETE that removes a day's last row
    * empties it, and a catalog table must then drop that partition; the
    * whole-table rewrite reports no days (its caller syncs the catalog with
    * the directories). */
  private[graft] final case class Rewritten(rows: Long, emptiedDays: Seq[String])

  /** Whether a rewrite of a table with these partition columns takes the
    * day-partition swap: it rewrites only existing `query_window_start_day`
    * directories, under the names Spark itself gives them, and never adds
    * a partition value. */
  private[graft] def swapsDayPartitions(partitionCols: Seq[String]): Boolean =
    partitionCols == Seq("query_window_start_day")

  /** The table's partition columns: the caller-declared ones, else the
    * ledger's day column if present, else none. */
  private def effectivePartitionCols(
      ledger: DataFrame, declared: Seq[String]): Seq[String] =
    if (declared.nonEmpty) declared
    else if (ledger.columns.contains("query_window_start_day")) Seq("query_window_start_day")
    else Nil

  /** `transformFor` receives the IN-LEASE table snapshot (for validation +
    * schema resolution) and returns the row transform — so no caller ever
    * reads or validates against a pre-lease view of the table. */
  private def rewriteAffectedPartitions(
      spark: SparkSession,
      path: String,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String])(
      transformFor: DataFrame => (DataFrame, org.apache.spark.sql.Column) => DataFrame): Rewritten = {
    import org.apache.spark.sql.functions.col
    // Writer exclusion for the whole read-stage-swap sequence: the staged
    // swap is only correct single-writer (see WriterLease), and even the
    // predicate evaluation below must not observe another writer's mid-swap
    // state. A second concurrent DML/compaction fails loudly here.
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    Maintenance.requirePlainParquetTable(fs, base)
    // A crashed streaming append that has not replayed yet holds rows the
    // retry can only find by their b<batchId>_ file names — a rewrite here
    // would merge them into unprefixed files and the replay would install
    // the batch a second time. Fail fast instead (see IdempotentAppend).
    graft.sources.IdempotentAppend.assertNoUnresolved(fs,
      new org.apache.hadoop.fs.Path(s"$path/_graft_batches"), Seq(path))
    WriterLease.withLease(fs, base) {
      // Finish any crashed compaction FIRST: its mid-swap state shows a
      // partition with snapshot rows missing, and reading that view into
      // a staged rewrite would bake the loss in permanently.
      Maintenance.recoverCrashedCompactions(fs, base)
      val ledger = read(spark, path)
      // resolve the transform FIRST: its validation must fire even when
      // zero rows match and the rewrite below short-circuits
      val transform = transformFor(ledger)
      val matched = ledger.filter(predicate)
      val parts = effectivePartitionCols(ledger, partitionCols)
      // The day-partition swap fast path applies only to the ledger layout
      // (DateType values render exactly as the partition directory names);
      // any other layout takes the whole-table rewrite, which preserves it.
      if (!swapsDayPartitions(parts))
        Rewritten(rewriteWholeTable(spark, path, ledger, matched, predicate, parts)(transform), Nil)
      else {
        // Affected partition values and their row counts in ONE query: a
        // day-count-sized driver list, never data.
        val perDay = matched.groupBy(col("query_window_start_day")).count().collect()
        val days = perDay.map(_.get(0).toString)
        if (days.isEmpty) Rewritten(0L, Nil)
        else {
          val affected = perDay.map(_.getLong(1)).sum
          // The file set this rewrite transforms (the read's cached file
          // index) — anything found later in a displaced tree that is NOT
          // in this set arrived from a concurrent appender and must be
          // rescued, not deleted.
          val snapshot = snapshotRelPaths(fs, base, ledger)
          val slice = ledger.filter(
            col("query_window_start_day").isin(days.toIndexedSeq: _*))
          // Swap through the Hadoop FileSystem of the table's scheme — the
          // same rewrite runs on file://, HDFS, or an object-store connector.
          val staging = new org.apache.hadoop.fs.Path(base.getParent,
            s"${base.getName}_staging_${java.util.UUID.randomUUID().toString.take(8)}")
          transform(slice, predicate).write
            .mode(SaveMode.Overwrite).partitionBy("query_window_start_day")
            .parquet(staging.toString)
          // Swap the rewritten partitions in; untouched days keep their
          // files. Displaced old trees go INTO the staging dir (outside the
          // table root, removed at the end) so a crash can never leave a
          // directory that partition discovery would misread as a live
          // partition.
          val displaced = days.flatMap { d =>
            val name = s"query_window_start_day=$d"
            // DELETE may remove a whole partition: only move what staging
            // produced.
            swapIn(fs, new org.apache.hadoop.fs.Path(staging, name),
              new org.apache.hadoop.fs.Path(base, name), staging)
          }
          // Serialize concurrent appends AFTER this DML: files that a
          // streaming/batch appender committed into an affected partition
          // between our snapshot and the swap sit in the displaced tree —
          // move them into the live partition before deleting it.
          displaced.foreach { case (name, old) =>
            rescueLateFiles(fs, old, new org.apache.hadoop.fs.Path(base, name),
              snapshot, name)
          }
          fs.delete(staging, true)
          // a day whose every row was deleted: staging produced no tree
          // for it, and no concurrent appender has recreated it since
          Rewritten(affected, days.filterNot(d =>
            fs.exists(new org.apache.hadoop.fs.Path(base, s"query_window_start_day=$d"))).toSeq)
        }
      }
    }
  }

  /** Fallback for tables not using the ledger's day layout: stage the
    * transformed table (with the SAME partitionBy columns, so the directory
    * layout survives), then swap the table's CONTENTS. The root directory
    * itself never moves — the writer lease inside it stays valid for the
    * whole operation, and no concurrent acquire can observe a missing root
    * and wedge the restore path by recreating it. */
  private def rewriteWholeTable(
      spark: SparkSession,
      path: String,
      ledger: DataFrame,
      matched: DataFrame,
      predicate: org.apache.spark.sql.Column,
      partitionCols: Seq[String])(
      transform: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Long = {
    val affected = matched.count()
    if (affected == 0L) return 0L
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val snapshot = snapshotRelPaths(fs, base, ledger)
    val staging = new org.apache.hadoop.fs.Path(base.getParent,
      s"${base.getName}_staging_${java.util.UUID.randomUUID().toString.take(8)}")
    val writer = transform(ledger, predicate).write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(staging.toString)
    val (trash, lateTrees) = swapContents(fs, staging, base)
    // Files a concurrent appender committed after our snapshot were moved
    // to trash with their partition dirs — rescue them into the live table
    // (the append serializes AFTER this DML) before staging is deleted.
    rescueLateFiles(fs, trash, base, snapshot, "")
    lateTrees.foreach { case (name, p) =>
      rescueLateFiles(fs, p, new org.apache.hadoop.fs.Path(base, name),
        snapshot, name)
    }
    fs.delete(staging, true)
    affected
  }

  /** The rewrite's input files as table-relative paths (scheme-free, so the
    * comparison is immune to URI slash/qualification differences). The
    * parquet read's file index is listed eagerly at [[read]], so this is
    * exactly the set the staged rewrite transforms. */
  private def snapshotRelPaths(
      fs: org.apache.hadoop.fs.FileSystem,
      base: org.apache.hadoop.fs.Path,
      ledger: DataFrame): Set[String] = {
    val basePath = fs.makeQualified(base).toUri.getPath.stripSuffix("/")
    ledger.inputFiles.iterator.map { f =>
      val p = new org.apache.hadoop.fs.Path(f).toUri.getPath
      if (p.startsWith(basePath + "/")) p.substring(basePath.length + 1) else p
    }.toSet
  }

  /**
   * Install `src` at `dst`, safely against a concurrent appender whose
   * committer can recreate `dst` (mkdirs + per-file rename) at any moment.
   * Two hazards, both measured on Hadoop's local FS: rename onto an
   * existing EMPTY dir replaces it (fine — the appender's subsequent file
   * renames then land inside the installed tree), but rename onto a
   * NON-empty dir returns true and silently NESTS `src` inside it. So:
   * anything already at `dst` is displaced into `trashDir` first (returned
   * under its original name so the caller can rescue the appender's late
   * files), the rename is verified not to have nested, and a detected nest
   * is unwound and retried. The displaced trees are dot-prefixed so the
   * caller's generic trash walk skips them (their dir name no longer
   * encodes the partition — the returned mapping does).
   * Returns (installed, displacedLateTrees).
   */
  private def renameInto(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path,
      trashDir: org.apache.hadoop.fs.Path):
      (Boolean, Seq[(String, org.apache.hadoop.fs.Path)]) = {
    val displaced = scala.collection.mutable.ArrayBuffer.empty[
      (String, org.apache.hadoop.fs.Path)]
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      if (fs.exists(dst)) {
        val aside = new org.apache.hadoop.fs.Path(trashDir,
          s".late_${java.util.UUID.randomUUID().toString.take(8)}")
        fs.mkdirs(trashDir)
        if (!fs.rename(dst, aside)) return (false, displaced.toSeq)
        displaced += dst.getName -> aside
      }
      if (fs.rename(src, dst)) {
        val nested = new org.apache.hadoop.fs.Path(dst, src.getName)
        val nestHappened =
          try fs.getFileStatus(nested).isDirectory
          catch { case _: java.io.FileNotFoundException => false }
        if (!nestHappened) return (true, displaced.toSeq)
        // raced a recreation that turned non-empty between our displace and
        // the rename: pull src back out, loop displaces the recreated dir.
        // A failed unwind may NOT degrade to a false return — the caller's
        // recovery would then merge-restore around a nested tree and
        // report success while the partition is unreadable; throw with the
        // nested location named instead.
        if (!fs.rename(nested, src))
          throw new java.io.IOException(
            s"fresh tree NESTED at $nested after racing a concurrent append " +
              s"and could not be pulled back out — remove it or move it to " +
              s"$src manually; the partition is unreadable until then")
      } else if (!fs.exists(dst)) {
        // failed with nothing in the way: a genuine filesystem failure
        return (false, displaced.toSeq)
      }
      // else: lost the race to a recreated dst — next pass displaces it
    }
    (false, displaced.toSeq)
  }

  /** Move every visible file under `displaced` whose table-relative path is
    * not in `snapshot` back under `dest` (same relative layout). Those files
    * were committed by a concurrent APPENDER after this rewrite listed its
    * input — they hold rows the rewrite never saw, and deleting the
    * displaced tree without this pass would silently drop them. Hidden
    * (`_`/`.`-prefixed) names are never data and stay behind. A failed
    * rescue rename throws: losing appended rows must be loud.
    *
    * `sized = true` switches the membership key to `rel@length`
    * (matching [[swapContents]]' staged snapshot): an appended file whose
    * NAME collides with a staged file but whose size differs is then still
    * recognized as foreign and rescued, instead of silently deleted with
    * the staging dir. */
  private def rescueLateFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      displaced: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path,
      snapshot: Set[String],
      relPrefix: String,
      sized: Boolean = false): Unit = {
    def key(rel: String, len: Long): String =
      if (sized) s"$rel@$len" else rel
    val st0 = try fs.getFileStatus(displaced)
      catch { case _: java.io.FileNotFoundException => return }
    if (st0.isFile) {
      // `displaced` is itself a displaced FILE (a root-level data file an
      // external appender wrote): its synthetic `.late_*` name would fail
      // the hidden-name filter below, but the caller's mapping carries its
      // original identity — here `dest` is the full original path and
      // `relPrefix` its table-relative name.
      if (!snapshot.contains(key(relPrefix, st0.getLen))) {
        Option(dest.getParent).foreach(fs.mkdirs(_))
        if (!fs.rename(displaced, dest))
          throw new java.io.IOException(
            s"cannot rescue late-appended file $displaced to $dest — " +
              "aborting before the displaced tree is deleted")
      }
      return
    }
    fs.listStatus(displaced).foreach { st =>
      val name = st.getPath.getName
      if (!name.startsWith("_") && !name.startsWith(".")) {
        val rel = if (relPrefix.isEmpty) name else s"$relPrefix/$name"
        if (st.isDirectory)
          rescueLateFiles(fs, st.getPath,
            new org.apache.hadoop.fs.Path(dest, name), snapshot, rel, sized)
        else if (!snapshot.contains(key(rel, st.getLen))) {
          fs.mkdirs(dest)
          if (!fs.rename(st.getPath, new org.apache.hadoop.fs.Path(dest, name)))
            throw new java.io.IOException(
              s"cannot rescue late-appended file ${st.getPath} into $dest — " +
                "aborting before the displaced tree is deleted")
        }
      }
    }
  }

  /**
   * Replace `dest`'s contents with `fresh`'s by moving CHILDREN, leaving
   * `dest` itself — and every `_`-prefixed child — in place. Underscore
   * names are invisible to Spark's data listing (the same rule the
   * [[WriterLease]] file relies on), so they are metadata, not rows being
   * replaced: the lease, the streaming replay markers
   * (`_graft_batches` — deleting them would make a restarted stream
   * re-append already-committed batches), and a concurrent appender's
   * in-flight `_temporary` committer dir all survive the swap.
   * Dot-prefixed children are NOT preserved: a crashed compaction's
   * `.compact_*` manifest names pre-rewrite snapshot files, and replaying
   * it after the swap would resurrect pre-rewrite data — the rewrite read
   * the visible snapshot, so dropping hidden compaction state loses
   * nothing. The displaced old children go into a trash directory INSIDE
   * the staging tree (outside `dest`, removed with it; returned so the
   * caller can rescue late-appended files first), and every rename is
   * checked: a failure on either phase moves what was already transferred
   * back before rethrowing, so the table is never silently half-swapped.
   * The crash (not failure) window between the two phases leaves `dest`
   * visibly empty with all data intact under staging — loud and
   * recoverable, matching the compaction manifest's philosophy of never
   * duplicating or silently dropping rows.
   */
  private[graft] def swapContents(
      fs: org.apache.hadoop.fs.FileSystem,
      fresh: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path):
      (org.apache.hadoop.fs.Path, Seq[(String, org.apache.hadoop.fs.Path)]) = {
    val trash = new org.apache.hadoop.fs.Path(fresh,
      s"_old_${java.util.UUID.randomUUID().toString.take(8)}")
    fs.mkdirs(trash)
    def moveAll(items: Seq[org.apache.hadoop.fs.Path],
        into: org.apache.hadoop.fs.Path): Unit =
      items.foreach { c =>
        if (!fs.rename(c, new org.apache.hadoop.fs.Path(into, c.getName)))
          throw new java.io.IOException(s"cannot move $c into $into")
      }
    // Rollback renames are checked too: a failure during rollback leaves
    // the table visibly half-restored with the rest stranded in staging —
    // that state must be REPORTED (suppressed on the original error), not
    // silently discarded as a boolean.
    def restoreFromTrash(): Unit = {
      // restore the children phase 1 displaced (they keep their original
      // names — including any `.compact_*` recovery state a crashed
      // compaction left, though the pre-read recovery sweep should have
      // consumed it); `.late_*` trees a renameInto displaced hold a
      // concurrent appender's files under a synthetic name — renaming one
      // into the table root would hide those rows behind a dot-dir, so
      // they are merge-restored separately by the phase-2 handler
      val stranded = fs.listStatus(trash)
        .filterNot(_.getPath.getName.startsWith(".late_"))
        .flatMap { s =>
          val dst = new org.apache.hadoop.fs.Path(dest, s.getPath.getName)
          if (!fs.rename(s.getPath, dst)) Some(s.getPath) else None
        }
      if (stranded.nonEmpty)
        throw new java.io.IOException(
          s"ROLLBACK INCOMPLETE: ${stranded.mkString(", ")} stranded in " +
            s"$trash — restore to $dest manually")
    }
    def suppressRollbackFailure(e: java.io.IOException)(rollback: => Unit): Unit =
      try rollback catch { case r: java.io.IOException => e.addSuppressed(r) }
    val old = fs.listStatus(dest).map(_.getPath).toIndexedSeq
      .filterNot(_.getName.startsWith("_"))
    try moveAll(old, trash)
    catch { case e: java.io.IOException =>
      suppressRollbackFailure(e)(restoreFromTrash()); throw e
    }
    // `_`-prefixed staging artifacts (`_SUCCESS`, the trash dir itself)
    // stay behind — moving them in could collide with dest's preserved
    // metadata children, and they carry no rows. `.late_*` displaced trees
    // from earlier renameInto passes are dot-prefixed and excluded too.
    val incoming = fs.listStatus(fresh).map(_.getPath).toIndexedSeq
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
    // Snapshot each staged child's own (visible) files before installing
    // anything: if phase 2 fails part-way, an already-installed child may
    // have received a concurrent appender's files AFTER install, and the
    // pull-back below would carry those committed rows into the staging
    // dir — invisible to the table. The snapshot lets the failure handler
    // tell the staged write's files from the appender's and merge the
    // latter back (same mechanism as the displaced-tree rescue).
    // keys are `rel@length` (rescueLateFiles' sized form): name equality
    // alone would mistake an appender's same-named file for staged output
    def visibleFilesUnder(root: org.apache.hadoop.fs.Path): Set[String] = {
      def walk(p: org.apache.hadoop.fs.Path, prefix: String): Iterator[String] =
        fs.listStatus(p).iterator.flatMap { st =>
          val name = st.getPath.getName
          if (name.startsWith("_") || name.startsWith(".")) Iterator.empty
          else {
            val rel = if (prefix.isEmpty) name else s"$prefix/$name"
            if (st.isDirectory) walk(st.getPath, rel)
            else Iterator.single(s"$rel@${st.getLen}")
          }
        }
      try walk(root, "").toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }
    }
    val stagedSnapshot: Map[String, Set[String]] = incoming.flatMap { c =>
      val isDir = try fs.getFileStatus(c).isDirectory
        catch { case _: java.io.FileNotFoundException => false }
      if (isDir) Some(c.getName -> visibleFilesUnder(c)) else None
    }.toMap
    val lateTrees = scala.collection.mutable.ArrayBuffer.empty[
      (String, org.apache.hadoop.fs.Path)]
    def moveIncoming(): Unit = incoming.foreach { c =>
      val (ok, late) = renameInto(fs, c,
        new org.apache.hadoop.fs.Path(dest, c.getName), trash)
      lateTrees ++= late
      if (!ok) throw new java.io.IOException(s"cannot move $c into $dest")
    }
    try moveIncoming()
    catch {
      case e: java.io.IOException =>
        // pull back any fresh children that made it in, then restore the
        // old — both best-effort so one stuck file cannot abort the rest
        // of the rollback, with everything stranded reported together
        suppressRollbackFailure(e) {
          val stuck = incoming.flatMap { c =>
            val d = new org.apache.hadoop.fs.Path(dest, c.getName)
            if (fs.exists(d) && !fs.rename(d, c)) Some(d) else None
          }
          restoreFromTrash()
          // Both rescue passes below are per-item best-effort: one stuck
          // file must not abort the rescue of the others — every failure
          // is collected and reported together with the stuck children.
          val rescueFailures = scala.collection.mutable.ArrayBuffer.empty[String]
          // give the appender's displaced late files back to the restored
          // table — file-level merges AFTER the dir-level restore above,
          // so they land inside (not instead of) the restored partitions
          lateTrees.foreach { case (name, p) =>
            try rescueLateFiles(fs, p,
              new org.apache.hadoop.fs.Path(dest, name), Set.empty, "")
            catch { case r: java.io.IOException =>
              rescueFailures += s"$p: ${r.getMessage}"
            }
          }
          // ...and any files an appender committed into an
          // already-installed fresh child (pulled back into staging
          // above): everything under a pulled-back child that is NOT in
          // its staged (rel@length) snapshot is appended data — merge it
          // back
          incoming.foreach { c =>
            stagedSnapshot.get(c.getName).foreach { snap =>
              try rescueLateFiles(fs, c,
                new org.apache.hadoop.fs.Path(dest, c.getName), snap, "",
                sized = true)
              catch { case r: java.io.IOException =>
                rescueFailures += s"$c: ${r.getMessage}"
              }
            }
          }
          if (stuck.nonEmpty || rescueFailures.nonEmpty)
            throw new java.io.IOException(
              (if (stuck.nonEmpty)
                s"ROLLBACK INCOMPLETE: fresh children ${stuck.mkString(", ")} " +
                  s"could not be pulled back out of $dest — recover manually; " +
                  s"the staged write (and possibly late-appended files) sit " +
                  s"under $fresh. "
              else "") +
              (if (rescueFailures.nonEmpty)
                s"APPENDED-FILE RESCUE INCOMPLETE: ${rescueFailures.mkString("; ")} " +
                  s"— committed appended rows may still sit under $fresh or $trash"
              else ""))
        }
        throw e
    }
    (trash, lateTrees.toSeq)
  }

  /**
   * Replace `dest` with `fresh`, never deleting data before its replacement
   * is in place: the old `dest` is renamed aside first (so a filesystem whose
   * rename fails — e.g. an object store without one — aborts loudly with the
   * data intact), the fresh tree renamed in, and only then the old copy
   * dropped. A failed rename-in restores the old tree before throwing.
   * `trashDir` receives the displaced tree and MUST lie outside the table
   * root (the staging dir, or the table's parent) — a crash between the
   * rename-in and the final delete must not leave a directory that partition
   * discovery would parse as a live partition. Returns every displaced
   * tree under its original partition-dir name (still inside `trashDir`,
   * NOT yet deleted) so the caller can rescue late-appended files out of
   * them; the caller owns the final delete via the staging-dir cleanup.
   * The install goes through [[renameInto]], so a concurrent appender
   * recreating `dest` mid-swap is displaced-and-rescued, never nested
   * into or deleted.
   */
  private def swapIn(
      fs: org.apache.hadoop.fs.FileSystem,
      fresh: org.apache.hadoop.fs.Path,
      dest: org.apache.hadoop.fs.Path,
      trashDir: org.apache.hadoop.fs.Path):
      Seq[(String, org.apache.hadoop.fs.Path)] = {
    val old = new org.apache.hadoop.fs.Path(trashDir,
      s"${dest.getName}_old_${java.util.UUID.randomUUID().toString.take(8)}")
    val hadOld = fs.exists(dest)
    if (hadOld && !fs.rename(dest, old))
      throw new java.io.IOException(s"cannot move $dest aside; table unchanged")
    val originals =
      if (hadOld) Seq(dest.getName -> old) else Nil
    if (!fs.exists(fresh)) originals
    else {
      // a nest-stuck IOException from renameInto propagates UNWRAPPED in
      // the merge-restore sense: with a nested tree inside dest, moving
      // more files in only deepens the damage — add context and rethrow
      val (ok, late) = try renameInto(fs, fresh, dest, trashDir)
        catch { case e: java.io.IOException =>
          throw new java.io.IOException(
            s"install of $fresh at $dest failed mid-swap: ${e.getMessage}" +
              (if (hadOld) s"; original partition preserved at $old" else ""), e)
        }
      if (!ok) {
        // Best-effort recovery, HONESTLY reported. File-level merges, not
        // a directory rename: `dest` may exist again (a concurrent
        // appender recreated it — possibly why the install failed), and a
        // dir rename onto a non-empty dir silently nests (the hazard
        // renameInto exists to avoid). Everything displaced goes back:
        // the original partition files, then the appender's late files
        // (ALL post-snapshot by construction — renameInto only displaces
        // what appeared after the original tree moved aside).
        val problems = scala.collection.mutable.ArrayBuffer.empty[String]
        def mergeBack(label: String, from: org.apache.hadoop.fs.Path): Unit =
          try rescueLateFiles(fs, from, dest, Set.empty, "")
          catch { case ex: java.io.IOException =>
            problems += s"$label stranded at $from (${ex.getMessage})"
          }
        if (hadOld) mergeBack("original partition files", old)
        late.foreach { case (_, p) => mergeBack("late-appended files", p) }
        throw new java.io.IOException(s"cannot install $fresh at $dest" +
          (if (problems.isEmpty) "; displaced contents merge-restored in place"
           else s"; RECOVER MANUALLY from the kept staging dir — ${problems.mkString("; ")}"))
      }
      originals ++ late
    }
  }
}
