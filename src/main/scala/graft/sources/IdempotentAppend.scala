package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * EXACTLY-ONCE parquet appends for foreachBatch sinks
 * ([[graft.streaming.CorpusStream]], [[graft.streaming.LedgerStream]]).
 * [[runBatch]] is a sink's whole protocol for one micro-batch: skip it if
 * its commit marker exists, else run its appends, then write the marker.
 *
 * `write.mode("append")` alone leaves the marker protocol a crash WINDOW:
 * the marker is written AFTER the append commits, so a restart that lands
 * between the two replays the batch and appends its rows a second time.
 * For an append-log whose consumers `distinct` that is an honest
 * at-least-once contract; for a corpus or an ANN index it is silent
 * corruption — a doc double-weighted in training, a vector surfacing
 * twice in a top-k.
 *
 * The fix is the engine's usual rename discipline, applied per batch:
 *
 *  1. the batch STAGES to a sibling directory with `mode("overwrite")` —
 *     a retry restages the identical rows (foreachBatch replays the same
 *     data by checkpoint contract), so the stage is self-healing;
 *  2. any residue a crashed prior attempt of THIS batch left in the
 *     destination is wiped — output files carry a `b<batchId>_` name
 *     prefix, and the same data always stages the same partition set, so
 *     scanning just the touched partition directories finds every
 *     stranded file;
 *  3. the staged files MOVE into place at the same relative paths, each
 *     name prefixed `b<batchId>_` — per-file metadata moves, no data
 *     rewrite, by the mover the rewrite commit's replay uses
 *     ([[Maintenance.moveFiles]]).
 *
 * Every crash point therefore replays to the same final file set: the
 * destination holds each batch's rows exactly once under at-least-once
 * delivery. Cost ∝ batch — one staged write plus one rename per file;
 * the residue scan lists only the partitions this batch touches, never
 * the store. The sink's marker stays the fast-path guard (a FULLY
 * committed batch is skipped without restaging); this protocol closes
 * the window the marker cannot cover.
 *
 * THE STAGE DIRECTORY IS THE IN-FLIGHT SENTINEL: [[append]] leaves it in
 * place (holding only the committer's `_SUCCESS` once every data file has
 * moved out), and [[runBatch]]'s last step writes the commit marker, then
 * clears the stages. "Stage dir present with no commit marker"
 * therefore identifies an unresolved append across EVERY crash point,
 * which is what makes [[assertNoUnresolved]] sound: the residue wipe
 * finds a crashed attempt's files BY NAME (`b<batchId>_`), so a
 * partition rewrite (DML, compaction) that runs between the crash and
 * the stream's replay would merge those rows into unprefixed files the
 * retry can no longer claim — re-installing the batch on top and
 * breaking exactly-once. The table-rewrite entry points call
 * [[assertNoUnresolved]] and refuse to rewrite over a stage that has
 * been quiet past the liveness grace (TTL-discriminated from a live
 * concurrent append, which rewrites explicitly support): recover the
 * stream (its replay converges and commits), or delete the orphan
 * `_stage_b*` dir if the stream is retired, then rewrite.
 *
 * ONE STREAM PER DESTINATION — the same assumption the marker protocol
 * has always made (two streams share a batchId sequence, so stream B's
 * batch 0 would hit stream A's marker 0): batchId must be unique per
 * destination, or one stream's residue wipe could claim another's files.
 */
object IdempotentAppend {

  /** The commit markers of the streams appending under `root`:
    * `<root>/_graft_batches/<batchId>`. */
  private[graft] def markerDir(root: Path): Path = new Path(root, "_graft_batches")

  /** Stage-dir path for (path, batchId) — in-flight sentinel, see above. */
  def stagePath(path: String, batchId: Long): Path =
    new Path(s"${path}_stage_b$batchId")

  /** One append of a micro-batch: `rows`, laid out by `partitionCols`,
    * into the table at `path`. The rows are built only when the append
    * runs, so a skipped batch builds nothing. */
  final class Into private (val path: String, partitionCols: Seq[String], rows: () => DataFrame) {
    private[graft] def append(batchId: Long): Unit =
      IdempotentAppend.append(rows(), path, batchId, partitionCols)
  }

  object Into {
    def apply(path: String, partitionCols: String*)(rows: => DataFrame): Into =
      new Into(path, partitionCols, () => rows)
  }

  /** Run micro-batch `batchId` of a foreachBatch sink exactly once, its
    * commit marker in [[markerDir]] of `root`: a batch whose marker exists
    * is skipped (clearing the stages a crash after the marker left);
    * otherwise `appends` run in order, then `beforeMarker`, then the marker
    * is written and the stages cleared. */
  def runBatch(spark: SparkSession, root: String, batchId: Long,
      beforeMarker: Long => Unit = _ => ())(appends: Into*): Unit = {
    val markers = markerDir(new Path(root))
    val fs = Maintenance.fileSystem(spark, root)
    val paths = appends.map(_.path)
    if (committed(fs, markers, batchId, paths)) return
    appends.foreach(_.append(batchId))
    beforeMarker(batchId)
    finish(fs, markers, batchId, paths)
  }

  /** Marker-present fast path for a replayed batch: the batch is fully
    * committed — clear any stage residue a crash between the marker write
    * and the stage cleanup left behind, then tell the sink to skip. */
  private[graft] def committed(
      fs: FileSystem,
      markerDir: Path,
      batchId: Long,
      stagedPaths: Seq[String]): Boolean = {
    val done = fs.exists(new Path(markerDir, batchId.toString))
    if (done) stagedPaths.foreach(p => fs.delete(stagePath(p, batchId), true))
    done
  }

  /** The batch's LAST step: write the commit marker, then clear the stage
    * sentinels. Order matters — clearing a stage before the marker exists
    * would leave a crash there invisible to [[assertNoUnresolved]]. */
  private[graft] def finish(
      fs: FileSystem,
      markerDir: Path,
      batchId: Long,
      stagedPaths: Seq[String]): Unit = {
    fs.mkdirs(markerDir)
    fs.create(new Path(markerDir, batchId.toString), true).close()
    stagedPaths.foreach(p => fs.delete(stagePath(p, batchId), true))
  }

  /** Fail fast if any append into `tablePaths` is ABANDONED (stage dir
    * present, commit marker in `markerDir` absent, and the stage has been
    * quiet longer than `graceMs`). Called BEFORE it reads by
    * [[Maintenance.rewrite]], the one commit for every table rewrite: ledger
    * DML and compaction, and the LSH-store and IVF-index compactions (which
    * check every table they rewrite before the first). Rewriting a table
    * that still owes a crashed batch its replay
    * would merge the crashed attempt's `b<id>_`-prefixed rows into
    * unprefixed files, and the replay would then install the batch a
    * second time.
    *
    * The grace window is how a crashed appender is told apart from a LIVE
    * one — the same TTL-liveness discrimination [[WriterLease]] uses for
    * crashed writers, and the same default. A live concurrent append is
    * explicitly supported during rewrites (a rewrite retires only its
    * snapshot files, so the append's files and its marker are never
    * touched — CI-locked by ConcurrentAppendDmlSpec), so a FRESH stage must not
    * block the rewrite. The residual window this leaves — an append that
    * crashes, and whose table is rewritten within the grace period, and
    * whose stream only replays after that rewrite — is the narrow triple
    * interleaving the name-based residue wipe cannot cover; once the
    * stage is older than the grace, the rewrite refuses and the window is
    * closed. */
  def assertNoUnresolved(
      fs: FileSystem,
      markerDir: Path,
      tablePaths: Seq[String],
      graceMs: Long = WriterLease.DefaultTtlMs): Unit = {
    val now = System.currentTimeMillis()
    tablePaths.foreach { tp =>
      val table = fs.makeQualified(new Path(tp))
      val parent = table.getParent
      val stagePrefix = s"${table.getName}_stage_b"
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).foreach { s =>
          val n = s.getPath.getName
          if (s.isDirectory && n.startsWith(stagePrefix)) {
            val id = n.stripPrefix(stagePrefix)
            if (id.nonEmpty && id.forall(_.isDigit) &&
                !fs.exists(new Path(markerDir, id)) &&
                now - s.getModificationTime > graceMs)
              throw new java.io.IOException(
                s"unresolved streaming append on $tp (batch $id: stage dir " +
                  s"${s.getPath} exists, no commit marker in $markerDir, " +
                  s"quiet for ${now - s.getModificationTime} ms). " +
                  "Recover the stream so the replay converges and commits, " +
                  "or delete the stage dir if the stream is retired, then " +
                  "re-run this rewrite.")
          }
        }
    }
  }

  /** Stage `df`, then move its files into `path` under `b<batchId>_`
    * names, first wiping that prefix's residue of a crashed attempt from
    * each destination directory the stage fills. The stage dir stays: it is
    * the in-flight sentinel, cleared only once the commit marker exists. */
  def append(
      df: DataFrame,
      path: String,
      batchId: Long,
      partitionCols: Seq[String] = Nil): Unit = {
    val stage = stagePath(path, batchId)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(stage.toString)
    Maintenance.moveFiles(Maintenance.fileSystem(df.sparkSession, path),
      stage, new Path(path), s"b${batchId}_")
  }
}
