package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{DedupOps, SimilarityOps, SnapshotOps}

/**
 * The incremental story COMPOSED end-to-end (VERDICT r6 #6): a snapshot
 * update flows through [[SnapshotOps.snapshotDelta]] into the persisted
 * dedup/ANN stores, and the composed result equals a full recompute over
 * the v2 snapshot.
 *
 * The maintenance algebra under test (the caller's protocol, documented on
 * each operator):
 *  - `delta  = snapshotDelta(v1, v2)` — new + content-changed docs, the
 *    ingest set;
 *  - `stale  = snapshotDelta(v2, v1)` — removed + pre-change rows, whose
 *    derived artifacts (pairs, signatures, cells) must be retired;
 *  - pairs(v2) = (pairs(v1) minus pairs touching stale ids)
 *                ∪ incremental(delta vs v2's unchanged docs);
 *  - a pure ADDITION batch appends to the persisted stores with no
 *    retirement step, and the appended store is row-equal to a rebuild.
 */
class DeltaReprocessSpec extends SparkSpec {

  // Near-dup-rich corpus: textual families A/B plus singletons. Token
  // bodies are long enough (>=30 words) that 3-gram shingle Jaccard is
  // meaningful and families cross the 0.8 threshold.
  private def family(tag: String, n: Int): String =
    (0 until 34).map(i => s"$tag${if (i % 11 == 0) n else 0}w$i").mkString(" ")

  private def v1Docs: DataFrame = docsOf(
    (1L, family("a", 0), "en", "s"),
    (2L, family("a", 0), "en", "s"),   // dup of 1
    (3L, family("b", 0), "en", "s"),
    (4L, family("b", 0), "en", "s"),   // dup of 3
    (5L, "solo " + family("c", 0), "en", "s"),
    (6L, family("d", 0), "en", "s"))

  private def v2Docs: DataFrame = docsOf(
    (1L, family("a", 0), "en", "s"),   // unchanged
    (2L, family("a", 0), "en", "s"),   // unchanged
    (3L, family("b", 9), "en", "s"),   // CHANGED content (still b-family-ish)
    (4L, family("b", 0), "en", "s"),   // unchanged
    // 5 REMOVED
    (6L, family("d", 0), "en", "s"),   // unchanged
    (7L, family("a", 0), "en", "s"),   // ADDED dup of 1/2
    (8L, family("e", 0), "en", "s"))   // ADDED singleton

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("snapshot delta drives LSH pair maintenance: composed == full recompute") {
    graft.functions.GraftFunctions.register(spark)
    val v1 = v1Docs
    val v2 = v2Docs
    val delta = SnapshotOps.snapshotDelta(v1, v2) // 3 (changed), 7, 8 (added)
    val stale = SnapshotOps.snapshotDelta(v2, v1) // 3 (pre-change), 5 (removed)
    assert(delta.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L, 7L, 8L))
    assert(stale.select("doc_id").collect().map(_.getLong(0)).toSet == Set(3L, 5L))

    val staleIds = stale.select("doc_id").collect().map(_.getLong(0)).toSet
    val unchanged = v2.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")

    val keptPairs = pairSet(DedupOps.minhashLsh(v1, 0.8, Int.MaxValue))
      .filter { case (a, b) => !staleIds(a) && !staleIds(b) }
    val incremental = pairSet(
      DedupOps.minhashLshIncremental(delta, unchanged, 0.8, Int.MaxValue))
    val full = pairSet(DedupOps.minhashLsh(v2, 0.8, Int.MaxValue))

    assert(full.nonEmpty, "fixture must produce near-dup pairs")
    assert((keptPairs ++ incremental) == full,
      s"composed=${(keptPairs ++ incremental).toSeq.sorted} full=${full.toSeq.sorted}")
    // the composition did real work on both sides of the union
    assert(keptPairs.nonEmpty && incremental.nonEmpty)
  }

  test("pure addition batch: appended LSH store equals a full rebuild") {
    graft.functions.GraftFunctions.register(spark)
    val v1 = v1Docs
    val adds = docsOf(
      (7L, family("a", 0), "en", "s"),
      (8L, family("e", 0), "en", "s"))
    val v2 = v1.unionByName(adds)

    val base = tempDir("graft_delta_lsh").toString
    DedupOps.buildLshStore(v1, s"$base/incr")
    DedupOps.appendLshStore(adds, s"$base/incr")
    DedupOps.buildLshStore(v2, s"$base/full")

    def rows(p: String, cols: String*): Set[Seq[Any]] =
      spark.read.parquet(p).select(cols.map(col): _*).collect()
        .map(_.toSeq.map {
          case s: scala.collection.Seq[_] => s.toList
          case x => x
        }).toSet
    assert(rows(s"$base/incr/bands", "doc_id", "band_key")
      == rows(s"$base/full/bands", "doc_id", "band_key"))
    assert(rows(s"$base/incr/shingles", "doc_id", "sh")
      == rows(s"$base/full/shingles", "doc_id", "sh"))
  }

  test("full add/change/remove snapshot through the persisted store: " +
      "retire -> compact -> append equals a rebuild over v2") {
    graft.functions.GraftFunctions.register(spark)
    val v1 = v1Docs
    val v2 = v2Docs
    val delta = SnapshotOps.snapshotDelta(v1, v2)   // 3 (changed), 7, 8
    val stale = SnapshotOps.snapshotDelta(v2, v1)   // 3 (pre-change), 5

    val base = tempDir("graft_delta_store").toString
    DedupOps.buildLshStore(v1, s"$base/incr")
    // the per-snapshot maintenance protocol (see retireLshStore scaladoc)
    DedupOps.retireLshStore(stale.select("doc_id"), s"$base/incr")
    // BEFORE compaction: incremental detection already excludes retired
    // rows — pairs of the delta against the tombstoned store equal pairs
    // against v2's unchanged docs
    val viaStore = pairSet(DedupOps.minhashLshIncremental(
      delta, s"$base/incr", 0.8, Int.MaxValue))
    val unchanged = v2.join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
    val viaFrames = pairSet(DedupOps.minhashLshIncremental(
      delta, unchanged, 0.8, Int.MaxValue))
    assert(viaStore == viaFrames, s"store=$viaStore frames=$viaFrames")
    // compact (physical drop + tombstone clear), then re-append the delta
    // under its original ids
    DedupOps.compactLshStore(spark, s"$base/incr")
    assert(!new java.io.File(s"$base/incr/tombstones").exists())
    DedupOps.appendLshStore(delta, s"$base/incr")
    DedupOps.buildLshStore(v2, s"$base/full")
    def rows(p: String): Set[(Long, String)] =
      spark.read.parquet(p).select(col("doc_id"), col("band_key")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(s"$base/incr/bands") == rows(s"$base/full/bands"))
  }

  test("compaction crash windows: a crash between the two renames is repaired " +
      "on retry; no crash point loses both store copies") {
    import org.apache.hadoop.fs.Path
    import graft.sources.Maintenance
    graft.functions.GraftFunctions.register(spark)
    val base = tempDir("graft_crash").toString
    DedupOps.buildLshStore(v1Docs, s"$base/s")
    DedupOps.retireLshStore(v1Docs.filter(col("doc_id") === 5L).select("doc_id"), s"$base/s")
    val want = spark.read.parquet(s"$base/s/bands")
      .join(spark.read.parquet(s"$base/s/tombstones"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("band_key")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    // simulate the crash of a prior attempt on `bands` after its manifest
    // committed: a snapshot file sits in the staging dir beside the table
    // (pretend it is the compacted output), and the manifest names that dir
    // and retires the file — the deletes and the move-in (the second
    // rename) never ran; the committed manifest is replayed on retry
    val bands = new Path(s"$base/s/bands")
    val fs = bands.getFileSystem(spark.sessionState.newHadoopConf())
    val moved = fs.listStatus(bands).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val staging = new Path(s"$base/s/bands_staging_0badf00d")
    val manifest = new Path(bands, Maintenance.ManifestName)
    fs.mkdirs(staging)
    assert(fs.rename(moved, new Path(staging, moved.getName)))
    val out = fs.create(manifest, true)
    out.write(s"${staging.getName}\n${moved.getName}".getBytes("UTF-8")); out.close()
    assert(!fs.exists(moved), "crash window: a snapshot file is outside the table")
    assert(fs.exists(new Path(staging, moved.getName)), "crash window: the staged copy survives")
    // the retry's rewrite of `bands` replays the manifest before it reads
    DedupOps.compactLshStore(spark, s"$base/s")
    val got = spark.read.parquet(s"$base/s/bands")
      .select(col("doc_id"), col("band_key")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want, "recovered compaction must equal the uncrashed result")
    assert(!fs.exists(staging) && !fs.exists(manifest) &&
      !fs.exists(new Path(s"$base/s/tombstones")))
  }

  test("snapshot delta drives IVF append: queries equal a same-centroid rebuild") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    // deterministic embeddings keyed like the docs; delta adds vec 7 and 8
    def vec(id: Long): Seq[Float] =
      (0 until 8).map(j => ((id * 7 + j * 3) % 11).toFloat + 1f)
    val v1 = (1L to 6L).map(i => (i, vec(i), i % 3)).toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"), col("label"))
    val adds = Seq(7L, 8L).map(i => (i, vec(i), i % 3)).toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"), col("label"))
    val v2 = v1.unionByName(adds)

    val base = tempDir("graft_delta_ivf").toString
    SimilarityOps.buildIvfIndex(v1, s"$base/incr", centroidMod = 2)
    SimilarityOps.appendIvfIndex(adds, s"$base/incr")
    // rebuild over v2 with the SAME persisted centroid table — the honest
    // comparison: append never re-trains the quantizer
    val cents = spark.read.parquet(s"$base/incr_centroids")
    SimilarityOps.buildIvfIndexWith(v2, s"$base/full", cents)

    val qvec = v2.filter(col("vec_id") === 1L).select(col("embedding").as("qvec"))
    def top(path: String): Seq[(Long, Double)] =
      SimilarityOps.queryIvfIndex(
          spark.read.parquet(path), cents, qvec, 1L, k = 5, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val incr = top(s"$base/incr")
    val full = top(s"$base/full")
    assert(incr == full, s"incr=$incr full=$full")
    // the appended vectors are actually reachable (7 is vec-identical to
    // nothing, but must appear in the candidate set of some probe)
    assert(spark.read.parquet(s"$base/incr").filter(col("vec_id") >= 7L).count() == 2L)

    // --- change/remove: retire -> (live queries already correct) ->
    // compact -> re-append, equals a same-centroid rebuild over v3
    import spark.implicits._
    def vecs(ids: Seq[Long], shift: Long): org.apache.spark.sql.DataFrame =
      ids.map(i => (i, (0 until 8).map(j => ((i * 7 + j * 3 + shift) % 11).toFloat + 1f), i % 3))
        .toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"), col("label"))
    val changed = vecs(Seq(3L), shift = 5)        // vec 3 gets new content
    val staleIds = Seq(3L, 5L).toDF("vec_id")     // 3 changed, 5 removed
    val v3 = v2.filter(!col("vec_id").isin(3L, 5L)).unionByName(changed)

    SimilarityOps.retireIvfIndex(staleIds, s"$base/incr")
    // BEFORE compaction: live query excludes retired vecs (5 gone, old 3 gone)
    val liveTop = SimilarityOps.queryIvfIndexLive(spark, s"$base/incr", qvec, 1L, 5, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(!liveTop.contains(5L) && !liveTop.contains(3L))
    SimilarityOps.compactIvfIndex(spark, s"$base/incr")
    assert(!new java.io.File(s"$base/incr_tombstones").exists())
    SimilarityOps.appendIvfIndex(changed, s"$base/incr")
    SimilarityOps.buildIvfIndexWith(v3, s"$base/full3", cents)
    val incr3 = SimilarityOps.queryIvfIndexLive(spark, s"$base/incr", qvec, 1L, 5, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full3 = SimilarityOps.queryIvfIndex(
        spark.read.parquet(s"$base/full3"), cents, qvec, 1L, 5, 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(incr3 == full3, s"incr3=$incr3 full3=$full3")
  }
}
