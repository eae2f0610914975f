package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{BloomContainsLong, BpeSegment, BpeSegmentFile, CdcChunks, CosineSimilarityF32, DotProductF32, JaroWinkler, Md5PrefixLong}

/**
 * SparkSessionExtensions entry point — the deployment route for the engine's
 * custom Catalyst expressions: any session created with
 * `spark.sql.extensions=graft.GraftExtensions` (or
 * `.withExtensions(new GraftExtensions)`) gets `cosine_f32` in its function
 * registry with no imperative registration call. Cluster-wide installs put
 * the class name in spark-defaults.conf and every session — including ones
 * the engine never sees, e.g. a JDBC gateway — can use the functions in SQL.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder))
    }
}

object GraftExtensions {
  /** Every graft SQL function as (name, expression class, builder) — the one
    * list both install routes iterate: the session extension above and the
    * imperative [[graft.functions.GraftFunctions.register]]. Lazy because
    * the builders below are initialized after it. */
  private[graft] lazy val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_f32", classOf[CosineSimilarityF32], cosineBuilder),
    ("dot_f32", classOf[DotProductF32], dotBuilder),
    ("md5_prefix_long", classOf[Md5PrefixLong], md5PrefixBuilder),
    ("bloom_contains_long", classOf[BloomContainsLong], bloomContainsBuilder),
    ("cdc_chunks", classOf[CdcChunks], cdcChunksBuilder),
    ("bpe_segment", classOf[BpeSegment], bpeSegmentBuilder),
    ("bpe_segment_file", classOf[BpeSegmentFile], bpeSegmentFileBuilder),
    ("graft_top_k_rows", classOf[graft.plans.TopKRows], topKRowsBuilder),
    ("jaro_winkler", classOf[JaroWinkler], jaroWinklerBuilder),
    ("cell_pair_matches", classOf[graft.functions.CellPairMatchesF32], cellPairMatchesBuilder),
    ("word_shingles", classOf[graft.functions.WordShingles], wordShinglesBuilder),
    ("word_spans", classOf[graft.functions.WordSpans], wordSpansBuilder),
    ("nearest_in_dir", classOf[graft.functions.NearestInDir], nearestInDirBuilder))

  /** Arity-checked builder shared by the extension and temp registration:
    * a wrong argument count is a clear signature error, not an
    * IndexOutOfBoundsException from inside the planner. */
  private[graft] val cosineBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"cosine_f32 expects exactly 2 arguments (array<float>, array<float>), got ${children.length}")
    CosineSimilarityF32(children(0), children(1))
  }

  /** `dot_f32(array<float>, array<float>)` — plain binary scalar. */
  private[graft] val dotBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"dot_f32 expects exactly 2 arguments (array<float>, array<float>), got ${children.length}")
    DotProductF32(children(0), children(1))
  }

  /** `graft_top_k_rows(rowStruct, sortStruct, k, dirs)` — the bounded-heap
    * top-k aggregate; k and the per-key direction string ('A'scending /
    * 'D'escending, Spark null-ordering defaults) must be literals (they
    * parameterize the aggregate instance, they are not per-row values). */
  private[graft] val topKRowsBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 4)
      throw new IllegalArgumentException(
        s"graft_top_k_rows expects (struct, struct, int literal, string literal), got ${children.length} args")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{IntegerType, StringType}
    (children(2), children(3)) match {
      case (Literal(k: Int, IntegerType), Literal(d: org.apache.spark.unsafe.types.UTF8String, StringType)) =>
        val dirs = d.toString.map {
          case 'A' => (true, true)   // asc, nulls first (Spark asc default)
          case 'D' => (false, false) // desc, nulls last (Spark desc default)
          case c => throw new IllegalArgumentException(
            s"graft_top_k_rows: direction must be 'A' or 'D', got '$c'")
        }
        graft.plans.TopKRows(children(0), children(1), k, dirs)
      case other => throw new IllegalArgumentException(
        s"graft_top_k_rows: k and directions must be literals, got $other")
    }
  }

  /** `jaro_winkler(string, string)` — plain binary scalar. */
  private[graft] val jaroWinklerBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"jaro_winkler expects exactly 2 arguments (string, string), got ${children.length}")
    JaroWinkler(children(0), children(1))
  }

  /** `cell_pair_matches(cellA, cellB, minSim, same)` — the blocked
    * all-vs-all candidate kernel over two packed cells. */
  private[graft] val cellPairMatchesBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 4)
      throw new IllegalArgumentException(
        "cell_pair_matches expects exactly 4 arguments " +
          s"(cellA, cellB, minSim, same), got ${children.length}")
    graft.functions.CellPairMatchesF32(children)
  }

  /** `nearest_in_dir(embedding, dir)` — the shuffle-free centroid
    * assignment argmax over a broadcast directory. */
  private[graft] val nearestInDirBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        "nearest_in_dir expects exactly 2 arguments " +
          s"(array<float>, array<struct<id, vec>>), got ${children.length}")
    graft.functions.NearestInDir(children)
  }

  /** `md5_prefix_long(bytes, k)` — k must be a foldable integer literal (it
    * parameterizes the generated code, it is not a per-row value). */
  private[graft] val md5PrefixBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"md5_prefix_long expects exactly 2 arguments (binary, int literal), got ${children.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    children(1) match {
      case Literal(k: Int, IntegerType) => Md5PrefixLong(children(0), k)
      case other => throw new IllegalArgumentException(
        s"md5_prefix_long: hexChars must be an integer literal, got $other")
    }
  }

  /** `bloom_contains_long(hash, bloomBytes)` — the sketch must be a binary
    * literal (it parameterizes the per-executor filter instance, it is not a
    * per-row value). */
  private[graft] val bloomContainsBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"bloom_contains_long expects exactly 2 arguments (bigint, binary literal), got ${children.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    children(1) match {
      case Literal(b: Array[Byte], BinaryType) => BloomContainsLong(children(0), b)
      case other => throw new IllegalArgumentException(
        s"bloom_contains_long: the sketch must be a binary literal, got $other")
    }
  }

  /** `cdc_chunks(array<string>, m)` — m must be a foldable integer literal
    * (it parameterizes the generated code, it is not a per-row value). */
  private[graft] val cdcChunksBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"cdc_chunks expects exactly 2 arguments (array<string>, int literal), got ${children.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    children(1) match {
      case Literal(m: Int, IntegerType) => CdcChunks(children(0), m)
      case other => throw new IllegalArgumentException(
        s"cdc_chunks: the modulus must be an integer literal, got $other")
    }
  }

  /** `word_shingles(array<string>, k, wholeDocIfShort)` — k and the
    * short-doc policy must be literals (they parameterize the generated
    * code, they are not per-row values). */
  private[graft] val wordShinglesBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 3)
      throw new IllegalArgumentException(
        s"word_shingles expects exactly 3 arguments (array<string>, int literal, boolean literal), got ${children.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{BooleanType, IntegerType}
    (children(1), children(2)) match {
      case (Literal(k: Int, IntegerType), Literal(w: Boolean, BooleanType)) =>
        graft.functions.WordShingles(children(0), k, w)
      case other => throw new IllegalArgumentException(
        s"word_shingles: gram size and short-doc policy must be literals, got $other")
    }
  }

  /** `word_spans(array<string>, width)` — width must be a literal (it
    * parameterizes the generated code, it is not a per-row value). */
  private[graft] val wordSpansBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"word_spans expects exactly 2 arguments (array<string>, int literal), got ${children.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.IntegerType
    children(1) match {
      case Literal(w: Int, IntegerType) =>
        graft.functions.WordSpans(children(0), w)
      case other => throw new IllegalArgumentException(
        s"word_spans: width must be an integer literal, got $other")
    }
  }

  /** `bpe_segment(array<string>, mergesEncoded)` — the merge table must be
    * a string literal (it parameterizes the per-instance hash table, it is
    * not a per-row value). */
  private[graft] val bpeSegmentBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"bpe_segment expects exactly 2 arguments (array<string>, string literal), got ${children.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    children(1) match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        BpeSegment(children(0), s.toString)
      case other => throw new IllegalArgumentException(
        s"bpe_segment: the merge table must be a string literal, got $other")
    }
  }

  /** `bpe_segment_file(array<string>, path)` — the artifact-file transport
    * for trainer-scale merge tables; the path must be a string literal
    * (it names a versioned artifact, it is not a per-row value). */
  private[graft] val bpeSegmentFileBuilder: Seq[Expression] => Expression = { children =>
    if (children.length != 2)
      throw new IllegalArgumentException(
        s"bpe_segment_file expects exactly 2 arguments (array<string>, string literal), got ${children.length}")
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.StringType
    children(1) match {
      case Literal(s: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        BpeSegmentFile(children(0), s.toString)
      case other => throw new IllegalArgumentException(
        s"bpe_segment_file: the artifact path must be a string literal, got $other")
    }
  }
}

/**
 * Session factory with the engine's recommended configuration: UTC (oracle
 * parity), AQE on (runtime re-planning, skew splitting), and the graft
 * extensions installed. Shuffle parallelism is deliberately NOT pinned in
 * [[builder]] — on a cluster the driver JVM's core count says nothing about
 * executor parallelism, so the cluster config / AQE own that knob; only
 * [[local]] (single JVM, threads == cores) sizes it to the thread count.
 * Every main and test session in the repo comes from here.
 */
object GraftSession {
  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")

  /** Local thread count: `SPARK_GRAFT_CPUS` when set, else the host's cores. */
  def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cores: Int = defaultCores): SparkSession = {
    val s = builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
