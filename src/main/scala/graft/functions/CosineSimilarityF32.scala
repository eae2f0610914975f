package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/**
 * Cosine similarity over two `array<float>` columns as a native Catalyst
 * expression with whole-stage codegen (SURVEY.md §4.3: a codegen'd Expression
 * beats a Scala UDF, which would break the WholeStageCodegen span in the
 * similarity-search hot path).
 *
 * Arithmetic is deliberately float32 end-to-end — sequential f32 accumulation,
 * then `dot / (sqrt(na) * sqrt(nb))` in f32 — which is bit-identical to the
 * DuckDB 1.0 `list_cosine_similarity(FLOAT[], FLOAT[])` used by the
 * correctness oracle (verified bit-exact on 400 random embedding pairs).
 */
case class CosineSimilarityF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_f32 expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = FloatType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityF32.compute(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.CosineSimilarityF32.compute(" +
        s"$a.toFloatArray(), $b.toFloatArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "cosine_f32"
}

object CosineSimilarityF32 {
  /** Sequential f32 accumulation; called from both interpreted and generated
    * code. Dimension mismatch fails loudly (DuckDB's list_cosine_similarity
    * errors too — silently truncating would return plausible-looking wrong
    * similarities). Zero vectors yield NaN, matching the oracle. */
  def compute(x: Array[Float], y: Array[Float]): Float = {
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"cosine_f32: dimension mismatch ${x.length} vs ${y.length}")
    val n = x.length
    var dot = 0f
    var na = 0f
    var nb = 0f
    var i = 0
    while (i < n) {
      dot += x(i) * y(i)
      na += x(i) * x(i)
      nb += y(i) * y(i)
      i += 1
    }
    dot / (math.sqrt(na).toFloat * math.sqrt(nb).toFloat)
  }
}

/**
 * Float32 dot product over two `array<float>` columns — the norm/projection
 * primitive [[CosineSimilarityF32]] composes internally, exposed for
 * operators that need the raw inner product (embedding-norm QA:
 * `dot_f32(v, v)` is the squared L2 norm). Same sequential f32 accumulation
 * as DuckDB's `list_dot_product(FLOAT[], FLOAT[])`, so oracle-gated queries
 * agree bit-exactly; same loud dimension-mismatch failure.
 */
case class DotProductF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_f32 expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }
  override def dataType: DataType = FloatType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductF32.compute(
      a.asInstanceOf[ArrayData].toFloatArray(),
      b.asInstanceOf[ArrayData].toFloatArray())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.DotProductF32.compute(" +
        s"$a.toFloatArray(), $b.toFloatArray());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot_f32"
}

object DotProductF32 {
  /** Sequential f32 accumulation, shared by interpreted and generated code. */
  def compute(x: Array[Float], y: Array[Float]): Float = {
    if (x.length != y.length)
      throw new IllegalArgumentException(
        s"dot_f32: dimension mismatch ${x.length} vs ${y.length}")
    var dot = 0f
    var i = 0
    while (i < x.length) {
      dot += x(i) * y(i)
      i += 1
    }
    dot
  }
}

/** Session-level registration of graft SQL functions (imperative twin of
  * [[graft.GraftExtensions]] for sessions created without the extension).
  * Operators call it defensively on entry; the first call per session
  * FORCE-replaces any same-named function (an unrelated UDF shadowing the
  * engine's expressions would silently corrupt results), later calls are
  * no-ops so hot paths don't spam replace warnings. */
object GraftFunctions {
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Makes every function in [[graft.GraftExtensions.functions]] available to `expr` / SQL. */
  def register(spark: SparkSession): Unit =
    if (registered.put(spark, java.lang.Boolean.TRUE) == null) {
      val reg = spark.sessionState.functionRegistry
      graft.GraftExtensions.functions.foreach { case (name, _, builder) =>
        reg.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
    }

  /** Column helper for the md5-prefix hash — the one place the SQL name and
    * the cast-to-binary convention live. */
  def md5PrefixLong(c: org.apache.spark.sql.Column, hexChars: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("md5_prefix_long",
      c.cast("binary"), org.apache.spark.sql.functions.lit(hexChars))

  /** Column helper for the one-pass distinct word-k-gram shingler — callers
    * must have [[register]]ed the session (every operator entry point that
    * shingles does). See [[graft.functions.WordShingles]] for semantics. */
  def wordShingles(tokens: org.apache.spark.sql.Column, k: Int,
      wholeDocIfShort: Boolean): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("word_shingles",
      tokens, org.apache.spark.sql.functions.lit(k),
      org.apache.spark.sql.functions.lit(wholeDocIfShort))

  /** Column helper for the one-pass non-overlapping span grid — callers
    * must have [[register]]ed the session. See
    * [[graft.functions.WordSpans]] for semantics. */
  def wordSpans(tokens: org.apache.spark.sql.Column,
      width: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("word_spans",
      tokens, org.apache.spark.sql.functions.lit(width))

  /** Column helper for the Bloom membership probe — the sketch bytes travel
    * as a binary literal, the hash column must already be a bigint. */
  def bloomContainsLong(hash: org.apache.spark.sql.Column, bloomBytes: Array[Byte]): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.call_function("bloom_contains_long",
      hash, org.apache.spark.sql.functions.lit(bloomBytes))

  /** Deterministic id-hash keep/sample gate: the first md5 nibble of `id`'s
    * string form, compared against `nibbles` (0..16; 16 keeps everything).
    * The one place the expression lives — the funnel's sampling stage and
    * the recall census both gate through it, so the Spark form and the
    * DuckDB oracle form `('0x'||substr(md5(id::VARCHAR),1,1))::BIGINT < n`
    * cannot drift apart between operators. */
  def sampleGate(id: org.apache.spark.sql.Column, nibbles: Int): org.apache.spark.sql.Column =
    md5PrefixLong(id.cast("string"), 1) < org.apache.spark.sql.functions.lit(nibbles)
}
