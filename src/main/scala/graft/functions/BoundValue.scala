package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.DataType

/**
 * A per-call value bound by reference: the same value and type as
 * `Literal(v)`, but generated code reads it from the class's `references`
 * array instead of inlining it. Spark's `Literal` writes a primitive value
 * (a timestamp, a date, a long) into the Java source, so a query that
 * differs from the last one only in such a value compiles new classes; with
 * this leaf every call of one query shape produces the same source and is
 * served from the class cache.
 *
 * Not foldable, so the optimizer keeps it as it is: a filter on it is not
 * pushed into the Parquet reader (a pushed filter needs a `Literal`), and a
 * cast around it is evaluated per row. A filter on partition columns only
 * still prunes partitions, since partition filters are evaluated when the
 * files are listed. `sql` renders the literal, so column names and messages
 * read as with `lit`.
 */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null, "a null binds as Literal(null)")

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bound", value, CodeGenerator.boxedType(dataType))
    val v =
      if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${CodeGenerator.javaType(dataType)}Value()"
      else ref
    ExprCode.forNonNullValue(JavaCode.expression(v, dataType))
  }

  override def sql: String = Literal(value, dataType).sql

  override def toString: String = s"bound(${Literal(value, dataType)})"
}

object BoundValue {
  /** `v` bound by reference, with the value and type `Literal(v)` gives it
    * (a Scala or Java value, as `lit` takes); a null stays `Literal(null)`. */
  def of(v: Any): Expression = Literal(v) match {
    case l @ Literal(null, _) => l
    case Literal(value, dataType) => BoundValue(value, dataType)
  }

  def column(v: Any): Column = ColumnBridge.column(of(v))
}
