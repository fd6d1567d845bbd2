package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  JavaCode}
import org.apache.spark.sql.types.DataType

/** A query parameter: a value bound to one query, read by the generated
  * code from its references array instead of being written into the Java
  * source. A plain `Literal` of a long, double or timestamp is spelled
  * into the generated code (`value >= 1699905023000000L`), so two queries
  * that differ only in such a value are two sources, and each misses the
  * `CodeGenerator` cache and pays a Janino compile. Through a
  * `BoundParam` they generate the same source and share the compiled
  * class; only the references array differs.
  *
  * Why a `Literal` subclass: `DataSourceStrategy.translateFilter` pushes a
  * comparison to a file source only against a `Literal`, so
  * `timestamp >= BoundParam(…)` still reaches parquet `PushedFilters`
  * (row-group min/max skipping). `foldable` is false, so constant folding
  * never replaces an expression over the parameter with a new plain
  * literal; for the same reason it cannot stand where Spark requires a
  * foldable argument (a `LIMIT`, a window frame, a `date_trunc` unit).
  */
final class BoundParam(value: Any, dataType: DataType) extends Literal(value, dataType) {

  override def foldable: Boolean = false

  override def contextIndependentFoldable: Boolean = false

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (value == null) ExprCode.forNullValue(dataType)
    else {
      val javaType = CodeGenerator.javaType(dataType)
      val boxed = CodeGenerator.boxedType(dataType)
      val ref = ctx.addReferenceObj("param", value, boxed)
      // unbox explicitly: two boxed operands would compare by reference
      val read = if (CodeGenerator.isPrimitiveType(dataType)) s"$ref.${javaType}Value()" else ref
      ExprCode.forNonNullValue(JavaCode.expression(read, dataType))
    }
}

object BoundParam {
  def apply(value: Any, dataType: DataType): BoundParam = new BoundParam(value, dataType)
}
