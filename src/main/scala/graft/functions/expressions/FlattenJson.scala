package graft.functions.expressions

import com.fasterxml.jackson.databind.ObjectMapper
import graft.convert.JsonFlatten
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_flatten_json(json)` — the recursive EAV flatten (reference
  * `create_record_recursive`, `shared_code/timeseries.py:43-98`) as a
  * SQL-callable table-generating expression: one output row per scalar
  * leaf, `(measurement_of, measurement_data_type, measurement_number,
  * measurement_string, measurement_bool, measurement_location)`.
  *
  * The typed-`flatMap` converter path ([[graft.convert.Converters]]) stays
  * the primary API (it carries timestamps/subjects/publishers); this
  * Generator exposes the same walk to SQL users —
  * `SELECT ... LATERAL VIEW graft_flatten_json(payload)`. Generators don't
  * participate in whole-stage codegen by contract (`CodegenFallback` is the
  * norm — Spark's own `Explode` is eval-based from codegen'd parents), so
  * there is no interpreted-HOF penalty here.
  */
case class FlattenJson(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_flatten_json expects a string column, got ${t.simpleString}")
  }

  override def elementSchema: StructType = StructType(Seq(
    StructField("measurement_of", StringType),
    StructField("measurement_data_type", StringType),
    StructField("measurement_number", DoubleType),
    StructField("measurement_string", StringType),
    StructField("measurement_bool", BooleanType),
    StructField("measurement_location", ArrayType(DoubleType))
  ))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val records =
      try {
        val node = FlattenJson.mapper.readTree(raw.toString)
        JsonFlatten.flatten(node, timestamp = java.time.Instant.EPOCH, correlationId = None,
          publisher = "", subject = "")
      } catch { case scala.util.control.NonFatal(_) => return Nil }
    records.map { r =>
      InternalRow(
        UTF8String.fromString(r.measurement_of),
        UTF8String.fromString(r.measurement_data_type),
        r.measurement_number.map(Double.box).orNull,
        r.measurement_string.map(UTF8String.fromString).orNull,
        r.measurement_bool.map(Boolean.box).orNull,
        r.measurement_location
          .map(ll => new GenericArrayData(ll.toArray): ArrayData).orNull)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): FlattenJson =
    copy(child = newChild)
}

object FlattenJson {
  private val mapper = new ObjectMapper()
}
