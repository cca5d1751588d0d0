package graft.functions

import java.time.Instant

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, TimestampType}

/** A value fixed once per run (a run's timestamp): a non-null constant
  * of a `long`-backed `dataType` (a timestamp is its epoch
  * microseconds).
  *
  * `lit(v)` would serve, except that `Literal`'s generated code inlines
  * a long or timestamp into the Java source, and the codegen cache is
  * keyed on that source: a value that changes every run makes every run
  * compile its stage again. Here the generated code reads the value from
  * the stage's `references[]`, so the source is the same for every value
  * and a warm run reuses the compiled class. The expression is
  * deterministic (same value for every row) but not foldable, so the
  * optimizer cannot turn it back into a literal. */
case class RunConstant(value: Long, dataType: DataType) extends LeafExpression {
  require(CodeGenerator.javaType(dataType) == "long", s"RunConstant: $dataType is not long-backed")

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("runConstant", Long.box(value), "java.lang.Long")
    ExprCode.forNonNullValue(JavaCode.expression(s"$ref.longValue()", dataType))
  }
}

object perRun {
  /** `from_utc_timestamp(current_timestamp(), zone)` as it reads now. */
  def now(zone: String): Column = Bridge.column(RunConstant(
    DateTimeUtils.fromUTCTime(DateTimeUtils.instantToMicros(Instant.now()), zone), TimestampType))
}
