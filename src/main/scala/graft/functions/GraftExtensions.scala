package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL-surface registration for the native expressions, so
  * `spark.sql("SELECT vec_dot(a, b) ...")` works alongside the Column
  * API — the standard extension plumbing
  * (`spark.sql.extensions=graft.functions.GraftExtensions`), plus
  * `registerAll` for injecting into an already-running session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(e: SparkSessionExtensions): Unit = {
    functions.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => graft.plans.VectorizeDotProduct)
    e.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
  }
}

object GraftExtensions {

  private def intArg(e: Expression, fn: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(
        s"$fn expects a literal int, got $other")
  }

  private def strArg(e: Expression, fn: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other =>
      throw new IllegalArgumentException(
        s"$fn expects a literal string, got $other")
  }

  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("vec_dot",
      new ExpressionInfo(classOf[DotProduct].getName, "vec_dot"),
      (es: Seq[Expression]) => DotProduct(es(0), es(1))),
    ("vec_l2norm",
      new ExpressionInfo(classOf[L2Norm].getName, "vec_l2norm"),
      (es: Seq[Expression]) => L2Norm(es(0))),
    ("shingles",
      new ExpressionInfo(classOf[ShingleArray].getName, "shingles"),
      (es: Seq[Expression]) => ShingleArray(es(0), intArg(es(1), "shingles"))),
    ("hamming",
      new ExpressionInfo(classOf[HammingDistance].getName, "hamming"),
      (es: Seq[Expression]) => HammingDistance(es(0), es(1))),
    ("freq_items_sketch",
      new ExpressionInfo(classOf[MisraGriesSketch].getName, "freq_items_sketch"),
      (es: Seq[Expression]) =>
        MisraGriesSketch(es(0), intArg(es(1), "freq_items_sketch"))
          .toAggregateExpression()),
    ("cms_sketch",
      new ExpressionInfo(classOf[CountMinSketch].getName, "cms_sketch"),
      (es: Seq[Expression]) =>
        CountMinSketch(es(0), intArg(es(1), "cms_sketch"),
          intArg(es(2), "cms_sketch")).toAggregateExpression()),
    ("grams",
      new ExpressionInfo(classOf[NGramGenerator].getName, "grams"),
      (es: Seq[Expression]) => NGramGenerator(es(0), intArg(es(1), "grams"))),
    ("int_ewma",
      new ExpressionInfo(classOf[IntEwma].getName, "int_ewma"),
      (es: Seq[Expression]) => IntEwma(es(0))),
    ("int_cusum",
      new ExpressionInfo(classOf[IntCusum].getName, "int_cusum"),
      (es: Seq[Expression]) => es(1) match {
        case Literal(v: Long, LongType) => IntCusum(es(0), v)
        case Literal(v: Int, IntegerType) => IntCusum(es(0), v.toLong)
        case other => throw new IllegalArgumentException(
          s"int_cusum expects a literal drift, got $other")
      }),
    // Avro datum codec over the engine bundled in spark-sql: Spark 4.1
    // registers built-in `to_avro`/`from_avro` SQL names whose
    // expressions reflectively require the absent spark-avro artifact
    // and always throw in this image — so the working reimplementation
    // registers under the graft_ prefix rather than shadowing a
    // built-in name (see AvroExpressions.scala)
    ("graft_to_avro",
      new ExpressionInfo(classOf[ToAvroExpr].getName, "graft_to_avro"),
      (es: Seq[Expression]) => ToAvroExpr(es(0), strArg(es(1), "graft_to_avro"))),
    ("graft_from_avro",
      new ExpressionInfo(classOf[FromAvroExpr].getName, "graft_from_avro"),
      (es: Seq[Expression]) => FromAvroExpr(es(0), strArg(es(1), "graft_from_avro"))),
    // Protobuf wire-format pair (nothing of protobuf ships in this
    // image — the subset codec is hand-rolled; see
    // ProtoExpressions.scala)
    ("graft_to_proto",
      new ExpressionInfo(classOf[ToProtoExpr].getName, "graft_to_proto"),
      (es: Seq[Expression]) => ToProtoExpr(es(0))),
    ("graft_from_proto",
      new ExpressionInfo(classOf[FromProtoExpr].getName, "graft_from_proto"),
      (es: Seq[Expression]) => FromProtoExpr(es(0), strArg(es(1), "graft_from_proto"))),
    // Spark's own bloom sketch pair, surfaced to SQL: the optimizer
    // injects these for runtime join filters but does not register
    // them for direct use — registering the SAME expressions lets a
    // query build an explicit corpus prescreen (dedup_incremental_bloom)
    ("bloom_agg",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_agg"),
      (es: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          es(0), es(1), es(2)).toAggregateExpression()),
    ("bloom_contains",
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "bloom_contains"),
      (es: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          es(0), es(1))),
  )

  /** Register into a live session's function registry (temp functions).
    * Idempotent: a name the registry already maps to the same function
    * object is left as it is, so the queries that call this each time
    * they are built do not replace the functions each time. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      if (!registry.lookupFunctionBuilder(FunctionIdentifier(name)).exists(_ eq builder))
        registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
