package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource V2 `TableCatalog` over a directory of parquet tables —
  * the catalog tier of the connector family (SeqSource = batch read,
  * MemTable = two-phase-commit write, RangeMicroBatchStream = streaming;
  * this is the name-resolution face that lets plain SQL reach them:
  * `SELECT ... FROM graft.data.orders`).
  *
  * The reference's catalog is Snowflake's: its COPY INTO targets live in
  * a database.schema namespace (/root/reference/Snowflake/snowpipe.sql:1-9).
  * Here the same idea is a Spark catalog plugin: tables resolve by name
  * through `spark.sql`, and each resolves to a full pushdown-capable
  * parquet table (filter pushdown, column pruning, partition pruning all
  * reach the scan — `ParquetTable` is the exact class `spark.read
  * .parquet` plans through, so a catalog-resolved scan is plan-identical
  * to a path-resolved one; PlanSpec pins PushedFilters on it).
  *
  * Scale notes: the catalog maps names to paths — it holds no data and
  * adds zero runtime cost; resolution happens once at analysis time.
  * Registration is lazy (`spark.sql.catalog.graft` conf), and the
  * backing directory is re-read from the SESSION conf on every
  * `loadTable`, so one long-lived catalog instance serves many logical
  * datasets (dev/staging/prod roots) without re-registration.
  *
  * Read-only by design: mutations (CREATE/ALTER/DROP) throw — writes go
  * through the write connector (`Sinks`/`MemTable`), not name mutation.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog {

  private var catName: String = "graft"
  private var defaultDir: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catName = name
    defaultDir = Option(options.get("dir"))
  }

  override def name(): String = catName

  /** Backing directory: the session conf wins (re-read per lookup, so
    * `spark.conf.set("spark.sql.catalog.<name>.dir", ...)` redirects a
    * live catalog), falling back to the initialize-time option. */
  private def dir: String =
    Option(SQLConf.get.getConfString(s"spark.sql.catalog.$catName.dir", null))
      .orElse(defaultDir)
      .getOrElse(throw new IllegalStateException(
        s"spark.sql.catalog.$catName.dir is not set"))

  private val NS = Array("data")

  private def tablePath(ident: Identifier): java.io.File =
    new java.io.File(s"$dir/${ident.name}.parquet")

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(NS)) throw new NoSuchNamespaceException(namespace)
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map(f => Identifier.of(NS, f.getName.stripSuffix(".parquet")))
  }

  override def tableExists(ident: Identifier): Boolean =
    ident.namespace.sameElements(NS) && tablePath(ident).exists()

  override def loadTable(ident: Identifier): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    ParquetTable(
      s"$catName.${NS.mkString(".")}.${ident.name}",
      SparkSession.active,
      CaseInsensitiveStringMap.empty(),
      Seq(tablePath(ident).getPath),
      userSpecifiedSchema = None,
      fallbackFileFormat = classOf[ParquetFileFormat])
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(s"$catName is read-only")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(s"$catName is read-only")

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(s"$catName is read-only")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(s"$catName is read-only")

  // SupportsNamespaces — the single fixed `data` namespace
  override def defaultNamespace(): Array[String] = NS

  override def listNamespaces(): Array[Array[String]] = Array(NS)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) Array(NS)
    else if (namespace.sameElements(NS)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespace.sameElements(NS)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)

  // FunctionCatalog — catalog-resolved scalar functions, the V2
  // function tier: bound once at analysis time, then codegen'd through
  // Catalyst's Invoke path like a built-in (no UDF serialization, no
  // Row boxing per call beyond the ArrayData handles)
  override def listFunctions(namespace: Array[String]): Array[Identifier] = {
    if (!namespace.sameElements(NS)) throw new NoSuchNamespaceException(namespace)
    GraftCatalog.functions.keys.toArray.sorted.map(Identifier.of(NS, _))
  }

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace.sameElements(NS))
      GraftCatalog.functions.getOrElse(ident.name,
        throw new NoSuchFunctionException(ident))
    else throw new NoSuchFunctionException(ident)

  override def functionExists(ident: Identifier): Boolean =
    ident.namespace.sameElements(NS) && GraftCatalog.functions.contains(ident.name)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(s"$catName is read-only")

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(s"$catName is read-only")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(s"$catName is read-only")
}

object GraftCatalog {

  /** The catalog's function registry. `vec_dot` mirrors the native
    * codegen `DotProduct` expression's left-to-right fold, so its
    * doubles are bit-identical to both that expression and DuckDB's
    * `list_dot_product` — catalog-function results stay oracle-able. */
  private[sources] val functions: Map[String, UnboundFunction] =
    Map("vec_dot" -> VecDotUnbound)
}

private[sources] object VecDotUnbound extends UnboundFunction {
  override def name(): String = "vec_dot"
  override def description(): String =
    "vec_dot(array<double>, array<double>) -> double: dot product"

  override def bind(inputType: StructType): BoundFunction = {
    val ok = inputType.fields.length == 2 && inputType.fields.forall(
      _.dataType match {
        case org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, _) => true
        case _ => false
      })
    if (!ok) throw new UnsupportedOperationException(
      s"vec_dot expects (array<double>, array<double>), got $inputType")
    VecDotBound
  }
}

private[sources] object VecDotBound extends ScalarFunction[java.lang.Double] {
  override def name(): String = "vec_dot"
  override def canonicalName(): String = "graft.vec_dot"
  override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
    Array(org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))
  override def resultType(): org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DoubleType
  override def isResultNullable: Boolean = true

  override def produceResult(input: InternalRow): java.lang.Double = {
    if (input.isNullAt(0) || input.isNullAt(1)) return null
    val a = input.getArray(0); val b = input.getArray(1)
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }

  /** The V2 "magic method": resolved reflectively by name and invoked
    * directly from generated code (no InternalRow packing). Same fold
    * as produceResult. */
  def invoke(a: ArrayData, b: ArrayData): java.lang.Double = {
    if (a == null || b == null) return null
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}
