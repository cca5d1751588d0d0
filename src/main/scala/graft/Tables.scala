package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{Column, functions => F}

/** Loaders for the driver's deterministic test tables
  * (`/root/testdata/sf*`, see TESTDATA.md) plus shared
  * oracle-parity helpers.
  *
  * Oracle-parity conventions (driver hash-compares our parquet output
  * against DuckDB running the same SQL):
  *  - Monetary / value aggregates are computed over DECIMAL casts:
  *    decimal addition is exact and order-independent, so Spark's
  *    partial/final aggregation tree and DuckDB's single-threaded sum
  *    produce identical results (a double sum would differ in the last
  *    bits depending on summation order).
  *  - Averages are expressed as CAST(decimal_sum AS DOUBLE) / count:
  *    one IEEE double division of identical inputs is bit-identical in
  *    both engines, while built-in avg() is not (DuckDB's avg is a
  *    double accumulator; Spark's decimal avg has its own scale rules).
  *  - Result columns are aliased identically in the Spark code and the
  *    oracle SQL (the driver sorts columns by name before hashing).
  *
  * Cache-lifetime convention (advisor note, r7): queries persist()
  * multi-consumer intermediates (capped shingle universes, chi2 cells,
  * incidence tables, …) WITHOUT a paired unpersist — by design. Every
  * harness walk (`SparkEntry.walk`) runs the query boundary
  * `Caches.endQuery` after each query's final action, so cached blocks
  * never accumulate across the sweep; an in-query unpersist would have
  * to be placed AFTER the caller's action and queries return
  * un-executed DataFrames. Library users embedding these plans
  * long-lived should call `Caches.endQuery` at their own query
  * boundaries the same way.
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical encodings across testdata
    * generations: parquet TIMESTAMP(NANOS) (which Spark only reads as
    * an int64, under the legacy flag `GraftSession.local` sets) and
    * parquet `timestamp[us]` (which
    * arrives as TIMESTAMP_NTZ). Branch on the type that actually loaded
    * and normalize to the same two columns either way:
    *  - `ts`    TIMESTAMP (µs precision; session tz is UTC everywhere,
    *            so the NTZ→TZ cast is instant-preserving and agrees
    *            with DuckDB's naive read of the same file)
    *  - `ts_ns` BIGINT epoch nanoseconds — the exact ordering key,
    *            bit-identical to DuckDB's `epoch_ns(ts)` in both
    *            encodings. */
  def withEventTime(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // Both encodings are session-tz-sensitive downstream: the NTZ→TZ
    // cast is instant-preserving only under UTC, and even the NANOS
    // branch's timestamp_micros ts feeds hour()/to_date() extractions
    // that DuckDB evaluates over its naive read. Fail fast for either.
    val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
    require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
      s"withEventTime requires a UTC session timezone (got $tz)")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts_ns", F.col("ts"))
          .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case TimestampType | TimestampNTZType => // parquet timestamp[us]
        df.withColumn("ts", F.col("ts").cast("timestamp"))
          .withColumn("ts_ns", F.unix_micros(F.col("ts")) * 1000)
      case other =>
        // fail fast at load time: a silent cast of e.g. StringType would
        // yield nulls downstream instead of an actionable error here
        throw new IllegalStateException(
          s"events.ts has unexpected type $other; expected LONG (nanos) or TIMESTAMP[_NTZ]")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    withEventTime(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact 2-dp decimal view of a double column (order-independent sums). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Narrow 2-dp decimal for multiplication chains (keeps the product
    * precision within both engines' 38-digit budget). */
  def dec12(c: Column): Column = c.cast(DecimalType(12, 2))
  def dec4(c: Column): Column  = c.cast(DecimalType(4, 2))

  /** Per-invocation temp output dir for queries that materialize
    * intermediate files (round-trips, stream sources): unique per call
    * so concurrent harness runs can't collide, and removed at JVM exit
    * so repeated runs can't fill the disk. ONE shutdown hook drains a
    * shared queue — per-call hooks would register an unbounded set of
    * hook threads in a long-lived session. */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val tempDirHook: Unit = {
    sys.addShutdownHook {
      tempDirs.forEach(d => org.apache.commons.io.FileUtils.deleteQuietly(d))
    }
    ()
  }
  def tempOutDir(prefix: String): String = {
    tempDirHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.add(dir.toFile)
    dir.resolve("out").toString
  }
}
