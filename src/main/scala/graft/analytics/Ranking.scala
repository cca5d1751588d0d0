package graft.analytics

import graft.analytics.Caches.TrackedPersist
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global-ordering primitives — the scale-safe spelling of
  * the single-partition window trap.
  *
  * A `Window.orderBy(...)` with no partitionBy funnels its ENTIRE
  * input through one task. That is fine over a provably bounded frame
  * (a 9-digit histogram, an hourly series) and a cliff over anything
  * SF- or corpus-scaled: TPC-H part is 200k·SF rows (billions at the
  * 100 TB scale factor), suppliers 10k·SF — "the dimension, not the
  * fact table" does not make a frame BOUNDED, only smaller. These
  * helpers spell the identical exact semantics as a distributed plan:
  *
  *  1. `repartitionByRange` on the order keys — disjoint ORDERED
  *     ranges (the partitioner Spark's own global sort uses);
  *  2. rank / running-sum WITHIN each range partition, in parallel
  *     (the range-partition id rides as a data column, so the
  *     per-partition window stays correct wherever rows land);
  *  3. add per-partition offsets — earlier partitions' row counts /
  *     value sums. The offsets table is ≤ numShufflePartitions rows,
  *     collected to the driver (bounded index metadata, the same
  *     class as IVF centroids) and re-emitted as literals.
  *
  * The result is IDENTICAL to the single-partition window for any
  * TOTAL order (callers must include a unique tie-break column),
  * regardless of where the sampled range boundaries land: row_number
  * over a total order is partition-invariant, and long/decimal
  * addition is exact. Cost shape: one range exchange + one (same-key,
  * dimension-sized) pid hash exchange + parallel windows — two
  * distributed shuffles instead of one single-task sort. Two small
  * eager jobs run at plan-build time (range-boundary sampling and the
  * offsets collect) — the bounded pre-pass pattern Sizing uses.
  *
  * CACHE LIFECYCLE: the range-partitioned frame is persisted (tracked
  * via [[Caches]]) and MUST stay cached until the caller's action has
  * run — not an optimization: `repartitionByRange` SAMPLES its
  * boundaries at execution, and when the input contains an upstream
  * shuffle a recomputation can sample a different boundary set,
  * silently mismatching the collected offsets. Unpersisting right
  * after the offsets collect would therefore trade a leak for a
  * wrong answer. Callers own cleanup at the query boundary
  * (`Caches.endQuery` — the harness walk already runs it).
  *
  * NULL CONTRACT ([[prefixSum]]): `valueCol` must be DECIMAL-typed
  * (checked loudly) and null-free. `sum` ignores nulls, so with nulls
  * present a row whose range partition has seen no non-null value yet
  * gets a null running sum here even when EARLIER partitions carried
  * mass — diverging from the global window, which would emit the
  * carried-over prefix. The per-partition offsets coalesce to 0 so a
  * fully-null partition cannot NPE the driver-side prefix fold, but
  * the per-row semantics with nulls are not the window's — keep the
  * value column null-free (every current caller aggregates upstream). */
object Ranking {

  private def withLocal(df: DataFrame, order: Seq[Column],
      localExpr: Column, localName: String): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(n, order: _*)
      .withColumn("_pid", spark_partition_id())
      .withColumn(localName, localExpr)
  }

  /** Global `row_number()` over `order` (a TOTAL order — include a
    * unique tie-break) as LongType `outCol`, no single-partition
    * window. */
  def globalRowNumber(df: DataFrame, order: Seq[Column],
      outCol: String): DataFrame = {
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
    val local = withLocal(df, order, row_number().over(w).cast("long"), "_lrn")
      .persistTracked()
    val counts = local.groupBy(col("_pid")).agg(count(lit(1)).as("_c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toList.sortBy(_._1)
    val offsets: Map[Int, Long] = counts.map(_._1)
      .zip(counts.scanLeft(0L)(_ + _._2)).toMap
    val offCol =
      if (offsets.isEmpty) lit(0L)
      else coalesce(element_at(typedlit(offsets), col("_pid")), lit(0L))
    local.withColumn(outCol, col("_lrn") + offCol)
      .drop("_pid", "_lrn")
  }

  /** Global running SUM of `valueCol` (decimal-exact) in `order`,
    * inclusive of the current row, as `outCol`; also returns the grand
    * total as a driver-side literal column (exact — it is the sum of
    * the per-partition offsets), saving callers the scalar-broadcast
    * crossJoin. */
  def prefixSum(df: DataFrame, order: Seq[Column], valueCol: Column,
      outCol: String): (DataFrame, Column) = {
    val w = Window.partitionBy(col("_pid")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = withLocal(df, order, sum(valueCol).over(w), "_lcum")
      .persistTracked()
    val sumsDf = local.groupBy(col("_pid")).agg(sum(valueCol).as("_s"))
    // loud type gate: a non-decimal valueCol would ClassCastException
    // at getDecimal below with a bare JVM trace; name the contract
    require(sumsDf.schema("_s").dataType
        .isInstanceOf[org.apache.spark.sql.types.DecimalType],
      s"prefixSum needs a DECIMAL valueCol (exact distributed addition); " +
        s"got ${sumsDf.schema("_s").dataType.simpleString} — cast upstream")
    val sums = sumsDf.collect()
      .map(r => r.getInt(0) ->
        // an all-null partition sums to NULL; fold it as 0 (see the
        // null contract in the object scaladoc)
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
      .toList.sortBy(_._1)
    // exact decimal prefix offsets as a flat literal-map lookup (the
    // same constant-depth spelling globalRowNumber uses — a nested
    // when-chain would codegen O(numPartitions) branches per row);
    // BigDecimal addition is exact so the offsets equal the
    // single-partition running sum at each range boundary
    val zero = java.math.BigDecimal.ZERO
    val offsets: Map[Int, scala.math.BigDecimal] = sums.map(_._1)
      .zip(sums.scanLeft(zero)((acc, s) => acc.add(s._2))
        .map(scala.math.BigDecimal(_))).toMap
    val offCol =
      if (offsets.isEmpty) lit(zero)
      else coalesce(element_at(typedlit(offsets), col("_pid")), lit(zero))
    val total = sums.map(_._2).foldLeft(zero)(_.add(_))
    (local.withColumn(outCol, col("_lcum") + offCol).drop("_pid", "_lcum"),
      lit(total))
  }
}
