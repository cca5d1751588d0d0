package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Geospatial binning/assignment over the event stream — the engine
  * surface for the reference's domain (truck telemetry carries a
  * lat/lon struct validated by the pipeline, `Glue/Glue_job.py:39-42,
  * 60-61`; the test tables have no coordinates, so deterministic
  * centi-degree positions are synthesized from `event_id` with the
  * same integer arithmetic on both engines).
  *
  * Deliberately trig-free: grid binning and nearest-point assignment
  * work on integer centi-degrees and squared distances, so results are
  * bit-exact cross-engine (haversine's sin/cos round differently
  * across libm implementations and can flip a hash). Squared-distance
  * argmin picks the same depot as great-circle argmin for well-
  * separated depots; the grid cell IS the spatial partition key at
  * scale.
  */
object Geo {

  // deterministic synthetic position: centi-degree offsets in
  // [0, 18000) x [0, 36000) — kept NON-NEGATIVE so integer div/mod
  // agree between Spark (truncating) and DuckDB (flooring)
  private val latC: Column = (col("event_id") * lit(7919L)) % lit(18000L)
  private val lonC: Column = (col("event_id") * lit(104729L)) % lit(36000L)

  /** 5°×5° grid-cell density rollup: the spatial shuffle pattern —
    * bin scan-side to an integer cell id, then one exchange on the
    * (bounded, ~2.6k cells) grid domain carrying only counts; raw
    * positions never shuffle. This is how a 100 TB point table gets
    * a heatmap (or a spatial partitioning key for co-located joins). */
  def geoGrid(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(expr("CAST((event_id * 7919) % 18000 AS BIGINT) div 500").as("cell_lat"),
        expr("CAST((event_id * 104729) % 36000 AS BIGINT) div 500").as("cell_lon"),
        col("user_id"), col("event_id"))
      .groupBy(col("cell_lat"), col("cell_lon"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("event_id")).as("first_event"))

  /** Nearest-depot assignment + per-depot distance rollup. The depot
    * "dimension" is 4 literal points, so instead of a broadcast join
    * the distances fold into scan-side expressions (a constant dim
    * should be constant-folded, not joined) — zero extra operators,
    * and the only exchange is the per-depot rollup. Ties break to the
    * lowest depot id via the strict-inequality CASE chain; the oracle
    * spells the identical chain. */
  def geoNearest(s: SparkSession, d: String): DataFrame = {
    val depots = Seq((1, 4500L, 9000L), (2, 4500L, 27000L),
      (3, 13500L, 9000L), (4, 13500L, 27000L))
    val dist = depots.map { case (id, la, lo) =>
      id -> ((latC - lit(la)) * (latC - lit(la))
        + (lonC - lit(lo)) * (lonC - lit(lo)))
    }
    val Seq(d1, d2, d3, d4) = dist.map(_._2)
    val nearest = when(d1 <= d2 && d1 <= d3 && d1 <= d4, 1)
      .when(d2 <= d3 && d2 <= d4, 2)
      .when(d3 <= d4, 3)
      .otherwise(4)
    val minD = least(d1, d2, d3, d4)
    Tables.events(s, d)
      .select(nearest.as("depot_id"), minD.as("d2"))
      .groupBy(col("depot_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("d2")).as("min_d2"),
        sum(col("d2")).as("sum_d2"))
  }

  /** Spatial RANGE join (all events within R = 20° of any depot) via
    * grid-cell blocking — the spatial analog of LSH candidate
    * generation: each depot expands to the 9×9 cells covering its
    * R-box (recall-complete: any point within R lies in a covering
    * cell), candidates equi-join on the cell id, and an exact
    * squared-distance predicate rescores them. The join is a
    * broadcast hash join on a bounded key — never the O(points ×
    * depots) distance cross product, and never a non-equi range NLJ.
    * The oracle skips the blocking and computes the exact per-depot
    * containment directly — equality proves blocking loses nothing. */
  def geoJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val r2 = lit(2000L * 2000L)
    val depots = Seq((1, 4500L, 9000L), (2, 4500L, 27000L),
      (3, 13500L, 9000L), (4, 13500L, 27000L))
      .toDF("depot_id", "d_lat", "d_lon")
    val cover = depots.select(col("depot_id"), col("d_lat"), col("d_lon"),
      explode(expr("""flatten(transform(sequence(-4, 4),
          a -> transform(sequence(-4, 4), b -> struct(a AS da, b AS db))))"""))
        .as("off"))
      .select(col("depot_id"), col("d_lat"), col("d_lon"),
        (expr("d_lat div 500") + col("off.da")).as("cell_lat"),
        (expr("d_lon div 500") + col("off.db")).as("cell_lon"))
    val pts = Tables.events(s, d)
      .select(col("event_id"), latC.as("la"), lonC.as("lo"))
      .withColumn("cell_lat", expr("la div 500"))
      .withColumn("cell_lon", expr("lo div 500"))
    val d2 = (col("la") - col("d_lat")) * (col("la") - col("d_lat")) +
      (col("lo") - col("d_lon")) * (col("lo") - col("d_lon"))
    pts.join(broadcast(cover), Seq("cell_lat", "cell_lon"))
      .filter(d2 <= r2)
      .groupBy(col("depot_id"))
      .agg(count(lit(1)).as("n_within"),
        min(d2).as("min_d2"),
        min(col("event_id")).as("first_event"))
  }

  val registry: Map[String, QueryDef] = Map(
    "geo_grid" -> QueryDef(geoGrid _,
      """SELECT ((event_id * 7919) % 18000) // 500 AS cell_lat,
          ((event_id * 104729) % 36000) // 500 AS cell_lon,
          count(*) AS n_events,
          count(DISTINCT user_id) AS n_users,
          min(event_id) AS first_event
        FROM events GROUP BY 1, 2"""),
    // blocking-free exact containment per depot — equality with the
    // grid-blocked join proves the 9x9 cover loses no candidates
    "geo_join" -> QueryDef(geoJoin _,
      """WITH pos AS (
          SELECT event_id,
            (event_id * 7919) % 18000 AS la,
            (event_id * 104729) % 36000 AS lo
          FROM events),
        depots AS (
          SELECT * FROM (VALUES (1, 4500, 9000), (2, 4500, 27000),
            (3, 13500, 9000), (4, 13500, 27000)) t(depot_id, d_lat, d_lon)),
        within AS (
          SELECT depot_id, event_id,
            (la - d_lat) * (la - d_lat) + (lo - d_lon) * (lo - d_lon) AS d2
          FROM pos, depots
          WHERE (la - d_lat) * (la - d_lat) + (lo - d_lon) * (lo - d_lon)
            <= 2000 * 2000)
        SELECT depot_id, count(*) AS n_within,
          CAST(min(d2) AS BIGINT) AS min_d2,
          min(event_id) AS first_event
        FROM within GROUP BY 1"""),
    "geo_nearest" -> QueryDef(geoNearest _,
      """WITH pos AS (
          SELECT (event_id * 7919) % 18000 AS la,
            (event_id * 104729) % 36000 AS lo
          FROM events),
        dist AS (
          SELECT (la-4500)*(la-4500) + (lo-9000)*(lo-9000) AS d1,
            (la-4500)*(la-4500) + (lo-27000)*(lo-27000) AS d2,
            (la-13500)*(la-13500) + (lo-9000)*(lo-9000) AS d3,
            (la-13500)*(la-13500) + (lo-27000)*(lo-27000) AS d4
          FROM pos)
        SELECT CASE WHEN d1 <= d2 AND d1 <= d3 AND d1 <= d4 THEN 1
            WHEN d2 <= d3 AND d2 <= d4 THEN 2
            WHEN d3 <= d4 THEN 3 ELSE 4 END AS depot_id,
          count(*) AS n_events,
          min(least(d1, d2, d3, d4)) AS min_d2,
          CAST(sum(least(d1, d2, d3, d4)) AS BIGINT) AS sum_d2
        FROM dist GROUP BY 1"""),
  )
}
