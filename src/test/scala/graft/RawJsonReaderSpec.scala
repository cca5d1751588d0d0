package graft

import graft.datagen.TelemetryGen
import graft.ingest.RawJsonReader
import graft.schemas.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

/** RawJsonReader parses each line once, with the reference's element-wise
  * double parse as its fallback. Its output must be the double parse's
  * (Glue_job.py:31-48), row for row, on every edge a raw line can have. */
class RawJsonReaderSpec extends SparkSpec {

  /** The reference's shape: the line as array<string> (each element
    * re-serialised to text), then each element against the schema. */
  private def doubleParse(raw: DataFrame, schema: StructType): DataFrame =
    raw
      .select(from_json(col("value"), ArrayType(StringType)).as("json_array"))
      .select(explode(col("json_array")).as("json_string"))
      .withColumn("parsed", from_json(col("json_string"), schema))
      .select(col("parsed.*"))

  private def assertSameRows(raw: DataFrame): Long = {
    val one = RawJsonReader.parse(raw, Schemas.telemetry)
    val two = doubleParse(raw, Schemas.telemetry)
    assert(one.schema === two.schema)
    val missing = two.exceptAll(one).collect()
    val extra = one.exceptAll(two).collect()
    assert(missing.isEmpty && extra.isEmpty,
      s"double parse only: ${missing.mkString("; ")} | one pass only: ${extra.mkString("; ")}")
    one.count()
  }

  private val rec = """{"truck_id":"T%s","timestamp":"2024-01-01T00:00:0%s",""" +
    """"location":{"lat":17.38,"lon":78.48},"fuel_level":60.5,"temperature":20.0,""" +
    """"delivery_status":"delivered"}"""
  private def r(i: Int) = rec.format(i, i % 10)

  /** One line per edge; the comment is the double parse's outcome. */
  private val edgeLines = Seq(
    s"[${r(1)},${r(2)}]",                      // plain: 2 rows
    s"\t[${r(3)}]",                            // tab-led: 1
    s"   [${r(4)}]",                           // space-led: 1
    s"\r\n [${r(5)}]",                         // CR/LF-led: 1
    s"\u000b[${r(6)}]",                        // vertical tab is not JSON whitespace: 0
    r(7),                                      // lone object: 0
    s" \t${r(8)}",                             // whitespace-led lone object: 0
    s"[${r(9)}, 123, null, \"str\", true, ${r(10)}]", // non-objects: 6 rows
    "[]",                                      // 0
    "[null]",                                  // 1 all-null row
    "",                                        // 0
    "   ",                                     // 0
    s"[${r(11)}] trailing garbage",            // 1
    s"[${r(12)}] [${r(13)}]",                  // a second array after the first: 1
    s"[${r(14)}, [1, 2], [${r(15)}]]",         // nested arrays: 3
    s"[${r(16)}",                              // unterminated: 0
    s"[${r(17)},]",                            // trailing comma: 0
    """[{"truck_id":18,"fuel_level":"abc","temperature":true,"location":[1,2]}]""",
    """[{"truck_id":"T19","fuel_level":"NaN","temperature":"Infinity","location":{"lat":"NaN","lon":"x"}}]""",
    """[{"truck_id":"T20","fuel_level":1e2,"temperature":-0.0,"location":{"lat":1E400,"lon":3.14159265358979323846264}}]""",
    "[{\"truck_id\":\"T\u00e9\\\"21\\n\",\"delivery_status\":null,\"extra\":{\"a\":[1,{\"b\":2}]}}]",
    """[{"truck_id":"T22","location":null,"timestamp":12}, {}]""",
    """[{"truck_id":"T23","truck_id":"T23b"}]""",
    """[{"fuel_level":"9999"}, "{\"truck_id\":\"T24\"}"]""")

  test("one-pass parse equals the double parse row for row on every edge line") {
    import spark.implicits._
    val n = assertSameRows(edgeLines.toDF("value").repartition(3))
    // the fixture must exercise both paths: rows from array lines and
    // from lines only the element-wise fallback reads
    assert(n >= 20, s"only $n rows")
  }

  test("one-pass parse equals the double parse on the generator's anomalies") {
    val raw = TelemetryGen.rawJsonLines(spark, 3000, 250, seed = 3)
    assert(assertSameRows(raw) === 3000L)
  }
}
