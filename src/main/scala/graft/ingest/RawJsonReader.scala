package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}

/** Raw-layer ingestion: each input file is one JSON *array* of telemetry
  * objects (the reference's consumer writes `json.dumps(messages)` of a
  * whole batch — /root/reference/Kafka/Consumer/consumer_etl.py:63-67).
  *
  * One parse per record. The reference parses every record twice
  * (Glue_job.py:31-48): the line as `array<string>`, which re-serialises
  * each object back to text, then that text against the schema. Here a
  * line is parsed once as `array<schema>`. The double parse stays in the
  * same projection as a fallback for the lines the one-pass parse
  * rejects as a whole, so the output is the double parse's, row for row:
  *
  *  - a line with a non-object element (`[{..}, 123, null, "str"]`)
  *    fails `array<schema>` outright; element-wise, every element is
  *    one row (non-objects as all-null rows), as in the reference;
  *  - a lone-object line is accepted by `array<schema>` as a one-element
  *    array but not by `array<string>`: a line counts as an array only
  *    when its first non-whitespace character (JSON's space, tab, LF,
  *    CR) is `[`, and yields no rows otherwise.
  *
  * All narrow transformations — parsing scales linearly with input
  * splits; no shuffle anywhere in ingest.
  */
object RawJsonReader {

  /** Read a directory of raw JSON-array files against `schema`.
    * Malformed fields become NULL (PERMISSIVE) and fall through to
    * validation, exactly like the reference. */
  def read(spark: SparkSession, rawPath: String, schema: StructType): DataFrame =
    parse(spark.read.text(rawPath), schema)

  /** The same parse as a pure DataFrame→DataFrame (reused by the
    * streaming pipeline's file source). Input: a `value: String` column. */
  def parse(raw: DataFrame, schema: StructType): DataFrame =
    raw.select(explode(records(col("value"), schema)).as("parsed"))
      .select(col("parsed.*"))

  /** A line's records: the one-pass array, else the element-wise double
    * parse (both short-circuit, so the fallback runs only on lines the
    * one-pass parse turned to null). */
  private def records(line: Column, schema: StructType): Column = {
    val isArray = line.startsWith("[") || ltrim(line, " \t\n\r").startsWith("[")
    coalesce(
      when(isArray, from_json(line, ArrayType(schema))),
      transform(from_json(line, ArrayType(StringType)), s => from_json(s, schema)))
  }
}
