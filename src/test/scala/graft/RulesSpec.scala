package graft

import graft.pipeline.LogisticsPipeline
import graft.rules._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FilterExec, ProjectExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, StringType, StructField, StructType}

/** Unit semantics of the rule engine: NaN/null cleaning, null-failing
  * conjunction, reasons compaction (SURVEY.md §7.4 hard parts). */
class RulesSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq[(String, java.lang.Double)](
    ("a", 50.0), ("b", Double.NaN), ("c", null), ("d", 150.0))
    .toDF("id", "fuel")

  test("cleanNanNull maps NaN and null both to null") {
    val out = Validator.cleanNanNull(df, Seq("fuel"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(out("a").contains(50.0))
    assert(out("b").isEmpty)   // NaN → null
    assert(out("c").isEmpty)
    assert(out("d").contains(150.0))
  }

  test("faithful mode: null fails validity silently (ref semantics incl. its leak)") {
    val rules = Seq(Between("fuel", 0, 100, "fuel_out_of_range"))
    val v = Validator.validate(Validator.cleanNanNull(df, Seq("fuel")), rules,
      nullStrict = false)
      .select(col("id"), col("is_valid"), col("rejection_reasons"))
      .collect().map(r => (r.getString(0), Option(r.get(1)), r.getSeq[String](2)))
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(v("a") === (Some(true), Seq()))
    // NaN→null → between yields NULL: not valid, but CASE gives no reason
    assert(v("b")._1.isEmpty && v("b")._2 === Seq())
    assert(v("c")._1.isEmpty && v("c")._2 === Seq())
    assert(v("d") === (Some(false), Seq("fuel_out_of_range")))
  }

  test("faithful mode: is_valid==false filter drops NULL-validity rows both ways") {
    val rules = Seq(Between("fuel", 0, 100, "fuel_out_of_range"))
    val v = Validator.validate(Validator.cleanNanNull(df, Seq("fuel")), rules,
      nullStrict = false)
    assert(v.filter(col("is_valid") === true).count() === 1)  // a
    assert(v.filter(col("is_valid") === false).count() === 1) // d
    // b, c (null validity) fall in neither side — matches Glue_job.py:84,90
  }

  test("strict mode (default): null/NaN inputs are rejected with the rule's reason") {
    val rules = Seq(Between("fuel", 0, 100, "fuel_out_of_range"))
    val v = Validator.validate(Validator.cleanNanNull(df, Seq("fuel")), rules)
    assert(v.filter(col("is_valid") === true).count() === 1)   // a
    assert(v.filter(col("is_valid") === false).count() === 3)  // b, c, d
    val reasons = v.filter(col("is_valid") === false)
      .select("rejection_reasons").collect().map(_.getSeq[String](0))
    assert(reasons.forall(_ === Seq("fuel_out_of_range")))
  }

  test("multi-rule reasons accumulate in rule order") {
    val d2 = Seq(("x", -5.0, "bogus")).toDF("id", "fuel", "status")
    val rules = Seq(
      Between("fuel", 0, 100, "fuel_out_of_range"),
      InSet("status", Seq("ok"), "bad_status"))
    val r = Validator.validate(d2, rules)
      .select("rejection_reasons").first().getSeq[String](0)
    assert(r === Seq("fuel_out_of_range", "bad_status"))
  }

  test("NestedNotNull fails when parent struct or field is null") {
    val d = spark.sql(
      """SELECT * FROM VALUES
          ('a', named_struct('lat', 1.0d, 'lon', 2.0d)),
          ('b', named_struct('lat', CAST(NULL AS DOUBLE), 'lon', 2.0d)),
          ('c', CAST(NULL AS STRUCT<lat: DOUBLE, lon: DOUBLE>))
        AS t(id, location)""")
    val v = Validator.validate(d,
      Seq(NestedNotNull("location", "lat", "missing_lat")))
      .select("id", "is_valid").collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(v === Map("a" -> true, "b" -> false, "c" -> false))
  }

  /** The reasons as `rejectionReasons` first spelled them: a `filter`
    * lambda over one CASE per rule. The oracle for the generated-code
    * spelling. */
  private def filterReasons(rules: Seq[ValidationRule], nullStrict: Boolean): Column =
    filter(array(rules.map(r =>
      when(!Validator.flag(r, nullStrict), lit(r.reason)).otherwise(lit(null))): _*),
      _.isNotNull)

  /** Both spellings over `df`, for each null mode: equal per row and
    * typed `array<string>` with nullable elements. */
  private def assertReasonsMatchOracle(df: DataFrame, rules: Seq[ValidationRule]): Unit =
    Seq(true, false).foreach { strict =>
      val both = df.select(Validator.rejectionReasons(rules, strict).as("reasons"),
        filterReasons(rules, strict).as("oracle"))
      val want = ArrayType(StringType, containsNull = true)
      assert(both.schema("reasons").dataType === want, s"nullStrict=$strict")
      assert(both.schema("oracle").dataType === want, s"nullStrict=$strict")
      val rows = both.collect()
      assert(rows.length === df.count())
      val diff = rows.filter(r => r.getSeq[String](0) != r.getSeq[String](1))
      assert(diff.isEmpty, s"nullStrict=$strict: " + diff.take(5).mkString("; "))
    }

  test("reasons equal the filter spelling for every true/false/null combination of the six rule flags") {
    val states = Seq[java.lang.Boolean](true, false, null)
    val rules = LogisticsPipeline.rules
    val combos = rules.indices.foldLeft(Seq(Seq.empty[java.lang.Boolean])) {
      (acc, _) => for (c <- acc; s <- states) yield c :+ s
    }
    assert(combos.size === 729)
    val schema = StructType(rules.indices.map(i => StructField(s"f$i", BooleanType)))
    val flags = spark.createDataFrame(
      java.util.Arrays.asList(combos.map(c => Row(c: _*)): _*), schema)
    assertReasonsMatchOracle(flags,
      rules.zipWithIndex.map { case (r, i) => Predicate(col(s"f$i"), r.reason) })
  }

  test("reasons equal the filter spelling for the reference rules over pass/fail/null inputs") {
    val locations = Seq("named_struct('lat', 1.0d, 'lon', 2.0d)",
      "named_struct('lat', CAST(NULL AS DOUBLE), 'lon', 2.0d)",
      "named_struct('lat', 1.0d, 'lon', CAST(NULL AS DOUBLE))",
      "named_struct('lat', CAST(NULL AS DOUBLE), 'lon', CAST(NULL AS DOUBLE))",
      "CAST(NULL AS STRUCT<lat: DOUBLE, lon: DOUBLE>)")
    val rows = for {
      truck <- Seq("'T1'", "CAST(NULL AS STRING)")
      fuel <- Seq("50.0d", "150.0d", "CAST(NULL AS DOUBLE)")
      temp <- Seq("20.0d", "99.0d", "CAST(NULL AS DOUBLE)")
      status <- Seq("'delivered'", "'bogus'", "CAST(NULL AS STRING)")
      loc <- locations
    } yield s"($truck, $loc, $fuel, $temp, $status)"
    val input = spark.sql("SELECT * FROM VALUES " + rows.mkString(", ") +
      " AS t(truck_id, location, fuel_level, temperature, delivery_status)")
    assert(input.count() === 270)
    assertReasonsMatchOracle(input, LogisticsPipeline.rules)
  }

  test("a reason two rules share is kept once per failing rule") {
    val d = Seq(("x", 150.0)).toDF("id", "fuel")
    val rules = Seq(Between("fuel", 0, 100, "fuel_bad"), Between("fuel", 10, 90, "fuel_bad"),
      Between("fuel", 0, 200, "fuel_absurd"))
    val r = Validator.validate(d, rules).select("rejection_reasons").first().getSeq[String](0)
    assert(r === Seq("fuel_bad", "fuel_bad"))
    assertReasonsMatchOracle(d, rules)
  }

  test("the rejected split runs in generated code, reasons above its is_valid filter") {
    val dir = new java.io.File("target/fixtures/rules_plan").getAbsolutePath
    spark.createDataFrame(java.util.Arrays.asList(
      Row("T1", "t0", Row(1.0, 2.0), 50.0, 20.0, "delivered"),
      Row(null, "t1", Row(null, 2.0), 150.0, null, "bogus")),
      graft.schemas.Schemas.telemetry).write.mode("overwrite").parquet(dir)
    val rejected = graft.split.Splitter.rejected(
      LogisticsPipeline.validateStage(spark.read.parquet(dir)), LogisticsPipeline.coreCols)
    assert(rejected.collect().map(_.getSeq[String](7)).toSeq === Seq(Seq("missing_truck_id",
      "fuel_level_out_of_range", "temperature_out_of_range", "invalid_delivery_status",
      "missing_lat")))
    val plan = rejected.queryExecution.executedPlan
    val fallbacks = plan.collect { case p => p.expressions.flatMap(_.collect {
      case e: CodegenFallback => e.prettyName }) }.flatten
    assert(fallbacks.isEmpty, s"interpreted expressions: $fallbacks\n$plan")
    val reasons = plan.collectFirst {
      case p: ProjectExec if p.projectList.exists(_.name == "rejection_reasons") => p
    }
    assert(reasons.exists(_.child.exists(_.isInstanceOf[FilterExec])),
      s"rejection_reasons is not built above the is_valid filter:\n$plan")
  }
}
