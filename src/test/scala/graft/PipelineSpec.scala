package graft

import graft.analytics.EventsPipeline
import graft.datagen.TelemetryGen
import graft.expect.Expectations
import graft.ingest.RawJsonReader
import graft.pipeline.LogisticsPipeline
import graft.schemas.Schemas
import graft.warehouse.WarehouseLoad
import org.apache.spark.sql.functions._

/** End-to-end telemetry pipeline over a generated raw fixture — the
  * reference-faithful path (raw JSON array files → one-pass parse →
  * validate → split → GE gate → layered writes) that the DuckDB oracle
  * cannot cover. Asserts the reference's own invariants: row-count
  * conservation (Glue_job.py:131-135), reasons vocabulary
  * (Glue_job.py:71-80), curated validity, and the all-or-nothing GE
  * outcome (Glue_job.py:113-117). */
class PipelineSpec extends SparkSpec {

  private val n       = 2000L
  private val rawDir  = new java.io.File("target/fixtures/raw").getAbsolutePath
  private val outDir  = new java.io.File("target/fixtures/out").getAbsolutePath

  private lazy val fixture: Unit = TelemetryGen.writeRaw(spark, rawDir, n)

  private lazy val result = {
    fixture
    LogisticsPipeline.run(spark, rawDir, outDir)
  }

  /** Structural twin of the reference's Validation_checks.json, kept
    * inline so the suite-file specs still run where the reference
    * checkout is absent. */
  private val twinSuiteJson =
    """{"expectations": [
      {"expectation_type": "expect_column_values_to_not_be_null",
       "kwargs": {"column": "truck_id"}},
      {"expectation_type": "expect_column_values_to_be_between",
       "kwargs": {"column": "fuel_level", "min_value": 0, "max_value": 100}},
      {"expectation_type": "expect_column_values_to_be_between",
       "kwargs": {"column": "temperature", "min_value": -10, "max_value": 60}},
      {"expectation_type": "expect_column_values_to_be_in_set",
       "kwargs": {"column": "delivery_status",
                  "value_set": ["in_transit", "delivered", "delayed"]}}]}"""

  /** Writes a suite document to a temp file for `run(suitePath = …)`. */
  private def suiteFile(json: String): String = {
    val f = java.io.File.createTempFile("graft-suite", ".json")
    f.deleteOnExit()
    java.nio.file.Files.writeString(f.toPath, json)
    f.getPath
  }

  private val reasonsVocab = Set(
    "missing_truck_id", "fuel_level_out_of_range", "temperature_out_of_range",
    "invalid_delivery_status", "missing_lat", "missing_lon", "ge_failed")

  test("raw fixture parses to exactly n records") {
    fixture
    val parsed = RawJsonReader.read(spark, rawDir, Schemas.telemetry)
    assert(parsed.count() === n)
  }

  test("conservation: curated + rejected = raw") {
    assert(result.curated.count() + result.rejected.count() === n)
  }

  test("anomaly injection rejects a nontrivial share, most records pass") {
    val rej = result.rejected.count().toDouble / n
    assert(rej > 0.05 && rej < 0.25, s"reject rate $rej")
  }

  test("every rejected record carries known reasons") {
    val bad = result.rejected
      .select(explode(col("rejection_reasons")).as("r"))
      .filter(!col("r").isin(reasonsVocab.toSeq.map(lit): _*))
    assert(bad.count() === 0)
    assert(result.rejected.filter(size(col("rejection_reasons")) === 0).count() === 0)
  }

  test("curated records satisfy every rule; GE gate passes on them") {
    assert(result.geStatus === "PASSED")
    val viol = result.curated.filter(
      col("truck_id").isNull ||
        !col("fuel_level").between(0, 100) ||
        !col("temperature").between(-10, 60) ||
        !col("delivery_status").isin("in_transit", "delivered", "delayed") ||
        col("location.lat").isNull || col("location.lon").isNull)
    assert(viol.count() === 0)
    assert(result.curated.select("ge_validation_status").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("PASSED"))
  }

  test("lineage records conservation with reference layer names") {
    val m = result.lineage.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("raw") === n)
    assert(m("validated_total") === n)
    assert(m("curated") + m("rejected") === n)
  }

  /** A pipeline run into a fresh output root (the rejected and lineage
    * sinks append). */
  private def freshRun(name: String,
      suitePath: Option[String] = None): (LogisticsPipeline.Result, String) = {
    fixture
    val out = new java.io.File(s"target/fixtures/$name").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    (LogisticsPipeline.run(spark, rawDir, out, suitePath = suitePath), out)
  }

  test("the fused pass's verdict and counts equal verdictFull plus Lineage.record") {
    import graft.expect.SuiteLoader.LoadedSuite
    import graft.lineage.Lineage
    import graft.split.Splitter
    fixture
    val validated = LogisticsPipeline.validateStage(
      RawJsonReader.read(spark, rawDir, Schemas.telemetry)).cache()
    try {
      val curated = Splitter.curated(validated)
      val suites = Seq(
        "reference" -> LoadedSuite(Expectations.referenceSuite, Nil),
        // about half the fuel levels lie in [50, 75]: mostly 0.4
        // passes and 0.6 fails; the flag check reads curated's stamps
        "mostly" -> LoadedSuite(Seq(
          Expectations.mostly(Expectations.between("fuel_level", 50, 75), 0.4),
          Expectations.inSet("data_quality_flag", Seq("VALID"))), Nil),
        "mostly-failing" -> LoadedSuite(Seq(
          Expectations.mostly(Expectations.between("fuel_level", 50, 75), 0.6)), Nil),
        // timestamps are unique per record, truck ids repeat
        "unique" -> LoadedSuite(Expectations.referenceSuite,
          Seq(Expectations.unique("timestamp"))),
        "unique-failing" -> LoadedSuite(Nil, Seq(Expectations.unique("truck_id"))),
        "failing" -> LoadedSuite(Seq(Expectations.between("fuel_level", 0, 1)), Nil))
      def layers(lineage: org.apache.spark.sql.DataFrame) =
        lineage.drop("run_timestamp").collect().map(_.toSeq).toSet
      val verdicts = suites.map { case (name, suite) =>
        val t = LogisticsPipeline.tally(validated, suite)
        val ge = Expectations.verdictFull(curated, suite.rowWise, suite.agg)
        assert(t.geStatus === ge, name)
        assert(t.raw === validated.count() && t.valid === curated.count(), name)
        assert(layers(Lineage.fromCounts(spark, t.raw, t.valid, t.geStatus)) ===
          layers(Lineage.record(validated, ge)), name)
        name -> ge
      }.toMap
      assert(verdicts === Map("reference" -> "PASSED", "mostly" -> "PASSED",
        "mostly-failing" -> "FAILED", "unique" -> "PASSED",
        "unique-failing" -> "FAILED", "failing" -> "FAILED"))
    } finally validated.unpersist()
  }

  test("per-rule rejection counts equal the reasons in the written rejected layer") {
    val (r, out) = freshRun("out_rule_counts")
    assert(r.ruleRejections.keySet === LogisticsPipeline.rules.map(_.reason).toSet)
    val written = spark.read.parquet(s"$out/rejected")
      .select(explode(col("rejection_reasons")).as("reason"))
      .groupBy("reason").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
    assert(r.ruleRejections.filter(_._2 > 0) === written)
    assert(written.size >= 3, s"the fixture trips too few rules: $written")
  }

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.ListenerDrain
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      ListenerDrain(spark.sparkContext)
      (r, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("one run fires at most 6 jobs and appends exactly one lineage file") {
    fixture
    val ((r, out), jobs) = jobsOf(freshRun("out_job_count"))
    assert(r.geStatus === "PASSED")
    assert(jobs <= 6, s"$jobs jobs for one run")
    val files = new java.io.File(s"$out/validated").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === 1, files.map(_.getName).mkString(", "))
    assert(spark.read.parquet(s"$out/validated").count() === 4)
  }

  test("a warm LogisticsPipeline.run compiles no generated code") {
    freshRun("out_warm_1")
    val c0 = compiles()
    val (r, _) = freshRun("out_warm_2")
    assert(r.geStatus === "PASSED")
    assert(compiles() - c0 === 0L)
  }

  test("curated layer written and round-trips through the warehouse projection") {
    result // force the run (writes happen in run())
    val wh = WarehouseLoad.curated(spark, s"$outDir/curated")
    assert(wh.count() === result.curated.count())
    assert(wh.columns.contains("lat") && wh.columns.contains("data_quality_flag"))
  }

  test("to_avro emits the exact Avro datum bytes; from_avro inverts them") {
    // one row, hand-computed from the Avro 1.x spec against the
    // non-null writer schema: long 3 → zigzag 6 → varint 0x06;
    // "click" → length varint 0x0a ++ 5 utf8 bytes; double 1.5 →
    // 8-byte LITTLE-endian IEEE (0x3FF8000000000000 reversed). A
    // union-branch byte, wrong varint, field reorder, or endianness
    // slip breaks this byte-for-byte pin — the query's summed-length
    // oracle then guards the same layout at corpus width
    import spark.implicits._
    import graft.functions.AvroFunctions.{toAvro, fromAvro}
    val schema = EventsPipeline.avroRecordSchema
    val df = Seq((3L, "click", 1.5)).toDF("event_id", "event_type", "value")
    val payload = df.select(toAvro(
        struct(col("event_id"), col("event_type"), col("value")), schema))
      .collect()(0).getAs[Array[Byte]](0)
    val expected = Array(0x06, 0x0a, 'c', 'l', 'i', 'c', 'k',
      0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xf8, 0x3f).map(_.toByte)
    assert(payload.toSeq === expected.toSeq,
      payload.map(b => f"$b%02x").mkString(" "))
    // and the decoder inverts it exactly
    val back = spark.createDataset(Seq(payload)).toDF("p")
      .select(fromAvro(col("p"), schema).as("r")).select("r.*")
      .as[(Long, String, Double)].collect()(0)
    assert(back === ((3L, "click", 1.5)))
    // FAILFAST contract: truncated payloads throw loudly, never a
    // silent null row
    intercept[Exception] {
      spark.createDataset(Seq(payload.take(3))).toDF("p")
        .select(fromAvro(col("p"), schema)).collect()
    }
    // schema_of_avro semantics: the engine's own converter maps the
    // writer schema to the expected catalyst struct (non-union avro
    // fields land NOT NULL)
    assert(graft.functions.AvroFunctions.schemaOfAvro(schema) ===
      "STRUCT<event_id: BIGINT NOT NULL, event_type: STRING NOT NULL, " +
        "value: DOUBLE NOT NULL>")
  }

  test("proto wire codec: exact bytes, unknown-field skip, any order, truncation") {
    // hand-computed from the protobuf encoding spec for
    // {1: int64=3, 2: string="click", 3: double=1.5}:
    // tag(1,varint)=0x08, 3; tag(2,len)=0x12, len 5, utf8;
    // tag(3,fixed64)=0x19, 1.5 as 8-byte LITTLE-endian IEEE
    import spark.implicits._
    import graft.functions.ProtoFunctions.{fromProto, toProto}
    val ddl = "event_id BIGINT, event_type STRING, value DOUBLE"
    val df = Seq((3L, "click", 1.5)).toDF("event_id", "event_type", "value")
    val payload = df.select(toProto(
        struct(col("event_id"), col("event_type"), col("value"))))
      .collect()(0).getAs[Array[Byte]](0)
    val expected = Array(0x08, 0x03, 0x12, 0x05, 'c', 'l', 'i', 'c', 'k',
      0x19, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0xf8, 0x3f).map(_.toByte)
    assert(payload.toSeq === expected.toSeq,
      payload.map(b => f"$b%02x").mkString(" "))
    def decode(bytes: Array[Byte]) =
      spark.createDataset(Seq(bytes)).toDF("p")
        .select(fromProto(col("p"), ddl).as("r")).select("r.*")
        .as[(Long, String, Double)].collect()(0)
    assert(decode(payload) === ((3L, "click", 1.5)))
    // proto compatibility behaviors, both spec-mandated:
    // (a) UNKNOWN field numbers are skipped by wire type
    val withUnknown = payload ++ Array[Byte](0x48, 0x07) // field 9 varint
    assert(decode(withUnknown) === ((3L, "click", 1.5)))
    // (a') ... including fixed32 (a float added in a newer schema
    // generation): tag (9<<3)|5 = 0x4d + 4 payload bytes
    val withFixed32 = payload ++
      Array[Byte](0x4d, 0x00, 0x00, 0x80.toByte, 0x3f) // field 9 = 1.0f
    assert(decode(withFixed32) === ((3L, "click", 1.5)))
    // ... but a TRUNCATED fixed32 still throws (FAILFAST)
    intercept[Exception] {
      spark.createDataset(Seq(payload ++ Array[Byte](0x4d, 0x00))).toDF("p")
        .select(fromProto(col("p"), ddl)).collect()
    }
    // (a'') spec-invalid field numbers mark CORRUPTION, not drift:
    // field 0 rejects, and a >2^29-1 field number whose LOW 32 BITS
    // land on declared field 1 (fieldL = 2^32+1, varint of
    // (2^32+1)<<3) must throw rather than be misattributed to field 1
    intercept[Exception] {
      spark.createDataset(Seq(Array[Byte](0x00, 0x01))).toDF("p")
        .select(fromProto(col("p"), ddl)).collect()
    }
    val hugeField = Array(0x88, 0x80, 0x80, 0x80, 0x80, 0x01, 0x07)
      .map(_.toByte) // tag varint 2^35+8 (field 2^32+1, wt 0), value 7
    intercept[Exception] {
      spark.createDataset(Seq(hugeField)).toDF("p")
        .select(fromProto(col("p"), ddl)).collect()
    }
    // (b) fields may arrive in ANY order
    val reordered = (expected.slice(9, 18) ++ expected.slice(0, 9)).toArray
    assert(decode(reordered) === ((3L, "click", 1.5)))
    // truncated payloads throw loudly (FAILFAST)
    intercept[Exception] {
      spark.createDataset(Seq(payload.take(8))).toDF("p")
        .select(fromProto(col("p"), ddl)).collect()
    }
    // absent fields decode to null (explicit presence)
    val onlyId = spark.createDataset(Seq(Array[Byte](0x08, 0x03))).toDF("p")
      .select(fromProto(col("p"), ddl).as("r")).select("r.*").collect()(0)
    assert(onlyId.getLong(0) === 3L && onlyId.isNullAt(1) && onlyId.isNullAt(2))
  }

  test("Avro varint ladder: engine payload length matches at every tier boundary") {
    // the corpus only carries ids <= 9999, so oracle ladder tiers 3-9
    // would otherwise ship untested; encode one row at each threshold's
    // both sides (2*id just under / at each 2^(7k) varint capacity) and
    // pin length(payload) against the same arithmetic the DuckDB
    // oracle runs: vlen(2*id) + lenVarint + strlen + 8
    import spark.implicits._
    import graft.functions.AvroFunctions.toAvro
    val schema = EventsPipeline.avroRecordSchema
    def ladder(id: Long): Int = {
      val zz = 2L * id
      if (zz < 128L) 1 else if (zz < 16384L) 2 else if (zz < 2097152L) 3
      else if (zz < 268435456L) 4 else if (zz < 34359738368L) 5
      else if (zz < 4398046511104L) 6 else if (zz < 562949953421312L) 7
      else if (zz < 72057594037927936L) 8 else 9
    }
    val probes = (1 to 8).map(k => 1L << (7 * k - 1)) // 2*id == 2^(7k): first id of each wider tier
    val ids = (probes.map(_ - 1) ++ probes :+ 0L :+ Long.MaxValue / 2).distinct
    val rows = ids.map(id => (id, "click", 1.5)).toDF("event_id", "event_type", "value")
      .select(col("event_id"),
        length(toAvro(struct(col("event_id"), col("event_type"), col("value")),
          schema)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    ids.foreach { id =>
      assert(rows(id) === ladder(id) + 1 + 5 + 8,
        s"id=$id: engine ${rows(id)} vs ladder ${ladder(id) + 14}")
    }
  }

  test("observe() rides the job: pipeline metrics without a second pass") {
    // the ops surface for production counters: the reference re-counts
    // its frames 8 times (Glue_job.py:95,124,127,131-135 — each count a
    // full re-parse); observe() attaches AccumulatorV2-backed metrics
    // to the SAME job, so the counters are free
    import org.apache.spark.sql.Observation
    import graft.analytics.EventsPipeline
    val obs = Observation("split_metrics")
    val observed = EventsPipeline.splitValid(spark, sfDir)
      .observe(obs,
        count(lit(1)).as("rows"),
        sum(when(col("value").isNull, 1).otherwise(0)).as("null_values"))
    val n = observed.count()
    val m = obs.get
    assert(m("rows") === n)
    assert(m("null_values").asInstanceOf[Long] >= 0L)
  }

  test("GE FAILED path: all-or-nothing REJECTED_GE outcome") {
    import spark.implicits._
    val cur = Seq(("T1", 120.0), ("T2", 50.0))
      .toDF("truck_id", "fuel_level")
      .withColumn("data_quality_flag", lit("VALID"))
      .withColumn("ge_validation_status", lit("PENDING"))
    val rej = cur.limit(0)
      .withColumn("rejection_reasons", array(lit("x")))
      .filter(lit(false))
    val verdict = Expectations.verdict(cur,
      Seq(Expectations.between("fuel_level", 0, 100)))
    assert(verdict === "FAILED")
    val (c2, r2) = Expectations.applyVerdict(cur, rej, verdict)
    assert(c2.count() === 0)
    assert(r2.count() === 2)
    assert(r2.select(explode(col("rejection_reasons"))).collect()
      .forall(_.getString(0) == "ge_failed"))
  }

  test("SuiteLoader parses the reference GE JSON into exactly referenceSuite") {
    // the reference's own file, parsed declaratively, must be
    // indistinguishable from the code-defined suite — same names,
    // semantically identical violation expressions
    val path =
      "/root/reference/great_expectations/Expectations/Validation_checks.json"
    val loaded =
      if (new java.io.File(path).exists) graft.expect.SuiteLoader.fromFile(path)
      else graft.expect.SuiteLoader.fromJson(twinSuiteJson)
    val expected = Expectations.referenceSuite
    assert(loaded.map(_.name) === expected.map(_.name))
    loaded.zip(expected).foreach { case (l, e) =>
      // Spark 4 Column hides .expr; the unresolved-column rendering is
      // deterministic, so string equality pins expression identity
      assert(l.violation.toString === e.violation.toString,
        s"${l.name}: ${l.violation} != ${e.violation}")
    }
    // and behaviorally: identical violation counts on mixed data
    val df = spark.range(6).selectExpr(
      "IF(id = 0, CAST(NULL AS STRING), CAST(id AS STRING)) AS truck_id",
      "IF(id = 1, 120.0, 50.0) AS fuel_level",
      "IF(id = 2, 99.0, 20.0) AS temperature",
      "IF(id = 3, 'lost', 'delivered') AS delivery_status")
    assert(Expectations.report(df, loaded).collect().toSeq ===
      Expectations.report(df, expected).collect().toSeq)
  }

  test("pipeline run driven by the reference's JSON suite file matches the code-defined gate") {
    // the full declarative workflow: editing Validation_checks.json is
    // the reference's way of changing the gate — a run driven by the
    // actual file must be indistinguishable from the built-in suite
    val ref =
      "/root/reference/great_expectations/Expectations/Validation_checks.json"
    val path = if (new java.io.File(ref).exists) ref else suiteFile(twinSuiteJson)
    fixture
    val declared = LogisticsPipeline.run(spark, rawDir,
      new java.io.File("target/fixtures/out_json_suite").getAbsolutePath,
      suitePath = Some(path))
    assert(declared.geStatus === result.geStatus)
    assert(declared.curated.count() === result.curated.count())
    assert(declared.rejected.count() === result.rejected.count())
  }

  test("a failing suite file rejects every record and lineage follows the gate") {
    fixture
    val failing = suiteFile(
      """{"expectations": [
        {"expectation_type": "expect_column_values_to_be_between",
         "kwargs": {"column": "fuel_level", "min_value": 0, "max_value": 1}}]}""")
    val failed = LogisticsPipeline.run(spark, rawDir,
      new java.io.File("target/fixtures/out_failing_suite").getAbsolutePath,
      suitePath = Some(failing))
    assert(failed.geStatus === "FAILED")
    val m = failed.lineage.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("curated") === 0L)
    assert(m("raw") === n && m("validated_total") === n && m("rejected") === n)
    assert(failed.curated.count() === 0)
    assert(failed.rejected.count() === n)
    // the gate moves every rule-valid record, stamped ge_failed alone;
    // records the rules rejected keep their own reasons
    val moved = failed.rejected
      .filter(array_contains(col("rejection_reasons"), "ge_failed"))
    assert(moved.count() === result.curated.count())
    assert(moved.filter(size(col("rejection_reasons")) =!= 1).count() === 0)
  }

  test("a failed run after a passed one leaves layers that equal its lineage record") {
    // every run writes every layer: a FAILED gate overwrites curated
    // with zero rows instead of leaving the last PASSED run's rows
    val (passed, out) = freshRun("out_reconcile")
    assert(passed.geStatus === "PASSED")
    val failed = LogisticsPipeline.run(spark, rawDir, out, suitePath = Some(suiteFile(
      """{"expectations": [
        {"expectation_type": "expect_column_values_to_be_between",
         "kwargs": {"column": "fuel_level", "min_value": 0, "max_value": 1}}]}""")))
    assert(failed.geStatus === "FAILED")
    val curated = spark.read.parquet(s"$out/curated").count()
    assert(curated === 0L)
    val stamp = failed.rejected.select("processed_at").head().get(0)
    val rejected = spark.read.parquet(s"$out/rejected")
      .filter(col("processed_at") === lit(stamp)).count()
    val runAt = failed.lineage.select("run_timestamp").head().get(0)
    val recorded = spark.read.parquet(s"$out/validated")
      .filter(col("run_timestamp") === lit(runAt)).collect()
      .map(r => r.getAs[String]("layer") -> r.getAs[Long]("record_count")).toMap
    assert(recorded === Map("raw" -> n, "validated_total" -> n,
      "curated" -> curated, "rejected" -> rejected))
  }

  test("SuiteLoader rejects unknown expectation types loudly") {
    val bad = """{"expectations": [
      {"expectation_type": "expect_column_median_to_be_between",
       "kwargs": {"column": "x", "min_value": 0, "max_value": 1}}]}"""
    val e = intercept[IllegalArgumentException](
      graft.expect.SuiteLoader.fromJson(bad))
    assert(e.getMessage.contains("expect_column_median_to_be_between"))
    // an empty suite is a gate that always passes — also rejected
    intercept[IllegalArgumentException](
      graft.expect.SuiteLoader.fromJson("""{"expectations": []}"""))
  }

  test("SuiteLoader regex/length expectations parse and flag planted rows") {
    val suite = graft.expect.SuiteLoader.fromJson(
      """{"expectations": [
        {"expectation_type": "expect_column_values_to_match_regex",
         "kwargs": {"column": "code", "regex": "^[A-Z]{2}[0-9]+$"}},
        {"expectation_type": "expect_column_value_lengths_to_be_between",
         "kwargs": {"column": "code", "min_value": 3, "max_value": 5}}]}""")
    assert(suite.map(_.name) ===
      Seq("code_matches_regex", "code_length_between"))
    val df = spark.createDataFrame(Seq(
      Tuple1("AB12"),        // clean
      Tuple1("ab12"),        // regex violation
      Tuple1("AB1234567"),   // length violation (regex-clean)
      Tuple1(null.asInstanceOf[String]) // violates both (GE null rule)
    )).toDF("code")
    val r = graft.expect.Expectations.report(df, suite).collect()(0)
    assert(r.getLong(r.fieldIndex("viol_code_matches_regex")) === 2L)
    assert(r.getLong(r.fieldIndex("viol_code_length_between")) === 2L)
    assert(r.getString(r.fieldIndex("verdict")) === "FAILED")
  }

  test("SuiteLoader rejects unsupported GE kwargs instead of ignoring them") {
    // 'strict_min' is a real GE modifier this loader does not
    // implement; silently dropping it would run a LOOSER gate than
    // the document declares
    val strict = """{"expectations": [
      {"expectation_type": "expect_column_values_to_be_between",
       "kwargs": {"column": "x", "min_value": 0, "max_value": 1,
                  "strict_min": true}}]}"""
    val e = intercept[IllegalArgumentException](
      graft.expect.SuiteLoader.load(strict))
    assert(e.getMessage.contains("strict_min"), e.getMessage)
    // 'mostly' is row-wise-only (matching GE's column-map semantics):
    // the aggregate tier still rejects it loudly
    val aggMostly = """{"expectations": [
      {"expectation_type": "expect_column_values_to_be_unique",
       "kwargs": {"column": "x", "mostly": 0.95}}]}"""
    val e1 = intercept[IllegalArgumentException](
      graft.expect.SuiteLoader.load(aggMostly))
    assert(e1.getMessage.contains("mostly"), e1.getMessage)
    // fractional length bounds would silently TIGHTEN via truncation
    val frac = """{"expectations": [
      {"expectation_type": "expect_column_value_lengths_to_be_between",
       "kwargs": {"column": "x", "min_value": 1, "max_value": 4.9}}]}"""
    val e2 = intercept[IllegalArgumentException](
      graft.expect.SuiteLoader.load(frac))
    assert(e2.getMessage.contains("4.9"), e2.getMessage)
    // out-of-range mostly: 0 and >1 carry no GE meaning — reject
    for (bad <- Seq("0", "1.5", "-0.2"))
      intercept[IllegalArgumentException](graft.expect.SuiteLoader.fromJson(
        s"""{"expectations": [
          {"expectation_type": "expect_column_values_to_not_be_null",
           "kwargs": {"column": "x", "mostly": $bad}}]}"""))
  }

  test("GE mostly: fractional tolerance in the shared single-pass gate") {
    // 10 rows, 2 nulls → violation rate 0.2: mostly 0.8 passes (the
    // boundary is inclusive — viol·10⁶ ≤ (10⁶−ppm)·n), 0.85 fails
    val df = spark.range(10).selectExpr(
      "IF(id < 2, CAST(NULL AS STRING), CAST(id AS STRING)) AS x")
    def gate(m: Double) = graft.expect.Expectations.report(df,
      graft.expect.SuiteLoader.fromJson(
        s"""{"expectations": [
          {"expectation_type": "expect_column_values_to_not_be_null",
           "kwargs": {"column": "x", "mostly": $m}}]}""")).collect()(0)
    val pass = gate(0.8)
    assert(pass.getLong(pass.fieldIndex("viol_x_not_null")) === 2L)
    assert(pass.getLong(pass.fieldIndex("ok_x_not_null")) === 1L)
    assert(pass.getString(pass.fieldIndex("verdict")) === "PASSED")
    val fail = gate(0.85)
    assert(fail.getLong(fail.fieldIndex("ok_x_not_null")) === 0L)
    assert(fail.getString(fail.fieldIndex("verdict")) === "FAILED")
    // mixed with a zero-tolerance expectation: one raw violation still
    // fails the suite even when the mostly gate passes
    val mixed = graft.expect.Expectations.report(df,
      graft.expect.SuiteLoader.fromJson(
        """{"expectations": [
          {"expectation_type": "expect_column_values_to_not_be_null",
           "kwargs": {"column": "x", "mostly": 0.8}},
          {"expectation_type": "expect_column_value_lengths_to_be_between",
           "kwargs": {"column": "x", "min_value": 1, "max_value": 0}}]}"""))
      .collect()(0)
    assert(mixed.getString(mixed.fieldIndex("verdict")) === "FAILED")
    // the internal count column must not leak into the report schema
    assert(!mixed.schema.fieldNames.contains("_n_rows"))
  }

  test("aggregate-shaped expectations parse, gate, and refuse fromJson") {
    val json = """{"expectations": [
      {"expectation_type": "expect_column_values_to_be_unique",
       "kwargs": {"column": "id"}},
      {"expectation_type":
         "expect_column_proportion_of_unique_values_to_be_between",
       "kwargs": {"column": "id", "min_value": 0.9, "max_value": 1.0}}]}"""
    val loaded = graft.expect.SuiteLoader.load(json)
    assert(loaded.rowWise.isEmpty && loaded.agg.map(_.name) ===
      Seq("id_unique", "id_unique_proportion"))
    // fromJson (row-wise-only view) must refuse rather than drop a gate
    intercept[IllegalArgumentException](
      graft.expect.SuiteLoader.fromJson(json))
    // planted rows: 5 values, 'b' duplicated 3× → GE counts all 3 rows
    // of the duplicated value; nulls ignored; proportion = 3/6 < 0.9
    val df = spark.createDataFrame(
      Seq("a", "b", "b", "b", "c", "z", null, null).map(Tuple1(_))).toDF("id")
    val r = graft.expect.Expectations
      .reportFull(df, loaded.rowWise, loaded.agg).collect()(0)
    assert(r.getLong(r.fieldIndex("viol_id_unique")) === 3L)
    assert(r.getLong(r.fieldIndex("viol_id_unique_proportion")) === 1L)
    assert(r.getString(r.fieldIndex("verdict")) === "FAILED")
    // a unique column with an in-band proportion passes both tiers
    val ok = spark.createDataFrame(
      Seq("a", "b", "c").map(Tuple1(_))).toDF("id")
    val r2 = graft.expect.Expectations
      .reportFull(ok, loaded.rowWise, loaded.agg).collect()(0)
    assert(r2.getLong(r2.fieldIndex("viol_id_unique")) === 0L)
    assert(r2.getLong(r2.fieldIndex("viol_id_unique_proportion")) === 0L)
    assert(r2.getString(r2.fieldIndex("verdict")) === "PASSED")
    // empty frame: vacuous pass (0/0 must not be NaN-poisoned)
    val r3 = graft.expect.Expectations
      .reportFull(ok.limit(0), loaded.rowWise, loaded.agg).collect()(0)
    assert(r3.getString(r3.fieldIndex("verdict")) === "PASSED")
    // table-level row-count gate: 3 rows inside [2, 5] passes,
    // outside [10, 20] fails — and fractional bounds are rejected
    val rc = graft.expect.SuiteLoader.load(
      """{"expectations": [
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 2, "max_value": 5}}]}""")
    assert(graft.expect.Expectations
      .verdictFull(ok, rc.rowWise, rc.agg) === "PASSED")
    val rcBad = graft.expect.SuiteLoader.load(
      """{"expectations": [
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 10, "max_value": 20}}]}""")
    assert(graft.expect.Expectations
      .verdictFull(ok, rcBad.rowWise, rcBad.agg) === "FAILED")
    intercept[IllegalArgumentException](graft.expect.SuiteLoader.load(
      """{"expectations": [
        {"expectation_type": "expect_table_row_count_to_be_between",
         "kwargs": {"min_value": 1.5, "max_value": 20}}]}"""))
  }

  test("sample-mode gate diverges from full-scan gate on adversarial data") {
    // the reference validates only a 500-row sample (Glue_job.py:102);
    // data whose first 500 rows are clean but whose tail is corrupt
    // PASSES the sample gate and FAILS the full-scan gate — the exact
    // semantic boundary SURVEY §7.4 documents
    val df = spark.range(1000).selectExpr(
      "id AS event_id",
      "IF(id < 500, id, CAST(NULL AS BIGINT)) AS user_id",
      "10.0 AS value",
      "'click' AS event_type",
      "5 AS k")
    val suite = graft.analytics.EventsPipeline.suite
    assert(Expectations.verdict(df, suite) === "FAILED")
    assert(Expectations.verdict(
      df.orderBy(col("event_id")).limit(500), suite) === "PASSED")
  }

  test("keyed upsert rewrites only touched partitions (parquet MERGE equivalent)") {
    import spark.implicits._
    import graft.sinks.Sinks
    val path = new java.io.File("target/fixtures/upsert").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    Seq(("a", 1, 1), ("b", 2, 1), ("c", 3, 2), ("d", 4, 2))
      .toDF("k", "v", "p")
      .write.partitionBy("p").parquet(path)
    def mtimes(part: Int): Map[String, Long] =
      new java.io.File(s"$path/p=$part").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    val p2Before = mtimes(2)
    // update key b, insert key e — both land in partition 1
    // the partition column is part of the key (enforced): a key cannot
    // move partitions, which is what makes partition-scoped rewrite sound;
    // the duplicate-key check rides the checkpoint's jobs, not its own
    val (_, jobs) = jobsOf(Sinks.upsert(spark, path,
      Seq(("b", 20, 1), ("e", 50, 1)).toDF("k", "v", "p"),
      keyCols = Seq("k", "p"), partitionCol = "p"))
    assert(jobs === 7, s"$jobs jobs for a clean upsert")
    val after = spark.read.parquet(path)
    assert(after.count() === 5)
    assert(after.filter($"k" === "b").select("v").first().getInt(0) === 20)
    assert(after.filter($"k" === "c").select("v").first().getInt(0) === 3)
    // the untouched partition's files were not rewritten
    assert(mtimes(2) === p2Before, "partition p=2 was rewritten")
    // ambiguous MERGE input (duplicate keys in updates) is an error,
    // not a silent double-insert, and it fails before any file is written
    val rows = after.collect().toSet
    val files = (mtimes(1), mtimes(2))
    val dup = intercept[Exception] {
      Sinks.upsert(spark, path,
        Seq(("b", 20, 1), ("b", 21, 1)).toDF("k", "v", "p"),
        keyCols = Seq("k", "p"), partitionCol = "p")
    }
    assert(dup.getMessage.contains("duplicate keys"))
    assert(spark.read.parquet(path).collect().toSet === rows)
    assert((mtimes(1), mtimes(2)) === files)
  }

  test("keyed upsert into an existing empty directory starts a new table") {
    import spark.implicits._
    val path = new java.io.File("target/fixtures/upsert_empty").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    new java.io.File(path).mkdirs()
    graft.sinks.Sinks.upsert(spark, path,
      Seq(("a", 1, 1), ("b", 2, 2)).toDF("k", "v", "p"),
      keyCols = Seq("k", "p"), partitionCol = "p")
    val rows = spark.read.parquet(path).select("k", "v", "p").as[(String, Int, Int)].collect()
    assert(rows.toSet === Set(("a", 1, 1), ("b", 2, 2)))
  }

  test("generator is deterministic across invocations") {
    val a = TelemetryGen.recordJson(spark, 100).collect().map(_.getString(1))
    val b = TelemetryGen.recordJson(spark, 100).collect().map(_.getString(1))
    assert(a.sameElements(b))
  }
}
