package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

import graft.dsl.Constraint._
import graft.dsl.ConstraintSuite
import graft.exec.JsonValidator

/** Distributed raw-JSON-document validation: the reference's literal
  * instance shape (a JSON string) at table scale — the doc engine in a
  * distributed map, and the stored-variant column pinned to it. */
class JsonValidatorSpec extends SparkSpec {
  import spark.implicits._

  private val suite = ConstraintSuite("js", Seq(
    NotNull("id_req", "doc_id"),
    Bounds("n_max", "n_tok", None, Some(BigDecimal(100))),
    IsIn("src", "source", Seq("web", "books")),
    EachElement("toks", "tokens",
      Bounds("t", "$", Some(BigDecimal(0)), Some(BigDecimal(9))))))

  private val docs = Seq(
    ("r1", """{"doc_id":"a","n_tok":5,"tokens":[1,2],"source":"web"}"""),
    ("r2", """{"doc_id":"b","n_tok":500,"tokens":[1],"source":"web"}"""),
    ("r3", """{"n_tok":5,"tokens":[1],"source":"books"}"""),
    ("r4", """{"doc_id":"d","n_tok":5,"tokens":[1,99],"source":"mars"}"""),
    ("r5", """this is not json at {{{"""),
    ("r6", null.asInstanceOf[String]))
    .toDF("id", "js").repartition(3)

  test("schema-free path: verdicts and violations over raw JSON strings") {
    val compiled = JsonValidator.compile(suite)
    val v = JsonValidator.verdicts(docs, "id", "js", compiled)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(v == Map("r1" -> true, "r2" -> false, "r3" -> false,
      "r4" -> false, "r5" -> false, "r6" -> false))

    val viol = JsonValidator.violations(docs, "id", "js", compiled)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(viol == Set(
      ("r2", "n_max"), ("r3", "id_req"), ("r4", "src"), ("r4", "toks"),
      ("r5", JsonValidator.DocumentConstraint),
      ("r6", JsonValidator.DocumentConstraint)))
  }

  test("verdicts are false exactly for the documents with a violation row") {
    // both views read one per-row frame: a document fails iff it has at
    // least one violation row
    val compiled = JsonValidator.compile(suite)
    val failed = JsonValidator.verdicts(docs, "id", "js", compiled)
      .filter(!F.col("ok")).select("doc_id").as[String].collect().toSet
    val seen = JsonValidator.docEngineRows.get()
    val violated = JsonValidator.violations(docs, "id", "js", compiled)
      .select("doc_id").as[String].collect().toSet
    assert(failed == violated && failed == Set("r2", "r3", "r4", "r5", "r6"))
    // the violation rows' filter on `_ok` does not evaluate a failing
    // document a second time
    assert(JsonValidator.docEngineRows.get() - seen == 6L)
  }

  test("non-object documents pass under pass-on-null") {
    // a bare array / scalar / null literal is a VALID JSON document: the
    // doc engine applies pass-on-null applicability, as the reference
    // does for such instances
    val nonObj = Seq(("n1", "[1,2]"), ("n2", "7"), ("n3", "null"))
      .toDF("id", "js")
    val relaxed = ConstraintSuite("r", Seq(
      Bounds("n_max", "n_tok", None, Some(BigDecimal(100)))))
    val free = JsonValidator
      .verdicts(nonObj, "id", "js", JsonValidator.compile(relaxed))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(free == Map("n1" -> true, "n2" -> true, "n3" -> true))
  }

  test("stored-variant column: no parse step, agrees with doc engine") {
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("n_tok", IntegerType),
      StructField("tokens", ArrayType(IntegerType)),
      StructField("source", StringType)))
    // the lakehouse shape: parse ONCE at write time, persist the binary
    val dir = java.nio.file.Files
      .createTempDirectory("graft-varcol").toString
    docs.select($"id", F.try_parse_json($"js").as("v"))
      .write.mode("overwrite").parquet(dir)
    val out = JsonValidator.violationsVariantColumn(
      spark.read.parquet(dir), "id", "v", schema, suite)
    // read-side plan has NO parse: extractions run off the stored binary
    assert(!out.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("parse_json"))

    val tup = (r: org.apache.spark.sql.Row) =>
      (r.getString(0), r.getString(1), r.getString(2), r.getString(3))
    val varcol = out.collect().map(tup).toSet
    val docEngine = JsonValidator
      .violations(docs, "id", "js", JsonValidator.compile(suite))
      .collect().map(tup).toSet
    // full parity except _document `observed`: the raw text is not
    // stored on this path (the writer persisted a NULL variant), so it
    // renders "null" while the string paths carry the truncated text
    def mask(s: Set[(String, String, String, String)]) = s.map(t =>
      if (t._2 == JsonValidator.DocumentConstraint) t.copy(_3 = "?")
      else t)
    assert(mask(varcol) == mask(docEngine))
    assert(varcol.filter(_._2 == JsonValidator.DocumentConstraint)
      .forall(_._3 == "null"))
    assert(varcol.exists(_._2 == JsonValidator.DocumentConstraint))

    // quote/backslash field names refuse loudly (variant path syntax)
    assert(intercept[IllegalArgumentException] {
      JsonValidator.violationsVariantColumn(spark.read.parquet(dir), "id",
        "v", StructType(Seq(StructField("it's", IntegerType))), suite)
    }.getMessage.contains("validate the JSON text with violations"))
  }

  test("stored-variant column: extractions pushed into the scan, each once") {
    // the r6 regression re-inlined the extraction chain ~11x per row;
    // pushed into the scan, each field is read once off the binary
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("n_tok", IntegerType),
      StructField("tokens", ArrayType(IntegerType)),
      StructField("source", StringType)))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-varplan").toString
    docs.select($"id", F.try_parse_json($"js").as("v"))
      .write.mode("overwrite").parquet(dir)
    val out = JsonValidator.violationsVariantColumn(
      spark.read.parquet(dir), "id", "v", schema, suite)
    val plan = out.queryExecution.executedPlan
    val text = plan.toString.toLowerCase
    assert(!text.contains("parse_json") && !text.contains("variant_get"), plan)
    // ONE scan of the table, NULL-variant rows included; a pushed
    // extraction is a field of the scanned variant struct whose metadata
    // names its path
    val scans = PlanWalk.fileScans(plan)
    assert(scans.size == 1, plan)
    val pushed = scans.flatMap(
      _.requiredSchema("v").dataType.asInstanceOf[StructType].fields.map(f =>
        f.metadata.getMetadata("__VARIANT_METADATA_KEY").getString("path") ->
          f.dataType))
    assert(pushed.sortBy(_._1) ==
      schema.fields.toSeq.map(f => s"$$['${f.name}']" -> f.dataType)
        .sortBy(_._1), plan)
  }

  test("round-trip: to_json of a typed table validates like the table") {
    val base = Seq(
      ("a", Seq(1, 2, 3), 3, "web"),
      ("b", Seq(1, 2), 5, "web"),     // n_tok inconsistent but in range
      ("c", Seq(120), 1, "books"))    // token out of range
      .toDF("doc_id", "tokens", "n_tok", "source")
    val js = base.select(F.col("doc_id").as("id"),
      F.to_json(F.struct(F.col("doc_id"), F.col("tokens"),
        F.col("n_tok"), F.col("source"))).as("js"))
    val v = JsonValidator
      .verdicts(js, "id", "js", JsonValidator.compile(suite))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(v == Map("a" -> true, "b" -> true, "c" -> false))
  }

  test("raw-JSON validation runs unchanged on a stream (JSONL firehose)") {
    // JsonValidator's schema-free path is a stateless per-row map, so a
    // STREAMING DataFrame flows through the same code: doc engine
    // compiled once on the driver, applied per micro-batch record,
    // malformed documents becoming violations — the streaming face of
    // the reference's validate(template, json) contract
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)] // (id, raw json)
    val compiled = graft.exec.JsonValidator.compile(
      ConstraintSuite("js", Seq(
        NotNull("id_req", "doc_id"),
        Bounds("n_max", "n_tok", None, Some(BigDecimal(10))))))
    val q = graft.exec.JsonValidator
      .violations(mem.toDF().toDF("id", "js"), "id", "js", compiled)
      .writeStream.format("memory").queryName("json_sink")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(
        ("r1", """{"doc_id":"a","n_tok":3}"""),
        ("r2", """{"n_tok":3}"""),
        ("r3", """not json {"""))
      q.processAllAvailable()
      val b1 = spark.table("json_sink")
        .select("doc_id", "constraint_id").as[(String, String)]
        .collect().toSet
      assert(b1 == Set(("r2", "id_req"),
        ("r3", graft.exec.JsonValidator.DocumentConstraint)))
      // later micro-batch appends through the same compiled suite
      mem.addData(("r4", """{"doc_id":"d","n_tok":99}"""))
      q.processAllAvailable()
      assert(spark.table("json_sink").count() == 3)
      assert(spark.table("json_sink")
        .filter($"doc_id" === "r4" && $"constraint_id" === "n_max")
        .count() == 1)
    } finally q.stop()
  }
}
