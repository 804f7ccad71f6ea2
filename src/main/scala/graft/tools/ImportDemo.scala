package graft.tools

import graft.Session
import graft.compile.{ConstraintCompiler, JsonSchemaImport}
import graft.exec.Validator
import graft.gen.SequenceGen

/**
 * The migration path demo: a user of the reference validator brings
 * their EXISTING JSON Schema document (the reference's native input,
 * `SchemaCompiler.java:38-40`), imports it with [[JsonSchemaImport]],
 * and validates a table — no DSL authoring required. Run:
 * `sbt "runMain graft.tools.ImportDemo [nRows]"`.
 */
object ImportDemo {
  /** The north-star sequence schema written as ACTUAL JSON Schema. */
  val schemaJson: String =
    """{
      |  "$id": "tokenized-sequences-v1",
      |  "$schema": "https://json-schema.org/draft/2020-12/schema",
      |  "type": "object",
      |  "required": ["doc_id", "tokens", "n_tok"],
      |  "$defs": {
      |    "token": {"type": "integer", "minimum": 0, "maximum": 50256}
      |  },
      |  "properties": {
      |    "doc_id": {"type": "string", "pattern": "^seq-[a-z0-9-]+$"},
      |    "n_tok": {"type": "integer", "minimum": 1, "maximum": 8192},
      |    "tokens": {"items": {"$ref": "#/$defs/token"}, "minItems": 1},
      |    "source": {"enum": ["src0", "src1", "src2", "src3", "src4",
      |                        "src5", "src6", "src7"]}
      |  }
      |}""".stripMargin

  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = Session(appName = "graft-import-demo")

    val imported = JsonSchemaImport.translate(schemaJson)
    println(s"imported suite '${imported.id}': " +
      s"${imported.constraints.size} top-level constraints")
    val suite = ConstraintCompiler.compile(imported)

    val df = SequenceGen.generate(spark, nRows, nSources = 8,
      numPartitions = 16).toDF()
    val t0 = System.nanoTime()
    val report = Validator.validateWithDetails(df, suite, Seq("source"))
    report.verdicts.orderBy("source").show(20, truncate = false)
    report.violations
      .orderBy("constraint_id", "doc_id").show(8, truncate = false)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"validated $nRows rows against the IMPORTED schema " +
      f"in $sec%.1f s (${nRows / sec}%.0f seq/s, detail mode)")

    // the SAME suite drives the single-document engine (the reference's
    // validate(template, json) shape) — no Spark job, microseconds/doc
    val docSuite = graft.exec.DocValidator.compile(imported)
    val good = """{"doc_id":"seq-0000000001","n_tok":2,"tokens":[1,2]}"""
    val bad = """{"doc_id":"nope","n_tok":2,"tokens":[1,99999]}"""
    println(s"doc engine: good=${
      graft.exec.DocValidator.validate(docSuite, good)} bad=${
      graft.exec.DocValidator.validate(docSuite, bad)} (violations: ${
      graft.exec.DocValidator.validateWithDetails(docSuite, bad)
        .map(_.constraintId).mkString(", ")})")
    spark.stop()
  }
}
