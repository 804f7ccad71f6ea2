package graft.tools

import graft.Session
import graft.compile.ConstraintCompiler
import graft.exec.Validator
import graft.gen.SequenceGen
import graft.registry.ConstraintRegistry

/**
 * End-to-end usage sample — the library's "README program": a constraint
 * suite arrives as a JSON string (the reference's schema-as-data contract,
 * `SchemaCompiler.java:38`), compiles once, and validates a synthetic
 * `input_hint` table, printing per-partition verdicts and a violation
 * sample. Run: `sbt "runMain graft.tools.Demo [nRows]"`.
 */
object Demo {
  val suiteJson: String =
    """{
      |  "id": "tokenized-sequences-v1",
      |  "constraints": [
      |    {"kind": "notNull", "id": "doc_id_present", "col": "doc_id"},
      |    {"kind": "matches", "id": "doc_id_shape", "col": "doc_id",
      |     "pattern": "^seq-[a-z0-9-]+$"},
      |    {"kind": "bounds", "id": "n_tok_range", "col": "n_tok",
      |     "min": 1, "max": 8192},
      |    {"kind": "sizeConsistency", "id": "n_tok_consistent",
      |     "intCol": "n_tok", "arrCol": "tokens"},
      |    {"kind": "eachElement", "id": "token_range", "col": "tokens",
      |     "elem": {"kind": "bounds", "id": "tok", "col": "$",
      |              "min": 0, "max": 50256}},
      |    {"kind": "unique", "id": "doc_id_unique", "col": "doc_id"},
      |    {"kind": "refIntegrity", "id": "source_known", "col": "source",
      |     "dimName": "sources", "dimCol": "source"},
      |    {"kind": "noDrift", "id": "n_tok_stable", "col": "n_tok",
      |     "lo": 0, "hi": 2048, "buckets": 32, "metric": "psi",
      |     "threshold": 0.4},
      |    {"kind": "noArrayDrift", "id": "token_hist_stable",
      |     "col": "tokens", "buckets": 64, "metric": "psi",
      |     "threshold": 0.2, "minCount": 1000}
      |  ]
      |}""".stripMargin

  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(100000L)
    val spark = Session(appName = "graft-demo")

    val suite = ConstraintCompiler.compileJson(
      suiteJson, ConstraintRegistry.empty)
    println(s"compiled suite '${suite.suiteId}' " +
      s"(${suite.rowChecks.size} row checks, " +
      s"${suite.datasetChecks.size} dataset checks, " +
      s"hash ${suite.constraintHash.take(12)}…)")

    val df = SequenceGen.generate(spark, nRows).toDF()
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark))

    val t0 = System.nanoTime()
    val report = Validator.validateWithDetails(
      df, suite, partitionCols = Seq("source"), dims = dims)
    println("== per-partition verdicts ==")
    report.verdicts.orderBy("source").show(20, truncate = false)
    println("== violation sample (by constraint) ==")
    report.violations
      .groupBy("constraint_id").count().orderBy("constraint_id")
      .show(20, truncate = false)
    report.violations.orderBy("constraint_id", "doc_id")
      .show(12, truncate = false)
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"validated $nRows rows in $secs%.1f s " +
      f"(${nRows / secs}%.0f seq/s, detail mode)")
    spark.stop()
  }
}
