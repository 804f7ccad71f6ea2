package graft

import graft.compile.ConstraintCompiler
import graft.dsl.{Constraint => C, ConstraintJson, ConstraintSuite}

/** The error contract (mirrors the reference's "Schema compilation
  * failed" surface, `BlazeWrapper.java:392-394`): malformed input must
  * produce a DESCRIPTIVE exception at compile/plan time — never
  * reflection soup, never a silent wrong answer, and data-plane
  * malformation is a violation, not an error (covered in ValidatorSpec). */
class ErrorSurfaceSpec extends SparkSpec {
  import ConstraintCompiler.CompileException
  import ConstraintJson.ConstraintParseException

  test("invalid JSON → descriptive parse error") {
    val e = intercept[ConstraintParseException] {
      ConstraintJson.parseSuite("{not json")
    }
    assert(e.getMessage.contains("invalid JSON"))
  }

  test("unknown constraint kind → descriptive parse error") {
    val e = intercept[ConstraintParseException] {
      ConstraintJson.parseSuite(
        """{"id":"s","constraints":[{"kind":"frobnicate","id":"x"}]}""")
    }
    assert(e.getMessage.contains("unknown constraint kind"))
  }

  test("missing required field → names the field") {
    val e = intercept[ConstraintParseException] {
      ConstraintJson.parseSuite(
        """{"id":"s","constraints":[{"kind":"notNull","id":"x"}]}""")
    }
    assert(e.getMessage.contains("col"))
  }

  test("'$' outside an element scope → compile error") {
    val e = intercept[CompileException] {
      ConstraintCompiler.compile(ConstraintSuite("s", Seq(
        C.Bounds("b", "$", Some(0), None))))
    }
    assert(e.getMessage.contains("array-element scope"))
  }

  test("unsupported strict format → compile error naming it") {
    val e = intercept[CompileException] {
      ConstraintCompiler.compile(ConstraintSuite("s", Seq(
        C.FormatIs("f", "doc_id", "klingon-stardate", strict = true))))
    }
    assert(e.getMessage.contains("klingon-stardate"))
  }

  test("unknown drift metric / bad structural params → rejected early") {
    intercept[IllegalArgumentException] {
      ConstraintCompiler.compile(ConstraintSuite("s", Seq(
        C.NoDrift("d", "n_tok", 0, 100, 10, "chi2", 0.5))))
    }
    intercept[IllegalArgumentException] {
      ConstraintCompiler.compile(ConstraintSuite("s", Seq(
        C.NoArrayDrift("d", "tokens", 16, "wasserstein", 0.5))))
    }
  }

  test("bench records a per-query err for a dying query, not a time") {
    // round-3 verdict: `catch → -1L` made a crashing query look like a
    // plausible small number in BENCH_LOCAL.json; the artifact must
    // carry the error
    val rows = Bench.measureQueries(spark, "/nonexistent", Map(
      "good" -> ((s: org.apache.spark.sql.SparkSession, _: String) =>
        s.range(3).toDF("n")),
      "broken" -> ((s: org.apache.spark.sql.SparkSession, dir: String) =>
        s.read.parquet(s"$dir/no_such_table.parquet"))))
    val byName = rows.map(r => r._1 -> r).toMap
    assert(byName("good")._2 > 0.0 && byName("good")._4.isEmpty)
    // the median comes from 3 recorded reps, all kept in the artifact
    assert(byName("good")._3.size == 3)
    assert(byName("broken")._2 == -1.0)
    assert(byName("broken")._3.isEmpty) // died on rep 1, no fake times
    assert(byName("broken")._4.exists(_.nonEmpty))
  }
}
