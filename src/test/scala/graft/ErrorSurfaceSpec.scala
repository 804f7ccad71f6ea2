package graft

import graft.compile.ConstraintCompiler
import graft.dsl.{Constraint => C, ConstraintJson, ConstraintSuite}

/** The error contract (mirrors the reference's "Schema compilation
  * failed" surface, `BlazeWrapper.java:392-394`): malformed input must
  * produce a DESCRIPTIVE exception at compile/plan time — never
  * reflection soup, never a silent wrong answer, and data-plane
  * malformation is a violation, not an error (covered in ValidatorSpec). */
class ErrorSurfaceSpec extends SparkSpec {
  import spark.implicits._
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
    intercept[IllegalArgumentException] { // bands must divide numHashes
      graft.ops.Dedup.minhashCandidates(
        Seq(("a", "b c")).toDF("id", "text"), "id", "text",
        numHashes = 64, bands = 7)
    }
    intercept[IllegalArgumentException] { // maxBucket floor
      graft.ops.Dedup.bucketedPairs(
        Seq(("k", "a")).toDF("bucket", "id"), Seq("bucket"), "id",
        Seq.empty, maxBucket = 1)
    }
    intercept[IllegalArgumentException] { // nprobe bounds
      graft.ops.Ivf.topK(
        Seq(("a", Seq(1.0))).toDF("id", "v"),
        Seq(("a", Seq(1.0))).toDF("id", "v"),
        "id", "v", 1, Array(Array(1.0)), nprobe = 5)
    }
  }

  test("Ivf.topK rejects query sets too large to broadcast") {
    import org.apache.spark.sql.{functions => F}
    val huge = spark.range(graft.ops.Ivf.MaxBroadcastQueries + 1L)
      .select(F.col("id").cast("string").as("id"),
        F.array(F.lit(1.0), F.lit(0.0)).as("v"))
    val corpus = Seq(("c1", Seq(1.0, 0.0))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Ivf.topK(huge, corpus, "id", "v", 1,
        Array(Array(1.0, 0.0)), nprobe = 1)
    }
    assert(e.getMessage.contains(graft.ops.Ivf.MaxBroadcastQueries.toString))
  }

  test("streaming path rejects dataset-level checks loudly") {
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      C.Unique("u", "doc_id"))))
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamValidator.violations(
        Seq(("a", 1)).toDF("doc_id", "n"), suite, "doc_id")
    }
    assert(e.getMessage.contains("batch path"))
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

  test("dedup bench: only the broadcast cap and a full disk are infeasible") {
    import org.apache.spark.SparkException
    import graft.tools.DedupBench
    val cap = new SparkException("_LEGACY_ERROR_TEMP_2249",
      Map("maxBroadcastTableBytes" -> "8.0 GiB", "dataSize" -> "9.0 GiB"),
      null)
    assert(DedupBench.infeasible(new SparkException("aborted", cap)))
    assert(DedupBench.infeasible(new SparkException("aborted",
      new java.io.IOException("No space left on device"))))
    assert(!DedupBench.infeasible(new SparkException("aborted",
      new ArithmeticException("/ by zero"))))
    assert(!DedupBench.infeasible(new java.io.IOException("Stream closed")))

    assert(DedupBench.benchDiv(None) == 10L)
    assert(DedupBench.benchDiv(Some("100")) == 100L)
    for (bad <- Seq("0", "-3", "ten", "")) {
      val e = intercept[IllegalArgumentException](
        DedupBench.benchDiv(Some(bad)))
      assert(e.getMessage.contains("GRAFT_DEDUP_BENCH_DIV"))
    }
  }
}
