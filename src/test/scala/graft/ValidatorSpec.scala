package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import graft.dsl._
import graft.dsl.Constraint._
import graft.checks.{DatasetCheck, DriftCheck, RefIntegrityCheck, UniqueCheck}
import graft.compile.ConstraintCompiler
import graft.exec.{DocValidator, Validator, Violation}
import graft.gen.SequenceGen
import graft.registry.ConstraintRegistry

/** Keyword-level conformance in the style of the reference's
  * BlazeWrapperTest/DetailedValidationTest: compile once, validate
  * single-row frames, assert the golden boolean and the violation rows. */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private def seqDf(rows: (String, Seq[Int], Int, String)*): DataFrame =
    rows.map { case (d, t, n, s) => (d, t.toArray, n, s) }
      .toDF("doc_id", "tokens", "n_tok", "source")

  private def rowValid(df: DataFrame, c: Constraint): Boolean = {
    val suite = ConstraintCompiler.compile(ConstraintSuite("t", Seq(c)))
    val v = Validator.validate(df, suite, Seq.empty)
    v.select("rows_ok").as[Boolean].head()
  }

  private val okRow = ("d1", Seq(1, 2, 3), 3, "web")

  test("bounds: min/max inclusive + exclusive") {
    val df = seqDf(okRow)
    assert(rowValid(df, Bounds("c", "n_tok", Some(1), Some(3))))
    assert(!rowValid(df, Bounds("c", "n_tok", Some(1), Some(3), exclusiveMax = true)))
    assert(!rowValid(df, Bounds("c", "n_tok", Some(4), None)))
    assert(rowValid(df, Bounds("c", "n_tok", None, Some(3))))
  }

  test("isIn / constEq / notNull / matches / lengthBounds") {
    val df = seqDf(okRow)
    assert(rowValid(df, IsIn("c", "source", Seq("web", "books"))))
    assert(!rowValid(df, IsIn("c", "source", Seq("books"))))
    assert(rowValid(df, ConstEq("c", "source", "web")))
    assert(!rowValid(df, ConstEq("c", "source", "cc")))
    assert(rowValid(df, NotNull("c", "doc_id")))
    assert(rowValid(df, Matches("c", "doc_id", "^d\\d+$")))
    assert(!rowValid(df, Matches("c", "doc_id", "^x")))
    assert(rowValid(df, LengthBounds("c", "doc_id", Some(2), Some(2))))
    assert(!rowValid(df, LengthBounds("c", "doc_id", Some(3), None)))
  }

  test("null passes every keyword except notNull (JSON Schema applicability)") {
    val df = Seq(("d1", null.asInstanceOf[String]))
      .toDF("doc_id", "source")
    assert(rowValid(df, IsIn("c", "source", Seq("web"))))
    assert(rowValid(df, Matches("c", "source", "^x")))
    assert(rowValid(df, LengthBounds("c", "source", Some(99), None)))
    assert(!rowValid(df, NotNull("c", "source")))
  }

  test("multipleOf: exact decimal semantics incl. fractional") {
    val dfInt = Seq(Tuple1(9)).toDF("v")
    assert(rowValid(dfInt, MultipleOf("c", "v", BigDecimal(3))))
    assert(!rowValid(dfInt, MultipleOf("c", "v", BigDecimal(4))))
    val dfFrac = Seq(Tuple1(0.0075)).toDF("v")
    assert(rowValid(dfFrac, MultipleOf("c", "v", BigDecimal("0.0001"))))
    assert(!rowValid(dfFrac, MultipleOf("c", "v", BigDecimal("0.0002"))))
    // a 26-digit decimal (top decade below 1e26) must stay on the EXACT
    // branch: 10^25 is a true multiple of 10, which the double-remainder
    // fallback gets wrong (double(10^25) % 10 = 4)
    val dfWide = spark.sql(
      "SELECT CAST('10000000000000000000000000' AS DECIMAL(38,0)) AS v")
    assert(rowValid(dfWide, MultipleOf("c", "v", BigDecimal(10))))
    assert(!rowValid(dfWide, MultipleOf("c", "v", BigDecimal(7))))
    // past decimal range the double fallback still answers, not crashes
    val dfHuge = Seq(Tuple1(1e308)).toDF("v")
    assert(!rowValid(dfHuge, MultipleOf("c", "v", BigDecimal("0.123456789"))))
  }

  test("array keywords: size, uniqueItems, eachElement, contains, prefix") {
    val df = seqDf(("d1", Seq(1, 2, 2, 50256), 4, "web"))
    assert(rowValid(df, SizeBounds("c", "tokens", Some(1), Some(4))))
    assert(!rowValid(df, SizeBounds("c", "tokens", Some(5), None)))
    assert(!rowValid(df, UniqueItems("c", "tokens")))
    assert(rowValid(seqDf(okRow), UniqueItems("c", "tokens")))
    assert(rowValid(df,
      EachElement("c", "tokens", Bounds("e", "$", Some(0), Some(50256)))))
    assert(!rowValid(df,
      EachElement("c", "tokens", Bounds("e", "$", Some(0), Some(100)))))
    assert(rowValid(df,
      ContainsCount("c", "tokens", ConstEq("e", "$", "2"), 2, Some(2))))
    assert(!rowValid(df,
      ContainsCount("c", "tokens", ConstEq("e", "$", "2"), 3)))
    assert(rowValid(df, PrefixItems("c", "tokens",
      Seq(ConstEq("p0", "$", "1"), ConstEq("p1", "$", "2")))))
    assert(!rowValid(df, PrefixItems("c", "tokens",
      Seq(ConstEq("p0", "$", "7")))))
    // prefix longer than array: absent positions pass (per spec)
    assert(rowValid(seqDf(("d", Seq(1), 1, "w")), PrefixItems("c", "tokens",
      Seq(ConstEq("p0", "$", "1"), ConstEq("p1", "$", "9")))))
  }

  test("sizeConsistency: n_tok == size(tokens)") {
    assert(rowValid(seqDf(okRow), SizeConsistency("c", "n_tok", "tokens")))
    assert(!rowValid(seqDf(("d", Seq(1, 2), 3, "w")),
      SizeConsistency("c", "n_tok", "tokens")))
  }

  test("combinators: allOf / anyOf / oneOf / not / ifThen / boolSchema") {
    val df = seqDf(okRow)
    val isWeb = ConstEq("a", "source", "web")
    val isBooks = ConstEq("b", "source", "books")
    val nTok3 = ConstEq("n", "n_tok", "3")
    assert(rowValid(df, AllOf("c", Seq(isWeb, nTok3))))
    assert(!rowValid(df, AllOf("c", Seq(isWeb, isBooks))))
    assert(rowValid(df, AnyOf("c", Seq(isBooks, isWeb))))
    assert(!rowValid(df, AnyOf("c", Seq(isBooks))))
    assert(rowValid(df, OneOf("c", Seq(isWeb, isBooks))))
    assert(!rowValid(df, OneOf("c", Seq(isWeb, nTok3))))
    assert(rowValid(df, Not("c", isBooks)))
    assert(!rowValid(df, Not("c", isWeb)))
    assert(rowValid(df, IfThen("c", isWeb, nTok3)))
    assert(!rowValid(df, IfThen("c", isWeb, isBooks)))
    assert(rowValid(df, IfThen("c", isBooks, isBooks, Some(nTok3))))
    assert(rowValid(df, BoolSchema("c", true)))
    assert(!rowValid(df, BoolSchema("c", false)))
  }

  test("format: annotation-only by default, strict opt-in") {
    val df = Seq(Tuple1("not-an-email")).toDF("v")
    assert(rowValid(df, FormatIs("c", "v", "email")))
    assert(!rowValid(df, FormatIs("c", "v", "email", strict = true)))
    val good = Seq(Tuple1("a@b.co")).toDF("v")
    assert(rowValid(good, FormatIs("c", "v", "email", strict = true)))
    assert(rowValid(Seq(Tuple1("2024-02-29")).toDF("v"),
      FormatIs("c", "v", "date", strict = true)))
    assert(!rowValid(Seq(Tuple1("2024-13-01")).toDF("v"),
      FormatIs("c", "v", "date", strict = true)))
  }

  test("detail path: violation rows carry id/observed/expected") {
    val df = seqDf(("d1", Seq(1, 2), 5, "web"), ("d2", Seq(1), 1, "mars"))
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      SizeConsistency("size_ok", "n_tok", "tokens"),
      IsIn("src_ok", "source", Seq("web", "books")))))
    val rep = Validator.validateWithDetails(df, suite, Seq("source"))
    val vs = rep.violations.orderBy("doc_id").collect()
    assert(vs.length == 2)
    assert(vs(0).getString(0) == "d1")
    assert(vs(0).getString(1) == "size_ok")
    assert(vs(0).getString(2) == "5!=size:2")
    assert(vs(1).getString(1) == "src_ok")
    assert(vs(1).getString(2) == "mars")
    assert(vs(1).getString(3).contains("web"))
    val verdicts = rep.verdicts.orderBy("source").collect()
    assert(verdicts.length == 2)
    assert(verdicts.forall(!_.getAs[Boolean]("rows_ok")))
  }

  test("malformed values become violations, not job failures") {
    // huge n_tok, empty tokens, null source — nothing throws under ANSI
    val df = seqDf(("d1", Seq.empty[Int], Int.MaxValue, null))
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      Bounds("b", "n_tok", Some(1), Some(8192)),
      NotNull("nn", "source"),
      SizeBounds("sb", "tokens", Some(1), None))))
    val rep = Validator.validateWithDetails(df, suite, Seq.empty)
    assert(rep.violations.count() == 3)

    // numeric checks over string content: junk fails them, numeric
    // content is checked by value, and the doc engine agrees row by row
    val rows = Seq(("nine", "9", "2"), ("junk", "abc", "abc"),
      ("frac", "9", "2.0"), ("half", "2", "2.5"))
    val checks = ConstraintSuite("s", Seq(
      MultipleOf("m", "v", 3), SizeConsistency("sc", "n", "xs")))
    val failed = Validator.validateWithDetails(
        rows.map { case (d, v, n) => (d, v, n, Array(1, 2)) }
          .toDF("doc_id", "v", "n", "xs"),
        ConstraintCompiler.compile(checks), Seq.empty)
      .violations.select("doc_id", "constraint_id").as[(String, String)]
      .collect().toSet
    assert(failed == Set("junk" -> "m", "junk" -> "sc",
      "half" -> "m", "half" -> "sc"))
    val doc = DocValidator.compile(checks)
    assert(rows.flatMap { case (d, v, n) =>
      DocValidator.validateWithDetails(doc,
        s"""{"v":"$v","n":"$n","xs":[1,2]}""").map(d -> _.constraintId)
    }.toSet == failed)
  }

  test("ref resolution inlines registry suites; cycles fail compile") {
    val reg = new ConstraintRegistry
    reg.register("base", ConstraintSuite("base",
      Seq(Bounds("b", "n_tok", Some(1), None))))
    val suite = ConstraintCompiler.compile(
      ConstraintSuite("s", Seq(Ref("r", "base"))), reg)
    assert(rowValid2(seqDf(okRow), suite))

    reg.register("a", ConstraintSuite("a", Seq(Ref("ra", "b"))))
    reg.register("b", ConstraintSuite("b", Seq(Ref("rb", "a"))))
    val e = intercept[ConstraintCompiler.CompileException] {
      ConstraintCompiler.compile(ConstraintSuite("s", Seq(Ref("r", "a"))), reg)
    }
    assert(e.getMessage.contains("cyclic"))
    val e2 = intercept[ConstraintCompiler.CompileException] {
      ConstraintCompiler.compile(
        ConstraintSuite("s", Seq(Ref("r", "nope"))), ConstraintRegistry.empty)
    }
    assert(e2.getMessage.contains("unresolved"))
  }

  private def rowValid2(df: DataFrame, suite: graft.compile.CompiledSuite) =
    Validator.validate(df, suite, Seq.empty).select("rows_ok").as[Boolean].head()

  test("json round-trip preserves compiled semantics") {
    val suite = ConstraintSuite("s", Seq(
      Bounds("b", "n_tok", Some(1), Some(8192)),
      EachElement("e", "tokens", Bounds("eb", "$", Some(0), Some(50256))),
      AnyOf("any", Seq(ConstEq("c1", "source", "web"),
        Matches("m", "source", "^b"))),
      Unique("u", "doc_id"),
      NoDrift("d", "n_tok", 0, 2048, 16, "psi", 0.2)))
    val json = ConstraintJson.renderSuite(suite)
    val back = ConstraintJson.parseSuite(json)
    assert(back == suite)
    val compiled = ConstraintCompiler.compile(back)
    assert(compiled.rowChecks.length == 3)
    assert(compiled.datasetChecks.length == 2)
    assert(compiled.constraintHash ==
      ConstraintCompiler.compile(suite).constraintHash)
  }

  /** Replays the generator's doc_id assignment on the driver so tests can
    * compute exact expected duplicate sets. */
  private def docIdOf(i: Long): String =
    if (i > 0 && i % SequenceGen.HotDupEvery == 0) "seq-hot"
    else if (i > 0 && i % SequenceGen.DupEvery == 0) f"seq-${i - 1}%012d"
    else f"seq-$i%012d"

  test("dataset checks: uniqueness finds exactly the planted duplicates") {
    val n = 30000L
    val ds = SequenceGen.generate(spark, n, nSources = 4, numPartitions = 8)
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(Unique("uniq", "doc_id"))))
    val rep = Validator.validateWithDetails(
      ds.toDF(), suite, Seq("source"))
    val dupKeys = rep.violations.select("doc_id").as[String].collect().toSet
    val expected = (0L until n).map(docIdOf)
      .groupBy(identity).filter(_._2.sizeIs > 1).keySet
    assert(dupKeys == expected)
    // hot key count recorded
    val hot = rep.violations.filter($"doc_id" === "seq-hot")
      .select("observed").as[String].head()
    assert(hot == s"count=${(0L until n).map(docIdOf).count(_ == "seq-hot")}")
  }

  test("dataset checks: referential integrity flags exactly the dangling rows") {
    val ds = SequenceGen.generate(spark, 25000L, nSources = 4,
      numPartitions = 8)
    val dim = SequenceGen.sourcesDim(spark, 4)
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(RefIntegrity("ri", "source", "sources", "source"))))
    val rep = Validator.validateWithDetails(ds.toDF(), suite,
      Seq("source"), dims = Map("sources" -> dim))
    val bad = rep.violations.select("doc_id").as[String].collect().toSet
    val expected = (1L until 25000L)
      .filter(_ % SequenceGen.BadSourceEvery == 0).map(docIdOf).toSet
    assert(bad == expected)
  }

  test("referential integrity: a NULL dimension key matches no fact") {
    // an IN set holding NULL would turn every non-matching key into NULL
    // instead of a dangling row
    val dim = Seq("web", null).toDF("source")
    val facts = Seq(("a", null, "p1"), ("b", "mars", "p1"), ("c", "web", "p2"))
      .toDF("doc_id", "src", "part")
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(RefIntegrity("ri", "src", "sources", "source"))))
    val rep = Validator.validateWithDetails(facts, suite, Seq("part"),
      dims = Map("sources" -> dim))
    assert(rep.violations.select("doc_id", "observed").as[(String, String)]
      .collect().toSet == Set(("a", "null"), ("b", "mars")))
    val v = rep.verdicts.select("part", "n_partition_violations", "valid")
      .as[(String, Long, Boolean)].collect().toSet
    assert(v == Set(("p1", 2L, false), ("p2", 0L, true)))
  }

  test("dataset checks: drift flags exactly the shifted partition") {
    val ds = SequenceGen.generate(spark, 40000L, nSources = 4,
      numPartitions = 8)
    // calibration (numeric simulation): clean-vs-mixture PSI ≈ 0.18,
    // shifted partition ≈ 0.88 → threshold 0.4 separates cleanly; minRows
    // skips the ~4-row src_unknown partition whose PSI is pure noise.
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(NoDrift("drift", "n_tok", 0, 2048, 32, "psi", 0.4))))
    val rep = Validator.validateWithDetails(ds.toDF(), suite, Seq("source"))
    val drifted = rep.violations.select("doc_id").as[String].collect().toSet
    assert(drifted == Set("source=src0"))
  }

  test("dataset checks: token-histogram drift flags the skewed partition") {
    // srcA/srcB: token ids uniform over the bucket space; srcC (a 10%
    // minority, so the global baseline stays near-uniform): every token
    // lands in one bucket — maximal element-distribution drift
    val rows = (0 until 300).map { i =>
      val src = if (i % 10 == 0) "srcC"
                else if (i % 2 == 0) "srcA" else "srcB"
      val toks =
        if (src == "srcC") Seq.fill(20)(7)
        else Seq.tabulate(20)(j => (i * 7 + j * 13) % 64)
      (s"d$i", toks, toks.size, src)
    }.toDF("doc_id", "tokens", "n_tok", "source")
    val suite = ConstraintCompiler.compile(ConstraintSuite("td",
      Seq(NoArrayDrift("tok_drift", "tokens", buckets = 16,
        metric = "psi", threshold = 0.5, minCount = 10))))
    val rep = Validator.validateWithDetails(rows, suite, Seq("source"))
    val drifted = rep.violations
      .filter($"constraint_id" === "tok_drift")
      .select("doc_id").as[String].collect().toSet
    assert(drifted == Set("source=srcC"))
    // verdicts attribute the drift to the right partition
    val bad = rep.verdicts.filter(!$"valid")
      .select("source").as[String].collect().toSet
    assert(bad == Set("srcC"))
  }

  test("map-column object keywords: keysIn / keyCountBounds / eachKey") {
    val df = Seq(
      ("a", Map("codec" -> "png", "w" -> "64")),
      ("b", Map("codec" -> "png", "rogue" -> "x")),
      ("c", Map.empty[String, String]))
      .toDF("id", "meta")
    assert(!rowValid(df, KeysIn("k", "meta", Seq("codec", "w", "h"))))
    assert(rowValid(df.filter($"id" =!= "b"),
      KeysIn("k", "meta", Seq("codec", "w", "h"))))
    assert(!rowValid(df, KeyCountBounds("k", "meta", Some(1), None)))
    assert(rowValid(df, KeyCountBounds("k", "meta", None, Some(2))))
    assert(rowValid(df.filter($"id" === "a"),
      EachKey("k", "meta", Matches("m", "$", "^[a-z]+$"))))
    assert(!rowValid(df.filter($"id" === "a"),
      EachKey("k", "meta", Matches("m", "$", "^c"))))
  }

  test("additionalItems: elements past the prefix satisfy the schema") {
    val df = seqDf(("d", Seq(999, 1, 2, 3), 4, "web"))
    assert(rowValid(df, EachElementFrom("c", "tokens", 1,
      Bounds("e", "$", Some(0), Some(10)))))
    assert(!rowValid(df, EachElementFrom("c", "tokens", 0,
      Bounds("e", "$", Some(0), Some(10)))))
    // start beyond array length: vacuous pass
    assert(rowValid(df, EachElementFrom("c", "tokens", 9,
      Bounds("e", "$", Some(0), Some(0)))))
  }

  test("typeIs on string content: integer ⊂ number") {
    val df = Seq(("42"), ("3.14"), ("1e3"), ("2.0"), ("abc"), ("true"))
      .toDF("v")
    def ok(tpe: String, value: String) =
      rowValid(df.filter($"v" === value), TypeIs("t", "v", tpe))
    assert(ok("integer", "42") && ok("number", "42"))
    assert(!ok("integer", "3.14") && ok("number", "3.14"))
    assert(ok("integer", "2.0")) // integer-valued float counts as integer
    assert(ok("number", "1e3"))
    assert(!ok("number", "abc") && !ok("integer", "abc"))
    assert(ok("boolean", "true") && !ok("boolean", "abc"))
    assert(ok("string", "abc"))
  }

  test("verdicts attribute dataset violations per partition") {
    val df = seqDf(
      ("a", Seq(1), 1, "web"), ("b", Seq(1), 1, "mars"),
      ("c", Seq(1), 1, "web"), ("c", Seq(1), 1, "web"))
    val dim = Seq("web", "books").toDF("source")
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      Unique("uniq", "doc_id"),
      RefIntegrity("ri", "source", "sources", "source"))))
    val v = Validator.validate(df, suite, Seq("source"),
        dims = Map("sources" -> dim))
      .orderBy("source").collect()
    val mars = v.find(_.getAs[String]("source") == "mars").get
    val web = v.find(_.getAs[String]("source") == "web").get
    // RI violation lands on mars only; the duplicate key is table-scope
    assert(mars.getAs[Long]("n_partition_violations") == 1L)
    assert(web.getAs[Long]("n_partition_violations") == 0L)
    assert(mars.getAs[Long]("n_global_violations") == 1L)
    assert(web.getAs[Long]("n_global_violations") == 1L)
    assert(v.forall(!_.getAs[Boolean]("valid")))
    // the local verdict frame has the lazy row-only aggregate's schema
    val rowOnly = ConstraintCompiler.compile(ConstraintSuite("r", Seq(
      NotNull("nn", "doc_id"))))
    assert(Validator.validate(df, suite, Seq("source"),
        dims = Map("sources" -> dim)).schema ==
      Validator.validate(df, rowOnly, Seq("source")).schema)
    // without the global dup, web would be valid
    val suite2 = ConstraintCompiler.compile(ConstraintSuite("s2", Seq(
      RefIntegrity("ri", "source", "sources", "source"))))
    val v2 = Validator.validate(df, suite2, Seq("source"),
        dims = Map("sources" -> dim)).collect()
    assert(v2.find(_.getAs[String]("source") == "web").get
      .getAs[Boolean]("valid"))
    assert(!v2.find(_.getAs[String]("source") == "mars").get
      .getAs[Boolean]("valid"))
  }

  test("fast path verdict: bad partitions flagged, counts correct") {
    val df = seqDf(
      ("a", Seq(1), 1, "web"), ("b", Seq(2), 1, "web"),
      ("c", Seq(3), 9, "books"))
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(SizeConsistency("sc", "n_tok", "tokens"))))
    val v = Validator.validate(df, suite, Seq("source"))
      .orderBy("source").collect()
    assert(v(0).getAs[String]("source") == "books")
    assert(!v(0).getAs[Boolean]("rows_ok"))
    assert(v(0).getAs[Long]("n_bad_rows") == 1L)
    assert(v(1).getAs[Boolean]("rows_ok"))
    assert(v(1).getAs[Long]("n_rows") == 2L)
  }

  test("uniqueness over a bucketed source: exact counts, key hashes shuffled") {
    val df = seqDf(
      ("a", Seq(1), 1, "web"), ("b", Seq(2), 1, "web"),
      ("a", Seq(3), 1, "books"), ("c", Seq(4), 1, "web"))
    spark.sql("DROP TABLE IF EXISTS uniq_bucketed")
    try {
      df.write.bucketBy(4, "doc_id").saveAsTable("uniq_bucketed")
      val bucketed = spark.table("uniq_bucketed")
      // the storage layout does not change the path: phase 1 runs in the
      // summary aggregate and the violations finish on the driver, so
      // the shuffle of key hashes shows in the bytes written while they
      // are computed, not in their final plan
      val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
        Unique("u", "doc_id"))))
      val (viol, seen) = listened {
        Validator.validateWithDetails(bucketed, suite, Seq.empty)
          .violations.select("doc_id", "observed")
          .as[(String, String)].collect().toSet
      }
      assert(viol == Set(("a", "count=2")))
      assert(seen.shuffleWriteBytes > 0)
    } finally spark.sql("DROP TABLE IF EXISTS uniq_bucketed")
  }

  test("uniqueness: the retired colocated key is ignored by parse, render and hash") {
    val withKey = """{"id":"s","constraints":[""" +
      """{"kind":"unique","id":"u","col":"doc_id","colocated":true}]}"""
    val without = """{"id":"s","constraints":[""" +
      """{"kind":"unique","id":"u","col":"doc_id"}]}"""
    val a = ConstraintCompiler.compileJson(withKey)
    val b = ConstraintCompiler.compileJson(without)
    assert(a.constraintHash == b.constraintHash)
    assert(!ConstraintJson.renderSuite(ConstraintJson.parseSuite(withKey))
      .contains("colocated"))
    val df = seqDf(
      ("a", Seq(1), 1, "web"), ("b", Seq(2), 1, "web"),
      ("a", Seq(3), 1, "books"))
    def violations(suite: graft.compile.CompiledSuite) =
      Validator.validateWithDetails(df, suite, Seq.empty).violations
        .select("doc_id", "constraint_id", "observed", "expected")
        .as[(String, String, String, String)].collect().toSet
    assert(violations(a) == Set(("a", "u", "count=2", "doc_id unique across dataset")))
    assert(violations(a) == violations(b))
  }

  test("full suite: one summary scan, at most 5 jobs per verdict call") {
    val base = java.nio.file.Files.createTempDirectory("graft-jobs").toString
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark, 4))
    val suite = ConstraintCompiler.compile(Scaling.benchSuite)
    for (planted <- Seq(true, false)) {
      val dir = s"$base/planted=$planted"
      SequenceGen.generate(spark, 12000L, nSources = 4,
        plantViolations = planted, numPartitions = 4)
        .write.partitionBy("source").parquet(dir)
      val df = spark.read.parquet(dir)
      Validator.validate(df, suite, Seq("source"), dims = dims).collect()
      val (rows, seen) = listened(
        Validator.validate(df, suite, Seq("source"), dims = dims).collect())
      assert(rows.nonEmpty)
      if (planted) {
        // the planted keys make uniqueness run phase 2: 2 summary jobs
        // (shuffle and result) and 1 for the recount of the candidates
        assert(rows.exists(_.getAs[Long]("n_global_violations") > 0))
        assert(seen.jobs <= 5, seen)
      } else {
        assert(rows.forall(_.getAs[Boolean]("valid")))
        assert(seen.jobs <= 3, seen)
        val ev = Validator.evaluate(df, suite, Seq("source"), "doc_id", dims,
          None)
        ev.verdicts.collect()
        val scans =
          PlanWalk.fileScans(ev.aggregate.queryExecution.executedPlan)
        assert(scans.size == 1, scans)
      }
    }
  }

  test("uniqueness: phase 2 recounts 32k duplicated keys exactly") {
    // every key twice: as many candidate hashes as keys
    val n = 65538L
    val df = spark.range(n).select(($"id" / 2).cast("long").cast("string")
      .as("doc_id"))
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(Unique("u", "doc_id"))))
    val rep = Validator.validateWithDetails(df, suite, Seq.empty)
    assert(rep.verdicts.select("n_global_violations").as[Long].head() == n / 2)
    val viol = rep.violations.select("observed").distinct()
      .as[String].collect()
    assert(viol.toSeq == Seq("count=2"))
    assert(rep.violations.count() == n / 2)
  }

  /** Phase 2 of a uniqueness check on `doc_id`, and a key's hash. */
  private val unique = UniqueCheck("u", "doc_id", "unique")
  private def hashOf(key: String): Long =
    Seq(key).toDF("doc_id").select(unique.keyHash).as[Long].head()

  test("uniqueness phase 2: one job with no exchange, a key split across slices summed") {
    // "k" at ids 0, 10, 20 and 30: one row in each of the 4 slices
    val df = spark.range(0, 40, 1, 4).select(F.when($"id" % 10 === 0, "k")
      .otherwise($"id".cast("string")).as("doc_id"))
    val (dups, seen) = listened(unique.duplicates(df, Set(hashOf("k"))))
    assert(dups == Seq("k" -> 4L))
    assert(seen.perJob.map(_.layers) == Seq(Set("graft.phase2")), seen)
    assert(seen.shuffleWriteBytes == 0L, seen)
  }

  test("uniqueness phase 2: a candidate hash whose key occurs once yields no row") {
    // what an xxhash64 collision with a repeated key's hash looks like:
    // the candidate's own key is unique
    val df = Seq("a", "b", "b").toDF("doc_id")
    assert(unique.duplicates(df, Set(hashOf("a"))).isEmpty)
    assert(unique.duplicates(df, Set(hashOf("a"), hashOf("b"))) ==
      Seq("b" -> 2L))
  }

  test("uniqueness phase 2: a key repeated 10^5 times returns at most one row per task") {
    val df = spark.range(0, 100000, 1, 4).select(F.lit("k").as("doc_id"))
    val perTask = unique.keyCounts(df, Set(hashOf("k"))).rdd
      .mapPartitions(rows => Iterator(rows.size)).collect()
    assert(perTask.length == 4 && perTask.forall(_ <= 1), perTask.toSeq)
    assert(unique.duplicates(df, Set(hashOf("k"))) == Seq("k" -> 100000L))
  }

  test("referential integrity: a NULL partition value counts its own dangling rows") {
    val dim = Seq("web").toDF("source")
    val facts = Seq(("a", "mars", null), ("b", "web", null), ("c", "web", "p1"))
      .toDF("doc_id", "src", "part")
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(RefIntegrity("ri", "src", "sources", "source"))))
    val v = Validator.validate(facts, suite, Seq("part"),
      dims = Map("sources" -> dim))
      .select("part", "n_rows", "n_partition_violations", "valid")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(v == Set((null, 2L, 1L, false), ("p1", 1L, 0L, true)))
  }

  test("referential integrity: a dimension of 10^5 keys") {
    val n = 100000L
    val dim = spark.range(n).select($"id".cast("string").as("key"))
    val facts = Seq(("a", "0"), ("b", "99999"), ("c", "100000"), ("d", "-1"))
      .toDF("doc_id", "k")
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(RefIntegrity("ri", "k", "keys", "key"))))
    val rep = Validator.validateWithDetails(facts, suite, Seq.empty,
      dims = Map("keys" -> dim))
    assert(rep.violations.select("doc_id").as[String].collect().toSet ==
      Set("c", "d"))
    assert(rep.verdicts.select("n_global_violations").as[Long].head() == 2L)
  }

  test("uniqueness: NULL keys are never duplicates (SQL UNIQUE)") {
    def keys(ks: String*): DataFrame =
      ks.zipWithIndex.map { case (k, i) => (k, Seq(i), 1, "web") }
        .toDF("doc_id", "tokens", "n_tok", "source")
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      Unique("u", "doc_id"))))
    def report(df: DataFrame) =
      Validator.validateWithDetails(df, suite, Seq.empty)

    val nullsOnly = report(keys(null, null, "a", "b"))
    assert(nullsOnly.violations.isEmpty)
    assert(nullsOnly.verdicts.select("valid").as[Boolean].head())

    // a real key "null" is reported; the NULL key does not join it
    val literal = report(keys(null, "null", "null")).violations
      .select("doc_id", "observed").as[(String, String)].collect()
    assert(literal.toSeq == Seq(("null", "count=2")))
  }

  test("dataset checks: each check alone agrees with the suite's rows and verdicts") {
    val df = SequenceGen.generate(spark, 12000L, nSources = 4,
      numPartitions = 4).toDF()
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark, 4))
    val suite = ConstraintCompiler.compile(Scaling.benchSuite)
    val rep = Validator.validateWithDetails(df, suite, Seq("source"),
      dims = dims)
    val all = rep.violations.as[Violation].collect().toSeq
    def sorted(vs: Seq[Violation]) = vs.sortBy(_.productIterator.mkString("\u0000"))
    suite.datasetChecks.foreach { c =>
      val alone = c.violations(df, "doc_id", Seq("source"), dims)
        .as[Violation].collect().toSeq
      assert(alone.nonEmpty, c.id)
      assert(sorted(alone) == sorted(all.filter(_.constraint_id == c.id)), c.id)
    }

    def counts(c: DatasetCheck): Option[Map[String, Long]] =
      c.violationCountsByPartition(df, "doc_id", Seq("source"), dims)
        .map(_.as[(String, Long)].collect().toMap)
    def check[T](pf: PartialFunction[DatasetCheck, T]): T =
      suite.datasetChecks.collectFirst(pf).get
    assert(counts(check { case u: UniqueCheck => u }).isEmpty)
    val drift = check { case d: DriftCheck => d }
    val driftCounts = counts(drift).get
    assert(driftCounts.nonEmpty && driftCounts.values.forall(_ == 1L))
    assert(driftCounts.keySet.map("source=" + _) ==
      all.filter(_.constraint_id == drift.id).map(_.doc_id).toSet)
    // the verdicts count RI's dangling rows and drift's flagged partitions
    val riCounts = counts(check { case r: RefIntegrityCheck => r }).get
    val verdicts = rep.verdicts.filter($"n_partition_violations" > 0)
      .select("source", "n_partition_violations").as[(String, Long)]
      .collect().toMap
    assert(riCounts.nonEmpty)
    assert(verdicts.map { case (p, n) => p -> (n - driftCounts.getOrElse(p, 0L)) }
      .filter(_._2 > 0) == riCounts)
  }

  test("drift: a flagged NULL partition value is named as its directory") {
    // p1 and p2 spread over the ten buckets; NULL, a:b and a/b each fill
    // one bucket of their own
    val rows = (0 until 1000).map { i =>
      val part = Seq("p1", "p2", null, "a:b", "a/b")(i % 5)
      val v = part match {
        case null  => 0.05
        case "a:b" => 0.55
        case "a/b" => 0.95
        case _     => (i / 5 % 10) / 10.0 + 0.05
      }
      (s"d$i", v, "x", part)
    }.toDF("doc_id", "v", "a", "part")
    val suite = ConstraintCompiler.compile(ConstraintSuite("s",
      Seq(NoDrift("drift", "v", 0, 1, 10, "psi", 2.0))))
    def drifted(partitionCols: String*): Set[String] =
      Validator.validateWithDetails(rows, suite, partitionCols)
        .violations.select("doc_id").as[String].collect().toSet
    // each is the name the table lists, which decodes back to its value
    val names = Set("part=__HIVE_DEFAULT_PARTITION__", "part=a%3Ab",
      "part=a%2Fb")
    assert(drifted("part") == names)
    assert(drifted("a", "part") == names.map("a=x/" + _))
    assert(drifted("part").map(graft.table.TableProvider.decode) ==
      Set(None, Some("a:b"), Some("a/b")).map(v => Seq("part" -> v)))
  }

  test("violation rows name a missing id column; verdicts need none") {
    val df = seqDf(("a", Seq(1), 1, "web"), ("a", Seq(2), 1, "mars"))
    val dims = Map("sources" -> Seq("web").toDF("source"))
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      NotNull("nn", "doc_id"), Unique("u", "doc_id"),
      RefIntegrity("ri", "source", "sources", "source"))))
    assert(Validator.validate(df, suite, Seq("source"), idCol = "nope",
      dims = dims).filter($"valid").isEmpty)
    val e = intercept[IllegalArgumentException](Validator.validateWithDetails(
      df, suite, Seq("source"), idCol = "nope", dims = dims))
    assert(e.getMessage.contains("'nope'"), e.getMessage)
    val ri = suite.datasetChecks.collectFirst { case r: RefIntegrityCheck => r }.get
    assert(intercept[IllegalArgumentException](
      ri.violations(df, "nope", Seq("source"), dims)).getMessage.contains("'nope'"))
  }

  test("verdicts: a check-free and a checked evaluation share one schema") {
    // with or without a dataset check the verdicts are a local frame
    // built on the driver from one summary aggregate, so they agree
    // field for field
    val df = Seq(("a", "p1", 1), ("b", "p1", 5), ("c", "p2", 0))
      .toDF("doc_id", "part", "n")
    val bound = Bounds("b", "n", Some(0), Some(3))
    val free = ConstraintCompiler.compile(ConstraintSuite("f", Seq(bound)))
    val checked = ConstraintCompiler.compile(ConstraintSuite("c",
      Seq(bound, Unique("u", "doc_id"))))
    for (in <- Seq(df, df.limit(0)); parts <- Seq(Seq("part"), Nil)) {
      val lazyV = Validator.validate(in, free, parts)
      val localV = Validator.validate(in, checked, parts)
      assert(DatasetCheck.onDriver(localV))
      assert(lazyV.schema == localV.schema)
      assert(lazyV.collect().toSet == localV.collect().toSet, parts)
    }
  }

  test("validate: a row-only suite's verdicts are on the driver when it returns") {
    val df = seqDf(
      ("a", Seq(1), 1, "web"), ("b", Seq(2), 9, "web"),
      ("c", Seq(3), 1, "books"))
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      Bounds("n_max", "n_tok", None, Some(5)))))
    val v = Validator.validate(df, suite, Seq("source"))
    val (rows, seen) = listened(v.collect())
    assert(seen.jobs == 0, seen)
    assert(rows.map(r => (r.getAs[String]("source"), r.getAs[Long]("n_rows"),
      r.getAs[Long]("n_bad_rows"), r.getAs[Boolean]("valid"))).toSet ==
      Set(("web", 2L, 1L, false), ("books", 1L, 0L, true)))
  }

  test("violations: an unpersisted frame infers no size filter below the structs") {
    // an inner explode makes Spark infer `size(_viols) > 0` and push it
    // below the per-row Project, where it would build every failing
    // row's violation array a second time
    val dir = java.nio.file.Files.createTempDirectory("graft-viols").toString
    seqDf(("a", Seq(1), 9, "web"), ("b", Seq(2), 1, "mars"),
      ("c", Seq(3), 1, "web")).write.mode("overwrite").parquet(dir)
    val suite = ConstraintCompiler.compile(ConstraintSuite("s", Seq(
      Bounds("n_max", "n_tok", None, Some(5)),
      IsIn("src", "source", Seq("web", "books")))))
    val v = Validator.validateWithDetails(spark.read.parquet(dir), suite,
      Seq("source")).violations
    val conds = v.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f.condition.sql
    }
    assert(conds.nonEmpty)
    assert(!conds.exists(_.contains("size(")), conds)
    assert(v.select("doc_id", "constraint_id").as[(String, String)]
      .collect().toSet == Set(("a", "n_max"), ("b", "src")))
  }
}
