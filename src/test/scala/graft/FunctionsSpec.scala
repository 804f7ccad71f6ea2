package graft

import org.apache.spark.sql.{functions => F}

import graft.compile.ConstraintCompiler
import graft.functions.ArrayFirstOutside

/** Custom codegen expression: parity with forall semantics, null
  * handling, both codegen and interpreted paths, and that the compiler
  * actually routes the hot constraint shape through it. */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    ("in", Seq(1, 2, 3)),
    ("edge", Seq(0, 50256)),
    ("below", Seq(-1, 5)),
    ("above", Seq(5, 50257)),
    ("empty", Seq.empty[Int]))
    .toDF("id", "arr")

  /** The first out-of-range index of each row of [[df]]. */
  private val firstOutside = Map("in" -> -1, "edge" -> -1, "below" -> 0,
    "above" -> 1, "empty" -> -1)

  test("matches forall semantics on int arrays (codegen path)") {
    val got = df.select($"id",
      ArrayFirstOutside($"arr", 0L, 50256L).as("fast"),
      F.forall($"arr", x => x >= 0 && x <= 50256).as("ref"))
      .collect()
    got.foreach { r =>
      assert((r.getInt(1) == -1) == r.getBoolean(2), s"id=${r.getString(0)}")
    }
    assert(got.map(r => r.getString(0) -> r.getInt(1)).toMap == firstOutside)
  }

  test("interpreted path agrees (eval without codegen)") {
    // force interpreted evaluation via filter on a tiny in-memory frame
    // with codegen disabled
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val got = df.select($"id", ArrayFirstOutside($"arr", 0L, 50256L))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(got == firstOutside)
    }
  }

  private def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("null array is null (wrapped to pass by the compiler)") {
    val withNull = Seq(("a", Seq(1)), ("b", null)).toDF("id", "arr")
    val got = withNull.select($"id",
      ArrayFirstOutside($"arr", 0L, 10L).as("v")).collect()
    assert(got.find(_.getString(0) == "b").get.isNullAt(1))
  }

  test("null elements pass (applicability semantics)") {
    val withNullElems = Seq(("a", Seq[Integer](1, null, 3)),
      ("b", Seq[Integer](null, 11))).toDF("id", "arr")
    val got = withNullElems.select($"id", ArrayFirstOutside($"arr", 0L, 10L))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got == Map("a" -> -1, "b" -> 1))
  }

  test("long and double arrays supported") {
    val longs = Seq(Tuple1(Seq(1L, 99999999999L))).toDF("arr")
    assert(longs.select(ArrayFirstOutside($"arr", 0L, 100L))
      .head().getInt(0) == 1)
    val doubles = Seq(Tuple1(Seq(0.5, 1.5))).toDF("arr")
    assert(doubles.select(ArrayFirstOutside($"arr", 0L, 2L))
      .head().getInt(0) == -1)
    assert(doubles.select(ArrayFirstOutside($"arr", 1L, 2L))
      .head().getInt(0) == 0)
  }

  test("duplicate emission in one codegen function compiles (freshName)") {
    // Round-1 regression: every custom expression hardcoded Java locals
    // (i, n, counters, mins) in doGenCode; two copies of the body in ONE
    // generated function made Janino throw "Redefinition of local
    // variable" and Spark silently fell back to interpreted execution.
    // codegen.fallback=false turns that silent fallback into a test
    // failure; each expression is referenced twice in a single projection
    // / aggregate so the collision would fire deterministically.
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      // parquet-backed input: a local Seq relation is constant-folded by
      // ConvertToLocalRelation and the expressions never reach codegen
      val dir = java.nio.file.Files
        .createTempDirectory("graft-cg").toString + "/docs"
      Seq(("a", Seq(1, 2, 3), "0.5"), ("b", Seq(4, 5), "12"))
        .toDF("id", "arr", "num")
        .write.mode("overwrite").parquet(dir)
      val docs = spark.read.parquet(dir)
      def db(lo: Int, hi: Int) = graft.functions.DecimalBounds($"num",
        Some(BigDecimal(lo)), Some(BigDecimal(hi)), false, true)
      val twice = docs.select(
        ArrayFirstOutside($"arr", 0L, 10L).as("p1"),
        ArrayFirstOutside($"arr", 1L, 9L).as("p2"),
        graft.functions.BucketCounts($"arr", 4).as("b1"),
        graft.functions.BucketCounts($"arr", 8).as("b2"),
        db(0, 1).as("d1"),
        db(1, 20).as("d2"))
      val got = twice.collect().map(r => r.getSeq[Long](2) ->
        ((r.getBoolean(4), r.getBoolean(5))))
      assert(got.toSet == Set(
        Seq(0L, 1L, 1L, 1L) -> ((true, false)),
        Seq(1L, 1L, 0L, 0L) -> ((false, true))))

      // the original trigger: the same predicate under sum(when) AND
      // every() in the verdict aggregate
      import graft.dsl.Constraint._
      import graft.dsl.ConstraintSuite
      val suite = graft.compile.ConstraintCompiler.compile(
        ConstraintSuite("cg", Seq(
          EachElement("e1", "arr", Bounds("b1", "$", Some(0), Some(10))),
          EachElement("e2", "arr", Bounds("b2", "$", Some(1), Some(9))))))
      val ev = graft.exec.Validator.evaluate(docs.withColumn("doc_id", $"id"),
        suite, Seq.empty, "doc_id", Map.empty, None)
      assert(ev.verdicts.collect().length == 1)
      // and the executed plan of the summary aggregate the verdicts are
      // collected from really is whole-stage-codegen'd (printed as the
      // `*(n)` prefix on codegen'd spans)
      val executed = ev.aggregate.queryExecution.executedPlan.toString
      assert(executed.contains("*("), executed)
    }
  }

  test("decimal bounds: every type branch, codegen'd, doc-engine parity") {
    import graft.functions.DecimalBounds
    def db(c: org.apache.spark.sql.Column, lo: Option[BigDecimal],
        hi: Option[BigDecimal], sLo: Boolean = false,
        sHi: Boolean = false) = DecimalBounds(c, lo, hi, sLo, sHi)
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-db").toString + "/vals"
      Seq(
        ("in", 5L, 0.05, "0.5", BigDecimal("5.00")),
        ("edge", 10L, 0.1, "0.9999999999999999999999999999999999999999",
          BigDecimal("10.00")),
        ("out", 11L, 0.2, "abc", BigDecimal("10.01")))
        .toDF("id", "l", "d", "s", "dec")
        .write.mode("overwrite").parquet(dir)
      val t = spark.read.parquet(dir)
      val got = t.select($"id",
        // long fast path (whole-long bounds) + slow (fractional bound)
        db($"l", Some(BigDecimal(1)), Some(BigDecimal(10))).as("lf"),
        db($"l", Some(BigDecimal("0.5")), Some(BigDecimal("10.5"))).as("ls"),
        // double fast path (0.1 round-trips Double.toString) + slow
        db($"d", None, Some(BigDecimal("0.1"))).as("df"),
        db($"d", None,
          Some(BigDecimal("0.1000000000000000000000001"))).as("ds"),
        // string: unbounded exact compare (40 fraction digits) vs a
        // strict bound — the branch the old decimal(38,37) route
        // couldn't hold; non-numeric content fails, never throws
        db($"s", None, Some(BigDecimal(1)), sHi = true).as("sx"),
        // decimal child: direct BigDecimal compare
        db($"dec", None, Some(BigDecimal(10))).as("dc"))
        .collect().map(r => r.getString(0) ->
          (1 to 6).map(i => Option(r.get(i)).map(_ == true))).toMap
      assert(got("in") == Seq(Some(true), Some(true), Some(true),
        Some(true), Some(true), Some(true)))
      // edge: l=10 passes <=10 and <=10.5; d=0.1 passes <=0.1 and the
      // 25-digit bound; the 40-digit string is < 1 strictly; dec 10.00
      // <= 10 passes
      assert(got("edge") == Seq(Some(true), Some(true), Some(true),
        Some(true), Some(true), Some(true)))
      // out: 11 > 10 and > 10.5; 0.2 > both double bounds; "abc" is
      // non-numeric → false; dec 10.01 > 10
      assert(got("out") == Seq(Some(false), Some(false), Some(false),
        Some(false), Some(false), Some(false)))

      // doc-engine parity on the same values, same suite
      import graft.dsl.Constraint._
      import graft.dsl.ConstraintSuite
      val suite = ConstraintSuite("p", Seq(
        Bounds("b", "v", None, Some(BigDecimal(1)), exclusiveMax = true)))
      val compiled = graft.compile.ConstraintCompiler.compile(suite)
      val doc = graft.exec.DocValidator.compile(suite)
      for (v <- Seq("0.9999999999999999999999999999999999999999",
          "abc", "1", "0.5", "1e-40")) {
        // Catalyst over a string-typed column vs the doc engine over
        // the equivalent string-typed JSON value — the content-typing
        // contract both engines share
        val catalyst = Seq(Tuple1(v)).toDF("v")
          .select(compiled.rowPredicate).collect()(0).getBoolean(0)
        assert(catalyst ==
          graft.exec.DocValidator.validate(doc, s"""{"v": "$v"}"""),
          s"parity break on $v")
      }
      val executed = t.select(db($"l", Some(BigDecimal(1)), None))
        .queryExecution.executedPlan.toString
      assert(executed.contains("*("), executed)
    }
  }

  test("compiler routes EachElement+Bounds through the fast path") {
    import graft.dsl.Constraint._
    import graft.dsl.ConstraintSuite
    val suite = graft.compile.ConstraintCompiler.compile(
      ConstraintSuite("f", Seq(EachElement("e", "arr",
        Bounds("b", "$", Some(0), Some(50256))))))
    val plan = df.select(suite.rowPredicate.as("ok"))
      .queryExecution.analyzed.toString
    assert(plan.contains("arrayfirstoutside") ||
      plan.contains("ArrayFirstOutside"), plan)
    // and fractional bounds fall back to forall
    val frac = graft.compile.ConstraintCompiler.compile(
      ConstraintSuite("f2", Seq(EachElement("e", "arr",
        Bounds("b", "$", Some(BigDecimal("0.5")), None)))))
    val plan2 = df.select(frac.rowPredicate.as("ok"))
      .queryExecution.analyzed.toString
    assert(plan2.contains("forall"), plan2)
  }

  test("token-range index: equals the transform index on random arrays") {
    // the lambda form the fast shape's instance path replaced: the first
    // element whose bound check is false, NULL elements passing
    import graft.dsl.Constraint._
    import graft.dsl.ConstraintSuite
    import graft.functions.DecimalBounds
    def transformIndex(v: org.apache.spark.sql.Column, lo: Long, hi: Long) =
      F.coalesce(F.array_position(F.transform(v, x => F.coalesce(
        x.isNull || F.coalesce(DecimalBounds(x, Some(BigDecimal(lo)),
          Some(BigDecimal(hi)), false, false), F.lit(false)), F.lit(true))),
        F.lit(false)), F.lit(0L)) - 1
    val rnd = new scala.util.Random(11)
    val base = java.nio.file.Files.createTempDirectory("graft-first").toString
    for (t <- Seq("int", "long", "double"); round <- 0 until 4) {
      val lo = rnd.nextInt(11) - 5L
      val hi = lo + rnd.nextInt(11)
      def elem: String =
        if (rnd.nextInt(10) == 0) "NULL"
        else if (t == "double" && rnd.nextInt(10) == 0) "double('NaN')"
        else {
          val v = lo - 3 + rnd.nextInt((hi - lo + 7).toInt)
          if (t == "double") s"${v + Seq(0.0, 0.5, -0.5)(rnd.nextInt(3))}D"
          else if (t == "long") s"${v}L" else v.toString
        }
      val arrays = (0 until 300).map { i =>
        if (i % 50 == 0) s"CAST(NULL AS array<$t>)"
        else s"CAST(array(${Seq.fill(rnd.nextInt(9))(elem).mkString(", ")})" +
          s" AS array<$t>)"
      }
      val dir = s"$base/$t-$round"
      spark.sql(arrays.zipWithIndex.map { case (a, i) =>
        s"SELECT $i AS id, $a AS arr" }.mkString(" UNION ALL "))
        .write.parquet(dir)
      val path = ConstraintCompiler.compile(ConstraintSuite("r", Seq(
        EachElement("t", "arr", Bounds("b", "$", Some(lo), Some(hi))))))
        .rowChecks.head.instancePath
      val old = transformIndex($"arr", lo, hi)
      val oldPath = F.when(old >= 0, F.concat(F.lit("/arr/"),
        old.cast("string"))).otherwise(F.lit("/arr"))
      // codegen'd over the parquet scan, interpreted over the local rows
      val scanned = spark.read.parquet(dir)
      val local = spark.createDataFrame(
        java.util.Arrays.asList(scanned.collect(): _*), scanned.schema)
      for (in <- Seq(scanned, local)) {
        val got = in.select(F.coalesce(ArrayFirstOutside($"arr", lo, hi),
          F.lit(-1)).cast("long"), old, path, oldPath).collect()
        got.foreach(r => assert(r.getLong(0) == r.getLong(1) &&
          r.getString(2) == r.getString(3), s"$t [$lo, $hi]: $r"))
        assert(got.exists(_.getLong(0) >= 0) && got.exists(_.getLong(0) < 0))
      }
    }
  }

  test("the bench suite's per-row frame is one codegen stage over the scan") {
    import org.apache.spark.sql.execution.{FileSourceScanExec,
      WholeStageCodegenExec}
    val dir = java.nio.file.Files.createTempDirectory("graft-wscg")
      .toString + "/rows"
    graft.gen.SequenceGen.generate(spark, 2000L, nSources = 4,
      plantViolations = true, numPartitions = 2)
      .write.partitionBy("source").parquet(dir)
    val rows = graft.exec.Validator.evaluate(spark.read.parquet(dir),
      ConstraintCompiler.compile(graft.Scaling.benchSuite), Seq("source"),
      "doc_id", Map("sources" -> graft.gen.SequenceGen.sourcesDim(spark, 4)),
      None).rows
    assert(rows.columns.contains("_viols"))
    val plan = rows.queryExecution.executedPlan
    val stages = plan.collect { case w: WholeStageCodegenExec => w }
    assert(plan.isInstanceOf[WholeStageCodegenExec] && stages.size == 1 &&
      plan.collect { case s: FileSourceScanExec => s }.size == 1, plan)
    assert(rows.count() == 2000L)
  }

  test("keyed counts equal a GROUP BY count, NULL key fields included") {
    import graft.functions.KeyedCounts
    // 4 slices, so partial buffers are serialized and merged
    val df = spark.range(0, 1000, 1, 4).select(
      F.when($"id" % 5 === 0, null).otherwise(($"id" % 3).cast("string"))
        .as("p"),
      ($"id" % 2).as("q"),
      F.when($"id" % 7 === 0, $"id").as("v"))
    val got = df.agg(KeyedCounts(F.struct($"p", $"q"), Seq($"v")).as("c"))
      .select(F.explode($"c").as("e"))
      .select($"e.key.p", $"e.key.q", $"e.counts")
      .as[(String, Long, Seq[Long])].collect().toSet
    val want = df.groupBy("p", "q").agg(F.count(F.lit(1)), F.count("v"))
      .as[(String, Long, Long, Long)].collect()
      .map { case (p, q, n, v) => (p, q, Seq(n, v)) }.toSet
    assert(got == want && want.exists(_._1 == null), (got, want))
  }
}
