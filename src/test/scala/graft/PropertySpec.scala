package graft

import org.apache.spark.sql.{functions => F}

import graft.compile.ConstraintCompiler
import graft.dsl.Constraint._
import graft.dsl.ConstraintSuite
import graft.exec.Validator
import graft.gen.SequenceGen

/** Invariants from BASELINE.json's input_hint: token-array equality
  * through the engine, generator determinism across parallelism. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  test("token-array equality: validation never perturbs the data") {
    val ds = SequenceGen.generate(spark, 5000L, nSources = 4,
      numPartitions = 8)
    val suite = ConstraintCompiler.compile(ConstraintSuite("p", Seq(
      EachElement("t", "tokens", Bounds("b", "$", Some(0), Some(50256))),
      SizeConsistency("sc", "n_tok", "tokens"))))
    val df = ds.toDF()
    // run the detail path, then re-derive (doc_id, tokens) from the SAME
    // source and diff against the input — must be byte-identical
    Validator.validateWithDetails(df, suite, Seq("source")).violations
      .count()
    val before = df.select($"doc_id", $"tokens")
    val after = SequenceGen.generate(spark, 5000L, nSources = 4,
      numPartitions = 8).toDF().select($"doc_id", $"tokens")
    assert(before.exceptAll(after).isEmpty)
    assert(after.exceptAll(before).isEmpty)
  }

  test("drift divergence on the driver matches the SQL formula on 200 grids") {
    // random (partition × bucket) count grids: empty buckets, single
    // partitions, all-zero partitions, support floors, psi and kl
    val rnd = new scala.util.Random(7)
    case class Grid(g: Int, nb: Int, metric: String, minTotal: Long,
        threshold: Double, counts: Seq[(String, Array[Long])])
    val grids = (0 until 200).map { g =>
      val nb = 1 + rnd.nextInt(8)
      val parts = (0 until 1 + rnd.nextInt(5)).map { p =>
        val zero = rnd.nextDouble() < 0.15
        s"p$p" -> Array.fill(nb)(
          if (zero || rnd.nextDouble() < 0.3) 0L else 1L + rnd.nextInt(60))
      }
      Grid(g, nb, if (rnd.nextBoolean()) "psi" else "kl",
        Seq(0L, 1L, 20L, 100L)(rnd.nextInt(4)), rnd.nextDouble() * 0.5, parts)
    }
    assert(grids.exists(_.counts.sizeIs == 1))
    assert(grids.exists(_.counts.exists(_._2.forall(_ == 0L))))
    assert(grids.exists(gr =>
      gr.counts.exists(c => c._2.sum > 0 && c._2.sum < gr.minTotal)))
    assert(grids.map(_.metric).toSet == Set("psi", "kl"))
    grids.flatMap(gr => gr.counts.map { case (p, c) => (gr.g, p, c.toSeq) })
      .toDF("g", "part", "c")
      .select($"g", $"part", F.posexplode($"c").as(Seq("b", "c")))
      .createOrReplaceTempView("drift_cells")
    grids.map(gr => (gr.g, gr.nb, gr.metric, gr.minTotal, gr.threshold))
      .toDF("g", "nb", "metric", "min_total", "threshold")
      .createOrReplaceTempView("drift_params")
    // the histogram holds only non-zero cells; a partition without any
    // is absent, and the global q sums every partition present
    val sql = spark.sql("""
      WITH hist AS (SELECT * FROM drift_cells WHERE c > 0),
      parts AS (SELECT g, part, SUM(c) AS pt FROM hist GROUP BY g, part),
      glob AS (SELECT g, b, SUM(c) AS gc FROM hist GROUP BY g, b),
      tot AS (SELECT g, SUM(c) AS gt FROM hist GROUP BY g),
      terms AS (
        SELECT x.g, x.part, k.metric, k.threshold,
          (CAST(x.c AS DOUBLE) + 1e-6) / (CAST(p.pt AS DOUBLE) + 1e-6 * k.nb) AS p,
          (CAST(COALESCE(gl.gc, 0) AS DOUBLE) + 1e-6) /
            (CAST(t.gt AS DOUBLE) + 1e-6 * k.nb) AS q
        FROM drift_cells x
        JOIN parts p ON p.g = x.g AND p.part = x.part
        JOIN tot t ON t.g = x.g
        JOIN drift_params k ON k.g = x.g
        LEFT JOIN glob gl ON gl.g = x.g AND gl.b = x.b
        WHERE p.pt >= k.min_total),
      m AS (
        SELECT g, part, metric, threshold,
          SUM(CASE WHEN metric = 'psi' THEN (p - q) * ln(p / q)
                   ELSE p * ln(p / q) END) AS m
        FROM terms GROUP BY g, part, metric, threshold)
      SELECT g, part, m, m > threshold AS flagged,
        CONCAT(metric, '=', CAST(ROUND(m, 6) AS STRING)) AS observed
      FROM m""").collect()
      .map(r => (r.getInt(0), r.getString(1)) ->
        (r.getDouble(2), r.getBoolean(3), r.getString(4))).toMap
    assert(sql.values.exists(_._2) && sql.values.exists(!_._2))

    // relative 1e-9; below 1e-6 the bound is 1e-15 absolute, where KL's
    // signed terms cancel
    def close(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * Seq(math.abs(a), math.abs(b), 1e-6).max
    val cellsDf = Seq(("p", 0.0)).toDF("part", "v")
    grids.foreach { gr =>
      val got = graft.checks.DriftMath
        .divergence(gr.counts.map { case (p, c) => (Seq(p), c) }, gr.metric,
          gr.minTotal).map { case (k, m) => k.head.asInstanceOf[String] -> m }
        .toMap
      val want = sql.collect { case ((gr.g, p), v) => p -> v }
      assert(got.keySet == want.keySet, s"grid ${gr.g}")
      got.foreach { case (p, m) =>
        assert(close(m, want(p)._1), s"grid ${gr.g} $p: $m vs ${want(p)._1}")
      }
      val check = graft.checks.DriftCheck("d", "v", 0.0, 1.0, gr.nb,
        gr.metric, gr.threshold, "e", gr.minTotal)
      val metrics = check.metricsFrame(
        graft.checks.Summary.alone(check, cellsDf, "doc_id", Seq("part"),
          Map.empty),
        got.toSeq.map { case (p, m) => (Seq(p), m) })
      val flagged = check.violationsOf(metrics, Seq("part"))
        .select("part", "observed").as[(String, String)].collect().toMap
      assert(flagged == want.collect { case (p, (_, true, o)) => p -> o },
        s"grid ${gr.g}")
    }
  }

  test("generator determinism across partition counts") {
    val a = SequenceGen.generate(spark, 3000L, 4, 42L, true, 2)
      .toDF().selectExpr("doc_id", "xxhash64(doc_id, tokens, n_tok, source) as h")
    val b = SequenceGen.generate(spark, 3000L, 4, 42L, true, 16)
      .toDF().selectExpr("doc_id", "xxhash64(doc_id, tokens, n_tok, source) as h")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("vector expressions: reference parity and invariances") {
    import graft.functions.{CosineSim, DotProduct, HyperplaneBucket}
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian()),
        Array.fill(16)(rnd.nextGaussian()))
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id",
      DotProduct($"a", $"b").as("dot"),
      CosineSim($"a", $"b").as("cab"),
      CosineSim($"b", $"a").as("cba"),
      CosineSim($"a", $"a").as("caa"),
      CosineSim($"a", F.transform($"a", x => x * 2.5)).as("cas"),
      HyperplaneBucket($"a", 16, 8, 42L).as("ha"),
      HyperplaneBucket(F.transform($"a", x => x * 3.5), 16, 8, 42L)
        .as("has"))
      .collect()
    val byId = rows.map(r => r._1 -> r).toMap
    got.foreach { r =>
      val (_, a, b) = byId(r.getLong(0))
      val refDot = a.zip(b).map { case (x, y) => x * y }.sum
      assert(math.abs(r.getDouble(1) - refDot) < 1e-9)
      assert(r.getDouble(2) == r.getDouble(3))          // symmetric
      assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-12)   // bounded
      assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)    // cos(a,a)=1
      assert(math.abs(r.getDouble(5) - 1.0) < 1e-12)    // scale-invariant
      assert(r.getLong(6) == r.getLong(7))              // bucket too
    }
  }

  test("shingle hashes equal the xxhash64(concat_ws(slice)) formulation") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "one two three four five",
      "one two", // shorter than k → one hash of the whole join
      "single").zipWithIndex.map(_.swap)
    val df = texts.toDF("id", "text")
      .withColumn("w", F.split(F.trim(F.lower($"text")), "\\s+"))
    val k = 3
    val ref = F.when(F.size($"w") < k,
        F.array(F.xxhash64(F.concat_ws(" ", $"w"))))
      .otherwise(F.transform(
        F.sequence(F.lit(1), F.size($"w") - (k - 1)),
        i => F.xxhash64(F.concat_ws(" ", F.slice($"w", i, F.lit(k))))))
    val got = df.select($"id",
      graft.functions.ShingleHashes($"w", k).as("fast"), ref.as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"id=${r.get(0)}")
    }
  }

  test("winnowed mins agree with the naive sliding-min on random input") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val n = rnd.nextInt(50)
      val w = 1 + rnd.nextInt(8)
      // small value range on purpose: duplicate hash values exercise
      // the deque's >= pop and the distinct pass
      val xs = Array.fill(n)(rnd.nextInt(10).toLong)
      val got = graft.functions.WinnowedMins
        .minsAll(new GenericArrayData(xs), w).toSeq
      val ww = math.min(w, math.max(n, 1))
      val naive =
        if (n == 0) Seq.empty[Long]
        else xs.sliding(ww, 1).map(_.min).toSeq.distinct.sorted
      assert(got == naive, s"n=$n w=$w xs=${xs.toSeq}")
    }

    // the winnowing guarantee on random texts: any two documents given
    // a common run of w+k-1 tokens share at least one selected value
    val k = 4; val w = 5
    (1 to 50).foreach { i =>
      val r = new scala.util.Random(1000 + i)
      def words(m: Int) = Seq.fill(m)("t" + r.nextInt(5000))
      val shared = words(w + k - 1).mkString(" ")
      val a = (words(r.nextInt(10)) :+ shared) ++ words(r.nextInt(10))
      val b = (words(r.nextInt(10)) :+ shared) ++ words(r.nextInt(10))
      val df = Seq(("a", a.mkString(" ")), ("b", b.mkString(" ")))
        .toDF("id", "text")
      val ws = F.split(F.lower($"text"), "\\s+")
      val common = df.select($"id", F.explode(graft.functions.WinnowedMins(
          graft.functions.ShingleHashes(ws, k), w)).as("fp"))
        .groupBy("fp").agg(F.countDistinct("id").as("n"))
        .filter($"n" === 2).count()
      assert(common >= 1, s"guarantee violated at seed ${1000 + i}")
    }
  }

  test("connected components agree with union-find on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // reference: classic driver-side union-find with path compression
    def unionFind(edges: Seq[(String, String)]): Map[String, String] = {
      val parent = scala.collection.mutable.Map[String, String]()
      def find(x: String): String = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.Ordering.String.max(ra, rb)) = math.Ordering.String.min(ra, rb)
      }
      // root label must be the component MIN, which min-directed unions give
      parent.keys.map(k => k -> find(k)).toMap
    }
    val genEdges = for {
      n <- Gen.choose(2, 40)
      m <- Gen.choose(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0, n - 1)
        b <- Gen.choose(0, n - 1)
      } yield (f"v$a%02d", f"v$b%02d"))
    } yield es
    (1 to 8).foreach { i =>
      val edges = genEdges(Gen.Parameters.default, Seed(1000L + i)).get
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val expected = unionFind(edges)
        val got = graft.ops.ConnectedComponents.groups(
            edges.toDF("id_a", "id_b"))
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(got == expected, s"seed=${1000 + i} edges=$edges")
      }
    }
  }

  test("importer fuzz: random schemas translate/compile/validate, " +
      "never crash") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.compile.JsonSchemaImport

    // random subschemas over the supported keyword families; depth ≤ 3
    def leaf: Gen[String] = Gen.oneOf(
      Gen.choose(-50, 50).map(n => s"""{"minimum": $n}"""),
      Gen.choose(-50, 50).map(n => s"""{"maximum": $n}"""),
      Gen.choose(1, 9).map(n => s"""{"exclusiveMinimum": $n}"""),
      Gen.choose(1, 9).map(n => s"""{"multipleOf": $n}"""),
      Gen.choose(0, 9).map(n => s"""{"minLength": $n}"""),
      Gen.oneOf("^a", "[0-9]+", "x$").map(p => s"""{"pattern": "$p"}"""),
      Gen.listOfN(2, Gen.oneOf("\"a\"", "\"b\"", "3", "4.5"))
        .map(vs => s"""{"enum": [${vs.mkString(",")}]}"""),
      Gen.oneOf("\"a\"", "7", "true").map(v => s"""{"const": $v}"""),
      Gen.oneOf("true", "false"),
      Gen.oneOf("integer", "number", "string")
        .map(t => s"""{"type": "$t"}"""))
    def node(depth: Int): Gen[String] =
      if (depth <= 0) leaf
      else Gen.frequency(
        4 -> leaf,
        1 -> Gen.listOfN(2, node(depth - 1))
          .map(cs => s"""{"allOf": [${cs.mkString(",")}]}"""),
        1 -> Gen.listOfN(2, node(depth - 1))
          .map(cs => s"""{"anyOf": [${cs.mkString(",")}]}"""),
        1 -> node(depth - 1).map(c => s"""{"not": $c}"""),
        1 -> Gen.zip(node(depth - 1), node(depth - 1))
          .map { case (i, t) => s"""{"if": $i, "then": $t}""" },
        1 -> node(depth - 1).map(c =>
          s"""{"items": $c, "minItems": 0}"""))
    val genSchema = for {
      s1 <- node(2); s2 <- node(2); s3 <- node(2); arr <- node(1)
    } yield s"""{
      "type": "object",
      "properties": {
        "n_tok": $s1, "score": $s2, "text": $s3,
        "tokens": {"items": $arr}
      }
    }"""

    val rows = Seq(
      ("r1", Seq(1, 2), 5, "web", 1.0, "abc"),
      ("r2", Seq(0), -3, "x9", 4.5, ""),
      ("r3", Seq.empty[Int], 0, "books", -2.25, "zzz"))
      .toDF("doc_id", "tokens", "n_tok", "source", "score", "text")

    (1 to 40).foreach { i =>
      val schema = genSchema(Gen.Parameters.default, Seed(7000L + i)).get
      // contract: translate succeeds or raises ImportException; a
      // schema-vs-column-type mismatch (array keyword on a scalar) may
      // raise a DESCRIPTIVE AnalysisException at plan time — but once
      // analysis passes, NO row content may produce a runtime task
      // failure (typedColumns = false guards numeric keywords on
      // non-numeric content, the adversarial-authoring mode)
      try {
        val suite = ConstraintCompiler.compile(
          JsonSchemaImport.translate(schema, typedColumns = false))
        rows.select(suite.rowPredicate.as("ok")).collect()
      } catch {
        case _: JsonSchemaImport.ImportException => () // descriptive
        case _: org.apache.spark.sql.AnalysisException =>
          () // upfront structural mismatch (array keyword on a scalar
             // column) — descriptive and plan-time, never a mid-job
             // task failure
        case e: Throwable =>
          fail(s"seed=${7000 + i} schema=$schema threw ${e.getClass}: " +
            e.getMessage)
      }
    }
  }

  test("fast path and detail path agree on validity") {
    val ds = SequenceGen.generate(spark, 30000L, nSources = 4,
      numPartitions = 8).toDF()
    val suite = ConstraintCompiler.compile(ConstraintSuite("agree", Seq(
      SizeConsistency("sc", "n_tok", "tokens"),
      EachElement("tr", "tokens", Bounds("b", "$", Some(0), Some(50256))),
      Matches("m", "doc_id", "^seq-"))))
    val fast = Validator.validate(ds, suite, Seq("source"))
      .select("source", "n_bad_rows").as[(String, Long)].collect().toMap
    val detail = Validator.validateWithDetails(ds, suite, Seq("source"))
    // distinct bad doc_ids per source from violations == n_bad_rows
    val bad = detail.violations
      .join(ds.select($"doc_id".cast("string").as("doc_id"), $"source"),
        Seq("doc_id"))
      .groupBy("source").agg(F.countDistinct("doc_id").as("n"))
      .as[(String, Long)].collect().toMap
    fast.foreach { case (src, n) =>
      assert(bad.getOrElse(src, 0L) == n, s"source=$src")
    }
  }
}
