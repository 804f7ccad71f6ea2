package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import graft.compile.ConstraintCompiler.MaxUnroll
import graft.compile.JsonSchemaImport
import graft.dsl.{ConstraintJson, ConstraintSuite}
import graft.dsl.Constraint._
import graft.exec.DocValidator
import graft.registry.ConstraintRegistry

/** The single-document engine (the reference's
  * `validate(template, json) → boolean` API shape) must agree with the
  * Catalyst engine verdict-for-verdict: both conformance corpora —
  * whose golden booleans the Spark path already passes — replay here
  * through `DocValidator`, plus direct API checks. NO SparkSession:
  * this suite runs entirely on the driver, which is itself the point. */
class DocValidatorSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private def corpus(resource: String) = {
    val in = getClass.getClassLoader.getResourceAsStream(resource)
    assert(in != null, s"$resource missing")
    mapper.readTree(in)
  }

  test("DSL conformance corpus: doc engine matches every golden verdict") {
    var passed = 0
    var skippedSql = 0
    val failures = Seq.newBuilder[String]
    corpus("conformance/corpus.json").elements().asScala
      .filter(c => c.path("tests").size() > 0)
      .foreach { c =>
        val desc = c.get("description").asText()
        val registry = ConstraintRegistry.empty
        Option(c.get("registry")).foreach(_.elements().asScala.foreach { s =>
          val st = ConstraintJson.suiteFromNode(s)
          registry.register(st.id, st)
        })
        val anchors = Option(c.get("dynamicAnchors"))
          .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
        val constraints = c.get("constraints").elements().asScala
          .map(ConstraintJson.parseConstraint).toSeq
        try {
          val suite = DocValidator.compile(
            ConstraintSuite(desc, constraints, anchors), registry)
          c.get("tests").elements().asScala.foreach { t =>
            val expected = t.get("valid").asBoolean()
            val got = DocValidator.validateNode(suite, t.get("row"))
            if (got == expected) passed += 1
            else failures += s"$desc :: ${t.get("description").asText()} " +
              s"(expected $expected, got $got)"
          }
        } catch {
          // `expr` (raw SQL) constraints are the documented exception:
          // they need Spark and refuse loudly at doc-compile
          case e: IllegalArgumentException
              if e.getMessage.contains("SQL expression") =>
            skippedSql += 1
        }
      }
    val failed = failures.result()
    info(s"doc-engine conformance: $passed passed, ${failed.size} " +
      s"failed, $skippedSql SQL-expression case groups skipped")
    assert(failed.isEmpty, failed.mkString("\n"))
    assert(passed >= 830)
  }

  test("schema conformance corpus: imported schemas agree too") {
    var passed = 0
    val failures = Seq.newBuilder[String]
    corpus("conformance/schema_corpus.json").elements().asScala.foreach { c =>
      val desc = c.get("description").asText()
      val remotes = Option(c.get("remotes")).map(_.properties().asScala
        .map(e => e.getKey -> e.getValue.toString).toMap)
        .getOrElse(Map.empty[String, String])
      val suite = DocValidator.compile(
        JsonSchemaImport.translate(c.get("schema").toString, desc,
          remotes = remotes))
      c.get("tests").elements().asScala.foreach { t =>
        val expected = t.get("valid").asBoolean()
        val got = DocValidator.validateNode(suite, t.get("row"))
        if (got == expected) passed += 1
        else failures += s"$desc :: ${t.get("description").asText()} " +
          s"(expected $expected, got $got)"
      }
    }
    val failed = failures.result()
    info(s"doc-engine schema conformance: $passed passed, ${failed.size} failed")
    assert(failed.isEmpty, failed.mkString("\n"))
    assert(passed >= 560)
  }

  test("single-document API: boolean path, details, error surface") {
    val suite = DocValidator.compile(ConstraintSuite("docs", Seq(
      NotNull("id_req", "doc_id"),
      Bounds("n_max", "n_tok", None, Some(100)),
      EachElement("toks", "tokens",
        Bounds("t", "$", Some(0), Some(50256))))))

    assert(DocValidator.validate(suite,
      """{"doc_id":"a","n_tok":5,"tokens":[1,2]}"""))
    assert(!DocValidator.validate(suite, """{"n_tok":5}"""))
    val v = DocValidator.validateWithDetails(suite,
      """{"doc_id":"a","n_tok":500,"tokens":[1,99999]}""")
    assert(v.map(_.constraintId).toSet == Set("n_max", "toks"))
    assert(v.exists(_.expected.contains("n_tok")))

    // dataset-scope constraints refuse at compile, loudly
    val e = intercept[IllegalArgumentException] {
      DocValidator.compile(ConstraintSuite("s", Seq(
        Unique("u", "doc_id"))))
    }
    assert(e.getMessage.contains("dataset-scope"))
    val e2 = intercept[IllegalArgumentException] {
      DocValidator.validate(DocValidator.compile(
        ConstraintSuite("s", Seq(NotNull("n", "a")))), "not json {")
    }
    assert(e2.getMessage.contains("invalid JSON"))
  }

  test("doc-engine edge semantics: mixed numerics, containers, errors") {
    // numerically equal values of different JSON literal forms are
    // duplicates (the official suite's '[1.0, 1] is not unique')
    val uniq = DocValidator.compile(ConstraintSuite("u", Seq(
      UniqueItems("uq", "xs"))))
    assert(!DocValidator.validate(uniq, """{"xs":[1, 1.0]}"""))
    assert(DocValidator.validate(uniq, """{"xs":[1, 1.5]}"""))

    // 2020-12 equality ignores object property order: equal objects
    // with different key order are DUPLICATES (canonicalized keys)
    assert(!DocValidator.validate(uniq,
      """{"xs":[{"a":1,"b":2},{"b":2,"a":1}]}"""))
    assert(DocValidator.validate(uniq,
      """{"xs":[{"a":1,"b":2},{"a":1,"b":3}]}"""))
    // ...and numbers nested in containers compare by value too
    assert(!DocValidator.validate(uniq, """{"xs":[[1],[1.0]]}"""))
    assert(DocValidator.validate(uniq, """{"xs":[[1],["1"]]}"""))

    // a scalar check against a container value fails, never compares ""
    val const = DocValidator.compile(ConstraintSuite("c", Seq(
      ConstEq("eq", "meta", ""))))
    assert(!DocValidator.validate(const, """{"meta":{"a":1}}"""))

    // empty input is not a document
    val any = DocValidator.compile(ConstraintSuite("a", Seq(
      NotNull("n", "x"))))
    assert(intercept[IllegalArgumentException] {
      DocValidator.validate(any, "")
    }.getMessage.contains("empty"))

    // '$' outside an element scope errors like the compiler
    val badScope = DocValidator.compile(ConstraintSuite("s", Seq(
      Bounds("b", "$", Some(0), None))))
    assert(intercept[IllegalArgumentException] {
      DocValidator.validate(badScope, """{"x":1}""")
    }.getMessage.contains("array-element scope"))

    // unknown strict format refuses at COMPILE
    assert(intercept[IllegalArgumentException] {
      DocValidator.compile(ConstraintSuite("f", Seq(
        FormatIs("ff", "x", "idn-email", strict = true))))
    }.getMessage.contains("idn-email"))
  }

  test("recursive refs: declared unroll budget, fail-closed past it") {
    // recursive tree at the compiler's budget: exact within it, invalid
    // (never silently valid) beyond it
    val tree = ConstraintSuite("tree", Seq(
      Defs("d", Seq(AllOf("node", Seq(
        Bounds("val_ok", "$.value", Some(BigDecimal(0)),
          Some(BigDecimal(100))),
        EachElement("kids", "$.children",
          DynamicRef("again", "#node")))))),
      EachElement("roots", "roots", DynamicRef("start", "#node"))),
      dynamicAnchors = Seq("node"))
    val k = DocValidator.compile(tree)
    def nested(depth: Int): String = {
      var n = """{"value":5}"""
      (2 to depth).foreach(_ => n = s"""{"value":5,"children":[$n]}""")
      s"""{"roots":[$n]}"""
    }
    assert(DocValidator.validate(k, nested(MaxUnroll)))
    assert(!DocValidator.validate(k, nested(MaxUnroll + 1))) // closed
    assert(!DocValidator.validate(k,
      """{"roots":[{"value":5,"children":[{"value":999}]}]}"""))

    // recursion with NO container boundary between entries still errors
    val e = intercept[graft.compile.ConstraintCompiler.CompileException] {
      DocValidator.compile(ConstraintSuite("flat", Seq(
        Defs("d", Seq(AllOf("node", Seq(DynamicRef("again", "#node"))))),
        DynamicRef("start", "#node")), dynamicAnchors = Seq("node")))
    }
    assert(e.getMessage.contains("cyclic"))
  }

  test("recursive cut polarity: fail-closed under negation, refuse mixed") {
    def nested(depth: Int): String = {
      var n = """{"value":5}"""
      (2 to depth).foreach(_ => n = s"""{"value":5,"children":[$n]}""")
      s"""{"roots":[$n]}"""
    }
    val nodeDefs = Defs("d", Seq(AllOf("node", Seq(
      Bounds("val_ok", "$.value", Some(BigDecimal(0)),
        Some(BigDecimal(100))),
      EachElement("kids", "$.children", DynamicRef("again", "#node"))))))

    // NOT(tree): a past-budget instance must still be REJECTED — a
    // naive false-cut under Not would flip to silent acceptance
    val notTree = DocValidator.compile(ConstraintSuite("nt", Seq(
      nodeDefs,
      Not("no_tree",
        EachElement("roots", "roots", DynamicRef("start", "#node")))),
      dynamicAnchors = Seq("node")))
    // shallow matching tree → inner true → rejected (plain semantics)
    assert(!DocValidator.validate(notTree, nested(2)))
    // DEEP matching tree → cut=true keeps inner true → still rejected
    assert(!DocValidator.validate(notTree, nested(MaxUnroll + 5)))
    // non-tree (value out of range) → inner false → accepted
    assert(DocValidator.validate(notTree,
      """{"roots":[{"value":500}]}"""))

    // a cut inside a NON-MONOTONE position (oneOf) has no sound
    // constant: compile refuses with a descriptive error
    val e = intercept[graft.compile.ConstraintCompiler.CompileException] {
      DocValidator.compile(ConstraintSuite("mx", Seq(
        nodeDefs,
        OneOf("either", Seq(
          EachElement("roots", "roots", DynamicRef("start", "#node")),
          BoolSchema("alt", value = false)))),
        dynamicAnchors = Seq("node")))
    }
    assert(e.getMessage.contains("non-monotone".toUpperCase.toLowerCase)
      || e.getMessage.contains("NON-MONOTONE"))
  }

  test("throughput sanity: per-document latency is microseconds") {
    val suite = DocValidator.compile(ConstraintSuite("hot", Seq(
      NotNull("id_req", "doc_id"),
      Matches("shape", "doc_id", "^seq-[a-z0-9-]+$"),
      Bounds("n", "n_tok", Some(1), Some(8192)),
      EachElement("toks", "tokens",
        Bounds("t", "$", Some(0), Some(50256))))))
    val doc = """{"doc_id":"seq-0001","n_tok":8,
      "tokens":[1,2,3,4,5,6,7,8]}"""
    (1 to 2000).foreach(_ => DocValidator.validate(suite, doc)) // warm
    val n = 20000
    val t0 = System.nanoTime()
    var ok = true
    (1 to n).foreach(_ => ok &= DocValidator.validate(suite, doc))
    val perDoc = (System.nanoTime() - t0) / n
    info(s"per-doc: ${perDoc / 1000.0} µs")
    assert(ok)
    assert(perDoc < 1000000L, "single-doc validation slower than 1 ms")
  }
}
