package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.compile.{ConstraintCompiler, JsonSchemaImport}
import graft.dsl.{Constraint, ConstraintSuite}
import graft.dsl.Constraint._

/** The constraint tree's shape lives in `Constraint.children` /
  * `mapChildren`, and every compile pass goes through them. This spec
  * pins the traversal on one instance of every constraint kind, and pins
  * the resolved-suite hashes (the checkpoint identity) of suites that
  * exercise ref resolution, the recursive-ref cut, the unevaluated
  * coverage pass and the JSON Schema importer. No SparkSession. */
class ConstraintShapeSpec extends AnyFunSuite {

  private val leaves: Seq[Constraint] = Seq(
    NotNull("nn", "a"),
    IsIn("in", "a", Seq("x", "y")),
    ConstEq("ce", "a", "x"),
    Bounds("b", "n", Some(0), Some(9), exclusiveMax = true),
    MultipleOf("mo", "n", BigDecimal("0.5")),
    LengthBounds("lb", "s", Some(1), None),
    Matches("m", "s", "^x"),
    FormatIs("f", "s", "date", strict = true),
    SizeBounds("sb", "xs", None, Some(3)),
    UniqueItems("ui", "xs"),
    KeysIn("ki", "m", Seq("k")),
    KeyCountBounds("kc", "m", Some(1), None),
    TypeIs("ti", "s", "integer"),
    SizeConsistency("sc", "n", "xs"),
    ExprIs("ex", "n > 0", Some("n"), "positive"),
    BoolSchema("t", value = true),
    Ref("r", "other#frag"),
    DynamicRef("dr", "#node"),
    Unique("u", "id"),
    RefIntegrity("ri", "src", "dim", "src"),
    NoDrift("nd", "n", 0, 10, 5, "psi", 0.2),
    NoArrayDrift("nad", "xs", 8, "kl", 0.1))

  private def leaf(i: Int): Constraint = leaves(i % leaves.size)

  /** One instance of every kind; containers hold leaves (and one another)
    * so children differ in kind and position. */
  private val every: Seq[Constraint] = leaves ++ Seq(
    EachElement("ee", "xs", Bounds("e", "$", Some(0), None)),
    ContainsCount("cc", "xs", leaf(1), 2, Some(4)),
    PrefixItems("pi", "xs", Seq(leaf(2), leaf(3), leaf(4))),
    EachElementFrom("ef", "xs", 2, leaf(5)),
    EachKey("ek", "m", leaf(6)),
    PropertyValues("pv", "m", "k", leaf(7)),
    PatternValues("pp", "m", "^k", leaf(8)),
    UnevaluatedItems("uni", "xs", leaf(9)),
    UnevaluatedProperties("unp", "m", leaf(10), Seq("k"), Seq("^p")),
    AllOf("all", Seq(leaf(11), leaf(12))),
    AnyOf("any", Seq(leaf(13), Not("inner", leaf(14)))),
    OneOf("one", Seq(leaf(15), leaf(16), leaf(17))),
    Not("not", AllOf("nall", Seq(leaf(18)))),
    IfThen("if", leaf(0), leaf(1)),
    IfThen("ife", leaf(2), leaf(3), Some(leaf(4))),
    Defs("defs", Seq(leaf(5), EachElement("de", "$.xs", leaf(6)))))

  private def walked(c: Constraint): Seq[Constraint] = {
    val out = Seq.newBuilder[Constraint]
    Constraint.walk(c)(out += _)
    out.result()
  }

  test("every constraint kind: children, mapChildren and walk agree") {
    // the sample covers every concrete case class of the sealed ADT
    val concrete = classOf[Constraint].getDeclaredClasses.toSeq
      .filter(k => classOf[Constraint].isAssignableFrom(k) && !k.isInterface)
      .map(_.getName).toSet
    assert(concrete.size == 37, concrete)
    assert(every.map(_.getClass.getName).toSet == concrete)

    val f: Constraint => Constraint = x => BoolSchema(s"${x.id}'", value = false)
    every.foreach { c =>
      assert(Constraint.mapChildren(c)(identity) == c, c)
      assert(Constraint.children(Constraint.mapChildren(c)(f)) ==
        Constraint.children(c).map(f), c)
      assert(walked(c) == c +: Constraint.children(c).flatMap(walked), c)
    }
    // containers have children, leaves none
    assert(every.filter(Constraint.children(_).nonEmpty).map(_.id) ==
      Seq("ee", "cc", "pi", "ef", "ek", "pv", "pp", "uni", "unp", "all",
        "any", "one", "not", "if", "ife", "defs"))
    assert(Constraint.children(every.find(_.id == "ife").get) ==
      Seq(leaf(2), leaf(3), leaf(4)))

    // the dataset/row split, and the per-column kinds
    assert(every.filter(Constraint.isDataset).map(_.id) ==
      Seq("u", "ri", "nd", "nad"))
    assert(every.collect { case c: OnColumn => c.id }.size == 22)
    assert(every.collect { case c: OnColumn if Constraint.isDataset(c) => c }
      .isEmpty)

    // find: the first match in walk order
    val tree = every.find(_.id == "any").get
    assert(Constraint.find(tree)(_.isInstanceOf[Not]).map(_.id) ==
      Some("inner"))
    assert(Constraint.find(tree)(_.id == "nope").isEmpty)
  }

  private val recursiveTree = ConstraintSuite("tree", Seq(
    Defs("d", Seq(AllOf("node", Seq(
      Bounds("val_ok", "$.value", Some(BigDecimal(0)),
        Some(BigDecimal(100))),
      EachElement("kids", "$.children", DynamicRef("again", "#node")))))),
    EachElement("roots", "roots", DynamicRef("start", "#node")),
    Not("no_tree", EachElement("roots_neg", "roots",
      DynamicRef("start_neg", "#node")))),
    dynamicAnchors = Seq("node"))

  private val unevaluated = ConstraintSuite("uneval", Seq(
    PrefixItems("pre", "xs", Seq(Bounds("p0", "$", Some(0), None))),
    EachElementFrom("tail", "xs", 3, TypeIs("t", "$", "integer")),
    UnevaluatedItems("gap", "xs", Bounds("g", "$", None, Some(2))),
    EachElement("each_zs", "zs", NotNull("z", "$")),
    UnevaluatedItems("none", "zs", BoolSchema("nf", false)),
    UnevaluatedItems("all", "ys", BoolSchema("nf2", false)),
    AllOf("grp", Seq(
      PropertyValues("pa", "attrs", "a", NotNull("pan", "$")),
      PatternValues("pp", "attrs", "^x_",
        LengthBounds("pl", "$", None, Some(3))))),
    UnevaluatedProperties("up", "attrs", BoolSchema("f", false),
      coveredKeys = Seq("b")),
    KeysIn("kin", "m2", Seq("k")),
    UnevaluatedProperties("up2", "m2", BoolSchema("f2", false)),
    EachElement("rows", "rows", AnyOf("alt", Seq(
      UnevaluatedItems("inner", "$.xs", TypeIs("it", "$", "string")),
      Not("neg", ContainsCount("cc", "$.ys",
        UnevaluatedProperties("iu", "$", BoolSchema("f3", false)),
        1, Some(2)))))),
    IfThen("if", NotNull("c", "m"),
      UnevaluatedProperties("up3", "m", TypeIs("t3", "$", "number")),
      Some(OneOf("one", Seq(BoolSchema("a", true),
        UnevaluatedItems("ui3", "qs", BoolSchema("b", true))))))))

  private val recursiveSchema = """{
    "$id": "https://example.com/tree.json",
    "type": "object",
    "$defs": {
      "node": {
        "type": "object",
        "required": ["value"],
        "properties": {
          "value": {"type": "integer", "minimum": 0},
          "children": {"type": "array", "items": {"$ref": "#/$defs/node"}}
        }
      }
    },
    "properties": {
      "tree": {"$ref": "#/$defs/node"},
      "not_tree": {"not": {"$ref": "#/$defs/node"}}
    }
  }"""

  test("resolved-suite hashes are pinned: existing checkpoints stay valid") {
    def ids(s: ConstraintSuite): Seq[String] =
      s.constraints.flatMap(walked).map(_.id)
    val imported = JsonSchemaImport.translate(recursiveSchema)
    // both suites reach the recursive cut, at both polarities
    val treeIds = ids(ConstraintCompiler.resolve(recursiveTree))
    assert(treeIds.count(_.endsWith(".fail")) == 1)
    assert(treeIds.count(_.endsWith(".present")) == 1)
    val cutIds = ids(imported).filter(_.contains(".depthCut"))
    assert(cutIds.count(_.contains(".depthCutFail.")) == 1)
    assert(cutIds.count(_.contains(".depthCutPresent.")) == 1)
    assert(cutIds.size == 4) // + the positive root and the negated true

    val pinned = Seq(
      Scaling.benchSuite ->
        "ad6b1d014a3ca95ea80709c3c7c74fbdf4c860cdcfb2ea71d39251e6fcc277b0",
      recursiveTree ->
        "74c692f38818c73b6e899af0aa655167e9d6333ac318a9b10daf9a23a2464384",
      unevaluated ->
        "80d9442e84a340bbb5962e87ed48c55a5d17a50b86eabd2f0bc62086cf597e13",
      imported ->
        "93592a78f07035da070c1e30d28fe826e822c15a6d160cc883f7d16147b955df")
    pinned.foreach { case (suite, hash) =>
      assert(ConstraintCompiler.hashOf(ConstraintCompiler.resolve(suite)) ==
        hash, suite.id)
    }
  }
}
