package graft.dsl

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/**
 * JSON (de)serialization for the constraint DSL — keeps the reference's
 * "schema is a JSON document" contract (`SchemaCompiler.java:38-40`:
 * compile takes a schema *string*). A suite serializes as
 * `{"id": "...", "constraints": [{"kind": "...", "id": "...", ...}]}`.
 *
 * Uses the Jackson shipped with Spark (`/opt/spark/jars`) — no extra
 * dependency. Parsing is a hand-rolled tree walk so malformed input
 * yields a descriptive [[ConstraintParseException]] rather than a
 * reflection error; this mirrors the reference's "compilation failed"
 * error contract (`BlazeWrapper.java:392-394`).
 */
object ConstraintJson {
  private val mapper = new ObjectMapper()

  final class ConstraintParseException(msg: String)
      extends RuntimeException(msg)

  def parseSuite(json: String): ConstraintSuite = {
    val root =
      try mapper.readTree(json)
      catch {
        case e: Exception =>
          throw new ConstraintParseException(s"invalid JSON: ${e.getMessage}")
      }
    suiteFromNode(root)
  }

  def suiteFromNode(root: JsonNode): ConstraintSuite = {
    require(root.isObject, "suite must be a JSON object")
    val id = str(root, "id")
    val cs = arr(root, "constraints").map(parseConstraint)
    val dyn = Option(root.get("dynamicAnchors"))
      .map(_ => strArr(root, "dynamicAnchors")).getOrElse(Nil)
    ConstraintSuite(id, cs, dyn)
  }

  def parseConstraint(n: JsonNode): Constraint = {
    import Constraint._
    if (!n.isObject)
      throw new ConstraintParseException(s"constraint must be an object: $n")
    val kind = str(n, "kind")
    val id = str(n, "id")
    kind match {
      case "notNull"   => NotNull(id, str(n, "col"))
      case "isIn"      => IsIn(id, str(n, "col"), strArr(n, "values"))
      case "constEq"   => ConstEq(id, str(n, "col"), str(n, "value"))
      case "bounds" =>
        Bounds(id, str(n, "col"), dec(n, "min"), dec(n, "max"),
          bool(n, "exclusiveMin"), bool(n, "exclusiveMax"))
      case "multipleOf" =>
        MultipleOf(id, str(n, "col"),
          dec(n, "k").getOrElse(fail(n, "k")))
      case "lengthBounds" =>
        LengthBounds(id, str(n, "col"), int(n, "min"), int(n, "max"))
      case "matches"  => Matches(id, str(n, "col"), str(n, "pattern"))
      case "format" =>
        FormatIs(id, str(n, "col"), str(n, "format"), bool(n, "strict"))
      case "sizeBounds" =>
        SizeBounds(id, str(n, "col"), int(n, "min"), int(n, "max"))
      case "uniqueItems" => UniqueItems(id, str(n, "col"))
      case "eachElement" =>
        EachElement(id, str(n, "col"), parseConstraint(n.get("elem")))
      case "containsCount" =>
        ContainsCount(id, str(n, "col"), parseConstraint(n.get("elem")),
          int(n, "minCount").getOrElse(1), int(n, "maxCount"))
      case "prefixItems" =>
        PrefixItems(id, str(n, "col"), arr(n, "elems").map(parseConstraint))
      case "eachElementFrom" =>
        EachElementFrom(id, str(n, "col"),
          int(n, "startIdx").getOrElse(0), parseConstraint(n.get("elem")))
      case "keysIn" => KeysIn(id, str(n, "col"), strArr(n, "allowed"))
      case "keyCountBounds" =>
        KeyCountBounds(id, str(n, "col"), int(n, "min"), int(n, "max"))
      case "eachKey" =>
        EachKey(id, str(n, "col"), parseConstraint(n.get("elem")))
      case "propertyValues" =>
        PropertyValues(id, str(n, "col"), str(n, "key"),
          parseConstraint(n.get("elem")))
      case "patternValues" =>
        PatternValues(id, str(n, "col"), str(n, "keyPattern"),
          parseConstraint(n.get("elem")))
      case "unevaluatedItems" =>
        UnevaluatedItems(id, str(n, "col"), parseConstraint(n.get("elem")))
      case "unevaluatedProperties" =>
        UnevaluatedProperties(id, str(n, "col"),
          parseConstraint(n.get("elem")),
          Option(n.get("coveredKeys")).map(_ => strArr(n, "coveredKeys"))
            .getOrElse(Nil),
          Option(n.get("coveredPatterns"))
            .map(_ => strArr(n, "coveredPatterns")).getOrElse(Nil))
      case "typeIs" => TypeIs(id, str(n, "col"), str(n, "tpe"))
      case "sizeConsistency" =>
        SizeConsistency(id, str(n, "intCol"), str(n, "arrCol"))
      case "expr" =>
        ExprIs(id, str(n, "predicateSql"), optStr(n, "observedSql"),
          optStr(n, "expected").getOrElse(""))
      case "allOf" => AllOf(id, arr(n, "cs").map(parseConstraint))
      case "anyOf" => AnyOf(id, arr(n, "cs").map(parseConstraint))
      case "oneOf" => OneOf(id, arr(n, "cs").map(parseConstraint))
      case "not"   => Not(id, parseConstraint(n.get("c")))
      case "ifThen" =>
        IfThen(id, parseConstraint(n.get("cond")),
          parseConstraint(n.get("then")),
          Option(n.get("else")).filterNot(_.isNull).map(parseConstraint))
      case "boolSchema" => BoolSchema(id, n.get("value").asBoolean())
      case "ref"        => Ref(id, str(n, "name"))
      case "dynamicRef" => DynamicRef(id, str(n, "name"))
      case "defs"       => Defs(id, arr(n, "cs").map(parseConstraint))
      case "unique"     => Unique(id, str(n, "col"))
      case "refIntegrity" =>
        RefIntegrity(id, str(n, "col"), str(n, "dimName"), str(n, "dimCol"))
      case "noDrift" =>
        NoDrift(id, str(n, "col"),
          n.get("lo").asDouble(), n.get("hi").asDouble(),
          int(n, "buckets").getOrElse(16), str(n, "metric"),
          n.get("threshold").asDouble(),
          Option(n.get("minRows")).filterNot(_.isNull).map(_.asLong())
            .getOrElse(100L))
      case "noArrayDrift" =>
        NoArrayDrift(id, str(n, "col"),
          int(n, "buckets").getOrElse(64), str(n, "metric"),
          n.get("threshold").asDouble(),
          Option(n.get("minCount")).filterNot(_.isNull).map(_.asLong())
            .getOrElse(100L))
      case other =>
        throw new ConstraintParseException(s"unknown constraint kind: $other")
    }
  }

  def renderSuite(s: ConstraintSuite): String = {
    val root = mapper.createObjectNode()
    root.put("id", s.id)
    val a = root.putArray("constraints")
    s.constraints.foreach(c => a.add(toNode(c)))
    if (s.dynamicAnchors.nonEmpty) {
      val d = root.putArray("dynamicAnchors"); s.dynamicAnchors.foreach(d.add)
    }
    mapper.writeValueAsString(root)
  }

  def toNode(c: Constraint): ObjectNode = {
    import Constraint._
    val o = mapper.createObjectNode()
    o.put("id", c.id)
    c match {
      case NotNull(_, col) => o.put("kind", "notNull").put("col", col)
      case IsIn(_, col, vs) =>
        o.put("kind", "isIn").put("col", col)
        val a = o.putArray("values"); vs.foreach(a.add)
      case ConstEq(_, col, v) =>
        o.put("kind", "constEq").put("col", col).put("value", v)
      case Bounds(_, col, mn, mx, emn, emx) =>
        o.put("kind", "bounds").put("col", col)
        mn.foreach(v => o.put("min", v.bigDecimal))
        mx.foreach(v => o.put("max", v.bigDecimal))
        o.put("exclusiveMin", emn).put("exclusiveMax", emx)
      case MultipleOf(_, col, k) =>
        o.put("kind", "multipleOf").put("col", col).put("k", k.bigDecimal)
      case LengthBounds(_, col, mn, mx) =>
        o.put("kind", "lengthBounds").put("col", col)
        mn.foreach(o.put("min", _)); mx.foreach(o.put("max", _))
      case Matches(_, col, p) =>
        o.put("kind", "matches").put("col", col).put("pattern", p)
      case FormatIs(_, col, f, s) =>
        o.put("kind", "format").put("col", col).put("format", f)
          .put("strict", s)
      case SizeBounds(_, col, mn, mx) =>
        o.put("kind", "sizeBounds").put("col", col)
        mn.foreach(o.put("min", _)); mx.foreach(o.put("max", _))
      case UniqueItems(_, col) => o.put("kind", "uniqueItems").put("col", col)
      case EachElement(_, col, e) =>
        o.put("kind", "eachElement").put("col", col); o.set("elem", toNode(e))
      case ContainsCount(_, col, e, mn, mx) =>
        o.put("kind", "containsCount").put("col", col).put("minCount", mn)
        mx.foreach(o.put("maxCount", _)); o.set("elem", toNode(e))
      case PrefixItems(_, col, es) =>
        o.put("kind", "prefixItems").put("col", col)
        val a = o.putArray("elems"); es.foreach(e => a.add(toNode(e)))
      case EachElementFrom(_, col, start, e) =>
        o.put("kind", "eachElementFrom").put("col", col)
          .put("startIdx", start)
        o.set("elem", toNode(e))
      case KeysIn(_, col, allowed) =>
        o.put("kind", "keysIn").put("col", col)
        val a = o.putArray("allowed"); allowed.foreach(a.add)
      case KeyCountBounds(_, col, mn, mx) =>
        o.put("kind", "keyCountBounds").put("col", col)
        mn.foreach(o.put("min", _)); mx.foreach(o.put("max", _))
      case EachKey(_, col, e) =>
        o.put("kind", "eachKey").put("col", col); o.set("elem", toNode(e))
      case PropertyValues(_, col, k, e) =>
        o.put("kind", "propertyValues").put("col", col).put("key", k)
        o.set("elem", toNode(e))
      case PatternValues(_, col, p, e) =>
        o.put("kind", "patternValues").put("col", col).put("keyPattern", p)
        o.set("elem", toNode(e))
      case UnevaluatedItems(_, col, e) =>
        o.put("kind", "unevaluatedItems").put("col", col)
        o.set("elem", toNode(e))
      case UnevaluatedProperties(_, col, e, ks, ps) =>
        o.put("kind", "unevaluatedProperties").put("col", col)
        o.set[ObjectNode]("elem", toNode(e))
        if (ks.nonEmpty) { val a = o.putArray("coveredKeys"); ks.foreach(a.add) }
        if (ps.nonEmpty) {
          val a = o.putArray("coveredPatterns"); ps.foreach(a.add)
        }
      case TypeIs(_, col, t) =>
        o.put("kind", "typeIs").put("col", col).put("tpe", t)
      case SizeConsistency(_, ic, ac) =>
        o.put("kind", "sizeConsistency").put("intCol", ic).put("arrCol", ac)
      case ExprIs(_, p, obs, exp) =>
        o.put("kind", "expr").put("predicateSql", p)
        obs.foreach(o.put("observedSql", _)); o.put("expected", exp)
      case AllOf(_, cs) =>
        o.put("kind", "allOf")
        val a = o.putArray("cs"); cs.foreach(x => a.add(toNode(x)))
      case AnyOf(_, cs) =>
        o.put("kind", "anyOf")
        val a = o.putArray("cs"); cs.foreach(x => a.add(toNode(x)))
      case OneOf(_, cs) =>
        o.put("kind", "oneOf")
        val a = o.putArray("cs"); cs.foreach(x => a.add(toNode(x)))
      case Not(_, c0) => o.put("kind", "not"); o.set("c", toNode(c0))
      case IfThen(_, i, t, e) =>
        o.put("kind", "ifThen"); o.set("cond", toNode(i)); o.set("then", toNode(t))
        e.foreach { x => o.set[ObjectNode]("else", toNode(x)); () }
      case BoolSchema(_, v) => o.put("kind", "boolSchema").put("value", v)
      case Ref(_, name)        => o.put("kind", "ref").put("name", name)
      case DynamicRef(_, name) => o.put("kind", "dynamicRef").put("name", name)
      case Defs(_, cs) =>
        o.put("kind", "defs")
        val a = o.putArray("cs"); cs.foreach(x => a.add(toNode(x)))
      case Unique(_, col) => o.put("kind", "unique").put("col", col)
      case RefIntegrity(_, col, dn, dc) =>
        o.put("kind", "refIntegrity").put("col", col)
          .put("dimName", dn).put("dimCol", dc)
      case NoDrift(_, col, lo, hi, b, m, t, mr) =>
        o.put("kind", "noDrift").put("col", col).put("lo", lo).put("hi", hi)
          .put("buckets", b).put("metric", m).put("threshold", t)
          .put("minRows", mr)
      case NoArrayDrift(_, col, b, m, t, mc) =>
        o.put("kind", "noArrayDrift").put("col", col)
          .put("buckets", b).put("metric", m).put("threshold", t)
          .put("minCount", mc)
    }
    o
  }

  // -- helpers ------------------------------------------------------
  private def fail(n: JsonNode, field: String): Nothing =
    throw new ConstraintParseException(s"missing field '$field' in $n")
  private def str(n: JsonNode, f: String): String =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText()).getOrElse(fail(n, f))
  private def optStr(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText())
  private def bool(n: JsonNode, f: String): Boolean =
    Option(n.get(f)).exists(_.asBoolean(false))
  private def int(n: JsonNode, f: String): Option[Int] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asInt())
  private def dec(n: JsonNode, f: String): Option[BigDecimal] =
    Option(n.get(f)).filterNot(_.isNull).map(v => BigDecimal(v.decimalValue()))
  private def arr(n: JsonNode, f: String): Seq[JsonNode] =
    Option(n.get(f)) match {
      case Some(a: ArrayNode) => a.elements().asScala.toSeq
      case _                  => fail(n, f)
    }
  private def strArr(n: JsonNode, f: String): Seq[String] =
    arr(n, f).map(_.asText())
}
