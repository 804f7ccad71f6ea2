package graft.exec

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import graft.compile.{ConstraintCompiler, FormatSpecs}
import graft.dsl.{Constraint, ConstraintSuite}
import graft.dsl.Constraint._
import graft.registry.ConstraintRegistry

/**
 * Single-DOCUMENT validation — the reference's primary API shape
 * (`BlazeValidator.validate(template, jsonString) → boolean`,
 * `BlazeWrapper.java`): evaluate a resolved constraint suite directly
 * over one Jackson tree, no SparkSession, no job — microseconds per
 * document. The same [[ConstraintSuite]] drives BOTH engines: this
 * interpreter for per-document hot paths, the Catalyst lowering for
 * tables; DocValidatorSpec proves verdict parity by replaying both
 * conformance corpora through each.
 *
 * Semantics mirror the Catalyst lowering exactly (content-typed
 * scalars, pass-on-null applicability, find-semantics regexes, the
 * compiler's own `expectedOf` strings in violations). Dataset-scope
 * constraints (unique / referential / drift) need a table and are
 * rejected loudly; `ExprIs` needs Spark SQL and is rejected likewise.
 */
object DocValidator {

  final case class DocViolation(constraintId: String, observed: String,
      expected: String)

  /** Compile-once artifact for the document path: the resolved
    * top-level constraints, and the suite's checkpoint identity
    * (`docjson:` + the resolved suite's hash, so the two engines keep
    * distinct lineages for one suite). Immutable and thread-safe. */
  final case class CompiledDocSuite private[exec] (
      suiteId: String, checks: Seq[Constraint], constraintHash: String)

  private val mapper = new ObjectMapper()

  def compile(suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty)
      : CompiledDocSuite = {
    val resolved = ConstraintCompiler.resolve(suite, registry)
    resolved.constraints.foreach(Constraint.walk(_) {
      case c if Constraint.isDataset(c) =>
        throw new IllegalArgumentException(
          s"constraint '${c.id}' is dataset-scope — single-document " +
            "validation has no table; use Validator over a DataFrame")
      case c: ExprIs =>
        throw new IllegalArgumentException(
          s"constraint '${c.id}' is a SQL expression — not evaluable " +
            "without Spark; use Validator over a DataFrame")
      // unknown formats refuse at COMPILE, like the Catalyst path —
      // not per-document at validate time (and only when present)
      case FormatIs(id, _, format, true)
          if !FormatSpecs.specs.contains(format) =>
        throw new IllegalArgumentException(
          s"constraint '$id': unsupported strict format: $format")
      case _ => ()
    })
    CompiledDocSuite(resolved.id, resolved.constraints,
      "docjson:" + ConstraintCompiler.hashOf(resolved))
  }

  /** Fast boolean path. */
  def validate(suite: CompiledDocSuite, json: String): Boolean =
    validateNode(suite, parse(json))

  def validateNode(suite: CompiledDocSuite, doc: JsonNode): Boolean =
    suite.checks.forall(evalPred(_, doc, None))

  /** Detail path: one violation per failing top-level constraint, with
    * the compiler's own `expected` rendering. */
  def validateWithDetails(suite: CompiledDocSuite,
      json: String): Seq[DocViolation] = {
    val doc = parse(json)
    suite.checks.collect {
      case c if !evalPred(c, doc, None) =>
        DocViolation(c.id, observedOf(c, doc),
          ConstraintCompiler.expectedOf(c))
    }
  }

  private def parse(json: String): JsonNode = {
    val n =
      try mapper.readTree(json)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"invalid JSON document: ${e.getMessage}")
      }
    // readTree of empty/blank input returns MissingNode WITHOUT
    // throwing — that is not a document either
    if (n == null || n.isMissingNode)
      throw new IllegalArgumentException(
        "invalid JSON document: empty input")
    n
  }

  // ---- value resolution (mirrors the compiler's `res`) -------------

  /** The node at a column path, None when missing/null — `$` is the
    * element bound by the nearest array scope, `$.f.g` drills into
    * record elements. */
  private def at(doc: JsonNode, col: String,
      scope: Option[JsonNode]): Option[JsonNode] = {
    val (base, rest) =
      if (col == "$") (scopeOrThrow(scope), Nil)
      else if (col.startsWith("$."))
        (scopeOrThrow(scope), col.drop(2).split('.').toList)
      else (Some(doc), col.split('.').toList)
    rest.foldLeft(base) { (n, f) =>
      n.map(_.path(f)).filterNot(x => x.isMissingNode || x.isNull)
    }.filterNot(x => x.isMissingNode || x.isNull)
  }

  private def scopeOrThrow(scope: Option[JsonNode]): Option[JsonNode] =
    Some(scope.getOrElse(throw new IllegalArgumentException(
      "'$' used outside an array-element scope"))) // same as the compiler

  /** Content string — the analogue of `cast("string")` on a typed
    * column: numbers/booleans render canonically, text verbatim.
    * Container values have NO scalar content (Jackson's asText would be
    * "") — a scalar check against an object/array value fails rather
    * than silently comparing empty strings; the table engine refuses
    * such a suite at analysis time, so there is no parity to preserve. */
  private def str(n: JsonNode): Option[String] =
    if (n.isValueNode) Some(n.asText()) else None

  private val NumericContent: Regex = FormatSpecs.numericContent.r

  private def numeric(n: JsonNode): Option[BigDecimal] =
    if (n.isNumber) Some(BigDecimal(n.decimalValue()))
    else if (n.isTextual && NumericContent.matches(n.asText()))
      try Some(BigDecimal(n.asText())) catch { case _: Exception => None }
    else None

  // compiled-pattern cache: Pattern.compile per evaluation would
  // dominate the microseconds-per-doc budget on regex-bearing suites
  private val patterns =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.regex.Pattern]()
  private def find(pattern: String, s: String): Boolean =
    patterns.computeIfAbsent(pattern, java.util.regex.Pattern.compile)
      .matcher(s).find()

  /** Order-insensitive canonical rendering for JSON equality inside
    * containers: object fields sorted recursively, numbers by value
    * (1 ≡ 1.0), arrays positional. Nested scalars keep strict JSON
    * typing ("1" ≠ 1) — content-typing applies only at column level. */
  private def canonical(n: JsonNode): String =
    if (n.isNumber)
      "n" + BigDecimal(n.decimalValue())
        .bigDecimal.stripTrailingZeros.toPlainString
    else if (n.isObject)
      n.properties().asScala.toSeq
        .map(e => e.getKey -> canonical(e.getValue))
        .sortBy(_._1)
        .map { case (k, v) => s"${mapper.writeValueAsString(k)}:$v" }
        .mkString("{", ",", "}")
    else if (n.isArray)
      n.elements().asScala.map(canonical).mkString("[", ",", "]")
    else n.toString

  /** An array element's identity for `uniqueItems`, in the verdict and
    * in `observed` alike: numbers by value, containers canonicalized,
    * other scalars by their JSON text. */
  private def elementKey(x: JsonNode): String =
    numeric(x).map(d => "n:" + d.bigDecimal.stripTrailingZeros.toPlainString)
      .getOrElse(if (x.isContainerNode) "c:" + canonical(x)
        else "v:" + x.toString)

  private def elems(n: JsonNode): Option[Seq[JsonNode]] =
    if (n.isArray) Some(n.elements().asScala.toSeq) else None

  private def fields(n: JsonNode): Option[Seq[(String, JsonNode)]] =
    if (n.isObject)
      Some(n.properties().asScala.map(e => e.getKey -> e.getValue).toSeq)
    else None

  // ---- the evaluator (one case per lowerPred case) -----------------

  /** Pass-on-null applicability, like the lowering's `nullPasses`. */
  private def withValue(doc: JsonNode, col: String,
      scope: Option[JsonNode])(f: JsonNode => Boolean): Boolean =
    at(doc, col, scope).forall(f)

  private[exec] def evalPred(c: Constraint, doc: JsonNode,
      scope: Option[JsonNode]): Boolean = c match {
    case NotNull(_, col) => at(doc, col, scope).isDefined

    case IsIn(_, col, values) =>
      withValue(doc, col, scope)(v => str(v).exists(values.contains))
    case ConstEq(_, col, value) =>
      withValue(doc, col, scope)(v => str(v).contains(value))

    case Bounds(_, col, mn, mx, emn, emx) =>
      withValue(doc, col, scope)(v => numeric(v).exists { d =>
        mn.forall(b => if (emn) d > b else d >= b) &&
          mx.forall(b => if (emx) d < b else d <= b)
      })
    case MultipleOf(_, col, k) =>
      // java.math remainder: exact, no MathContext — scala's wrapper
      // carries DECIMAL128 and throws "Division impossible" on huge
      // quotients (the 1e308 suite case)
      withValue(doc, col, scope)(v => numeric(v).exists(d =>
        d.bigDecimal.remainder(k.bigDecimal).signum() == 0))

    case LengthBounds(_, col, mn, mx) =>
      withValue(doc, col, scope)(v => str(v).exists { s =>
        // CODE POINTS, matching Spark's length() — String.length counts
        // UTF-16 units and disagrees on supplementary characters
        val len = s.codePointCount(0, s.length)
        mn.forall(len >= _) && mx.forall(len <= _)
      })
    case Matches(_, col, pattern) =>
      withValue(doc, col, scope)(v => str(v).exists(find(pattern, _)))
    case FormatIs(_, col, format, strict) =>
      if (!strict) true // annotation-only, like the lowering
      else withValue(doc, col, scope)(v => str(v).exists { s =>
        val spec = FormatSpecs.specs.getOrElse(format,
          throw new IllegalArgumentException(
            s"unsupported strict format: $format"))
        spec.must.forall(find(_, s)) && spec.mustNot.forall(!find(_, s))
      })

    case SizeBounds(_, col, mn, mx) =>
      withValue(doc, col, scope)(v => elems(v).forall { xs =>
        mn.forall(xs.size >= _) && mx.forall(xs.size <= _)
      })
    case UniqueItems(_, col) =>
      // numerically equal values of different JSON node types (1 vs
      // 1.0) are the SAME element — a typed array column would have
      // coerced them (and the official suite's uniqueItems cases agree).
      // Containers canonicalize (object keys sorted recursively,
      // numbers by value): 2020-12 equality ignores property order.
      withValue(doc, col, scope)(v => elems(v).forall { xs =>
        val keys = xs.map(elementKey)
        keys.distinct.size == keys.size
      })
    case EachElement(_, col, elem) =>
      withValue(doc, col, scope)(v => elems(v).forall(
        _.forall(x => evalPred(elem, doc, Some(x)))))
    case EachElementFrom(_, col, start, elem) =>
      withValue(doc, col, scope)(v => elems(v).forall(
        _.drop(start).forall(x => evalPred(elem, doc, Some(x)))))
    case PrefixItems(_, col, es) =>
      withValue(doc, col, scope)(v => elems(v).forall(xs =>
        es.zipWithIndex.forall { case (e, i) =>
          i >= xs.size || evalPred(e, doc, Some(xs(i)))
        }))
    case ContainsCount(_, col, elem, mn, mx) =>
      withValue(doc, col, scope)(v => elems(v).forall { xs =>
        val n = xs.count(x => evalPred(elem, doc, Some(x)))
        n >= mn && mx.forall(n <= _)
      })
    case UnevaluatedItems(_, _, _) =>
      throw new IllegalStateException(
        "unevaluatedItems survived the coverage pass — compile via " +
          "DocValidator.compile")

    case KeysIn(_, col, allowed) =>
      withValue(doc, col, scope)(v => fields(v).forall(
        _.forall { case (k, _) => allowed.contains(k) }))
    case KeyCountBounds(_, col, mn, mx) =>
      withValue(doc, col, scope)(v => fields(v).forall { fs =>
        mn.forall(fs.size >= _) && mx.forall(fs.size <= _)
      })
    case EachKey(_, col, elem) =>
      withValue(doc, col, scope)(v => fields(v).forall(
        _.forall { case (k, _) =>
          evalPred(elem, doc,
            Some(com.fasterxml.jackson.databind.node.TextNode.valueOf(k)))
        }))
    case PropertyValues(_, col, key, elem) =>
      // A MISSING key evaluates elem with a MissingNode scope, mirroring
      // the Catalyst lowering's try_element_at(v, key) → null: NotNull
      // fails (this is how map-flavored `required` lowers), every other
      // leaf keeps pass-on-null applicability. collectFirst().forall
      // would silently PASS NotNull on absent keys — verdict-parity break.
      withValue(doc, col, scope)(v => fields(v).forall { fs =>
        val value = fs.collectFirst { case (k, x) if k == key => x }
          .getOrElse(com.fasterxml.jackson.databind.node
            .MissingNode.getInstance)
        evalPred(elem, doc, Some(value))
      })
    case PatternValues(_, col, keyPattern, elem) =>
      withValue(doc, col, scope)(v => fields(v).forall(
        _.forall { case (k, x) =>
          !find(keyPattern, k) || evalPred(elem, doc, Some(x))
        }))
    case UnevaluatedProperties(_, col, elem, ks, ps) =>
      withValue(doc, col, scope)(v => fields(v).forall(
        _.forall { case (k, x) =>
          val covered = ks.contains(k) || ps.exists(find(_, k))
          covered || evalPred(elem, doc, Some(x))
        }))

    case TypeIs(_, col, tpe) =>
      withValue(doc, col, scope)(v => str(v).exists { s =>
        val isNum = NumericContent.matches(s)
        tpe match {
          // magnitude bound mirrors the lowering's decimal(38,10)
          // try_cast: beyond-range integer-valued numbers report false
          // on BOTH engines
          case "integer" => isNum && {
            val d = BigDecimal(s)
            // the lowering's try_cast to decimal(38,10) ROUNDS at scale
            // 10 (HALF_UP), so "5.00000000001" is integer there; round
            // identically before the remainder for verdict parity
            d.abs < BigDecimal("1e28") &&
              d.bigDecimal.setScale(10, java.math.RoundingMode.HALF_UP)
                .remainder(java.math.BigDecimal.ONE).signum() == 0
          }
          case "number"  => isNum
          case "boolean" =>
            val l = s.toLowerCase; l == "true" || l == "false"
          case "string"  => true
          case other => throw new IllegalArgumentException(
            s"unsupported typeIs: $other")
        }
      })
    case SizeConsistency(_, intCol, arrCol) =>
      (at(doc, intCol, scope), at(doc, arrCol, scope)) match {
        case (Some(i), Some(a)) =>
          numeric(i).exists(d => elems(a).exists(xs =>
            d.compareTo(BigDecimal(xs.size)) == 0))
        case _ => true // null-tolerant, like the lowering
      }

    case AllOf(_, cs)  => cs.forall(evalPred(_, doc, scope))
    case AnyOf(_, cs)  => cs.exists(evalPred(_, doc, scope))
    case OneOf(_, cs)  => cs.count(evalPred(_, doc, scope)) == 1
    case Not(_, c0)    => !evalPred(c0, doc, scope)
    case IfThen(_, i, t, e) =>
      if (evalPred(i, doc, scope)) evalPred(t, doc, scope)
      else e.forall(evalPred(_, doc, scope))
    case BoolSchema(_, v) => v

    case _: Ref | _: DynamicRef | _: Defs =>
      throw new IllegalStateException(
        "unresolved ref survived resolution — compile via " +
          "DocValidator.compile")
    case c @ (_: Unique | _: RefIntegrity | _: NoDrift |
        _: NoArrayDrift | _: ExprIs) =>
      throw new IllegalArgumentException(
        s"'${c.id}' is not evaluable on a single document")
  }

  // ---- violation `observed` rendering ------------------------------

  /** Scalar content of a node for observed text — the analogue of
    * `cast("string")`: text verbatim, numbers/booleans by their JSON
    * literal; containers fall back to compact JSON (the table engine
    * refuses scalar checks on containers, so no parity obligation). */
  private def content(n: JsonNode): String =
    str(n).getOrElse(n.toString)

  /** First-8-keys JSON summary — parity with the compiler's
    * `keySummary` (`to_json(slice(keys,1,8))` + " +N more"). */
  private def keySummary(keys: Seq[String]): String = {
    val head = mapper.writeValueAsString(keys.take(8).toArray)
    if (keys.size > 8) s"$head +${keys.size - 8} more" else head
  }

  /** The violation row's `observed` field — mirrors the compiler's
    * `observedOf` (ConstraintCompiler.scala:777) case for case, so a
    * document failing the same constraint renders the same observed
    * text on every engine (the shared v_docjson oracle pins this for
    * the driver suite). Missing/null values render "null", matching the
    * Catalyst side's `coalesce(observed, 'null')`. Top-level only —
    * detail rows are per top-level constraint on both engines. */
  private[exec] def observedOf(c: Constraint, doc: JsonNode): String = {
    def node(col: String): Option[JsonNode] = at(doc, col, None)
    def sized(col: String): String =
      node(col).flatMap(elems).map(xs => s"size=${xs.size}")
        .getOrElse("null")
    def keysOf(col: String): Seq[String] =
      node(col).flatMap(fields).map(_.map(_._1)).getOrElse(Seq.empty)
    c match {
      case ConstraintCompiler.SizeObserved(col) => sized(col)
      case UniqueItems(_, col) =>
        // array_distinct on the equivalent typed column coerces as
        // elementKey does
        node(col).flatMap(elems).map { xs =>
          s"distinct=${xs.map(elementKey).distinct.size}/${xs.size}"
        }.getOrElse("null")
      case KeysIn(_, col, allowed) =>
        keySummary(keysOf(col).filter(k =>
          allowed.isEmpty || !allowed.contains(k)))
      case KeyCountBounds(_, col, _, _) =>
        node(col).flatMap(fields).map(fs => s"n_keys=${fs.size}")
          .getOrElse("null")
      case EachKey(_, col, _) => keySummary(keysOf(col))
      case PropertyValues(_, col, k, _) =>
        node(col).flatMap(fields)
          .flatMap(_.collectFirst { case (key, x) if key == k => x })
          .filterNot(x => x.isMissingNode || x.isNull)
          .map(content).getOrElse("null")
      case PatternValues(_, col, p, _) =>
        keySummary(keysOf(col).filter(find(p, _)))
      case UnevaluatedProperties(_, col, _, ks, ps) =>
        keySummary(keysOf(col).filterNot(k =>
          ks.contains(k) || ps.exists(find(_, k))))
      case SizeConsistency(_, i, a) =>
        (node(i), node(a).flatMap(elems)) match {
          case (Some(iv), Some(xs)) => s"${content(iv)}!=size:${xs.size}"
          case _                    => "null"
        }
      case LengthBounds(_, col, _, _) =>
        node(col).flatMap(str)
          .map(s => s"len=${s.codePointCount(0, s.length)}")
          .getOrElse("null")
      case other =>
        val cols = ConstraintCompiler.refCols(other)
        if (cols.isEmpty) ""
        else if (cols.sizeIs == 1)
          node(cols.head).map(content).getOrElse("null")
        else {
          // to_json(struct(cols…)) parity: JSON object keyed by the
          // LEAF field name (struct(col("a.b")) names the field "b"),
          // null/missing fields omitted, insertion order kept
          val o = mapper.createObjectNode()
          cols.foreach { cpath =>
            node(cpath).foreach(v =>
              o.set[JsonNode](cpath.split('.').last, v))
          }
          mapper.writeValueAsString(o)
        }
    }
  }
}
