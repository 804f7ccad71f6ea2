package graft.compile

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.{functions => F}

import graft.dsl.{Constraint, ConstraintSuite, ConstraintJson}
import graft.dsl.Constraint._
import graft.registry.ConstraintRegistry
import graft.checks.{ArrayDriftCheck, DatasetCheck, DriftCheck, RefIntegrityCheck, UniqueCheck}

/** One compiled row-local constraint: a boolean Catalyst predicate plus the
  * expressions that populate a violation row — the analogue of one compiled
  * Blaze instruction with its error metadata
  * (`blaze_wrapper.cpp:179-205` collects (message, instance_location,
  * evaluate_path) per failed instruction). */
final case class CompiledRowCheck(
    id: String,
    pred: Column,
    observed: Column,
    expected: String,
    /** JSON-Pointer-ish instance path ("/col/sub", plus the first
      * failing element index for array-scoped checks) — the analogue of
      * the reference's `instanceLocation` (ValidationError.java:18-22). */
    instancePath: Column)

/**
 * The compile-once artifact — analogue of the reference's immutable,
 * reusable `CompiledSchema` template (`CompiledSchema.java:8-20`,
 * `blaze_wrapper.cpp:87-99`). Holds Catalyst `Column` trees (row-local
 * predicates) and dataset-level check plans; immutable, thread-safe,
 * reusable across any number of validation jobs. `constraintHash`
 * identifies the suite in checkpoint lineage (north rule).
 */
final case class CompiledSuite(
    suiteId: String,
    rowChecks: Seq[CompiledRowCheck],
    datasetChecks: Seq[DatasetCheck],
    constraintHash: String) {

  /** Conjunction of every row-local predicate — the FastValidation path
    * (`blaze_wrapper.cpp:92`): short-circuit AND inside whole-stage
    * codegen, no violation materialization. */
  def rowPredicate: Column =
    rowChecks.map(_.pred).reduceOption(_ && _).getOrElse(F.lit(true))
}

/**
 * Compiles a [[ConstraintSuite]] into a [[CompiledSuite]] — the analogue of
 * `SchemaCompiler.compile` + `blaze_compile`
 * (`SchemaCompiler.java:38-75`, `blaze_wrapper.cpp:39-114`): resolves
 * `Ref`s through the registry with cycle detection, then lowers every
 * constraint to Catalyst expressions. Driver-side, once per suite; the
 * resulting `Column` trees are serialized into tasks by Spark exactly once
 * per job (replacing the reference's per-call JNI hop).
 *
 * Null semantics: like JSON Schema keyword applicability, every leaf
 * check PASSES on a null value except [[Constraint.NotNull]] — a missing
 * value is `required`'s job, not `maximum`'s.
 *
 * Dialects: the reference pins FIVE JSON-Schema drafts side by side
 * (Draft4Runner…Draft2020Runner), with per-draft keyword forms — e.g.
 * draft-4's boolean-form `exclusiveMinimum`, draft-2019's
 * `additionalItems` vs 2020-12's `prefixItems`+`items`. This DSL is
 * deliberately SINGLE-dialect: it is a constraint language whose
 * semantics follow draft 2020-12 where a keyword has a JSON-Schema
 * ancestor (the conformance corpus pins them), and draft differences are
 * a translation concern for whoever maps a legacy schema onto the DSL —
 * `Bounds(exclusiveMin = true)` expresses BOTH the draft-4 boolean form
 * and the 2020-12 numeric form, `EachElementFrom` expresses both
 * `additionalItems` and items-after-prefixItems. Regex semantics are
 * Java's, not ECMA-262 — deltas documented at the `Matches` lowering
 * (SURVEY §7.4 #3).
 */
object ConstraintCompiler {

  final class CompileException(msg: String) extends RuntimeException(msg)

  def compileJson(json: String,
      registry: ConstraintRegistry = ConstraintRegistry.empty): CompiledSuite =
    compile(ConstraintJson.parseSuite(json), registry)

  /** Unroll budget for recursive ref chains that make data progress
    * (see [[resolveRefs]]), shared by [[JsonSchemaImport]]: deep enough
    * for any realistic document nesting, small enough that the inlined
    * tree stays bounded. */
  val MaxUnroll = 16

  /** Ref-inline + coverage-resolve a suite WITHOUT lowering to Catalyst
    * — the shared front half of [[compile]], also consumed by the
    * single-document evaluator ([[graft.exec.DocValidator]]), which
    * interprets the resolved AST directly. */
  def resolve(suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty)
      : ConstraintSuite =
    resolveUnevaluated(resolveRefs(suite, registry))

  def compile(suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty)
      : CompiledSuite = {
    val resolved = resolve(suite, registry)
    // A whole-suite Ref inlines its target as an AllOf — if the target
    // carried dataset-level constraints they would sit inside a
    // "row-local" conjunction and crash the lowering. Hoist them back to
    // the top level (splitting a conjunction is semantics-preserving);
    // a dataset check under a NON-conjunctive combinator has no
    // compilable meaning and refuses with a ref-aware message.
    def hoist(c: Constraint): Seq[Constraint] = c match {
      case c0 if Constraint.isDataset(c0) => Seq(c0)
      case c0 if Constraint.find(c0)(Constraint.isDataset).isEmpty =>
        Seq(c0)
      case AllOf(_, cs) => cs.flatMap(hoist)
      case other => throw new CompileException(
        s"dataset-level constraint nested under non-conjunctive " +
          s"combinator '${other.id}' — uniqueness/RI/drift apply to the " +
          "whole table and cannot be disjoined, negated or made " +
          "conditional")
    }
    val (dsCs, rowCs) = resolved.constraints.flatMap(hoist)
      .partition(Constraint.isDataset)
    val rowChecks = rowCs.map(c => CompiledRowCheck(
      c.id, lowerPred(c, None), observedOf(c), expectedOf(c),
      instancePathOf(c)))
    val datasetChecks = dsCs.map(lowerDataset)
    CompiledSuite(resolved.id, rowChecks, datasetChecks, hashOf(resolved))
  }

  // ------------------------------------------------------------------
  // $ref resolution with cycle detection (BlazeWrapper.java:253-281;
  // cycle evidence: infinite-loop-detection.json, Draft2020Runner.java:80)
  //
  // Ref name forms (CustomResolverTest.java:53-234 — fragments, anchors,
  // nested refs):
  //   "suite"       — whole registered suite, inlined as a conjunction
  //   "suite#cid"   — the constraint with id `cid` inside that suite
  //                   (covers both `#/$defs/x` location addressing and
  //                   `$anchor` name addressing: constraint ids ARE the
  //                   anchors of this DSL)
  //   "#cid"        — fragment within the LEXICALLY enclosing suite (the
  //                   suite whose body the ref text sits in — $ref is
  //                   lexically scoped; at top level that is the suite
  //                   being compiled)
  //
  // `$dynamicRef` (reference coverage: dynamicRef.json,
  // Draft2020Runner.java:62) resolves in two steps, mirroring 2020-12
  // core §8.2.3.2: (1) resolve the `#anchor` fragment lexically like a
  // plain $ref; (2) if — and only if — that lexical target DECLARES the
  // anchor in its `dynamicAnchors` (the bookending requirement), rescan
  // the DYNAMIC scope outermost-first and use the first suite that both
  // declares and defines the anchor. Static inlining makes this exact:
  // each inline site is reached through precisely one chain of entered
  // suites, and that chain IS the dynamic scope at evaluation time.
  // 2019-09's `$recursiveRef` is the one-anchor special case.
  //
  // RECURSIVE chains (a schema re-entered while still being inlined)
  // split on DATA PROGRESS:
  //  - re-entry at the same container depth (e.g. `{"$ref": "#self"}`
  //    with no array/map/property drill in between) consumes no input
  //    nesting — genuinely unbounded, and raises the descriptive cycle
  //    error exactly as before;
  //  - re-entry BELOW at least one container boundary consumes one
  //    level of instance nesting per round, so it UNROLLS up to
  //    `MaxUnroll` levels. At the cut the residual is fail-closed (see
  //    [[cut]]): instance data nested deeper than the unroll budget is
  //    INVALID — never silently accepted. Every cut site sits under a
  //    container check, so documents shallower than the budget never
  //    reach it and validate exactly.
  // ------------------------------------------------------------------

  /** The residual of a recursive ref cut at the unroll budget. It must
    * stay fail-closed (reject instances past the budget), so it depends
    * on the POLARITY of its position:
    *  - +1 (truth helps validity): false, guarded on `col` being PRESENT,
    *    so only instances that reach this depth fail (a bare false would
    *    also fail shallow documents through a missing map key);
    *  - −1 (under an odd number of negations): the identity `true`, which
    *    keeps deep matching instances true for the enclosing negation;
    *  - 0 (oneOf branch, if-condition, bounded-contains element): no sound
    *    constant exists, so `refuse` is thrown.
    * `ids` names the residual's nodes by role ("", "present", "fail", in
    * that call order): each resolver keeps its own ids. */
  private[compile] def cut(pol: Int, col: String, ids: String => String,
      refuse: => Nothing): Constraint = pol match {
    case 1 =>
      IfThen(ids(""), NotNull(ids("present"), col),
        BoolSchema(ids("fail"), value = false))
    case -1 => BoolSchema(ids(""), value = true)
    case _  => refuse
  }

  private def resolveRefs(suite: ConstraintSuite,
      reg: ConstraintRegistry): ConstraintSuite = {

    def findFragment(root: ConstraintSuite, cid: String): Option[Constraint] =
      root.constraints.view.flatMap(Constraint.find(_)(_.id == cid))
        .headOption

    // name → (lexically-resolved target suite, optional fragment id)
    def target(name: String,
        lexical: ConstraintSuite): (ConstraintSuite, Option[String]) = {
      val (suiteName, frag) = name.indexOf('#') match {
        case -1 => (name, None)
        case i  => (name.take(i), Some(name.drop(i + 1)))
      }
      val t =
        if (suiteName.isEmpty) lexical
        else reg.resolve(suiteName).getOrElse(throw new CompileException(
          s"Schema compilation failed: unresolved ref '$name'"))
      (t, frag)
    }

    def fragment(t: ConstraintSuite, cid: String, name: String): Constraint =
      findFragment(t, cid).getOrElse(throw new CompileException(
        s"Schema compilation failed: unresolved fragment '#$cid' " +
          s"in '${t.id}' (ref '$name')"))

    // `visiting` keys on RESOLVED identity (suite or suite#fragment) so
    // same-named self-fragments in different suites don't false-cycle;
    // per key it records (container depth at last entry, entries so
    // far): same-depth re-entry = no data progress = cycle error;
    // deeper re-entry unrolls until `MaxUnroll`, then cuts fail-closed.
    // `scope` is the dynamic scope — suites entered so far, outermost
    // first; `lexical` is the suite whose body is being walked;
    // `cdepth` counts container boundaries (array-element / map-value /
    // key scopes) crossed so far; `pol` is the position's polarity
    // (see [[cut]]).
    final case class Entry(depthAtEntry: Int, times: Int)
    def go(c: Constraint, visiting: Map[String, Entry],
        scope: List[ConstraintSuite],
        lexical: ConstraintSuite, cdepth: Int, pol: Int): Constraint = {
      def enter(t: ConstraintSuite): List[ConstraintSuite] =
        if (scope.exists(_.id == t.id)) scope else scope :+ t
      // cycle/unroll policy for a (dynamic)ref about to inline `key`:
      // None = emit the fail-closed cut instead of recursing
      def admit(key: String, name: String,
          dynamic: Boolean): Option[Map[String, Entry]] =
        visiting.get(key) match {
          case Some(Entry(d, _)) if d == cdepth =>
            throw new CompileException(
              s"Schema compilation failed: cyclic ref '$name'" +
                (if (dynamic) " (recursive $dynamicRef with no " +
                  "container boundary between entries — consumes no " +
                  "instance nesting, cannot terminate)"
                 else ""))
          case Some(Entry(_, n)) if n >= MaxUnroll => None
          case Some(Entry(_, n)) =>
            Some(visiting + (key -> Entry(cdepth, n + 1)))
          case None => Some(visiting + (key -> Entry(cdepth, 1)))
        }
      // every cut sits under ≥1 container descent, so '$' (the nearest
      // element/value scope) is always bound there
      def cutAt(id: String, name: String): Constraint =
        cut(pol, "$", r => if (r.isEmpty) id else s"$id.$r",
          throw new CompileException(
            s"Schema compilation failed: recursive ref '$name' exceeds " +
              s"the unroll budget ($MaxUnroll) inside a NON-MONOTONE " +
              "context (oneOf branch / if-condition / bounded contains) " +
              "— no fail-closed cut exists there; restructure the schema"))
      c match {
        case Ref(id, name) =>
          val (t, frag) = target(name, lexical)
          val key = frag.fold(t.id)(cid => s"${t.id}#$cid")
          admit(key, name, dynamic = false) match {
            case None => cutAt(id, name)
            case Some(v2) =>
              // A referenced suite/fragment inlines as the conjunction
              // of its constraints, re-rooted under the Ref's own id.
              val body = frag match {
                case None      => t.constraints
                case Some(cid) => Seq(fragment(t, cid, name))
              }
              AllOf(id, body.map(go(_, v2, enter(t), t, cdepth, pol)))
          }
        case DynamicRef(id, name) =>
          if (!name.contains('#') || name.endsWith("#"))
            throw new CompileException("Schema compilation failed: " +
              s"dynamicRef '$name' must address a '#anchor' fragment")
          val (lexT, frag) = target(name, lexical)
          val anchor = frag.get
          val chosen =
            if (!lexT.dynamicAnchors.contains(anchor)) lexT // bookending
            else enter(lexT).find(s =>
              s.dynamicAnchors.contains(anchor) &&
                findFragment(s, anchor).isDefined).getOrElse(lexT)
          val key = s"${chosen.id}#$anchor"
          admit(key, name, dynamic = true) match {
            case None => cutAt(id, name)
            case Some(v2) =>
              AllOf(id, Seq(go(fragment(chosen, anchor, name),
                v2, enter(chosen), chosen, cdepth, pol)))
          }
        case Defs(id, _) =>
          // definitions assert nothing; fragments inside them resolve
          // against the ORIGINAL suites, so the body need not survive
          BoolSchema(id, true)
        case OneOf(id, cs) =>
          // exactly-one is non-monotone: a branch's truth can invalidate
          OneOf(id, cs.map(go(_, visiting, scope, lexical, cdepth, 0)))
        case Not(id, c0) =>
          Not(id, go(c0, visiting, scope, lexical, cdepth, -pol))
        case IfThen(id, i, t, e) =>
          IfThen(id, go(i, visiting, scope, lexical, cdepth, 0),
            go(t, visiting, scope, lexical, cdepth, pol),
            e.map(go(_, visiting, scope, lexical, cdepth, pol)))
        case other =>
          // an OnColumn kind's subschemas sit one container level down
          val (d, p) = other match {
            // a max-bounded contains is non-monotone in its element
            case ContainsCount(_, _, _, _, Some(_)) => (cdepth + 1, 0)
            case _: OnColumn                       => (cdepth + 1, pol)
            case _                                 => (cdepth, pol)
          }
          Constraint.mapChildren(other)(go(_, visiting, scope, lexical, d, p))
      }
    }
    ConstraintSuite(suite.id,
      suite.constraints.filterNot(_.isInstanceOf[Defs])
        .map(go(_, Map(suite.id -> Entry(0, 1)), List(suite), suite, 0, 1)),
      suite.dynamicAnchors)
  }

  // ------------------------------------------------------------------
  // unevaluatedItems / unevaluatedProperties: compile-time coverage
  // analysis over the static DSL tree (Draft2020Runner.java:57-58).
  // AllOf is transparent (its branches always apply); anyOf/oneOf/ifThen
  // branches and `contains` matches do NOT contribute coverage — the
  // conservative static approximation (cf. reference skip list,
  // Draft2020Runner.java:196-201).
  // ------------------------------------------------------------------

  private def resolveUnevaluated(suite: ConstraintSuite): ConstraintSuite = {
    def flat(cs: Seq[Constraint]): Seq[Constraint] = cs.flatMap {
      case AllOf(_, inner) => flat(inner)
      case c               => Seq(c)
    }
    val ctx = flat(suite.constraints)

    /** Covered element positions of an array column: None = everything
      * covered; Some((p, None)) = only [0, p) covered; Some((p, Some(s)))
      * = [0, p) and [s, ∞) covered, leaving the gap [p, s) unevaluated
      * (PrefixItems(p) + EachElementFrom(s) with s > p). */
    def itemsCoverage(col: String): Option[(Int, Option[Int])] = {
      val full = ctx.exists {
        case EachElement(_, c, _) => c == col
        case _                    => false
      }
      if (full) return None
      val prefix = ctx.collect {
        case PrefixItems(_, c, es) if c == col => es.size
      }.maxOption.getOrElse(0)
      val tailFrom = ctx.collect {
        case EachElementFrom(_, c, s, _) if c == col => s
      }.minOption
      tailFrom match {
        case Some(s) if s <= prefix => None // prefix + tail cover all
        case Some(s)                => Some((prefix, Some(s)))
        case None                   => Some((prefix, None))
      }
    }

    /** (fullyCovered, coveredKeys, coveredPatterns) for a map column.
      * KeysIn plays `additionalProperties`: it evaluates every key. */
    def propsCoverage(col: String): (Boolean, Seq[String], Seq[String]) = {
      val full = ctx.exists {
        case KeysIn(_, c, _) => c == col
        case _               => false
      }
      val keys = ctx.collect {
        case PropertyValues(_, c, k, _) if c == col => k
      }
      val pats = ctx.collect {
        case PatternValues(_, c, p, _) if c == col => p
      }
      (full, keys, pats)
    }

    def rw(c: Constraint): Constraint = c match {
      case UnevaluatedItems(id, col, elem) =>
        itemsCoverage(col) match {
          case None => BoolSchema(id, true) // everything evaluated
          case Some((p, None)) => EachElementFrom(id, col, p, rw(elem))
          case Some((p, Some(s))) =>
            // Only the gap [p, s) is unevaluated — positions >= s ARE
            // evaluated by the items-after-prefix schema, so re-applying
            // `elem` there would be a false violation. PrefixItems is
            // position-wise and absent positions pass, so pad [0, p)
            // with `true` and check only the gap.
            PrefixItems(id, col,
              Seq.fill(p)(BoolSchema(s"$id.covered", true)) ++
                Seq.fill(s - p)(rw(elem)))
        }
      case UnevaluatedProperties(id, col, elem, ks0, ps0) =>
        // UNION the declared coverage (e.g. an importer that knows its
        // patternProperties sit inside an anyOf branch this pass cannot
        // see) with the coverage computed from top-level siblings
        val (full, ks, ps) = propsCoverage(col)
        if (full) BoolSchema(id, true)
        else UnevaluatedProperties(id, col, rw(elem),
          (ks0 ++ ks).distinct, (ps0 ++ ps).distinct)
      case other => Constraint.mapChildren(other)(rw)
    }
    // preserve dynamicAnchors: resolve() is public and DocValidator /
    // render round-trips would otherwise lose the declarations
    ConstraintSuite(suite.id, suite.constraints.map(rw),
      suite.dynamicAnchors)
  }

  // ------------------------------------------------------------------
  // Row-local lowering: Constraint → Catalyst boolean Column
  // ------------------------------------------------------------------

  /** Resolve a column path in the current scope. `"$"` refers to the
    * array element bound by the nearest EachElement/ContainsCount/
    * PrefixItems; `"$.f.g"` drills into struct fields of that element
    * (arrays of records — e.g. imported `items.properties` subschemas). */
  private def res(col: String, scope: Option[Column]): Column =
    if (col == "$" || col.startsWith("$.")) {
      val base = scope.getOrElse(throw new CompileException(
        "'$' used outside an array-element scope"))
      if (col == "$") base
      else col.drop(2).split('.').foldLeft(base)(_.getField(_))
    } else F.col(col)

  /** The element check [[graft.functions.ArrayFirstOutside]] serves:
    * `Bounds` on the element with BOTH bounds whole, inclusive and
    * Long-representable. Inclusive only: a ±1 exclusive adjustment would
    * be wrong for fractional element types, which are not known until
    * analysis. Both bounds: a MinValue/MaxValue sentinel for a one-sided
    * bound is a REAL bound to the expression (double elements beyond
    * ±9.2e18 would falsely fail), and BigDecimal.toLong of an
    * out-of-range bound truncates to garbage — those shapes take the
    * `forall` path instead. */
  private object WholeBounds {
    def unapply(elem: Constraint): Option[(Long, Long)] = elem match {
      case Bounds(_, "$", Some(mn), Some(mx), false, false)
          if Seq(mn, mx).forall(b => b.isWhole && b.isValidLong) =>
        Some((mn.toLong, mx.toLong))
      case _ => None
    }
  }

  /** Pass-on-null wrapper: JSON Schema applicability semantics. */
  private def nullPasses(c: Column, raw: Column): Column =
    c.isNull || F.coalesce(raw, F.lit(false))

  /** `p` over `v` read as a number the way the doc engine reads one: a
    * string column counts only numeric content
    * ([[FormatSpecs.numericContent]]), handed to `p` through `text`, and
    * any other content (or a cast that finds no value) fails `p` instead
    * of failing the job on an ANSI cast. `typeof` folds while planning,
    * so a numeric column is left with `p(v)` alone. */
  private def onNumber(v: Column, text: Column => Column)(
      p: Column => Column): Column =
    F.when(F.typeof(v).startsWith("string"), F.coalesce(
        v.rlike(FormatSpecs.numericContent) && p(text(v)), F.lit(false)))
      .otherwise(p(v))

  /** "Key is NOT covered" predicate for unevaluatedProperties — ONE
    * definition shared by the lowering and the observed-summary so the
    * flagged rows and their summaries can never disagree. */
  private def uncoveredKey(ks: Seq[String], ps: Seq[String])
      : Column => Column = k => {
    val inKeys = if (ks.isEmpty) F.lit(false) else k.isin(ks: _*)
    val inPats = ps.map(p => k.rlike(p))
      .reduceOption(_ || _).getOrElse(F.lit(false))
    !(inKeys || inPats)
  }

  private[compile] def lowerPred(
      c: Constraint, scope: Option[Column]): Column = c match {
    case NotNull(_, col) => res(col, scope).isNotNull

    case IsIn(_, col, values) =>
      val v = res(col, scope)
      nullPasses(v, v.cast("string").isin(values: _*))

    case ConstEq(_, col, value) =>
      val v = res(col, scope)
      nullPasses(v, v.cast("string") === F.lit(value))

    case Bounds(_, col, mn, mx, emn, emx) =>
      val v = res(col, scope)
      // Exact decimal comparison via a type-dispatching codegen
      // Expression: numeric children compare natively (primitive
      // long/double fast paths when the bounds allow, BigDecimal
      // otherwise — exact past 2^53 either way), string children follow
      // the doc engine's contract verbatim (numeric CONTENT → unbounded
      // BigDecimal compare at ANY scale, else fail). This replaced a
      // string-roundtrip lowering (cast→regexp fraction probe→try_cast
      // decimal(38,18)/(38,37)→native coalesce) that was both slower —
      // per-row string format + regex on already-numeric columns — and
      // less exact (>37-fraction-digit strings fell back to double).
      nullPasses(v, graft.functions.DecimalBounds(v, mn, mx, emn, emx))

    case MultipleOf(_, col, k) =>
      // Exact decimal remainder — avoids the float-tolerance trap on
      // cases like 0.0075 % 0.0001 (cf. multipleOf.json in the suite).
      // Magnitudes past decimal(38,12) range (suite float-overflow case:
      // 1e308 multipleOf 0.123456789) fall back to double remainder.
      // decimal(38,12) carries 26 integer digits, so everything below
      // 1e26 stays on the EXACT branch. A string keeps its text: both
      // branches cast it themselves.
      val v = res(col, scope)
      nullPasses(v, onNumber(v, identity) { x =>
        val exact = F.pmod(x.try_cast("decimal(38,12)"),
          F.lit(k.bigDecimal)) === F.lit(0)
        val approx =
          F.pmod(x.try_cast("double"), F.lit(k.toDouble)) === F.lit(0.0)
        F.when(F.abs(x.try_cast("double")) < 1e26, exact).otherwise(approx)
      })

    case LengthBounds(_, col, mn, mx) =>
      val v = res(col, scope)
      val len = F.length(v) // codepoint semantics for BMP; suite cases pass
      val lo = mn.map(len >= _)
      val hi = mx.map(len <= _)
      nullPasses(v, (lo.toSeq ++ hi.toSeq).reduceOption(_ && _)
        .getOrElse(F.lit(true)))

    case Matches(_, col, pattern) =>
      val v = res(col, scope)
      nullPasses(v, v.rlike(pattern)) // unanchored, per spec

    case FormatIs(_, col, format, strict) =>
      if (!strict) F.lit(true) // annotation-only, matching reference default
      else {
        val v = res(col, scope)
        nullPasses(v, formatPred(v, format))
      }

    case SizeBounds(_, col, mn, mx) =>
      val v = res(col, scope)
      val sz = F.size(v)
      val lo = mn.map(sz >= _)
      val hi = mx.map(sz <= _)
      nullPasses(v, (lo.toSeq ++ hi.toSeq).reduceOption(_ && _)
        .getOrElse(F.lit(true)))

    case UniqueItems(_, col) =>
      val v = res(col, scope)
      nullPasses(v, F.size(F.array_distinct(v)) === F.size(v))

    // Fast path for the hottest constraint shape (every token in
    // [lo, hi], see [[WholeBounds]]): a custom codegen Expression with a
    // primitive early-exit loop — Spark's `forall` evaluates its lambda
    // interpreted (ArrayForAll is CodegenFallback), which costs ~3× on
    // 10^9-token scans. Everything else falls through to `forall`.
    case EachElement(_, col, WholeBounds(lo, hi)) =>
      val v = res(col, scope)
      nullPasses(v, graft.functions.ArrayFirstOutside(v, lo, hi) === -1)

    case EachElement(_, col, elem) =>
      val v = res(col, scope)
      nullPasses(v, F.forall(v, x => lowerPred(elem, Some(x))))

    case ContainsCount(_, col, elem, minC, maxC) =>
      val v = res(col, scope)
      val n = F.size(F.filter(v, x => lowerPred(elem, Some(x))))
      val hi = maxC.map(n <= _)
      nullPasses(v, (Seq(n >= minC) ++ hi.toSeq).reduce(_ && _))

    case PrefixItems(_, col, elems) =>
      val v = res(col, scope)
      val checks = elems.zipWithIndex.map { case (e, i) =>
        // absent positions pass, per spec; F.get is 0-based + null-safe
        val x = F.get(v, F.lit(i))
        F.when(F.size(v) > i, lowerPred(e, Some(x))).otherwise(F.lit(true))
      }
      nullPasses(v, checks.reduceOption(_ && _).getOrElse(F.lit(true)))

    case EachElementFrom(_, col, start, elem) =>
      val v = res(col, scope)
      // slice is 1-based; elements before startIdx are exempt
      val rest = F.slice(v, F.lit(start + 1),
        F.greatest(F.size(v) - start, F.lit(0)))
      nullPasses(v, F.forall(rest, x => lowerPred(elem, Some(x))))

    case KeysIn(_, col, allowed) =>
      val v = res(col, scope)
      nullPasses(v,
        F.forall(F.map_keys(v), k => k.isin(allowed: _*)))

    case KeyCountBounds(_, col, mn, mx) =>
      val v = res(col, scope)
      val n = F.size(F.map_keys(v))
      val lo = mn.map(n >= _)
      val hi = mx.map(n <= _)
      nullPasses(v, (lo.toSeq ++ hi.toSeq).reduceOption(_ && _)
        .getOrElse(F.lit(true)))

    case EachKey(_, col, elem) =>
      val v = res(col, scope)
      nullPasses(v, F.forall(F.map_keys(v), k => lowerPred(elem, Some(k))))

    case PropertyValues(_, col, key, elem) =>
      val v = res(col, scope)
      // try_element_at: null (→ pass, presence is not this keyword's
      // job) instead of ANSI's missing-key error
      nullPasses(v,
        F.coalesce(lowerPred(elem, Some(F.try_element_at(v, F.lit(key)))),
          F.lit(true)))

    case PatternValues(_, col, pat, elem) =>
      // SURVEY §2.B lowering: value subschema over regex-matched keys
      val v = res(col, scope)
      nullPasses(v, F.forall(
        F.map_values(F.map_filter(v, (k, _) => k.rlike(pat))),
        x => lowerPred(elem, Some(x))))

    case UnevaluatedProperties(_, col, elem, ks, ps) =>
      val v = res(col, scope)
      nullPasses(v, F.forall(
        F.map_values(F.map_filter(v, (k, _) => uncoveredKey(ks, ps)(k))),
        x => lowerPred(elem, Some(x))))

    case UnevaluatedItems(_, _, _) =>
      // rewritten to EachElementFrom/BoolSchema by resolveUnevaluated
      throw new CompileException(
        "unevaluatedItems survived the coverage pass — compile via " +
          "ConstraintCompiler.compile, not lowerPred directly")

    case TypeIs(_, col, tpe) =>
      val v = res(col, scope)
      val s = v.cast("string")
      val isNum = s.rlike(FormatSpecs.numericContent)
      val raw = tpe match {
        // integer ⊂ number: integer-valued floats count as integer
        // (suite type.json semantics); regex guards the numeric cast
        // and try_cast guards its MAGNITUDE — "1e30" passes the regex
        // but overflows decimal(38,10), which under ANSI would be a
        // task failure, not a verdict. Beyond-range integers report
        // false (documented; DocValidator mirrors the bound).
        case "integer" =>
          F.when(isNum, F.coalesce(
            F.pmod(s.try_cast("decimal(38,10)"), F.lit(1)) === F.lit(0),
            F.lit(false)))
            .otherwise(F.lit(false))
        case "number"  => isNum
        case "boolean" => F.lower(s).isin("true", "false")
        case "string"  => F.lit(true)
        case other =>
          throw new CompileException(s"unsupported typeIs: $other")
      }
      nullPasses(v, raw)

    case SizeConsistency(_, intCol, arrCol) =>
      // an integral column is a plain compare; string content is read
      // at scale 28, past the ten integer digits of any size, so only a
      // text with more than 28 fraction digits rounds before the compare
      val i = res(intCol, scope)
      val a = res(arrCol, scope)
      i.isNull || a.isNull ||
        onNumber(i, _.try_cast("decimal(38,28)"))(_ === F.size(a))

    case ExprIs(_, predicateSql, _, _) =>
      F.coalesce(F.expr(predicateSql), F.lit(true))

    case AllOf(_, cs) =>
      cs.map(lowerPred(_, scope)).reduceOption(_ && _).getOrElse(F.lit(true))
    case AnyOf(_, cs) =>
      cs.map(lowerPred(_, scope)).reduceOption(_ || _).getOrElse(F.lit(false))
    case OneOf(_, cs) =>
      cs.map(c0 => lowerPred(c0, scope).cast("int"))
        .reduceOption(_ + _).map(_ === 1).getOrElse(F.lit(false))
    case Not(_, c0)   => !lowerPred(c0, scope)
    case IfThen(_, i, t, e) =>
      F.when(lowerPred(i, scope), lowerPred(t, scope))
        .otherwise(e.map(lowerPred(_, scope)).getOrElse(F.lit(true)))
    case BoolSchema(_, v) => F.lit(v)

    case _: Ref | _: DynamicRef =>
      throw new CompileException("unresolved ref survived resolution")
    case _: Defs =>
      F.lit(true) // definitions-only container: asserts nothing
    case _: Unique | _: RefIntegrity | _: NoDrift | _: NoArrayDrift =>
      throw new CompileException(
        s"dataset-level constraint '${c.id}' cannot be row-lowered")
  }

  private def formatPred(v: Column, format: String): Column = {
    val spec = FormatSpecs.specs.getOrElse(format,
      throw new CompileException(s"unsupported strict format: $format"))
    (spec.must.map(v.rlike) ++ spec.mustNot.map(!v.rlike(_)))
      .reduce(_ && _)
  }

  // ------------------------------------------------------------------
  // Violation metadata (observed / expected) per top-level constraint
  // ------------------------------------------------------------------

  /** Column paths a constraint reads (element scope excluded). Shared
    * with the doc engine's `observed` rendering so both engines
    * summarize the same columns. */
  private[graft] def refCols(c: Constraint): Seq[String] = {
    val buf = scala.collection.mutable.LinkedHashSet[String]()
    def add(col: String): Unit = if (!col.startsWith("$")) buf += col
    Constraint.walk(c) {
      case SizeConsistency(_, i, a) => add(i); add(a)
      case x: OnColumn              => add(x.col)
      case _                        => ()
    }
    buf.toSeq
  }

  /** Truncated key-list summary for map-typed violations: first 8
    * offending keys as JSON + a "+N more" suffix — violation rows must
    * stay narrow even against 100-key map columns. */
  private def keySummary(keys: Column): Column = {
    val n = F.size(keys)
    val head = F.to_json(F.slice(keys, 1, 8))
    F.when(n > 8,
      F.concat(head, F.lit(" +"), (n - 8).cast("string"), F.lit(" more")))
      .otherwise(head)
  }

  /** The array kinds whose `observed` is their column's size (`size=N`),
    * on both engines. */
  private[graft] object SizeObserved {
    def unapply(c: OnColumn): Option[String] = c match {
      case _: SizeBounds | _: EachElement | _: ContainsCount |
          _: PrefixItems | _: EachElementFrom | _: UnevaluatedItems =>
        Some(c.col)
      case _ => None
    }
  }

  /** Expression for the violation row's `observed` field. Arrays are
    * summarized by size, not dumped — violation rows must stay narrow at
    * 10^12-row scale. */
  private[compile] def observedOf(c: Constraint): Column = c match {
    case SizeObserved(col) =>
      F.concat(F.lit("size="), F.size(F.col(col)).cast("string"))
    case UniqueItems(_, col) =>
      F.concat(F.lit("distinct="),
        F.size(F.array_distinct(F.col(col))).cast("string"),
        F.lit("/"), F.size(F.col(col)).cast("string"))
    case KeysIn(_, col, allowed) =>
      keySummary(F.filter(F.map_keys(F.col(col)),
        k => if (allowed.isEmpty) F.lit(true) else !k.isin(allowed: _*)))
    case KeyCountBounds(_, col, _, _) =>
      F.concat(F.lit("n_keys="),
        F.size(F.map_keys(F.col(col))).cast("string"))
    case EachKey(_, col, _) =>
      keySummary(F.map_keys(F.col(col)))
    case PropertyValues(_, col, k, _) =>
      F.coalesce(F.try_element_at(F.col(col), F.lit(k)).cast("string"),
        F.lit("null"))
    case PatternValues(_, col, p, _) =>
      keySummary(F.filter(F.map_keys(F.col(col)), k => k.rlike(p)))
    case UnevaluatedProperties(_, col, _, ks, ps) =>
      keySummary(F.filter(F.map_keys(F.col(col)), uncoveredKey(ks, ps)))
    case SizeConsistency(_, i, a) =>
      F.concat(F.col(i).cast("string"), F.lit("!=size:"),
        F.size(F.col(a)).cast("string"))
    case LengthBounds(_, col, _, _) =>
      F.concat(F.lit("len="), F.length(F.col(col)).cast("string"))
    case ExprIs(_, p, obs, _) =>
      F.coalesce(F.expr(obs.getOrElse(s"'${p.replace("'", "")}'"))
        .cast("string"), F.lit("null"))
    case other =>
      val cols = refCols(other)
      if (cols.isEmpty) F.lit("")
      else if (cols.sizeIs == 1)
        F.coalesce(F.col(cols.head).cast("string"), F.lit("null"))
      else
        F.to_json(F.struct(cols.map(F.col): _*))
  }

  /** JSON-Pointer-ish instance path into the row — the analogue of the
    * reference's `ValidationError.instanceLocation`
    * (ValidationError.java:18-22). Nested field paths render as
    * "/a/b/c"; array-scoped checks (items family) append the FIRST
    * failing element's index. Evaluated only on the detail path. */
  private[compile] def instancePathOf(c: Constraint): Column = {
    def slash(col: String): String = "/" + col.replace(".", "/")
    c match {
      // the fast shape's index: `transform` is CodegenFallback and would
      // take the whole per-row projection out of whole-stage codegen
      case EachElement(_, col, WholeBounds(lo, hi)) if col != "$" =>
        val pos = graft.functions.ArrayFirstOutside(F.col(col), lo, hi)
        F.when(pos >= 0, F.concat(F.lit(slash(col) + "/"), pos.cast("string")))
          .otherwise(F.lit(slash(col)))
      case EachElement(_, col, elem) if col != "$" =>
        val v = F.col(col)
        val pos = F.coalesce(F.array_position(
          F.transform(v, x =>
            F.coalesce(lowerPred(elem, Some(x)), F.lit(true))),
          F.lit(false)), F.lit(0L))
        F.when(pos > 0,
          F.concat(F.lit(slash(col) + "/"), (pos - 1).cast("string")))
          .otherwise(F.lit(slash(col)))
      case EachElementFrom(_, col, start, elem) if col != "$" =>
        val v = F.col(col)
        val rest = F.slice(v, F.lit(start + 1),
          F.greatest(F.size(v) - start, F.lit(0)))
        val pos = F.coalesce(F.array_position(
          F.transform(rest, x =>
            F.coalesce(lowerPred(elem, Some(x)), F.lit(true))),
          F.lit(false)), F.lit(0L))
        F.when(pos > 0,
          F.concat(F.lit(slash(col) + "/"),
            (pos + (start - 1)).cast("string")))
          .otherwise(F.lit(slash(col)))
      case SizeConsistency(_, i, _) => F.lit(slash(i))
      case _: ExprIs                => F.lit("/")
      case other => refCols(other) match {
        case Seq()    => F.lit("/")
        case Seq(one) => F.lit(slash(one))
        case many     => F.lit(many.map(slash).mkString(","))
      }
    }
  }

  /** Human-readable `expected` text (plays the reference's error-message
    * role, `blaze_wrapper.cpp:186`). Static per constraint. */
  private[graft] def expectedOf(c: Constraint): String = c match {
    case NotNull(_, col)    => s"$col not null"
    case IsIn(_, col, vs)   =>
      val shown = if (vs.sizeIs > 8) vs.take(8).mkString(", ") + ", …"
                  else vs.mkString(", ")
      s"$col in {$shown}"
    case ConstEq(_, col, v) => s"$col == $v"
    case Bounds(_, col, mn, mx, emn, emx) =>
      val lo = mn.map(b => s"${if (emn) ">" else ">="} $b")
      val hi = mx.map(b => s"${if (emx) "<" else "<="} $b")
      s"$col ${(lo.toSeq ++ hi.toSeq).mkString(" and ")}"
    case MultipleOf(_, col, k)  => s"$col multipleOf $k"
    case LengthBounds(_, col, mn, mx) =>
      s"length($col) in [${mn.getOrElse(0)}, ${mx.map(_.toString).getOrElse("∞")}]"
    case Matches(_, col, p)     => s"$col matches /$p/"
    case FormatIs(_, col, f, _) => s"$col has format $f"
    case SizeBounds(_, col, mn, mx) =>
      s"size($col) in [${mn.getOrElse(0)}, ${mx.map(_.toString).getOrElse("∞")}]"
    case UniqueItems(_, col)    => s"$col elements unique"
    case EachElement(_, col, e) => s"every element of $col: ${expectedOf(e)}"
    case ContainsCount(_, col, e, mn, mx) =>
      s"count of elements of $col where (${expectedOf(e)}) in " +
        s"[$mn, ${mx.map(_.toString).getOrElse("∞")}]"
    case PrefixItems(_, col, es) => s"prefix of $col: ${es.size} schemas"
    case EachElementFrom(_, col, start, e) =>
      s"every element of $col from index $start: ${expectedOf(e)}"
    case KeysIn(_, col, allowed) =>
      s"keys of $col in {${allowed.mkString(", ")}}"
    case KeyCountBounds(_, col, mn, mx) =>
      s"key count of $col in [${mn.getOrElse(0)}, " +
        s"${mx.map(_.toString).getOrElse("∞")}]"
    case EachKey(_, col, e) => s"every key of $col: ${expectedOf(e)}"
    case PropertyValues(_, col, k, e) =>
      s"value of $col['$k']: ${expectedOf(e)}"
    case PatternValues(_, col, p, e) =>
      s"values of $col keys matching /$p/: ${expectedOf(e)}"
    case UnevaluatedItems(_, col, e) =>
      s"unevaluated elements of $col: ${expectedOf(e)}"
    case UnevaluatedProperties(_, col, e, _, _) =>
      s"unevaluated properties of $col: ${expectedOf(e)}"
    case TypeIs(_, col, t)  => s"$col is of type $t"
    case SizeConsistency(_, i, a) => s"$i == size($a)"
    case ExprIs(_, p, _, exp)   => if (exp.nonEmpty) exp else p
    case AllOf(_, cs)  => cs.map(expectedOf).mkString("(", ") and (", ")")
    case AnyOf(_, cs)  => cs.map(expectedOf).mkString("(", ") or (", ")")
    case OneOf(_, cs)  => "exactly one of: " +
      cs.map(expectedOf).mkString("(", "); (", ")")
    case Not(_, c0)    => s"not (${expectedOf(c0)})"
    case IfThen(_, i, t, e) =>
      s"if (${expectedOf(i)}) then (${expectedOf(t)})" +
        e.map(x => s" else (${expectedOf(x)})").getOrElse("")
    case BoolSchema(_, v) => if (v) "true" else "false"
    case Ref(_, name)        => s"ref $name"
    case DynamicRef(_, name) => s"dynamicRef $name"
    case Defs(_, _)          => "true"
    case Unique(_, col) => s"$col unique across dataset"
    case RefIntegrity(_, col, dn, dc) => s"$col exists in $dn.$dc"
    case NoDrift(_, col, _, _, _, m, t, _) => s"$m($col) <= $t"
    case NoArrayDrift(_, col, _, m, t, _) => s"$m(elements of $col) <= $t"
  }

  // ------------------------------------------------------------------
  // Dataset-level lowering (SURVEY.md §2.C)
  // ------------------------------------------------------------------

  private def lowerDataset(c: Constraint): DatasetCheck = c match {
    case u: Unique       =>
      UniqueCheck(u.id, u.col, expectedOf(u))
    case r: RefIntegrity =>
      RefIntegrityCheck(r.id, r.col, r.dimName, r.dimCol, expectedOf(r))
    case d: NoDrift =>
      DriftCheck(d.id, d.col, d.lo, d.hi, d.buckets, d.metric, d.threshold,
        expectedOf(d), d.minRows)
    case d: NoArrayDrift =>
      ArrayDriftCheck(d.id, d.col, d.buckets, d.metric, d.threshold,
        expectedOf(d), d.minCount)
    case other =>
      throw new CompileException(s"not a dataset-level constraint: $other")
  }

  /** Stable identity of the compiled suite for checkpoint lineage
    * (also consumed by `DocValidator.compile`, whose suite the
    * JSON-corpus runner checkpoints by the same suite identity). */
  private[graft] def hashOf(suite: ConstraintSuite): String = {
    val canon = ConstraintJson.renderSuite(suite)
    val md = MessageDigest.getInstance("SHA-256")
    md.digest(canon.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
  }
}
