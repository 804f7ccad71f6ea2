package graft.dsl

/**
 * Declarative constraint DSL — the engine's "schema document".
 *
 * Plays the role of a JSON Schema in the reference
 * (`/root/reference/src/main/java/com/github/madhavdhatrak/blaze4j/SchemaCompiler.java:38-75`):
 * a declarative, data-serializable description of what a valid row (and a
 * valid dataset) looks like, compiled ONCE into reusable Catalyst
 * expressions and evaluated MANY times. Each constraint carries a stable
 * `id`, the analogue of the reference's `evaluatePath`
 * (`ValidationError.java:6-22`).
 *
 * Row-local constraints mirror the JSON Schema keyword families the
 * reference demonstrably supports (see SURVEY.md §2.B, evidenced by
 * `Draft2020Runner.java:55-103`); dataset-level constraints (uniqueness,
 * referential integrity, distribution drift) are the Spark-native
 * generalizations mandated by the north rule — they have no per-document
 * analogue in the reference.
 *
 * Column scoping: `col` is a column name or nested field path
 * (`a.b.c`). Inside an array scope ([[EachElement]], [[ContainsCount]],
 * [[PrefixItems]]) the pseudo-column `"$"` refers to the scoped element,
 * letting the same ADT express element subschemas (the `items` /
 * `contains` keyword pattern).
 */
sealed trait Constraint {
  /** Stable identifier — lands in violation rows as `constraint_id`. */
  def id: String
}

object Constraint {

  /** A row-local constraint on one column `col`. Its subschemas, if any,
    * apply one container level down: to an element, key or value of
    * `col`, bound as `"$"`. Dataset-level kinds, [[SizeConsistency]] and
    * [[ExprIs]] are not `OnColumn`. */
  sealed trait OnColumn extends Constraint { def col: String }

  // ----------------------------------------------------------------
  // Row-local leaf constraints (JSON Schema keyword analogues)
  // ----------------------------------------------------------------

  /** `required` / NOT NULL (reference: `required`, Draft2020Runner.java:100). */
  final case class NotNull(id: String, col: String) extends OnColumn

  /** `enum` — value ∈ declared set (Draft2020Runner.java:75). Values are
    * compared after casting the column to string, so they serialize
    * uniformly. */
  final case class IsIn(id: String, col: String, values: Seq[String])
      extends OnColumn

  /** `const` — value == literal (Draft2020Runner.java:68). Null-safe. */
  final case class ConstEq(id: String, col: String, value: String)
      extends OnColumn

  /** `minimum`/`maximum`/`exclusiveMinimum`/`exclusiveMaximum`
    * (Draft2020Runner.java:83-88). Either bound optional. */
  final case class Bounds(
      id: String,
      col: String,
      min: Option[BigDecimal] = None,
      max: Option[BigDecimal] = None,
      exclusiveMin: Boolean = false,
      exclusiveMax: Boolean = false)
      extends OnColumn

  /** `multipleOf` (Draft2020Runner.java:92). Tolerance-aware for doubles. */
  final case class MultipleOf(id: String, col: String, k: BigDecimal)
      extends OnColumn

  /** `minLength`/`maxLength` — string length in codepoints
    * (Draft2020Runner.java:85,90). */
  final case class LengthBounds(
      id: String, col: String, min: Option[Int], max: Option[Int])
      extends OnColumn

  /** `pattern` — unanchored regex match (Draft2020Runner.java:95).
    * Java regex dialect; ECMA-262 deltas documented in SURVEY.md §7.4. */
  final case class Matches(id: String, col: String, pattern: String)
      extends OnColumn

  /** `format` (Draft2020Runner.java:78). Annotation-only unless
    * `strict` — matching the reference's default where format does not
    * affect validity (`DetailedValidationTest.java:287`). Strict formats
    * supported: `date`, `date-time`, `time`, `duration`, `email`,
    * `uuid`, `uri`, `ipv4`, `ipv6`, `hostname`, `json-pointer`. */
  final case class FormatIs(
      id: String, col: String, format: String, strict: Boolean = false)
      extends OnColumn

  // ----------------------------------------------------------------
  // Array constraints (the core ones for tokens: array<int32>)
  // ----------------------------------------------------------------

  /** `minItems`/`maxItems` — array size bounds (Draft2020Runner.java:84,89). */
  final case class SizeBounds(
      id: String, col: String, min: Option[Int], max: Option[Int])
      extends OnColumn

  /** `uniqueItems` (Draft2020Runner.java:60). */
  final case class UniqueItems(id: String, col: String) extends OnColumn

  /** `items` — every element satisfies the subschema
    * (Draft2020Runner.java:81). `elem.col` must be `"$"`. */
  final case class EachElement(id: String, col: String, elem: Constraint)
      extends OnColumn

  /** `contains`/`minContains`/`maxContains` (Draft2020Runner.java:69,82,87):
    * the count of elements matching `elem` is within [minCount, maxCount]. */
  final case class ContainsCount(
      id: String,
      col: String,
      elem: Constraint,
      minCount: Int = 1,
      maxCount: Option[Int] = None)
      extends OnColumn

  /** `prefixItems` — positional element subschemas (Draft2020Runner.java:97).
    * Absent positions (array shorter than the prefix) pass, per spec. */
  final case class PrefixItems(
      id: String, col: String, elems: Seq[Constraint])
      extends OnColumn

  /** `additionalItems` (Draft 4-2019) / `items`-after-`prefixItems`
    * (2020-12): every element from 0-based position `startIdx` on
    * satisfies the subschema. */
  final case class EachElementFrom(
      id: String, col: String, startIdx: Int, elem: Constraint)
      extends OnColumn

  // ----------------------------------------------------------------
  // Object (map-typed column) constraints — the `*Properties` keywords
  // bound to MapType columns (struct fields are static, SURVEY.md §2.B)
  // ----------------------------------------------------------------

  /** `additionalProperties: false` with an allowlist — every key of the
    * map column is in `allowed`. */
  final case class KeysIn(id: String, col: String, allowed: Seq[String])
      extends OnColumn

  /** `minProperties`/`maxProperties` — key-count bounds. */
  final case class KeyCountBounds(
      id: String, col: String, min: Option[Int], max: Option[Int])
      extends OnColumn

  /** `propertyNames` — every key satisfies the subschema (`elem.col`
    * must be `"$"`, bound to the key string). */
  final case class EachKey(id: String, col: String, elem: Constraint)
      extends OnColumn

  /** `properties` for a map column: the value at `key` (when present)
    * satisfies the subschema (`elem.col` must be `"$"`). Absent keys
    * pass — presence is [[KeyCountBounds]]/[[NotNull]]'s job, per
    * keyword applicability. (Reference: `properties`,
    * Draft2020Runner.java:98 — struct columns get this statically via
    * nested paths; this node is the dynamic-map form.) */
  final case class PropertyValues(
      id: String, col: String, key: String, elem: Constraint)
      extends OnColumn

  /** `patternProperties` for a map column: values of every key matching
    * `keyPattern` (unanchored regex) satisfy the subschema
    * (Draft2020Runner.java:96). Lowered to
    * `forall(map_values(map_filter(m, (k,_) => k rlike p)), …)`. */
  final case class PatternValues(
      id: String, col: String, keyPattern: String, elem: Constraint)
      extends OnColumn

  /** `unevaluatedItems` (Draft2020Runner.java:57): elements NOT covered
    * by sibling `prefixItems`/`items`(-after-prefix) constraints on the
    * same column satisfy the subschema. Coverage is computed at COMPILE
    * time over the static DSL tree (AllOf-transparent; conditional
    * branches — anyOf/oneOf/ifThen — and `contains` matches do not
    * contribute coverage, a conservative static approximation of the
    * annotation-flow semantics; cf. the reference's own skip list,
    * Draft2020Runner.java:196-201). */
  final case class UnevaluatedItems(id: String, col: String, elem: Constraint)
      extends OnColumn

  /** `unevaluatedProperties` (Draft2020Runner.java:58): values of map
    * keys NOT covered by sibling [[PropertyValues]] keys,
    * [[PatternValues]] patterns, or a [[KeysIn]] allowlist (which
    * evaluates every key, like `additionalProperties`) satisfy the
    * subschema. Same compile-time static coverage rules as
    * [[UnevaluatedItems]]; `propertyNames` ([[EachKey]]) does NOT
    * contribute coverage, per 2020-12 annotation semantics. The
    * `coveredKeys`/`coveredPatterns` fields are filled by the compiler's
    * coverage pass — leave empty when authoring. */
  final case class UnevaluatedProperties(
      id: String, col: String, elem: Constraint,
      coveredKeys: Seq[String] = Nil,
      coveredPatterns: Seq[String] = Nil)
      extends OnColumn

  /** `type` — the value parses as the declared JSON-ish type. For
    * statically typed columns this is enforced by the table schema; the
    * dynamic form checks a STRING column's content (`integer` ⊂
    * `number`, per the suite's type.json). Types: `integer`, `number`,
    * `boolean`, `string`. */
  final case class TypeIs(id: String, col: String, tpe: String)
      extends OnColumn

  // ----------------------------------------------------------------
  // Cross-column / escape hatch
  // ----------------------------------------------------------------

  /** Declared-length consistency: `intCol == size(arrCol)` — the
    * `input_hint` invariant `n_tok == size(tokens)`. A string `intCol`
    * compares its numeric content by value ("2.0" holds for two
    * elements); other content is a violation on both engines. */
  final case class SizeConsistency(id: String, intCol: String, arrCol: String)
      extends Constraint

  /** Escape hatch: arbitrary boolean SQL expression over the row.
    * `observed` is an optional SQL expression rendered into the
    * violation's `observed` field (defaults to the predicate text). */
  final case class ExprIs(
      id: String,
      predicateSql: String,
      observedSql: Option[String] = None,
      expected: String = "")
      extends Constraint

  // ----------------------------------------------------------------
  // Applicators / combinators (Draft2020Runner.java:64,66,93,94,79,67)
  // ----------------------------------------------------------------

  final case class AllOf(id: String, cs: Seq[Constraint]) extends Constraint
  final case class AnyOf(id: String, cs: Seq[Constraint]) extends Constraint
  /** exactly-one-of */
  final case class OneOf(id: String, cs: Seq[Constraint]) extends Constraint
  final case class Not(id: String, c: Constraint) extends Constraint
  final case class IfThen(
      id: String,
      cond: Constraint,
      thenC: Constraint,
      elseC: Option[Constraint] = None)
      extends Constraint
  /** Boolean schema `true`/`false` (boolean_schema.json). */
  final case class BoolSchema(id: String, value: Boolean) extends Constraint

  /** `$ref` — named suite lookup in the [[graft.registry.ConstraintRegistry]],
    * inlined at compile time with cycle detection (reference resolves refs
    * at compile: `BlazeWrapper.java:253-281`; cycle evidence:
    * `infinite-loop-detection.json`, Draft2020Runner.java:80). */
  final case class Ref(id: String, name: String) extends Constraint

  /** `$defs` — a named container of referenceable definitions. Children
    * are addressable as fragments (`#cid`, `suite#cid`) exactly like any
    * other constraint, but the container itself asserts NOTHING: top-level
    * `Defs` are dropped at compile time and nested ones lower to `true`
    * (2020-12 `$defs` likewise contributes no assertions of its own). */
  final case class Defs(id: String, cs: Seq[Constraint]) extends Constraint

  /** `$dynamicRef` — like [[Ref]], but the `#anchor` fragment re-resolves
    * against the DYNAMIC scope: the outermost suite entered on the way to
    * this reference that declares `anchor` in
    * [[ConstraintSuite.dynamicAnchors]] wins (2020-12 core §8.2.3.2,
    * exercised by the reference via `dynamicRef.json`,
    * Draft2020Runner.java:62). Because this compiler resolves refs by
    * static inlining, the dynamic scope at every inline site IS the
    * statically-known chain of entered suites, so the override semantics
    * compile exactly; bookending applies (a lexical target that does not
    * DECLARE the anchor dynamic degrades this to a plain [[Ref]]).
    * 2019-09's `$recursiveRef`/`$recursiveAnchor` is the special case of a
    * single distinguished anchor name. A recursive chain unrolls as
    * [[Ref]] chains do (`ConstraintCompiler.MaxUnroll` levels, when each
    * round crosses a container boundary; a cycle error otherwise). */
  final case class DynamicRef(id: String, name: String) extends Constraint

  // ----------------------------------------------------------------
  // Dataset-level constraints (north-rule extensions, SURVEY.md §2.C)
  // ----------------------------------------------------------------

  /** Table-scope uniqueness of a key column (C3): hash-first two-phase
    * aggregate; every duplicated key value becomes one violation. */
  final case class Unique(id: String, col: String) extends Constraint

  /** Referential integrity (C4): `col` values must exist in
    * `dimName.dimCol` (dimension resolved at validate time; its distinct
    * keys are collected once and tested with one `InSet`). */
  final case class RefIntegrity(
      id: String, col: String, dimName: String, dimCol: String)
      extends Constraint

  /** Distribution drift (C5): per-partition histogram of `col` (fixed
    * [lo, hi) range, `buckets` equal-width bins) compared against the
    * global distribution; partitions whose divergence exceeds `threshold`
    * fail. `metric` ∈ {"psi", "kl"}. Partitions with fewer than `minRows`
    * rows are skipped — a handful of samples cannot evidence drift. */
  final case class NoDrift(
      id: String,
      col: String,
      lo: Double,
      hi: Double,
      buckets: Int,
      metric: String,
      threshold: Double,
      minRows: Long = 100L)
      extends Constraint

  /** Token-histogram drift (C5b): the distribution of ARRAY ELEMENTS of
    * `col` (bucketed `pmod(element, buckets)`) per partition vs the
    * global distribution, PSI/KL like [[NoDrift]]. The north star's
    * second drift target ("n_tok AND token histograms"). `minCount` is
    * the per-partition support floor in elements. */
  final case class NoArrayDrift(
      id: String,
      col: String,
      buckets: Int,
      metric: String,
      threshold: Double,
      minCount: Long = 100L)
      extends Constraint

  // ----------------------------------------------------------------
  // The tree's shape: every pass over a suite goes through these
  // ----------------------------------------------------------------

  /** `c` with `f` applied to each direct subconstraint, in declaration
    * order (an [[IfThen]]'s condition, then, else); every other field is
    * kept. A leaf is returned as it is. The one place that lists the
    * tree's shape. */
  def mapChildren(c: Constraint)(f: Constraint => Constraint): Constraint =
    c match {
      case x: AllOf                 => x.copy(cs = x.cs.map(f))
      case x: AnyOf                 => x.copy(cs = x.cs.map(f))
      case x: OneOf                 => x.copy(cs = x.cs.map(f))
      case x: Defs                  => x.copy(cs = x.cs.map(f))
      case x: Not                   => x.copy(c = f(x.c))
      case IfThen(id, i, t, e)      => IfThen(id, f(i), f(t), e.map(f))
      case x: EachElement           => x.copy(elem = f(x.elem))
      case x: EachElementFrom       => x.copy(elem = f(x.elem))
      case x: EachKey               => x.copy(elem = f(x.elem))
      case x: ContainsCount         => x.copy(elem = f(x.elem))
      case x: PrefixItems           => x.copy(elems = x.elems.map(f))
      case x: PropertyValues        => x.copy(elem = f(x.elem))
      case x: PatternValues         => x.copy(elem = f(x.elem))
      case x: UnevaluatedItems      => x.copy(elem = f(x.elem))
      case x: UnevaluatedProperties => x.copy(elem = f(x.elem))
      case leaf                     => leaf
    }

  /** The direct subconstraints of `c`, in [[mapChildren]]'s order. */
  def children(c: Constraint): Seq[Constraint] = {
    val out = Seq.newBuilder[Constraint]
    mapChildren(c) { x => out += x; x }
    out.result()
  }

  /** Walk the tree depth-first, `c` before its children. */
  def walk(c: Constraint)(f: Constraint => Unit): Unit = {
    f(c); children(c).foreach(walk(_)(f))
  }

  /** The first constraint of [[walk]]'s order that satisfies `p`. */
  def find(c: Constraint)(p: Constraint => Boolean): Option[Constraint] =
    if (p(c)) Some(c) else children(c).view.flatMap(find(_)(p)).headOption

  /** A dataset-level kind: checked over the whole table, never per row. */
  def isDataset(c: Constraint): Boolean = c match {
    case _: Unique | _: RefIntegrity | _: NoDrift | _: NoArrayDrift => true
    case _                                                          => false
  }
}

/**
 * A named set of constraints — the unit of compilation, mirroring one
 * JSON Schema document. `id` doubles as the registry key ($id).
 * `dynamicAnchors` lists the constraint ids this suite exposes as
 * `$dynamicAnchor`s — candidates for [[Constraint.DynamicRef]] override
 * resolution (a plain fragment ref ignores the flag).
 */
final case class ConstraintSuite(
    id: String,
    constraints: Seq[Constraint],
    dynamicAnchors: Seq[String] = Nil)
