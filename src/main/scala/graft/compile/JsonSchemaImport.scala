package graft.compile

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

import graft.dsl.Constraint._
import graft.dsl.{Constraint, ConstraintSuite}

/**
 * Import an actual JSON Schema document into a [[ConstraintSuite]] — the
 * bridge that lets a user of the reference validator run their EXISTING
 * schema documents against tables: the reference's compile() input is a
 * JSON Schema string (SchemaCompiler.java:38-40), and this translates
 * the table-expressible subset of that language onto the DSL, mapping
 * the schema's top-level `properties` onto columns.
 *
 * Path model: a root schema must describe a record (`type: "object"`
 * with `properties`); property `p` maps to column `p`, nested fixed
 * objects map to struct paths `p.q`, array element subschemas map to
 * the element scope `$` (fields of record elements: `$.q`). An object
 * subschema whose keywords imply OPEN keys (`patternProperties`,
 * `propertyNames`, `additionalProperties`, `minProperties`,
 * `maxProperties`) targets a `map<string,string>` column and lowers to
 * the map-flavored operators; otherwise it is struct-flavored and
 * recurses into fixed paths.
 *
 * Dialect interop (the translation concern the compiler scaladoc
 * assigns here): draft-4's BOOLEAN `exclusiveMinimum`/`exclusiveMaximum`
 * modifying `minimum`/`maximum`, draft-4's `id` (both the base-URI form
 * and the plain-fragment anchor form), draft-4/6/7's merged
 * `dependencies` (array entries ≙ `dependentRequired`, schema entries ≙
 * `dependentSchemas`), draft-7's array-form `items` +
 * `additionalItems`, and 2020-12's `prefixItems` + schema-form `items`
 * all lower to the same operator set.
 *
 * Reference resolution is full 2020-12 URI semantics: every document
 * (the root, each `remotes` entry, every embedded subschema with its
 * own `$id` — resolved against the nearest parent base, RFC 3986) is
 * indexed by absolute URI; `$ref` fragments may be RFC 6901 JSON
 * pointers (`~0`/`~1`/percent escapes, array indexes, arbitrary
 * keyword locations) or `$anchor`/`$dynamicAnchor` names scoped to
 * their enclosing `$id`. Targets are resolved then INLINED at the
 * reference site — JSON Schema definitions are location-independent,
 * so the same def lands on whatever path the ref site sits at; nested
 * refs inside a target resolve against the TARGET document's base.
 * Unresolvable refs name the unknown document/anchor/pointer and the
 * known document set. RECURSIVE refs that consume instance nesting (the ref
 * re-enters below a container/property boundary) unroll to
 * `ConstraintCompiler.MaxUnroll` levels and then take the compiler's
 * fail-closed `cut` (deeper instances are invalid, never
 * silently accepted); a ref re-entered at the same instance depth
 * cannot terminate and raises a descriptive error. `$dynamicRef`
 * resolves like `$ref` here (a single imported document has the trivial
 * dynamic scope; cross-suite override chains use the DSL's DynamicRef
 * directly). Annotation keywords are ignored; any UNRECOGNIZED
 * assertion keyword raises ImportException naming it — silent partial
 * enforcement is how validators lie.
 */
object JsonSchemaImport {

  final class ImportException(msg: String) extends RuntimeException(msg)

  private val mapper = new ObjectMapper()

  /** Keywords that are annotations / structure we already consumed /
    * intentionally out of assertion scope for a table importer. */
  private val Ignored = Set(
    "$schema", "$id", "id", "$comment", "$vocabulary", "title",
    "description", "default", "examples", "deprecated", "readOnly",
    "writeOnly", "contentMediaType", "contentEncoding", "contentSchema",
    "$defs", "definitions", "$anchor", "$dynamicAnchor",
    "$recursiveAnchor")

  /** Keyword values that hold DATA, not subschemas — identifier
    * indexing must not descend into them. */
  private val DataKeys = Set("enum", "const", "default", "examples")

  private val Handled = Set(
    "type", "enum", "const", "minimum", "maximum", "exclusiveMinimum",
    "exclusiveMaximum", "multipleOf", "minLength", "maxLength", "pattern",
    "format", "items", "prefixItems", "additionalItems", "minItems",
    "maxItems", "uniqueItems", "contains", "minContains", "maxContains",
    "properties", "required", "patternProperties", "propertyNames",
    "additionalProperties", "minProperties", "maxProperties",
    "dependentRequired", "dependentSchemas", "allOf", "anyOf", "oneOf",
    "not", "if", "then", "else", "$ref", "$dynamicRef", "$recursiveRef",
    "unevaluatedItems", "unevaluatedProperties", "dependencies")

  /** Synthetic base URI for a root document without an absolute `$id`
    * — relative `$id`s and refs still rebase correctly against it. */
  private val DefaultBase = "https://graft.invalid/root.json"

  private def stripFrag(uri: String): String = {
    val i = uri.indexOf('#'); if (i < 0) uri else uri.substring(0, i)
  }

  /** Canonical document key: fragment stripped, empty authority
    * collapsed — `URI.resolve` renders "file:///x" as "file:/x", so
    * both spellings must map to one key. */
  private def canonDoc(uri: String): String = {
    val u = stripFrag(uri)
    try {
      val p = new java.net.URI(u)
      if (p.isOpaque || p.getScheme == null) u
      else new java.net.URI(p.getScheme,
        Option(p.getAuthority).filter(_.nonEmpty).orNull,
        p.getPath, p.getQuery, null).toString
    } catch { case _: Exception => u }
  }

  /** RFC 3986 relative resolution with a plain-string fallback for
    * opaque bases (urn:…), which `java.net.URI.resolve` cannot join. */
  private def resolveUri(base: String, ref: String): String =
    try {
      val r = new java.net.URI(base).resolve(ref).toString
      // resolve() against an OPAQUE base returns ref unchanged even
      // for "#frag" — re-attach the base document by hand
      if (ref.startsWith("#") && !r.contains(':')
          || (ref.startsWith("#") && r == ref)) stripFrag(base) + ref
      else r
    } catch {
      case _: Exception =>
        if (ref.startsWith("#")) stripFrag(base) + ref else ref
    }

  /** Fragment of an absolute URI reference, %-decoded; None when
    * absent. */
  private def fragOf(uri: String): Option[String] = {
    val i = uri.indexOf('#')
    if (i < 0) None
    else Some(try {
      val f = new java.net.URI(uri).getFragment
      if (f == null) uri.substring(i + 1) else f
    } catch { case _: Exception => uri.substring(i + 1) })
  }

  /**
   * Columns are typed: a numeric keyword on a string column checks the
   * content's number and fails non-numeric content, as the doc engine
   * does (a table column holds one kind of value).
   *
   * @param remotes remote schema documents keyed by the absolute URI
   *        they are addressable under — the official suite's
   *        `http://localhost:1234/…` registry shape. A document's own
   *        absolute `$id` (and every embedded subschema `$id`,
   *        resolved against its parent base) is indexed too, so
   *        `$id`-rebased refs, JSON-pointer fragments
   *        (`uri#/$defs/x`, `#/properties/p`) and cross-document
   *        anchors (`uri#anchorName`) all resolve.
   */
  def translate(schemaJson: String, suiteId: String = null,
      remotes: Map[String, String] = Map.empty): ConstraintSuite = {
    val root =
      try mapper.readTree(schemaJson)
      catch {
        case e: Exception =>
          throw new ImportException(s"invalid JSON: ${e.getMessage}")
      }
    if (!root.isObject)
      throw new ImportException(
        "root schema must be an object describing a record")
    val id = Option(suiteId)
      .orElse(Option(root.get("$id")).map(_.asText()))
      .getOrElse("imported")

    // --- document environment: every addressable document / embedded
    // $id subschema by absolute URI, anchors scoped to their nearest
    // enclosing $id
    val docs = scala.collection.mutable.Map[String, JsonNode]()
    val anchors = scala.collection.mutable.Map[(String, String), JsonNode]()
    // 2020-12 bookending needs to know which anchors were declared
    // DYNAMIC ($dynamicAnchor, not $anchor) — same (docUri, name) key
    val dynAnchors = scala.collection.mutable.Set[(String, String)]()
    // 2019-09: schema resources whose ROOT carries `$recursiveAnchor:
    // true` — the candidates a `$recursiveRef: "#"` can rebind to
    val recursiveHeads = scala.collection.mutable.Set[String]()
    def markRecursiveHead(n: JsonNode, docUri: String): Unit =
      if (Option(n.get("$recursiveAnchor")).exists(a =>
          a.isBoolean && a.asBoolean())) recursiveHeads += docUri
    def indexDoc(node: JsonNode, baseUri: String): Unit = {
      docs.getOrElseUpdate(canonDoc(baseUri), node)
      markRecursiveHead(node, canonDoc(baseUri))
      def walk(n: JsonNode, b: String): Unit =
        if (n.isObject) {
          // draft-4 spells the keyword `id`; a plain-fragment id
          // ("id": "#name") is that draft's location-independent
          // anchor, not a base change
          val idOf = Option(n.get("$id")).orElse(Option(n.get("id")))
            .filter(_.isTextual).map(_.asText())
          idOf.filter(i => i.startsWith("#") && !i.contains('/'))
            .foreach(i => anchors((b, i.drop(1))) = n)
          val nb = idOf.filterNot(_.startsWith("#"))
            .map(i => canonDoc(resolveUri(b, i))).getOrElse(b)
          if (nb != b) { docs.getOrElseUpdate(nb, n); markRecursiveHead(n, nb) }
          Seq("$anchor", "$dynamicAnchor").foreach(k =>
            Option(n.get(k)).filter(_.isTextual)
              .foreach { a =>
                anchors((nb, a.asText())) = n
                if (k == "$dynamicAnchor") dynAnchors += ((nb, a.asText()))
              })
          n.properties().asScala
            // enum/const/default/examples hold DATA, not schemas — an
            // "$id"/"$anchor" key inside them is not an identifier
            .filterNot(e => DataKeys.contains(e.getKey))
            .foreach(e => walk(e.getValue, nb))
        } else if (n.isArray) n.elements().asScala.foreach(walk(_, b))
      walk(node, baseUri)
    }
    val rootBase = Option(root.get("$id"))
      .orElse(Option(root.get("id"))).filter(_.isTextual)
      .map(i => canonDoc(resolveUri(DefaultBase, i.asText())))
      .getOrElse(DefaultBase)
    indexDoc(root, rootBase)
    remotes.foreach { case (uri, js) =>
      val node =
        try mapper.readTree(js)
        catch {
          case e: Exception => throw new ImportException(
            s"invalid JSON in remote schema '$uri': ${e.getMessage}")
        }
      indexDoc(node, canonDoc(uri))
    }

    /** Resolve a `$ref` against the CURRENT base URI → (target node,
      * target document's base). Supports same/cross-document JSON
      * pointers, plain anchors, and whole-document refs. */
    def resolveRef(ref: String, base: String): (JsonNode, String) = {
      val abs = resolveUri(base, ref)
      val docUri = canonDoc(abs) match {
        case "" => canonDoc(base)
        case u  => u
      }
      val doc = docs.getOrElse(docUri, throw new ImportException(
        s"unresolvable ref '$ref' — unknown document '$docUri' " +
          s"(known documents: ${docs.keys.toSeq.sorted.mkString(", ")}; " +
          "pass remote schemas via translate(..., remotes = Map(uri -> json)))"))
      fragOf(abs) match {
        case None | Some("") => (doc, docUri)
        case Some(p) if p.startsWith("/") =>
          // Jackson's at() implements RFC 6901 incl. ~0/~1 escapes
          val t = doc.at(p)
          if (t.isMissingNode) throw new ImportException(
            s"unresolvable ref '$ref' — JSON pointer '$p' has no " +
              s"target in document '$docUri'")
          (t, docUri)
        case Some(a) =>
          (anchors.getOrElse((docUri, a), throw new ImportException(
            s"unresolvable ref '$ref' — no \\$$anchor '$a' in " +
              s"document '$docUri'")), docUri)
      }
    }

    var n = 0
    def fresh(path: String, kw: String): String = {
      n += 1; s"${if (path.isEmpty) "row" else path}.$kw.$n"
    }

    def num(node: JsonNode, f: String): Option[BigDecimal] =
      Option(node.get(f)).filter(_.isNumber)
        .map(v => BigDecimal(v.decimalValue()))
    def int(node: JsonNode, f: String): Option[Int] =
      Option(node.get(f)).filterNot(_.isNull).map(_.asInt())

    /** True when the object subschema's keywords imply open keys — the
      * map<string,string>-column flavor. `properties` +
      * `additionalProperties` alone is the standard CLOSED-struct idiom
      * and stays struct-flavored (a fixed struct cannot carry
      * additional fields, so the keyword is structural there). */
    def mapFlavored(s: JsonNode): Boolean =
      Seq("patternProperties", "propertyNames",
        "minProperties", "maxProperties",
        // unevaluatedProperties is about ARBITRARY keys — on a fixed
        // struct there is nothing unevaluated (the ROW level refuses
        // it), so its presence marks the map flavor
        "unevaluatedProperties").exists(s.has) ||
        (s.has("additionalProperties") && !s.has("properties"))

    def allOfWrap(path: String, cs: Seq[Constraint]): Constraint = cs match {
      case Seq(one) => one
      case many     => AllOf(fresh(path, "group"), many)
    }

    /** True when the lowered constraint can FAIL on an absent value.
      * Monotone leaves pass-on-null, so a property subschema built from
      * them is vacuously satisfied when the property is missing — the
      * JSON-Schema applicability rule — for free. `not` and `oneOf`
      * INVERT that (absent → inner passes → negation fails; several
      * vacuously-true oneOf branches → count ≠ 1), and a `false` schema
      * has no column to anchor on; those need an explicit presence
      * guard. */
    def absentUnsafe(c: Constraint): Boolean = Constraint.find(c) {
      case _: Not | _: OneOf | BoolSchema(_, false) => true
      case _                                        => false
    }.isDefined
    def presenceGuard(col: String, c: Constraint): Constraint =
      if (absentUnsafe(c))
        IfThen(fresh(col, "appliesIfPresent"),
          NotNull(fresh(col, "present"), col), c)
      else c

    // The DYNAMIC SCOPE of the lowering walk: the chain of schema
    // resources entered along the current inline path, outermost
    // first. Static inlining makes this stack at each inline site
    // exactly the runtime dynamic scope of that evaluation path, so
    // 2020-12 `$dynamicRef` bookending and 2019-09 `$recursiveRef`
    // rebinding resolve per-site with plain list search (the official
    // suite's "not predictable at schema compile time" cases become
    // predictable per inlined path).
    val dynScope = scala.collection.mutable.ListBuffer[String]()

    /** Lower subschema `s` applied at column path `path` ("" = the row:
      * only object-with-properties is meaningful there). `refs` tracks
      * in-flight `$ref` inlining as name → (instance depth at last
      * entry, entries so far); `depth` counts instance-nesting
      * boundaries crossed (element scopes and struct property drills).
      * Re-entering a ref at the SAME depth consumes no instance nesting
      * — genuinely unbounded, refused; re-entry deeper UNROLLS up to
      * `ConstraintCompiler.MaxUnroll`, then takes the compiler's
      * fail-closed `cut` (data nested past the budget is invalid, never
      * silently accepted). `pol` is the position's polarity, as in
      * `ConstraintCompiler.cut`. */
    def lower(s: JsonNode, path: String,
        refs: Map[String, (Int, Int)], depth: Int,
        pol: Int, base: String): Seq[Constraint] = {
      if (s.isBoolean)
        return if (s.asBoolean()) Nil
        else Seq(BoolSchema(fresh(path, "false"), value = false))
      if (!s.isObject)
        throw new ImportException(s"schema at '$path' must be an object " +
          s"or boolean, got: $s")
      // an embedded $id (draft-4: id) REBASES every ref inside this
      // subschema — the same resolution the indexing walk applied
      // (plain-fragment draft-4 ids are anchors, not base changes)
      val curBase = Option(s.get("$id")).orElse(Option(s.get("id")))
        .filter(_.isTextual).map(_.asText()).filterNot(_.startsWith("#"))
        .map(i => canonDoc(resolveUri(base, i))).getOrElse(base)
      val enteredResource = !dynScope.lastOption.contains(canonDoc(curBase))
      if (enteredResource) dynScope += canonDoc(curBase)
      try lowerBody(s, path, refs, depth, pol, curBase)
      finally if (enteredResource) dynScope.remove(dynScope.size - 1)
    }

    def lowerBody(s: JsonNode, path: String,
        refs: Map[String, (Int, Int)], depth: Int,
        pol: Int, curBase: String): Seq[Constraint] = {
      s.fieldNames().asScala.foreach { k =>
        if (!Handled.contains(k) && !Ignored.contains(k))
          throw new ImportException(
            s"unsupported keyword '$k' at '$path' — refusing to " +
              "silently under-enforce the schema")
      }
      val out = Seq.newBuilder[Constraint]

      // ---- $ref / $dynamicRef / $recursiveRef: inline at this path ---
      Seq("$ref", "$dynamicRef", "$recursiveRef").foreach { kw =>
        Option(s.get(kw)).foreach { r =>
          // cycle/unroll tracking keys on the ABSOLUTE form of the
          // EFFECTIVE target, so the same target reached via different
          // spellings (relative ref, rebased ref, pointer, rebound
          // dynamic ref) is one ref, not several
          val ref = kw match {
            case "$recursiveRef" =>
              // 2019-09: value must be "#"; resolves to the current
              // resource root UNLESS that root carries
              // `$recursiveAnchor: true`, in which case it rebinds to
              // the OUTERMOST resource in the dynamic scope that also
              // does (spec §8.2.4.2.1)
              if (r.asText() != "#") throw new ImportException(
                s"invalid \\$$recursiveRef '${r.asText()}' at '$path' " +
                  "— 2019-09 only allows the value '#'")
              val staticDoc = canonDoc(curBase)
              val effDoc =
                if (recursiveHeads.contains(staticDoc))
                  dynScope.find(recursiveHeads.contains)
                    .getOrElse(staticDoc)
                else staticDoc
              effDoc + "#"
            case "$dynamicRef" =>
              // 2020-12 bookending: a plain-anchor fragment whose
              // STATIC target was declared with `$dynamicAnchor`
              // rebinds to the OUTERMOST resource in the dynamic scope
              // declaring that dynamic anchor; otherwise (pointer
              // fragment, or the target is a plain `$anchor`) it
              // behaves exactly like `$ref` (spec §8.2.3.2)
              val abs = resolveUri(curBase, r.asText())
              val staticDoc = canonDoc(abs) match {
                case "" => canonDoc(curBase)
                case u  => u
              }
              fragOf(abs).filter(a => a.nonEmpty && !a.startsWith("/"))
                .filter(a => dynAnchors.contains((staticDoc, a)))
                .flatMap(a => dynScope.find(d => dynAnchors.contains((d, a)))
                  .map(d => s"$d#$a"))
                .getOrElse(abs)
            case _ => resolveUri(curBase, r.asText())
          }
          refs.get(ref) match {
            case Some((d, _)) if d == depth =>
              throw new ImportException(s"cyclic ref '$ref' with no " +
                "container boundary between entries — consumes no " +
                "instance nesting, cannot terminate")
            case Some((_, n)) if n >= ConstraintCompiler.MaxUnroll =>
              out += ConstraintCompiler.cut(pol, path,
                r => fresh(path, "depthCut" + r.capitalize),
                throw new ImportException(
                  s"recursive ref '$ref' exceeds the unroll budget " +
                    s"(${ConstraintCompiler.MaxUnroll}) inside a " +
                    "non-monotone context (oneOf/if-condition/bounded " +
                    "contains) — no fail-closed cut exists there"))
            case prior =>
              val n = prior.map(_._2).getOrElse(0)
              val (target, targetBase) = resolveRef(ref, curBase)
              out += allOfWrap(path, lower(target, path,
                refs + (ref -> (depth, n + 1)), depth, pol, targetBase))
          }
        }
      }

      // ---- type -----------------------------------------------------
      Option(s.get("type")).foreach { t =>
        val names =
          if (t.isArray) t.elements().asScala.map(_.asText()).toSeq
          else Seq(t.asText())
        val content = names.filter(
          Set("integer", "number", "boolean", "string"))
        // array/object/null are structural: the Spark column type (and
        // NotNull for required) already pins them
        if (content.nonEmpty && path.nonEmpty) {
          val ts = content.map(t2 => TypeIs(fresh(path, s"type_$t2"), path, t2))
          out += (if (ts.sizeIs == 1) ts.head
                  else AnyOf(fresh(path, "type"), ts))
        }
      }

      // ---- scalar assertions ---------------------------------------
      // JSON Schema compares enum/const numerics by VALUE, not lexeme
      // ("1.0" must match enum member 1, content-typed like typeIs):
      // numeric members lower to a content-is-number guard around a
      // point Bounds — via IfThen (CaseWhen), whose branch-evaluation
      // order Spark DOES guarantee (a plain And conjunction may be
      // split/reordered by the optimizer, re-exposing the ANSI
      // string-cast task failure on non-numeric content). else-false:
      // non-numeric content is a clean non-match. Non-scalar members
      // cannot be expressed against scalar columns and must refuse, not
      // silently become asText() === "".
      def memberEq(v: JsonNode, kw: String): Constraint =
        if (v.isNumber)
          IfThen(fresh(path, s"${kw}_num"),
            TypeIs(fresh(path, s"${kw}_isnum"), path, "number"),
            Bounds(fresh(path, s"${kw}_eq"), path,
              Some(BigDecimal(v.decimalValue())),
              Some(BigDecimal(v.decimalValue()))),
            Some(BoolSchema(fresh(path, s"${kw}_nonnum"), value = false)))
        else if (v.isTextual || v.isBoolean || v.isNull)
          ConstEq(fresh(path, kw), path, v.asText())
        else throw new ImportException(
          s"$kw member $v at '$path' is not scalar — object/array " +
            "values cannot be compared against a scalar column")

      Option(s.get("enum")).foreach { e =>
        val members = e.elements().asScala.toSeq
        if (members.forall(m => m.isTextual || m.isBoolean))
          out += IsIn(fresh(path, "enum"), path, members.map(_.asText()))
        else
          out += AnyOf(fresh(path, "enum"),
            members.map(memberEq(_, "enum")))
      }
      Option(s.get("const")).foreach(c => out += memberEq(c, "const"))

      // minimum/maximum and NUMERIC exclusiveMinimum/Maximum are
      // independent assertions in 2020-12 (both can appear and both
      // bind); only the draft-4 BOOLEAN form modifies minimum/maximum
      val exMinB = Option(s.get("exclusiveMinimum")).exists(_.isBoolean)
      val exMaxB = Option(s.get("exclusiveMaximum")).exists(_.isBoolean)
      val mn = num(s, "minimum")
      val mx = num(s, "maximum")
      if (mn.isDefined || mx.isDefined)
        out += Bounds(fresh(path, "bounds"), path, mn, mx,
          exMinB && s.get("exclusiveMinimum").asBoolean(),
          exMaxB && s.get("exclusiveMaximum").asBoolean())
      if (!exMinB || !exMaxB) {
        val emn = if (exMinB) None else num(s, "exclusiveMinimum")
        val emx = if (exMaxB) None else num(s, "exclusiveMaximum")
        if (emn.isDefined || emx.isDefined)
          out += Bounds(fresh(path, "xbounds"), path, emn, emx,
            emn.isDefined, emx.isDefined)
      }
      num(s, "multipleOf").foreach(k =>
        out += MultipleOf(fresh(path, "multipleOf"), path, k))

      if (s.has("minLength") || s.has("maxLength"))
        out += LengthBounds(fresh(path, "length"), path,
          int(s, "minLength"), int(s, "maxLength"))
      Option(s.get("pattern")).foreach(p =>
        out += Matches(fresh(path, "pattern"), path, p.asText()))
      Option(s.get("format")).foreach(f =>
        // 2020-12 default: format is an ANNOTATION; strict mode is the
        // DSL's opt-in (FormatIs(strict = true))
        out += FormatIs(fresh(path, "format"), path, f.asText(),
          strict = false))

      // a container keyword's subschema applies one instance level
      // down, to the element, value or key bound as `$`
      def below(sub: JsonNode, p: Int = pol): Constraint =
        allOfWrap("$", lower(sub, "$", refs, depth + 1, p, curBase))

      // ---- arrays ---------------------------------------------------
      if (s.has("minItems") || s.has("maxItems"))
        out += SizeBounds(fresh(path, "size"), path,
          int(s, "minItems"), int(s, "maxItems"))
      if (Option(s.get("uniqueItems")).exists(_.asBoolean(false)))
        out += UniqueItems(fresh(path, "unique"), path)

      val prefix: Seq[JsonNode] =
        Option(s.get("prefixItems")).filter(_.isArray)
          .orElse(Option(s.get("items")).filter(_.isArray)) // draft-7 form
          .map(_.elements().asScala.toSeq).getOrElse(Nil)
      if (prefix.nonEmpty)
        out += PrefixItems(fresh(path, "prefix"), path,
          prefix.map(below(_)))
      val tailSchema: Option[JsonNode] =
        Option(s.get("items")).filterNot(_.isArray)
          // draft-7 form: additionalItems binds ONLY alongside
          // array-form items (ignored otherwise, per the official suite)
          .orElse(Option(s.get("additionalItems"))
            .filter(_ => Option(s.get("items")).exists(_.isArray)))
      tailSchema.foreach { it =>
        val elem = below(it)
        out += (if (prefix.isEmpty) EachElement(fresh(path, "items"), path, elem)
                else EachElementFrom(fresh(path, "items"), path,
                  prefix.size, elem))
      }
      Option(s.get("contains")).foreach { c =>
        // a max-bounded contains is non-monotone in its element schema
        out += ContainsCount(fresh(path, "contains"), path,
          below(c, if (s.has("maxContains")) 0 else pol),
          int(s, "minContains").getOrElse(1), int(s, "maxContains"))
      }
      Option(s.get("unevaluatedItems")).foreach(u =>
        out += UnevaluatedItems(fresh(path, "unevalItems"), path, below(u)))

      // ---- objects --------------------------------------------------
      // draft-4/6/7 `dependencies` folds into the 2019+ split keywords:
      // an array entry is dependentRequired, a schema entry is
      // dependentSchemas
      val (depReqEntries, depSchemaEntries) = {
        def entries(k: String) = Option(s.get(k)).filter(_.isObject)
          .map(_.properties().asScala.toSeq).getOrElse(Nil)
        val (legacyReq, legacySchema) =
          entries("dependencies").partition(_.getValue.isArray)
        (entries("dependentRequired") ++ legacyReq,
          entries("dependentSchemas") ++ legacySchema)
      }
      val props = Option(s.get("properties")).filter(_.isObject)
      if (path.isEmpty && mapFlavored(s))
        throw new ImportException(
          "patternProperties/propertyNames/additionalProperties-" +
            "without-properties/minProperties/maxProperties at the ROW " +
            "level are not meaningful for a fixed table schema — " +
            "columns ARE the schema")
      val isMap = path.nonEmpty && mapFlavored(s)
      if (isMap) {
        props.foreach(_.properties().asScala.foreach { e =>
          // same applicability rule in the map flavor: a missing key
          // evaluates under a null `$` scope, so guard non-monotone
          // subschemas on key presence
          out += PropertyValues(fresh(path, s"prop_${e.getKey}"), path,
            e.getKey, presenceGuard("$", below(e.getValue)))
        })
        Option(s.get("patternProperties")).foreach(
          _.properties().asScala.foreach { e =>
            out += PatternValues(fresh(path, "patternProps"), path,
              e.getKey, below(e.getValue))
          })
        Option(s.get("propertyNames")).foreach { pn =>
          out += EachKey(fresh(path, "propNames"), path, below(pn))
        }
        Option(s.get("additionalProperties")).foreach { ap =>
          val covered = props.map(
            _.fieldNames().asScala.toSeq).getOrElse(Nil)
          val coveredPats = Option(s.get("patternProperties")).map(
            _.fieldNames().asScala.toSeq).getOrElse(Nil)
          if (ap.isBoolean && !ap.asBoolean()) {
            // keys matched by patternProperties are NOT "additional":
            // a plain allow-list only works when there are no patterns
            if (coveredPats.isEmpty)
              out += KeysIn(fresh(path, "keys"), path, covered)
            else
              out += UnevaluatedProperties(fresh(path, "keys"), path,
                BoolSchema(fresh(path, "never"), value = false),
                covered, coveredPats)
          } else if (!ap.isBoolean)
            out += UnevaluatedProperties(fresh(path, "addlProps"), path,
              below(ap), covered, coveredPats)
        }
        if (s.has("minProperties") || s.has("maxProperties"))
          out += KeyCountBounds(fresh(path, "keyCount"), path,
            int(s, "minProperties"), int(s, "maxProperties"))
        Option(s.get("required")).foreach(_.elements().asScala.foreach { r =>
          out += PropertyValues(fresh(path, s"req_${r.asText()}"), path,
            r.asText(), NotNull(fresh(path, "reqNN"), "$"))
        })
        // dependent*/unevaluatedProperties in the MAP flavor: these are
        // in Handled, so dropping them here would silently under-enforce
        // (the module's stated refuse-don't-lie contract). Presence of a
        // key = PropertyValues(key, NotNull($)) — for a map column a
        // null value IS the representation of an absent field.
        def presence(k: String): Constraint =
          PropertyValues(fresh(path, s"has_$k"), path, k,
            NotNull(fresh(path, "presNN"), "$"))
        depReqEntries.foreach { e =>
          val needed = e.getValue.elements().asScala
            .map(x => presence(x.asText())).toSeq
          out += IfThen(fresh(path, s"depReq_${e.getKey}"),
            presence(e.getKey), allOfWrap(path, needed))
        }
        depSchemaEntries.foreach { e =>
          out += IfThen(fresh(path, s"depSchema_${e.getKey}"),
            presence(e.getKey),
            allOfWrap(path, lower(e.getValue, path, refs, depth, pol, curBase)))
        }
        Option(s.get("unevaluatedProperties")).foreach { u =>
          // Static coverage: sibling properties/patternProperties, plus
          // those of allOf branches (recursively) — allOf branches
          // ALWAYS apply, so counting them is verdict-exact: when a
          // branch fails the instance fails regardless of coverage.
          // anyOf/oneOf/if-then coverage needs runtime annotation flow
          // and is deliberately NOT counted (conservative static
          // approximation; cf. reference skip list,
          // Draft2020Runner.java:196-201). The compiler's
          // resolveUnevaluated pass UNIONs in whatever sibling
          // PropertyValues/PatternValues it can see at the top level.
          def staticCoverage(n: JsonNode): (Seq[String], Seq[String]) = {
            val ks = Option(n.get("properties")).filter(_.isObject)
              .map(_.fieldNames().asScala.toSeq).getOrElse(Nil)
            val ps = Option(n.get("patternProperties")).filter(_.isObject)
              .map(_.fieldNames().asScala.toSeq).getOrElse(Nil)
            val nested = Option(n.get("allOf")).filter(_.isArray)
              .map(_.elements().asScala.toSeq).getOrElse(Nil)
              .map(staticCoverage)
            (ks ++ nested.flatMap(_._1), ps ++ nested.flatMap(_._2))
          }
          val (ck, cp) = staticCoverage(s)
          out += UnevaluatedProperties(fresh(path, "unevalProps"), path,
            below(u), ck.distinct, cp.distinct)
        }
      } else {
        def childPath(p: String): String =
          if (path.isEmpty) p else s"$path.$p"
        props.foreach(_.properties().asScala.foreach { e =>
          val child = childPath(e.getKey)
          out ++= lower(e.getValue, child, refs, depth + 1, pol, curBase)
            .map(presenceGuard(child, _))
        })
        // struct-flavor additionalProperties (alongside properties) is
        // structural: a fixed struct has no additional fields to reject
        Option(s.get("required")).foreach(_.elements().asScala.foreach { r =>
          val child = childPath(r.asText())
          // nested required applies only when the parent object is
          // PRESENT (JSON Schema applicability: a subschema does not
          // constrain an absent instance)
          out += (if (path.isEmpty)
            NotNull(fresh(child, "required"), child)
          else IfThen(fresh(child, "required"),
            NotNull(fresh(path, "present"), path),
            NotNull(fresh(child, "requiredNN"), child)))
        })
        depReqEntries.foreach { e =>
          val needed = e.getValue.elements().asScala.map(x =>
            NotNull(fresh(childPath(x.asText()), "depReq"),
              childPath(x.asText()))).toSeq
          out += IfThen(fresh(path, s"depReq_${e.getKey}"),
            NotNull(fresh(path, "depCond"), childPath(e.getKey)),
            allOfWrap(path, needed))
        }
        depSchemaEntries.foreach { e =>
          out += IfThen(fresh(path, s"depSchema_${e.getKey}"),
            NotNull(fresh(path, "depCond"), childPath(e.getKey)),
            allOfWrap(path, lower(e.getValue, path, refs, depth, pol, curBase)))
        }
        Option(s.get("unevaluatedProperties")).foreach { u =>
          if (path.isEmpty) throw new ImportException(
            "unevaluatedProperties at the ROW level is not meaningful " +
              "for a fixed table schema")
          out += UnevaluatedProperties(fresh(path, "unevalProps"), path, below(u))
        }
      }

      // ---- combinators ---------------------------------------------
      Option(s.get("allOf")).foreach(_.elements().asScala.foreach(sub =>
        out ++= lower(sub, path, refs, depth, pol, curBase)))
      Option(s.get("anyOf")).foreach { a =>
        out += AnyOf(fresh(path, "anyOf"), a.elements().asScala.map(sub =>
          allOfWrap(path, lower(sub, path, refs, depth, pol, curBase))).toSeq)
      }
      Option(s.get("oneOf")).foreach { o =>
        // exactly-one is non-monotone: a branch's truth can invalidate
        out += OneOf(fresh(path, "oneOf"), o.elements().asScala.map(sub =>
          allOfWrap(path, lower(sub, path, refs, depth, 0, curBase))).toSeq)
      }
      Option(s.get("not")).foreach(sub =>
        out += Not(fresh(path, "not"),
          allOfWrap(path, lower(sub, path, refs, depth, -pol, curBase))))
      Option(s.get("if")).foreach { i =>
        val thenC = Option(s.get("then"))
          .map(t => allOfWrap(path, lower(t, path, refs, depth, pol, curBase)))
          .getOrElse(BoolSchema(fresh(path, "thenTrue"), value = true))
        val elseC = Option(s.get("else"))
          .map(e => allOfWrap(path, lower(e, path, refs, depth, pol, curBase)))
        out += IfThen(fresh(path, "ifThen"),
          allOfWrap(path, lower(i, path, refs, depth, 0, curBase)), thenC, elseC)
      }

      out.result()
    }

    val cs = lower(root, "", Map.empty, 0, 1, rootBase)
    if (cs.isEmpty)
      throw new ImportException(
        "schema asserts nothing a table validator can enforce " +
          "(no properties/combinators found at the root)")
    ConstraintSuite(id, cs)
  }
}
