package graft.exec

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.compile.ConstraintCompiler
import graft.dsl.ConstraintSuite
import graft.exec.DocValidator.CompiledDocSuite
import graft.registry.ConstraintRegistry

/**
 * Distributed validation of a column of RAW JSON STRINGS — the
 * reference's literal instance shape (`BlazeValidator.java:14-16`: an
 * instance IS a JSON string) projected onto tables. A raw JSONL corpus
 * is the most common LLM-pipeline input; this is the operator that
 * validates it without a pre-parse ETL step.
 *
 * Two execution paths, chosen by what the caller knows:
 *
 *  - **Schema-free** ([[verdicts]]/[[violations]]): the suite is
 *    compiled ONCE on the driver ([[DocValidator.compile]] — the same
 *    resolved AST as the Catalyst engine) and shipped in the task
 *    closure; each task interprets it over Jackson trees at ~5 µs/doc.
 *    Embarrassingly parallel: one narrow projection, no shuffle, scales
 *    linearly to 10^12 rows. Handles documents whose shape is unknown
 *    or heterogeneous (map-flavored keys, mixed types).
 *  - **Schema-known** ([[violationsTyped]]): one `from_json` projection
 *    lowers the column onto typed columns, then the CATALYST engine
 *    validates (whole-stage codegen, short-circuit conjunction) — the
 *    scale path when the document shape is fixed.
 *
 * Malformed input is a VIOLATION, never a crash — the reference maps
 * any evaluation exception to `false` (`blaze_wrapper.cpp:140-146`);
 * here a row that fails to parse (or a NULL document) yields verdict
 * `false` / one violation against [[DocumentConstraint]].
 */
object JsonValidator {

  /** Synthetic constraint id charged for unparseable / NULL documents. */
  val DocumentConstraint = "_document"
  private val DocumentExpected = "a valid JSON document"

  /** `observed` for [[DocumentConstraint]] rows: the first 64 code
    * points of the raw text ("null" for a NULL document) — enough to
    * triage what arrived without widening violation rows at 10^12-row
    * scale. Both string paths render identically (code points, not UTF-16
    * units, matching Spark's `substring`). */
  private val DocumentObservedLen = 64
  private def truncDoc(js: String): String =
    if (js == null) "null"
    else if (js.codePointCount(0, js.length) <= DocumentObservedLen) js
    else js.substring(0, js.offsetByCodePoints(0, DocumentObservedLen))
  private def truncDocCol(js: org.apache.spark.sql.Column) =
    F.coalesce(F.substring(js, 1, DocumentObservedLen), F.lit("null"))

  def compile(suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty): CompiledDocSuite =
    DocValidator.compile(suite, registry)

  /** Fast boolean path: one verdict row per input row —
    * `(doc_id string, ok boolean)`. */
  def verdicts(df: DataFrame, idCol: String, jsonCol: String,
      compiled: CompiledDocSuite): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    pairs(df, idCol, jsonCol).mapPartitions { it =>
      // compiled suite deserialized once per task, reused per row —
      // the compile-once/validate-many contract at executor scope
      it.map { case (id, js) => (id, check(compiled, js)) }
    }.toDF("doc_id", "ok")
  }

  /** Detail path: `(doc_id, constraint_id, observed, expected)` — one
    * row per failing top-level constraint, with the compiler's own
    * `expected` rendering and the doc engine's `observed` mirror of
    * `observedOf` (identical text to the Catalyst engine's violations —
    * the north rule's four-field violation shape, the reference's
    * `ValidationError.message` carries the same observed value). */
  def violations(df: DataFrame, idCol: String, jsonCol: String,
      compiled: CompiledDocSuite): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    pairs(df, idCol, jsonCol).mapPartitions { it =>
      it.flatMap { case (id, js) => detailRows(compiled, id, js) }
    }.toDF("doc_id", "constraint_id", "observed", "expected")
  }

  /** One (doc_id, constraint_id, observed, expected) tuple per failing
    * constraint of one document — shared by [[violations]] and the
    * single-pass resumable runner. */
  private[graft] def detailRows(compiled: CompiledDocSuite, id: String,
      js: String): Iterator[(String, String, String, String)] =
    if (js == null)
      Iterator((id, DocumentConstraint, truncDoc(js), DocumentExpected))
    else try {
      DocValidator.validateWithDetails(compiled, js).iterator
        .map(v => (id, v.constraintId, v.observed, v.expected))
    } catch {
      case _: IllegalArgumentException =>
        Iterator((id, DocumentConstraint, truncDoc(js), DocumentExpected))
    }

  /** Schema-known path: lower the JSON column onto typed columns with
    * ONE `from_json` projection, then run the CATALYST engine — codegen
    * predicates, the same verdict/violation semantics as validating a
    * pre-parsed table. Unparseable rows (from_json → NULL struct while
    * the source string is non-null) are charged to
    * [[DocumentConstraint]], mirroring the schema-free path.
    *
    * Contract DELTA vs the schema-free path, by design: this path
    * requires OBJECT documents (that is what a struct schema means). A
    * valid non-object JSON document — a bare scalar, array, or `null`
    * literal — is charged to [[DocumentConstraint]] here, while the
    * schema-free engine validates it with pass-on-null applicability
    * (the reference's behavior for such instances). Feed non-object
    * corpora through [[verdicts]]/[[violations]]. */
  def violationsTyped(df: DataFrame, idCol: String, jsonCol: String,
      schema: StructType, suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty): DataFrame = {
    // PERMISSIVE from_json returns an ALL-NULL struct (not a null
    // struct) for unparseable records — detection needs the corrupt-
    // record column, which carries the raw text on parse failure
    val corrupt = "_graft_corrupt"
    require(!schema.fieldNames.contains(corrupt),
      s"schema may not declare the reserved field $corrupt")
    val withCorrupt = schema.add(StructField(corrupt, StringType))
    val parsed = df.select(
      F.col(idCol).cast("string").as("_doc_id"),
      F.col(jsonCol).cast("string").as("_js"),
      F.from_json(F.col(jsonCol).cast("string"), withCorrupt,
        Map("columnNameOfCorruptRecord" -> corrupt)).as("_d"))
    val badPred = F.col("_js").isNull || F.col("_d").isNull ||
      F.col(s"_d.$corrupt").isNotNull
    val malformed = parsed.filter(badPred)
      .select(F.col("_doc_id").as("doc_id"),
        F.lit(DocumentConstraint).as("constraint_id"),
        truncDocCol(F.col("_js")).as("observed"),
        F.lit(DocumentExpected).as("expected"))
    val typedRows = parsed.filter(!badPred) // isNull/isNotNull never null
      // getField, not a string path: a field literally named "a.b"
      // (legal JSON, legal StructType) must not parse as a nested path
      .select((F.col("_doc_id") +: schema.fieldNames.toSeq
        .map(f => F.col("_d").getField(f).as(f))): _*)
    val compiled = ConstraintCompiler.compile(suite, registry)
    Validator.validateWithDetails(typedRows, compiled, Seq.empty, "_doc_id")
      .violations
      .select("doc_id", "constraint_id", "observed", "expected")
      .unionAll(malformed)
  }

  /** PRE-STORED variant path: the lakehouse table persists a
    * `VariantType` column (Spark 4's semi-structured binary type), so
    * there is NO parse step — `try_variant_get` extractions run straight
    * off the stored binary into the Catalyst engine, and a shredded
    * variant scan prunes to the addressed subcolumns. A valid NON-OBJECT
    * document extracts null for every column and validates with
    * pass-on-null applicability (like the schema-free engine, unlike
    * `from_json`); extractions are lenient try-casts following the
    * variant cast rules. A NULL variant (the writer's representation of
    * an absent / unparseable source document) is charged to
    * [[DocumentConstraint]]; its `observed` renders "null" — the raw
    * text is not in hand on this path. */
  def violationsVariantColumn(df: DataFrame, idCol: String,
      variantCol: String, schema: StructType, suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty): DataFrame = {
    schema.fieldNames.foreach(n =>
      require(!n.contains("'") && !n.contains("\\"),
        s"variant path cannot address field '$n' (quote/backslash in " +
          "the name) — use violationsTyped for such schemas"))
    val parsed = df.select(
      F.col(idCol).cast("string").as("_doc_id"),
      F.col(variantCol).as("_v"))
    val malformed = parsed.filter(F.col("_v").isNull)
      .select(F.col("_doc_id").as("doc_id"),
        F.lit(DocumentConstraint).as("constraint_id"),
        F.lit("null").as("observed"),
        F.lit(DocumentExpected).as("expected"))
    val typedRows = parsed.filter(F.col("_v").isNotNull)
      .select((F.col("_doc_id") +: schema.fields.toSeq.map { f =>
        // bracket path form: a field named "a.b" must not parse as
        // a nested path
        F.try_variant_get(F.col("_v"), s"$$['${f.name}']",
          f.dataType.sql).as(f.name)
      }): _*)
    val compiled = ConstraintCompiler.compile(suite, registry)
    Validator.validateWithDetails(typedRows, compiled, Seq.empty, "_doc_id")
      .violations
      .select("doc_id", "constraint_id", "observed", "expected")
      .unionAll(malformed)
  }

  private def pairs(df: DataFrame, idCol: String,
      jsonCol: String): Dataset[(String, String)] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(F.col(idCol).cast("string"), F.col(jsonCol).cast("string"))
      .as[(String, String)]
  }

  /** Per-row verdict of the schema-free path (malformed/NULL → false) —
    * shared with the resumable JSON-corpus runner. */
  private[graft] def check(suite: CompiledDocSuite, js: String): Boolean =
    js != null && (try DocValidator.validate(suite, js)
    catch { case _: IllegalArgumentException => false })
}
