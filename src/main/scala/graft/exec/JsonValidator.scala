package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.StructType

import graft.checks.Evaluation
import graft.compile.{CompiledRowCheck, ConstraintCompiler}
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
 * One engine for a string column: the suite is compiled ONCE on the
 * driver ([[DocValidator.compile]] — the same resolved AST as the
 * Catalyst engine) and shipped in the task closure; each task
 * interprets it over Jackson trees at ~5 µs/doc. One projection, no
 * shuffle. Handles documents whose shape is unknown or heterogeneous
 * (map-flavored keys, mixed types, non-object documents). [[verdicts]],
 * [[violations]] and the resumable `PartitionedRunner.runJson` are all
 * views of the one per-row frame [[evaluate]] builds. A table that
 * stores a parsed `VariantType` column validates through
 * [[violationsVariantColumn]] instead, with no parse step. That path is
 * not a duplicate of the doc engine: over 10^6 documents (JsonBench's
 * corpus and suite, local[4], median of 5 alternating rounds after 2
 * warm-ups on a 4-vCPU box, the same 20,211 violation rows from all
 * three) it took 0.995 s (1.00M docs/s), the doc engine over the JSON
 * text 1.40 s (713k docs/s), and the doc engine over the same stored
 * variant column, cast to text, 3.86 s (259k docs/s).
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
    * scale. */
  private val DocumentObservedLen = 64
  private def truncDoc(js: String): String =
    if (js == null) "null"
    else if (js.codePointCount(0, js.length) <= DocumentObservedLen) js
    else js.substring(0, js.offsetByCodePoints(0, DocumentObservedLen))

  /** Instrumentation: documents the doc engine evaluated in
    * [[evaluate]]. Local mode shares one JVM, so a spec pins the
    * single-pass contract of a resumable run by asserting the per-run
    * delta equals the pending row count exactly (a second evaluation
    * pass would double it). One atomic add per row ≈ 10 ns against
    * ~5 µs of parse + validate — measurement noise. */
  private[graft] val docEngineRows =
    new java.util.concurrent.atomic.AtomicLong

  def compile(suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty): CompiledDocSuite =
    DocValidator.compile(suite, registry)

  /** Fast boolean path: one verdict row per input row —
    * `(doc_id string, ok boolean)`. */
  def verdicts(df: DataFrame, idCol: String, jsonCol: String,
      compiled: CompiledDocSuite): DataFrame =
    evaluate(df, Nil, idCol, jsonCol, compiled).rows
      .select(F.col("_doc_id").as("doc_id"), F.col("_ok").as("ok"))

  /** Detail path: `(doc_id, constraint_id, observed, expected)` — one
    * row per failing top-level constraint, with the compiler's own
    * `expected` rendering and the doc engine's `observed` mirror of
    * `observedOf` (identical text to the Catalyst engine's violations —
    * the north rule's four-field violation shape, the reference's
    * `ValidationError.message` carries the same observed value). */
  def violations(df: DataFrame, idCol: String, jsonCol: String,
      compiled: CompiledDocSuite): DataFrame =
    evaluate(df, Nil, idCol, jsonCol, compiled).violations

  /** One failing top-level constraint of one document: an element of
    * the doc engine's `_viols`. */
  private[exec] final case class DocFailure(constraint_id: String,
      observed: String, expected: String)

  /** The doc engine's evaluation of `compiled` over `df`: the per-row
    * frame `(partitionCols..., _doc_id, _ok, _viols)` the Catalyst
    * engine produces too. The id and JSON columns are cast to string, so
    * binary and variant inputs validate as their text (a stored variant
    * column runs ~3.9x faster through [[violationsVariantColumn]]; see
    * the object's note). `_viols` holds
    * one [[DocFailure]] per failing top-level constraint and is NULL on
    * passing rows; `_ok` is true exactly when it is NULL. */
  private[graft] def evaluate(df: DataFrame, partitionCols: Seq[String],
      idCol: String, jsonCol: String,
      compiled: CompiledDocSuite): Evaluation = {
    // the compiled suite ships once per task in the function's closure
    // — compile once, validate many. Nondeterministic, so the optimizer
    // neither pushes a filter on `_ok` below the call nor inlines it
    // twice: each document is parsed and validated exactly once.
    val failing = F.udf { (js: String) =>
      docEngineRows.incrementAndGet()
      val f = failures(compiled, js)
      if (f.isEmpty) null else f
    }.asNondeterministic()
    val pcols = partitionCols.map(F.col)
    val rows = df
      .select(pcols :+ F.col(idCol).cast("string").as("_doc_id") :+
        failing(F.col(jsonCol).cast("string")).as("_viols"): _*)
      .select(pcols :+ F.col("_doc_id") :+ F.col("_viols").isNull.as("_ok") :+
        F.col("_viols"): _*)
    new Evaluation(rows, partitionCols)
  }

  /** The failing constraints of one document; a NULL or unparseable
    * document fails [[DocumentConstraint]] alone. */
  private def failures(compiled: CompiledDocSuite,
      js: String): Seq[DocFailure] = {
    def malformed = Seq(DocFailure(DocumentConstraint, truncDoc(js),
      DocumentExpected))
    if (js == null) malformed
    else try {
      DocValidator.validateWithDetails(compiled, js)
        .map(v => DocFailure(v.constraintId, v.observed, v.expected))
    } catch { case _: IllegalArgumentException => malformed }
  }

  /** PRE-STORED variant path: the lakehouse table persists a
    * `VariantType` column (Spark 4's semi-structured binary type), so
    * there is NO parse step — `try_variant_get` extractions run straight
    * off the stored binary into the Catalyst engine, and a shredded
    * variant scan prunes to the addressed subcolumns. A valid NON-OBJECT
    * document extracts null for every column and validates with
    * pass-on-null applicability, like the string engine; extractions
    * are lenient try-casts following the variant cast rules. A NULL variant (the writer's representation of
    * an absent / unparseable source document) is charged to
    * [[DocumentConstraint]]; its `observed` renders "null" — the raw
    * text is not in hand on this path. */
  def violationsVariantColumn(df: DataFrame, idCol: String,
      variantCol: String, schema: StructType, suite: ConstraintSuite,
      registry: ConstraintRegistry = ConstraintRegistry.empty): DataFrame = {
    schema.fieldNames.foreach(n =>
      require(!n.contains("'") && !n.contains("\\"),
        s"variant path cannot address field '$n' (quote/backslash in " +
          "the name) — validate the JSON text with violations instead"))
    // ONE scan: the variant's presence is projected beside the pushed
    // extractions (the scan still reads only the addressed fields, not
    // the whole variant), and a NULL variant fails `_document` alone
    val rows = df.select((F.col(idCol).cast("string").as("_doc_id") +:
      F.col(variantCol).isNotNull.as("_present") +:
      schema.fields.toSeq.map { f =>
        // bracket path form: a field named "a.b" must not parse as
        // a nested path
        F.try_variant_get(F.col(variantCol), s"$$['${f.name}']",
          f.dataType.sql).as(f.name)
      }): _*)
    val present = F.col("_present")
    val compiled = ConstraintCompiler.compile(suite, registry)
    val gated = compiled.copy(rowChecks =
      CompiledRowCheck(DocumentConstraint, present, F.lit("null"),
        DocumentExpected, F.lit("/")) +:
        compiled.rowChecks.map(c => c.copy(pred = !present || c.pred)))
    Validator.evaluate(rows, gated, Seq.empty, "_doc_id", Map.empty, None)
      .violations
      .select("doc_id", "constraint_id", "observed", "expected")
  }
}
