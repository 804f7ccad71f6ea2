package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{ArrayType, StringType, StructField,
  StructType}

import graft.compile.CompiledSuite

/** One typed violation row — the engine's `ValidationError`
  * (`ValidationError.java:6-22`): `constraint_id` plays `evaluatePath`,
  * `expected` the message, `instance_path` the `instanceLocation`
  * (JSON-Pointer-ish path into the row, with the first failing element
  * index for array-scoped checks), and `observed` is added per the
  * north rule. */
final case class Violation(
    doc_id: String,
    constraint_id: String,
    observed: String,
    expected: String,
    instance_path: String)

/** Detail-path result — the engine's `ValidationResult`
  * (`ValidationResult.java:13-26`): a per-partition verdict DataFrame plus
  * the typed violation rows. Both are lazy plans; nothing executes until
  * an action runs. */
final case class ValidationReport(verdicts: DataFrame, violations: DataFrame)

/**
 * Evaluates a [[CompiledSuite]] over a DataFrame — the analogue of
 * `BlazeValidator` (`BlazeValidator.java:14-27`), with the reference's
 * two modes kept intact:
 *
 *  - [[Validator.validate]]    — FastValidation (`blaze_wrapper.cpp:92`):
 *    boolean verdict per partition, short-circuit AND inside whole-stage
 *    codegen, NO violation rows materialized.
 *  - [[Validator.validateWithDetails]] — detail mode
 *    (`blaze_wrapper.cpp:162-248`): per-constraint evaluation yielding
 *    typed violation rows + the verdicts.
 *
 * The "unit of verdict" is an Iceberg-style partition (the north rule),
 * not a document: `partitionCols` plays the role of the instance boundary.
 * Malformed values produce violations, never job failures — mirroring the
 * reference's catch-all (`blaze_wrapper.cpp:140-146`): all lowered
 * predicates are null-tolerant and use non-throwing functions.
 */
object Validator {

  /** Fast boolean path: ONE scan, ONE small shuffle (the per-partition
    * verdict groupBy). Dataset-level checks contribute only a count.
    *
    * `globalDf`: the frame DATASET-LEVEL checks evaluate over, when it
    * must be wider than `df` — a resumed/partial run validates only the
    * pending partitions, but a uniqueness duplicate can span partitions
    * validated in different runs and a drift baseline must be the whole
    * table's distribution. Defaults to `df` (single full-table run). */
  def validate(
      df: DataFrame,
      suite: CompiledSuite,
      partitionCols: Seq[String],
      idCol: String = "doc_id",
      dims: Map[String, DataFrame] = Map.empty,
      globalDf: Option[DataFrame] = None): DataFrame =
    evaluate(df, suite, partitionCols, idCol, dims, globalDf).verdicts

  /** Detail path: violation rows from every source, union'd, plus
    * verdicts — both views of ONE [[Evaluation]]. */
  def validateWithDetails(
      df: DataFrame,
      suite: CompiledSuite,
      partitionCols: Seq[String],
      idCol: String = "doc_id",
      dims: Map[String, DataFrame] = Map.empty,
      globalDf: Option[DataFrame] = None): ValidationReport = {
    val e = evaluate(df, suite, partitionCols, idCol, dims, globalDf)
    ValidationReport(e.verdicts, e.violations)
  }

  /** The Catalyst engine's evaluation of `suite` over `df`: the narrow
    * per-row frame plus one tagged frame per dataset check, each check
    * seeing the scope it needs — local-scope checks (RI) must not
    * re-scan the whole table on a partial run. */
  private[graft] def evaluate(
      df: DataFrame,
      suite: CompiledSuite,
      partitionCols: Seq[String],
      idCol: String,
      dims: Map[String, DataFrame],
      globalDf: Option[DataFrame]): Evaluation = {
    val ok = F.coalesce(suite.rowPredicate, F.lit(false))
    // one struct per constraint, NULL where it passed: `when` branches
    // are lazy in codegen, so observed rendering (decimals/arrays to
    // strings) and instance_path (which can re-scan an array for the
    // first failing index) are paid only on rows that failed. NULL
    // predicate results are failures everywhere.
    val viols =
      if (suite.rowChecks.isEmpty) F.lit(null).cast(ArrayType(ViolationType))
      else F.array(suite.rowChecks.map { c =>
        F.when(!F.coalesce(c.pred, F.lit(false)), F.struct(
          F.lit(c.id).as("constraint_id"),
          F.coalesce(c.observed.cast("string"), F.lit("null"))
            .as("observed"),
          F.lit(c.expected).as("expected"),
          F.coalesce(c.instancePath, F.lit("/")).as("instance_path")))
      }: _*)
    // the id column is optional for verdict-only callers: only the
    // violation derivation reads `_doc_id`
    val id =
      if (scala.util.Try(df.select(F.col(idCol))).isFailure) Nil
      else Seq(F.col(idCol).cast("string").as("_doc_id"))
    val rows = df.select(partitionCols.map(F.col) ++ id ++ Seq(
      ok.as("_ok"), F.when(!ok, viols).as("_viols")): _*)
    val dsDf = globalDf.getOrElse(df)
    new Evaluation(rows, suite.datasetChecks.map(c => c ->
      c.taggedViolations(if (c.needsGlobalScope) dsDf else df,
        idCol, partitionCols, dims)), partitionCols)
  }

  private val ViolationType = StructType(
    Seq("constraint_id", "observed", "expected", "instance_path")
      .map(StructField(_, StringType)))
}

/**
 * ONE evaluation of a suite — the single source of both of the
 * reference's views (boolean verdicts and error rows); the validator,
 * both resumable runners and the streaming path all derive from it.
 *
 *  - `rows`: the narrow per-row frame `(partitionCols..., _doc_id,
 *    _ok, _viols)`. `_viols` is NULL on passing rows and otherwise an array
 *    of per-constraint violation structs, NULL for the constraints that
 *    held. Any engine can produce it (Catalyst, the doc engine).
 *  - `checks`: each dataset check with its tagged violation frame
 *    ([[graft.checks.DatasetCheck.taggedViolations]]), built once.
 *
 * Both derivations are lazy plans over these frames, so a caller that
 * persists [[frames]] evaluates every row and every check once however
 * many of the derived outputs it consumes.
 */
private[graft] final class Evaluation(
    val rows: DataFrame,
    val checks: Seq[(graft.checks.DatasetCheck, DataFrame)],
    partitionCols: Seq[String]) {

  /** The frames every derivation reads. */
  def frames: Seq[DataFrame] = rows +: checks.map(_._2)

  /** Per-partition verdicts: `n_rows`, `n_bad_rows`, `rows_ok`, the
    * dataset-check counts and `valid`.
    *
    * Partition-attributable check violations count against their tagged
    * partition; table-scope ones (uniqueness) count globally and apply
    * to every row. A partition is `valid` iff its rows pass, it has no
    * attributable violations, and no table-scope check failed anywhere
    * — the per-partition pass/fail the north rule asks for, without
    * pretending cross-partition facts are local.
    *
    * Reads only the partition columns and `_ok` of `rows`, so column
    * pruning leaves the fast path one predicate projection and one
    * partial+final hash aggregate. `_ok` is coalesced BEFORE aggregating:
    * a NULL predicate result must read as one consistent answer (bad)
    * across all three aggregates — raw nulls are counted by sum's
    * otherwise-branch but SKIPPED by every(). */
  lazy val verdicts: DataFrame = {
    val pcols = partitionCols.map(F.col)
    val okc = F.col("_ok")
    val aggs = Seq(
      F.count(F.lit(1)).as("n_rows"),
      F.sum(F.when(okc, 0L).otherwise(1L)).as("n_bad_rows"),
      F.coalesce(F.every(okc), F.lit(true)).as("rows_ok"))
    val rowVerdicts =
      if (partitionCols.isEmpty) rows.agg(aggs.head, aggs.tail: _*)
      else rows.groupBy(pcols: _*).agg(aggs.head, aggs.tail: _*)

    val (global, attributable) =
      checks.partition(_._1.tableScope || partitionCols.isEmpty)
    val withPart = attributable.map(_._2.select(pcols: _*))
      .reduceOption(_ unionAll _) match {
      case Some(tags) =>
        rowVerdicts.join(tags.groupBy(pcols: _*)
            .agg(F.count(F.lit(1)).as("n_partition_violations")),
          partitionCols, "left")
          .withColumn("n_partition_violations",
            F.coalesce(F.col("n_partition_violations"), F.lit(0L)))
      case None => rowVerdicts.withColumn("n_partition_violations", F.lit(0L))
    }
    val withGlobal = global.map(_._2.select(F.lit(1).as("_one")))
      .reduceOption(_ unionAll _) match {
      case Some(all) => withPart.crossJoin(F.broadcast(
        all.agg(F.count(F.lit(1)).as("n_global_violations"))))
      case None => withPart.withColumn("n_global_violations", F.lit(0L))
    }
    withGlobal.withColumn("valid",
      F.col("rows_ok") && F.col("n_partition_violations") === 0L &&
        F.col("n_global_violations") === 0L)
  }

  /** Violation rows of every source, union'd. Row-local ones explode
    * from `_viols` behind a plain `_ok` filter: the filter pushes down as
    * ONE codegen any-constraint-failed gate, so on a mostly-clean table
    * the vast majority of rows short-circuit out of the scan stage
    * without constructing a struct, and the Generate runs only over the
    * failing sliver. NULL elements drop with a plain Filter AFTER the
    * Generate: a higher-order `filter(_viols, …)` lambda reads nicer but
    * ArrayFilter is CodegenFallback, which drags the whole struct
    * construction into interpreted eval() per row. */
  lazy val violations: DataFrame = {
    val rowViolations = rows.filter(!F.col("_ok"))
      .select(F.col("_doc_id").as("doc_id"),
        F.explode(F.col("_viols")).as("_v"))
      .filter(F.col("_v").isNotNull)
      .select("doc_id", "_v.*")
    (rowViolations +: checks.map(_._2
      .select(graft.checks.DatasetCheck.violationCols.map(F.col): _*)))
      .reduce(_ unionAll _)
  }
}
