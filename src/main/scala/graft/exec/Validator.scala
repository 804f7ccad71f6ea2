package graft.exec

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types.{ArrayType, BooleanType, LongType,
  StructField, StructType}

import graft.checks.{DatasetCheck, Summary}
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

  /** Fast boolean path: the per-partition verdicts, no violation rows.
    * The row-local checks run as one codegen'd predicate inside the scan.
    * Without dataset checks the verdicts stay a lazy per-partition
    * aggregate. With them, the evaluation's ONE summary aggregate runs
    * here and is collected, the checks finish on the driver, and the
    * returned frame is local: one scan and one shuffle, plus a phase-2
    * key re-read and recount only when uniqueness found candidate
    * duplicates (and a pass of its own per token-histogram drift).
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
    * per-row frame, carrying each dataset check's summary column. When
    * `globalDf` is wider than `df`, the whole-table checks' columns are
    * projected from it instead, so row-local work and referential
    * integrity never re-scan the whole table on a partial run. */
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
      if (suite.rowChecks.isEmpty) F.lit(null).cast(ArrayType(StructType(
        DatasetCheck.violationSchema.filterNot(_.name == "doc_id"))))
      else F.array(suite.rowChecks.map { c =>
        F.when(!F.coalesce(c.pred, F.lit(false)), F.struct(
          F.lit(c.id).as("constraint_id"),
          F.coalesce(c.observed.cast("string"), F.lit("null"))
            .as("observed"),
          F.lit(c.expected).as("expected"),
          F.coalesce(c.instancePath, F.lit("/")).as("instance_path")))
      }: _*)
    new Evaluation(new Summary(df, globalDf, suite.datasetChecks,
      partitionCols, idCol, dims,
      Seq(ok.as("_ok"), F.when(!ok, viols).as("_viols"))))
  }
}

/**
 * ONE evaluation of a suite — the single source of both of the
 * reference's views (boolean verdicts and error rows); the validator,
 * both resumable runners and the streaming path all derive from it.
 *
 * `rows` is the narrow per-row frame `(partitionCols..., _doc_id, _ok,
 * _viols, ...)`. `_viols` is NULL on passing rows and otherwise an array
 * of per-constraint violation structs, NULL for the constraints that
 * held. Any engine can produce it (Catalyst, the doc engine). With
 * dataset checks, the [[Summary]] over it is collected once: the
 * verdicts and the checks' results come from it, and the verdicts are a
 * local frame. Row-local and referential-integrity violation rows stay
 * lazy plans over `rows`, so a caller that persists `rows` evaluates
 * every row once however many outputs it consumes.
 */
private[graft] final class Evaluation(val summary: Summary) {

  /** An evaluation without dataset checks over a ready per-row frame. */
  def this(rows: DataFrame, partitionCols: Seq[String]) =
    this(new Summary(rows, None, Nil, partitionCols, "_doc_id", Map.empty,
      Seq(F.col("_ok"), F.col("_viols"))))

  def rows: DataFrame = summary.rows
  private def checks = summary.checks
  private def partitionCols = summary.partitionCols

  /** Per-partition verdicts: `n_rows`, `n_bad_rows`, `rows_ok`, the
    * dataset-check counts and `valid`.
    *
    * Partition-attributable check violations count against their tagged
    * partition; table-scope ones (uniqueness) count globally and apply
    * to every row. A partition is `valid` iff its rows pass, it has no
    * attributable violations, and no table-scope check failed anywhere
    * — the per-partition pass/fail the north rule asks for, without
    * pretending cross-partition facts are local. Only partitions with
    * rows in scope get a verdict row; unpartitioned input always gets
    * one. */
  lazy val verdicts: DataFrame =
    if (checks.isEmpty) rowVerdicts
    else DatasetCheck.local(rows.sparkSession, verdictRows, verdictSchema)

  /** The schema of [[rowVerdicts]], written out so that a local verdict
    * frame needs no analysis of the aggregate. */
  private def verdictSchema: StructType = StructType(
    summary.partitionFields ++ Seq(
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bad_rows", LongType),
      StructField("rows_ok", BooleanType, nullable = false),
      StructField("n_partition_violations", LongType, nullable = false),
      StructField("n_global_violations", LongType, nullable = false),
      StructField("valid", BooleanType, nullable = false)))

  /** The verdict aggregate over `rows` alone, lazy. `_ok` is coalesced
    * BEFORE aggregating: a NULL predicate result must read as one
    * consistent answer (bad) across all three aggregates — raw nulls are
    * counted by sum's otherwise-branch but SKIPPED by every(). */
  private lazy val rowVerdicts: DataFrame = {
    val okc = F.col("_ok")
    val aggs = Seq(
      F.count(F.lit(1)).as("n_rows"),
      F.sum(F.when(okc, 0L).otherwise(1L)).as("n_bad_rows"),
      F.coalesce(F.every(okc), F.lit(true)).as("rows_ok"))
    (if (partitionCols.isEmpty) rows.agg(aggs.head, aggs.tail: _*)
     else rows.groupBy(partitionCols.map(F.col): _*)
       .agg(aggs.head, aggs.tail: _*))
      .withColumn("n_partition_violations", F.lit(0L))
      .withColumn("n_global_violations", F.lit(0L))
      .withColumn("valid", F.col("rows_ok") &&
        F.col("n_partition_violations") === 0L &&
        F.col("n_global_violations") === 0L)
  }

  private def verdictRows: Seq[Row] = {
    val perPart = summary.partitionRows
    val parts =
      if (partitionCols.isEmpty) Map(Nil -> perPart.getOrElse(Nil, (0L, 0L)))
      else perPart.filter(_._2._1 > 0)
    val (global, attributable) = checks.indices
      .partition(i => checks(i).tableScope || partitionCols.isEmpty)
    val counts = summary.finished.map(_.counts)
    val nGlobal = global.map(counts(_).values.sum).sum
    parts.toSeq.map { case (k, (n, bad)) =>
      val nPart = attributable.map(counts(_).getOrElse(k, 0L)).sum
      Row.fromSeq(k ++ Seq(n, if (n == 0) null else bad, bad == 0, nPart,
        nGlobal, bad == 0 && nPart == 0 && nGlobal == 0))
    }
  }

  /** Violation rows of every source, union'd ([[Summary.violations]]):
    * row-local and referential-integrity rows stay a lazy plan over
    * `rows`, uniqueness and drift rows are on the driver. */
  def violations: DataFrame = summary.violations

  /** Empty frames with the verdict and violation schemas, for a run with
    * nothing to evaluate: nothing runs, and no dimension is read. */
  private[graft] def empty: (DataFrame, DataFrame) = {
    val spark = summary.whole.sparkSession
    (DatasetCheck.local(spark, Nil, verdictSchema),
      if (checks.isEmpty) violations.limit(0)
      else DatasetCheck.local(spark, Nil, DatasetCheck.violationSchema))
  }
}
