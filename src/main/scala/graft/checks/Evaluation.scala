package graft.checks

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation,
  Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** How a dataset check's per-row column feeds the summary aggregate. */
private[graft] sealed trait SummaryColumn { def value: Column }

private[graft] object SummaryColumn {
  /** Counted per partition: each non-NULL value is one violation. */
  final case class Counted(value: Column) extends SummaryColumn
  /** Grouped with the partition: one histogram cell per value. */
  final case class Bucketed(value: Column) extends SummaryColumn
  /** Grouped alone: only values seen more than once come back. */
  final case class Hashed(value: Column) extends SummaryColumn
}

/** A check's result, on the driver: its violation count per partition
  * key (a table-scope check counts under the empty key) and its
  * violation rows in [[DatasetCheck.violationCols]] order — none for a
  * check whose violations explode from the per-row frame
  * ([[DatasetCheck.rowViolation]]). Each is computed when first asked
  * for, so a verdict-only call renders no row. */
private[graft] final class Finished(
    countsOf: => Map[Seq[Any], Long], rowsOf: => Seq[Row]) {
  lazy val counts: Map[Seq[Any], Long] = countsOf
  lazy val rows: Seq[Row] = rowsOf
}

/**
 * ONE evaluation of a suite — the single source of both of the
 * reference's views (`ValidationResult {valid, errors}`,
 * `ValidationResult.java:13-26`): per-partition [[verdicts]] and
 * [[violations]]. The validator and both resumable runners build one;
 * any engine (Catalyst, the doc engine) can supply the per-row columns.
 *
 *  - `rows`: the narrow per-row frame `(partitionCols..., _doc_id,
 *    rowCols..., _s<i>...)`. `rowCols` are the engine's and hold at
 *    least `_ok`, the row-local verdict, and usually `_viols`: NULL on
 *    passing rows, otherwise an array of per-constraint violation
 *    structs, NULL for the constraints that held. `_s<i>` is dataset
 *    check i's [[SummaryColumn]].
 *  - `whole`: the frame the whole-table checks read. When it is wider
 *    than `df` (a partial run), their columns are projected from it
 *    (`wide`) instead, so row-local work never re-scans the whole table.
 *
 * The per-partition counts of `rows` — rows, failing rows and each
 * counted column's non-NULL values — come from one of two places, and
 * one rule picks it. A resumable run that writes violations
 * ([[writeViolations]]) observes them in that write, the one pass over
 * `rows`; every other caller reads them from the summary aggregate.
 *
 * ONE summary [[aggregate]] over grouping sets: `(partitionCols...,
 * first bucket)` — those counts, plus that histogram — one
 * `(partitionCols..., bucket)` per further bucketed column, and one
 * `(hash)` per hashed column, of which only values seen more than once
 * come back. When the counts are observed it reads only `wide`, and does
 * not run when there is none. It is collected once, each check finishes
 * on the driver ([[DatasetCheck.finish]]), and the verdicts are a local
 * frame built from the collected rows and the counts.
 *
 * Nothing runs until a result is asked for; in particular `rows` is
 * built on first use, because referential integrity reads its dimension
 * keys to build its column. Row-local and referential-integrity
 * violation rows stay lazy plans over `rows`.
 */
private[graft] final class Evaluation(
    df: DataFrame,
    globalDf: Option[DataFrame],
    val checks: Seq[DatasetCheck],
    val partitionCols: Seq[String],
    idCol: String,
    dims: Map[String, DataFrame],
    rowCols: Seq[Column]) {
  import Evaluation.{column, layer}
  import SummaryColumn._

  /** An evaluation without dataset checks over a ready per-row frame
    * `(partitionCols..., _doc_id, _ok, _viols)`. */
  def this(rows: DataFrame, partitionCols: Seq[String]) =
    this(rows, None, Nil, partitionCols, "_doc_id", Map.empty,
      Seq(F.col("_ok"), F.col("_viols")))

  val whole: DataFrame = globalDf.getOrElse(df)
  val partitionFields: Seq[StructField] = partitionCols.map(df.schema(_))
  private val pcols = partitionCols.map(F.col)
  private def spark = whole.sparkSession

  private lazy val columns: IndexedSeq[Option[SummaryColumn]] =
    checks.map(_.summaryColumn(partitionCols, dims)).toIndexedSeq

  private def fromWhole(i: Int): Boolean =
    checks(i).needsGlobalScope && !(whole eq df)

  /** The checks' columns read from `whole` (`wide`) or from `df`. */
  private def projected(wide: Boolean): Seq[Column] =
    columns.indices.flatMap { i =>
      columns(i).filter(_ => fromWhole(i) == wide).map(_.value.as(column(i)))
    }

  lazy val rows: DataFrame = {
    // the id column is optional for verdict-only callers: only the
    // violation rows read `_doc_id`
    val id =
      if (scala.util.Try(df.select(F.col(idCol))).isFailure) Nil
      else Seq(F.col(idCol).cast("string").as("_doc_id"))
    df.select(pcols ++ id ++ rowCols ++ projected(wide = false): _*)
  }

  private lazy val wide: Option[DataFrame] =
    Option(projected(wide = true)).filter(_.nonEmpty)
      .map(c => whole.select(pcols ++ c: _*))

  private lazy val counted =
    columns.zipWithIndex.collect { case (Some(_: Counted), i) => column(i) }
  private lazy val bucketed =
    columns.zipWithIndex.collect { case (Some(_: Bucketed), i) => column(i) }
  private lazy val hashed =
    columns.zipWithIndex.collect { case (Some(_: Hashed), i) => column(i) }
  private lazy val keys = partitionCols ++ bucketed ++ hashed
  private lazy val baseSet = partitionCols ++ bucketed.take(1)
  private lazy val sets =
    (baseSet +: bucketed.drop(1).map(partitionCols :+ _)) ++ hashed.map(Seq(_))

  /** Spark's `grouping_id()` of a grouping set: one bit per grouping
    * column the set leaves out, the first column the highest bit. */
  private def gid(set: Seq[String]): Long =
    keys.zipWithIndex.map { case (k, j) =>
      if (set.contains(k)) 0L else 1L << (keys.size - 1 - j)
    }.sum

  /** The aggregate the validator runs: it counts `rows` too. */
  lazy val aggregate: DataFrame = aggregateOf(observed = false).get

  /** The aggregate. `_c` counts the rows of a group. Unless the counts
    * of `rows` are `observed`, `_n` and `_bad` count the rows and failing
    * rows of `rows`' scope, and each counted column its non-NULL rows;
    * when they are, `rows` contributes only the bucketed and hashed
    * columns it holds, usually none, and with no `wide` either there is
    * nothing to aggregate. */
  private def aggregateOf(observed: Boolean): Option[DataFrame] = {
    val own = (if (observed) Nil else Seq("_ok")) ++ columns.indices.collect {
      case i if !fromWhole(i) && columns(i).exists {
        case _: Counted => !observed
        case _ => true
      } => column(i)
    }
    val input = (Option.when(own.nonEmpty)(
        rows.select((partitionCols ++ own).map(F.col): _*)) ++ wide)
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
    input.map { in =>
      val aggs = F.count(F.lit(1)).as("_c") +: (if (observed) Nil else Seq(
        F.count("_ok").as("_n"),
        F.count(F.when(!F.col("_ok"), 1)).as("_bad")) ++
        counted.map(c => F.count(c).as(c)))
      val grouped =
        if (sets.size == 1)
          in.groupBy(baseSet.map(F.col): _*).agg(F.lit(0L).as("_g"), aggs: _*)
        else in.groupingSets(sets.map(_.map(F.col)), keys.map(F.col): _*)
          .agg(F.grouping_id().as("_g"), aggs: _*)
      hashed.foldLeft(grouped)((g, h) => g.filter(F.col("_g") =!= gid(Seq(h)) ||
        (F.col(h).isNotNull && F.col("_c") > 1)))
    }
  }

  /** Set by [[writeViolations]] before anything is aggregated: the
    * counts of `rows`, observed by the write. */
  private var observation: Option[Observation] = None

  private lazy val collected: Array[Row] =
    (if (observation.isEmpty) Some(aggregate) else aggregateOf(observed = true))
      .fold(Array.empty[Row])(a => layer(spark, "summary")(a.collect()))

  private def rowsOf(set: Seq[String]): Array[Row] = {
    val g = gid(set)
    collected.filter(_.getAs[Number]("_g").longValue == g)
  }

  private def key(r: Row): Seq[Any] = partitionCols.map(r.getAs[Any])

  /** Per partition key of `rows`: its rows, its failing rows, then each
    * counted column's non-NULL values — as the violations write observed
    * them, when it did, else from the aggregate. */
  private lazy val rowCounts: Map[Seq[Any], Array[Long]] =
    observation.fold(rowsOf(baseSet).toSeq.map(r => key(r) ->
      ("_n" +: "_bad" +: counted).map(r.getAs[Long]).toArray))(o =>
      o.get("counts").asInstanceOf[Seq[Row]].map(r =>
        r.getStruct(0).toSeq -> r.getSeq[Long](1).toArray))
      .groupMapReduce(_._1)(_._2)((a, b) => a.zip(b).map(p => p._1 + p._2))

  /** Check i's counted column: its non-NULL rows per partition key. */
  def counts(i: Int): Map[Seq[Any], Long] = {
    val j = 2 + counted.indexOf(column(i))
    rowCounts.map { case (k, c) => k -> c(j) }
  }

  /** Check i's bucketed column: its rows per partition key and bucket. */
  def histogram(i: Int, buckets: Int): Seq[(Seq[Any], Array[Long])] = {
    val b = column(i)
    rowsOf(partitionCols :+ b).filter(_.getAs[Any](b) != null)
      .groupBy(key).toSeq.map { case (k, rs) =>
        val counts = new Array[Long](buckets)
        rs.foreach(r => counts(r.getAs[Number](b).intValue) += r.getAs[Long]("_c"))
        k -> counts
      }
  }

  /** Check i's hashed column: the hashes seen more than once. */
  def repeated(i: Int): Set[Long] =
    rowsOf(Seq(column(i))).map(_.getAs[Long](column(i))).toSet

  /** Every check's result, in `checks` order. */
  lazy val finished: IndexedSeq[Finished] =
    checks.indices.map(i => checks(i).finish(this, i))

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
    verdictsOf(DatasetCheck.local(spark, totals, totalsSchema))

  /** `(partitionCols..., _n, _bad, _np, _ng)`: rows, failing rows, and
    * attributable and table-scope check violations per partition. */
  private def totalsSchema: StructType = StructType(partitionFields ++
    Seq("_n", "_bad", "_np", "_ng").map(StructField(_, LongType, false)))

  /** The totals, from the row counts and the checks' counts. */
  private def totals: Seq[Row] = {
    val perPart = rowCounts.map { case (k, c) => k -> (c(0), c(1)) }
    val parts =
      if (partitionCols.isEmpty) Map(Nil -> perPart.getOrElse(Nil, (0L, 0L)))
      else perPart.filter(_._2._1 > 0)
    val (global, attributable) = checks.indices
      .partition(i => checks(i).tableScope || partitionCols.isEmpty)
    val counts = finished.map(_.counts)
    val nGlobal = global.map(counts(_).values.sum).sum
    parts.toSeq.map { case (k, (n, bad)) =>
      Row.fromSeq(k ++ Seq(n, bad,
        attributable.map(counts(_).getOrElse(k, 0L)).sum, nGlobal))
    }
  }

  /** The verdict columns over per-partition totals: ONE formula for
    * `rows_ok` and `valid`. `n_bad_rows` is NULL for an unpartitioned
    * input with no rows. */
  private def verdictsOf(totals: DataFrame): DataFrame = {
    val (n, bad, np, ng) =
      (F.col("_n"), F.col("_bad"), F.col("_np"), F.col("_ng"))
    val rowsOk = bad === 0L
    totals.select(pcols ++ Seq(n.as("n_rows"), F.when(n > 0L, bad)
      .as("n_bad_rows"), rowsOk.as("rows_ok"), np.as("n_partition_violations"),
      ng.as("n_global_violations"),
      (rowsOk && np === 0L && ng === 0L).as("valid")): _*)
  }

  /** The violation rows of every source, union'd: [[violationsOf]]
    * `rows`. */
  lazy val violations: DataFrame = violationsOf(rows)

  /** Writes the violations with `write` as the ONE pass over `rows`. An
    * observation on `rows`, below the violation filter, counts each
    * partition's rows, failing rows and counted values as the write's
    * tasks read them: one [[graft.functions.KeyedCounts]] keyed by the
    * partition values, so the plan does not grow with the partitions.
    * It sits in the write's result stage, where Spark applies each
    * partition's update once however often a task is retried. The
    * verdicts then come from those counts, and the summary aggregate
    * reads only `wide`. */
  def writeViolations(write: DataFrame => Unit): Unit = {
    require(rows.columns.contains("_viols"),
      "an observed write needs the engine's violation column")
    val o = Observation()
    observation = Some(o)
    val out = violationsOf(rows.observe(o, graft.functions.KeyedCounts(
      F.struct(pcols: _*), F.when(!F.col("_ok"), true) +: counted.map(F.col))
      .as("counts")))
    layer(spark, "violations")(write(out))
  }

  /** The violation rows over `perRowFrame` (`rows` or an observed view of
    * it). The per-row ones — the engine's `_viols` when the frame has it,
    * plus each check's [[DatasetCheck.rowViolation]] — explode from ONE
    * pass over the frame behind one gate (`_ok` false or a per-row
    * violation present): the filter is ONE codegen gate, so on a
    * mostly-clean table the vast majority of rows short-circuit out of
    * the scan stage without constructing a struct, and the Generate runs
    * only over the failing sliver. The generator is `explode_outer`:
    * Spark infers a `size(array) > 0` filter from an inner `explode` and
    * pushes it below the per-row Project, so every failing row would
    * build its violation array twice. NULL elements, and the NULL
    * `explode_outer` emits for an empty array, drop with a plain Filter
    * AFTER the Generate: a higher-order `filter(_viols, …)` lambda reads
    * nicer but ArrayFilter is CodegenFallback, which drags the whole
    * struct construction into interpreted eval() per row. The checks'
    * driver rows join as one single-slice local frame, so writing the
    * union runs one task per partition of `rows` plus one. */
  private def violationsOf(perRowFrame: DataFrame): DataFrame = {
    val columns = perRowFrame.columns
    val engine = Option.when(columns.contains("_viols"))(F.col("_viols"))
    val perRow = checks.indices.flatMap(i =>
      checks(i).rowViolation(F.col(column(i))))
    val exploded = Option.when(engine.nonEmpty || perRow.nonEmpty) {
      require(columns.contains("_doc_id"),
        s"violation rows need the id column '$idCol', which the input lacks")
      val viols = engine.fold(F.array(perRow: _*))(v =>
        if (perRow.isEmpty) v
        else F.concat(F.coalesce(v, F.array()
          .cast(perRowFrame.schema("_viols").dataType)), F.array(perRow: _*)))
      perRowFrame.filter((engine.map(_ => !F.col("_ok")) ++
          perRow.map(_.isNotNull)).reduce(_ || _))
        .select(F.col("_doc_id").as("doc_id"), F.explode_outer(viols).as("_v"))
        .filter(F.col("_v").isNotNull)
        .select("doc_id", "_v.*")
    }
    val driverRows = finished.flatMap(_.rows)
    val local = DatasetCheck.local(spark, driverRows,
      DatasetCheck.violationSchema)
    exploded.fold(local)(e =>
      if (driverRows.isEmpty) e else e.unionAll(local.coalesce(1)))
  }

  /** Empty frames with the verdict and violation schemas, for a run with
    * nothing to evaluate: nothing runs, and no dimension is read. */
  def empty: (DataFrame, DataFrame) =
    (verdictsOf(DatasetCheck.local(spark, Nil, totalsSchema)),
      if (checks.isEmpty) violations.limit(0)
      else DatasetCheck.local(spark, Nil, DatasetCheck.violationSchema))
}

private[graft] object Evaluation {
  /** Dataset check i's column in the per-row frame. */
  def column(i: Int): String = s"_s$i"

  /** `check` alone over `df`: no row-local checks, every row passes. */
  def alone(check: DatasetCheck, df: DataFrame, idCol: String,
      partitionCols: Seq[String], dims: Map[String, DataFrame]): Evaluation =
    new Evaluation(df, None, Seq(check), partitionCols, idCol, dims,
      Seq(F.lit(true).as("_ok")))

  /** Runs `body` with its Spark jobs tagged `graft.<name>`, the engine
    * layer they belong to (`table`, `summary`, `phase2`, `array_drift`,
    * `dim_keys`, `violations`), and with no other graft tag: a layer's
    * action started inside another's carries only its own. */
  def layer[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val tag = s"graft.$name"
    val outer = sc.getJobTags().filter(_.startsWith("graft."))
    sc.removeJobTags(outer)
    sc.addJobTag(tag)
    try body finally {
      sc.removeJobTag(tag)
      sc.addJobTags(outer)
    }
  }

  /** `value IN values` as ONE `InSet` over values already on the driver,
    * so planning never walks one literal per value. `values` are in
    * Catalyst's internal form (`UTF8String` for strings) and hold no
    * NULL; an empty set matches nothing. */
  def inSet(value: Column, values: Set[Any]): Column =
    if (values.isEmpty) F.lit(false)
    else GraftSqlBridge.column(InSet(GraftSqlBridge.expression(value), values))
}
