package graft.checks

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.types.StructField

/** How a dataset check's per-row column feeds the [[Summary]] aggregate. */
private[graft] sealed trait SummaryColumn { def value: Column }

private[graft] object SummaryColumn {
  /** Counted per partition: each non-NULL value is one violation. */
  final case class Counted(value: Column) extends SummaryColumn
  /** Grouped with the partition: one histogram cell per value. */
  final case class Bucketed(value: Column) extends SummaryColumn
  /** Grouped alone: only values seen more than once come back. */
  final case class Hashed(value: Column) extends SummaryColumn
}

/** A check's result: its violation count per partition key (a
  * table-scope check counts under the empty key) and its tagged
  * violation rows ([[DatasetCheck.taggedViolations]]). Each is computed
  * when first asked for, so a verdict-only call builds no violation
  * frame. */
private[graft] final class Finished(
    countsOf: => Map[Seq[Any], Long], violationsOf: => DataFrame) {
  lazy val counts: Map[Seq[Any], Long] = countsOf
  lazy val violations: DataFrame = violationsOf
}

/**
 * The ONE summary aggregate a suite's dataset checks finish from.
 *
 *  - `rows`: the per-row frame `(partitionCols..., _doc_id, rowCols...,
 *    _s<i>...)`. `rowCols` are the caller's and hold at least `_ok`, the
 *    row-local verdict; `_s<i>` is check i's [[SummaryColumn]].
 *  - `whole`: the frame the whole-table checks read. When it is wider
 *    than `df` (a partial run), their columns are projected from it
 *    instead, so row-local work never re-scans the whole table.
 *
 * Grouping sets: `(partitionCols..., first bucket)` — rows, failing
 * rows and each counted column's non-NULL rows per partition, plus that
 * histogram — one `(partitionCols..., bucket)` per further bucketed
 * column, and one `(hash)` per hashed column, of which only values seen
 * more than once come back. The result is collected once and each check
 * finishes from it on the driver ([[DatasetCheck.finish]]).
 *
 * Nothing runs until a result is asked for; in particular `rows` is
 * built on first use, because referential integrity reads its dimension
 * keys to build its column.
 */
private[graft] final class Summary(
    df: DataFrame,
    globalDf: Option[DataFrame],
    val checks: Seq[DatasetCheck],
    val partitionCols: Seq[String],
    idCol: String,
    dims: Map[String, DataFrame],
    rowCols: Seq[Column]) {
  import Summary.column
  import SummaryColumn._

  val whole: DataFrame = globalDf.getOrElse(df)
  val partitionFields: Seq[StructField] = partitionCols.map(df.schema(_))
  private val pcols = partitionCols.map(F.col)

  private lazy val columns: IndexedSeq[Option[SummaryColumn]] =
    checks.map(_.summaryColumn(partitionCols, dims)).toIndexedSeq

  /** The checks' columns read from `whole` (`wide`) or from `df`. */
  private def projected(wide: Boolean): Seq[Column] =
    columns.indices.flatMap { i =>
      val fromWhole = checks(i).needsGlobalScope && !(whole eq df)
      columns(i).filter(_ => fromWhole == wide).map(_.value.as(column(i)))
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

  /** The aggregate. `_c` counts the rows of a group, `_n` and `_bad` the
    * rows and failing rows of `rows`' scope, and each counted column its
    * non-NULL rows. */
  lazy val aggregate: DataFrame = {
    val input = wide.fold(rows)(w => rows
      .select((partitionCols ++ ("_ok" +: counted)).map(F.col): _*)
      .unionByName(w, allowMissingColumns = true))
    val aggs = Seq(
      F.count(F.lit(1)).as("_c"),
      F.count("_ok").as("_n"),
      F.count(F.when(!F.col("_ok"), 1)).as("_bad")) ++
      counted.map(c => F.count(c).as(c))
    val grouped =
      if (sets.size == 1)
        input.groupBy(baseSet.map(F.col): _*).agg(F.lit(0L).as("_g"), aggs: _*)
      else input.groupingSets(sets.map(_.map(F.col)), keys.map(F.col): _*)
        .agg(F.grouping_id().as("_g"), aggs: _*)
    hashed.foldLeft(grouped)((g, h) => g.filter(F.col("_g") =!= gid(Seq(h)) ||
      (F.col(h).isNotNull && F.col("_c") > 1)))
  }

  private lazy val collected: Array[Row] = aggregate.collect()

  private def rowsOf(set: Seq[String]): Array[Row] = {
    val g = gid(set)
    collected.filter(_.getAs[Number]("_g").longValue == g)
  }

  private def key(r: Row): Seq[Any] = partitionCols.map(r.getAs[Any])

  /** Rows and failing rows of `rows`' scope per partition key. */
  def partitionRows: Map[Seq[Any], (Long, Long)] =
    rowsOf(baseSet).groupMapReduce(key)(r =>
      (r.getAs[Long]("_n"), r.getAs[Long]("_bad")))((a, b) =>
      (a._1 + b._1, a._2 + b._2))

  /** Check i's counted column: its non-NULL rows per partition key. */
  def counts(i: Int): Map[Seq[Any], Long] =
    rowsOf(baseSet).groupMapReduce(key)(_.getAs[Long](column(i)))(_ + _)

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
}

private[graft] object Summary {
  /** Dataset check i's column in the per-row frame. */
  def column(i: Int): String = s"_s$i"

  /** `check` alone over `df`: no row-local checks, every row passes. */
  def alone(check: DatasetCheck, df: DataFrame, idCol: String,
      partitionCols: Seq[String], dims: Map[String, DataFrame]): Summary =
    new Summary(df, None, Seq(check), partitionCols, idCol, dims,
      Seq(F.lit(true).as("_ok")))

  /** `value IN values` as ONE `InSet` over values already on the driver,
    * so planning never walks one literal per value. `values` are in
    * Catalyst's internal form (`UTF8String` for strings) and hold no
    * NULL; an empty set matches nothing. */
  def inSet(value: Column, values: Set[Any]): Column =
    if (values.isEmpty) F.lit(false)
    else GraftSqlBridge.column(InSet(GraftSqlBridge.expression(value), values))
}
