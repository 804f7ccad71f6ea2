package graft.checks

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * A dataset-scope validation — no per-document analogue in the reference
 * (its scope is one JSON instance, `blaze_wrapper.cpp:128-139`); these
 * generalize `uniqueItems` / `enum` / `$ref` to table scope per the north
 * rule (SURVEY.md §2.C).
 *
 * A suite's dataset checks do not run as pipelines of their own: each
 * adds at most one column to the per-row projection
 * ([[summaryColumn]]), ONE summary aggregate over that projection is
 * collected to the driver ([[Summary]]), and every check finishes there
 * in plain Scala ([[finish]]).
 *
 * Contract: [[taggedViolations]] returns the check's violation rows —
 * exactly the violation schema `(doc_id, constraint_id, observed,
 * expected, instance_path)`, all strings, the same shape the row-local
 * detail path produces — followed by the partition columns of the
 * partition each row counts against. Table-scope checks carry no
 * partition columns: their violations count against every partition.
 * Evaluated alone, a check goes through the same summary as a suite.
 */
sealed trait DatasetCheck extends Serializable {
  def id: String

  /** Whether a violation counts against EVERY partition rather than the
    * one it is tagged with (uniqueness: a duplicate key may span
    * partitions). */
  def tableScope: Boolean = false

  /** Whether the check must see the WHOLE table on a partial/resumed
    * run (uniqueness: duplicates span runs; drift: the baseline is the
    * global distribution). Checks whose facts are row-local against an
    * external dimension (referential integrity) evaluate over just the
    * pending scan — re-running them over the whole table would re-emit
    * already-validated partitions' violations on every resumed run. */
  def needsGlobalScope: Boolean = true

  /** The check's column in the per-row frame and how the summary
    * aggregate reads it; `None` for a check that needs no column. */
  private[graft] def summaryColumn(partitionCols: Seq[String],
      dims: Map[String, DataFrame]): Option[SummaryColumn]

  /** The check's result from `s`, in which it is check `i`. */
  private[graft] def finish(s: Summary, i: Int): Finished

  /** The tagged violation rows of this check alone over `df`. */
  final def taggedViolations(
      df: DataFrame,
      idCol: String,
      partitionCols: Seq[String],
      dims: Map[String, DataFrame]): DataFrame =
    Summary.alone(this, df, idCol, partitionCols, dims).finished(0).violations

  /** The violation rows alone, without their partition tags. */
  final def violations(
      df: DataFrame,
      idCol: String,
      partitionCols: Seq[String],
      dims: Map[String, DataFrame]): DataFrame =
    taggedViolations(df, idCol, partitionCols, dims)
      .select(DatasetCheck.violationCols.map(F.col): _*)

  /** Per-partition violation counts `(partitionCols..., _n_ds_viol)`
    * from the tagged rows; `None` for table-scope checks and
    * unpartitioned input. */
  final def violationCountsByPartition(
      df: DataFrame,
      idCol: String,
      partitionCols: Seq[String],
      dims: Map[String, DataFrame]): Option[DataFrame] =
    if (tableScope || partitionCols.isEmpty) None
    else Some(taggedViolations(df, idCol, partitionCols, dims)
      .groupBy(partitionCols.map(F.col): _*)
      .agg(F.count(F.lit(1)).as("_n_ds_viol")))

  protected def instancePath(col: String): Column =
    F.lit("/" + col.replace(".", "/")).as("instance_path")
}

object DatasetCheck {
  /** The canonical violation schema (north rule; mirrors the reference's
    * `ValidationError` fields, `ValidationError.java:18-22`). */
  val violationCols: Seq[String] =
    Seq("doc_id", "constraint_id", "observed", "expected", "instance_path")

  /** A DataFrame over rows already on the driver: a local relation, so
    * projecting or collecting it launches no job. */
  private[graft] def local(spark: SparkSession, rows: Seq[Row],
      schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

/**
 * C3 — table-scope key uniqueness, HASH FIRST.
 *
 * Keys are near-unique by construction, so grouping the key strings
 * would move every one of them through an exchange (~10^12 × 25+ B at
 * scale). Phase 1 groups only [[keyHash]], 8 bytes per row, as one
 * grouping set of the summary aggregate, and only hashes seen more than
 * once come back to the driver. Phase 2 ([[duplicates]]) runs only when
 * such candidates exist: it re-reads the key column, keeps the rows whose
 * hash is a candidate and recounts EXACTLY on the real key in a
 * distributed aggregate, so xxhash64 collisions (≈ n²/2^65 false
 * candidates: a few ×10^4 at 10^12 rows) are filtered, never reported.
 * Violations: one row per duplicated key value (not per duplicate row) —
 * violation volume stays proportional to the number of BAD KEYS.
 *
 * SQL-UNIQUE semantics: uniqueness holds over the NON-NULL keys, so NULL
 * keys never form a duplicate group (NULLs are `notNull`'s job). Every
 * reported key is therefore a real value, and a literal key `"null"`
 * cannot be confused with a NULL.
 *
 * `colocated = true` (storage bucketed / layout-partitioned by the key):
 * the hash-first narrowing is pointless when no exchange happens at all,
 * so the check groups the RAW key attribute in one phase — the bucketed
 * scan reports `HashPartitioning(col)`, `EnsureRequirements` sees the
 * aggregation's requirement already met, and the plan carries ZERO
 * shuffles (spec-asserted). Declaring it against a non-bucketed source
 * is slow (full-key exchange) but never wrong — Spark reinserts the
 * exchange the layout doesn't provide.
 */
final case class UniqueCheck(id: String, col: String, expected: String,
    colocated: Boolean = false)
    extends DatasetCheck {
  override def tableScope: Boolean = true

  /** The key's 8-byte hash, NULL for a NULL key. */
  private[graft] def keyHash: Column =
    F.when(F.col(col).isNotNull, F.xxhash64(F.col(col).cast("string")))

  private[graft] def summaryColumn(partitionCols: Seq[String],
      dims: Map[String, DataFrame]): Option[SummaryColumn] =
    Option.when(!colocated)(SummaryColumn.Hashed(keyHash))

  private[graft] def finish(s: Summary, i: Int): Finished =
    if (colocated) {
      lazy val dups = colocatedDuplicates(s.whole)
      new Finished(Map(Nil -> dups.count()), dups)
    } else {
      lazy val dups = duplicates(s.whole, s.repeated(i))
      new Finished(Map(Nil -> dups.size.toLong),
        render(DatasetCheck.local(s.whole.sparkSession,
          dups.map { case (k, n) => Row(k, n) },
          StructType(Seq(StructField("_k", StringType),
            StructField("_cnt", LongType))))))
    }

  /** Phase 2 over `df` for the candidate hashes phase 1 found: each
    * duplicated key with its count. Only the recount's result is
    * collected — one row per duplicated key, as many as the candidates
    * already on the driver up to hash collisions. */
  private[graft] def duplicates(df: DataFrame,
      candidates: Set[Long]): Seq[(String, Long)] =
    if (candidates.isEmpty) Nil
    else df.where(Summary.inSet(keyHash, candidates.toSet[Any]))
      .groupBy(F.col(col).cast("string").as("_k"))
      .agg(F.count(F.lit(1)).as("_cnt"))
      .where(F.col("_cnt") > 1)
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  /** The one-phase group over the raw key attribute, for `colocated`. */
  private[graft] def colocatedDuplicates(df: DataFrame): DataFrame =
    // raw attribute, no cast: a rewritten expression would not match the
    // scan's output partitioning and would resurrect the shuffle
    render(df.filter(F.col(col).isNotNull).select(F.col(col).as("_k"))
      .groupBy("_k").agg(F.count(F.lit(1)).as("_cnt"))
      .filter(F.col("_cnt") > 1)
      .select(F.col("_k").cast("string").as("_k"), F.col("_cnt")))

  private def render(dupKeys: DataFrame): DataFrame =
    dupKeys.select(
      F.col("_k").as("doc_id"),
      F.lit(id).as("constraint_id"),
      F.concat(F.lit("count="), F.col("_cnt").cast("string")).as("observed"),
      F.lit(expected).as("expected"),
      instancePath(col))
}

/**
 * C4 — referential integrity of a fact column against a dimension table.
 * The dimension is small by construction: its distinct keys are
 * collected once and inlined into the per-row projection as ONE `InSet`,
 * so the fact side is never shuffled or joined. Every plan over the
 * per-row frame carries that set, and the driver holds it: a dimension of
 * 10^5 keys is spec-tested; one of many millions belongs in a join, not
 * in this check. One violation row per dangling fact row.
 */
final case class RefIntegrityCheck(
    id: String, col: String, dimName: String, dimCol: String,
    expected: String)
    extends DatasetCheck {
  // dangling keys are facts about individual rows vs an EXTERNAL
  // dimension — nothing cross-partition; pending-scan scope suffices
  override def needsGlobalScope: Boolean = false

  private[graft] def summaryColumn(partitionCols: Seq[String],
      dims: Map[String, DataFrame]): Option[SummaryColumn] =
    Some(SummaryColumn.Counted(dangling(dims)))

  private[graft] def finish(s: Summary, i: Int): Finished =
    new Finished(s.counts(i),
      violationRows(s.rows, Summary.column(i), s.partitionCols))

  /** The fact key as reported (`"null"` for a NULL key) on a dangling
    * row, NULL on a row whose key the dimension holds. NULL dimension
    * keys are dropped before the set is built: an IN list holding NULL
    * turns every non-matching key into NULL, not into a dangling row. A
    * dimension held on the driver is read as it is; any other is
    * deduplicated on the cluster before its keys are collected. */
  private[graft] def dangling(dims: Map[String, DataFrame]): Column = {
    val dim = dims.getOrElse(dimName, throw new IllegalArgumentException(
      s"referential check '$id': dimension '$dimName' not provided"))
    val k = F.col(dimCol).cast("string")
    val keyRows = dim.select(k).where(k.isNotNull)
    val onDriver = keyRows.queryExecution.optimizedPlan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val keys = (if (onDriver) keyRows else keyRows.distinct())
      .collect().map(r => UTF8String.fromString(r.getString(0)): Any).toSet
    val fk = F.col(col).cast("string")
    F.when(fk.isNull, F.lit("null")).when(!Summary.inSet(fk, keys), fk)
  }

  /** The tagged violation rows of a per-row frame whose column
    * `dangling` holds [[dangling]] and whose `_doc_id` holds the id. */
  private[graft] def violationRows(rows: DataFrame, dangling: String,
      partitionCols: Seq[String]): DataFrame =
    rows.filter(F.col(dangling).isNotNull)
      .select(Seq(
        F.col("_doc_id").as("doc_id"),
        F.lit(id).as("constraint_id"),
        F.col(dangling).as("observed"),
        F.lit(expected).as("expected"),
        instancePath(col)) ++
        partitionCols.map(F.col): _*)
}

/**
 * Shared by the two drift checks: a per-(partition, bucket) count
 * histogram, compared per partition to the global histogram with PSI
 * (`sum((p-q)·ln(p/q))`) or KL (`sum(p·ln(p/q))`), epsilon-smoothed.
 * The histogram is at most partitions × buckets cells, so it is
 * collected and the divergence is computed on the driver
 * ([[DriftMath.divergence]]). Violations: one row per drifted partition
 * (doc_id = partition key).
 */
sealed trait DriftBase extends DatasetCheck {
  def col: String
  def buckets: Int
  def metric: String
  def threshold: Double
  def expected: String
  /** Support floor: partitions with fewer counted values cannot evidence
    * drift and are never flagged. */
  def support: Long

  /** Counts per partition and bucket, collected: check `i` of `s`. */
  protected def histogram(s: Summary, i: Int): Seq[(Seq[Any], Array[Long])]

  /** The per-partition divergence values `(partitionCols..., metric)` —
    * the inspectable face of the check (all partitions above the
    * support floor), as a local frame. */
  final def metrics(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val s = Summary.alone(this, df, "doc_id", partitionCols, Map.empty)
    metricsFrame(s, DriftMath.divergence(histogram(s, 0), metric, support))
  }

  private[graft] def finish(s: Summary, i: Int): Finished = {
    lazy val metrics =
      DriftMath.divergence(histogram(s, i), metric, support)
    new Finished(
      metrics.collect { case (k, m) if m > threshold => k -> 1L }.toMap,
      violationsOf(metricsFrame(s, metrics), s.partitionCols))
  }

  /** Divergence values as the local frame `(partitionCols..., metric)`. */
  private[graft] def metricsFrame(s: Summary,
      metrics: Seq[(Seq[Any], Double)]): DataFrame =
    DatasetCheck.local(s.whole.sparkSession,
      metrics.map { case (k, m) => Row.fromSeq(k :+ m) },
      StructType(s.partitionFields :+ StructField("metric", DoubleType)))

  /** One violation row per partition whose divergence exceeds
    * `threshold`, tagged with that partition; `doc_id` is its key. */
  private[graft] def violationsOf(metrics: DataFrame,
      partitionCols: Seq[String]): DataFrame =
    metrics
      .filter(F.col("metric") > threshold)
      .select(Seq(
        F.concat_ws("/", partitionCols.map(p =>
          F.concat(F.lit(p + "="), F.col(p).cast("string"))): _*)
          .as("doc_id"),
        F.lit(id).as("constraint_id"),
        F.concat(F.lit(metric + "="), F.round(F.col("metric"), 6)
          .cast("string")).as("observed"),
        F.lit(expected).as("expected"),
        instancePath(col)) ++
        partitionCols.map(F.col): _*)

  protected def needsPartitions(partitionCols: Seq[String]): Unit =
    require(partitionCols.nonEmpty, s"drift check '$id' needs partitionCols")
}

/**
 * C5 — distribution drift of a scalar column: an equal-width histogram
 * of `col` over a fixed [lo, hi) range per partition (out-of-range
 * values land in the edge buckets). Its counts are one grouping set of
 * the summary aggregate.
 */
final case class DriftCheck(
    id: String, col: String, lo: Double, hi: Double, buckets: Int,
    metric: String, threshold: Double, expected: String,
    minRows: Long = 100L)
    extends DriftBase {
  require(metric == "psi" || metric == "kl", s"unknown drift metric $metric")
  // a degenerate grid would silently report "no drift ever" (empty
  // bucket explode) instead of failing fast like every other misconfig
  require(buckets >= 1, s"drift check '$id': buckets must be >= 1")
  require(hi > lo, s"drift check '$id': need hi > lo")

  def support: Long = minRows

  private[graft] def summaryColumn(partitionCols: Seq[String],
      dims: Map[String, DataFrame]): Option[SummaryColumn] =
    Some(SummaryColumn.Bucketed(bucket(partitionCols)))

  /** The row's bucket, NULL where `col` is NULL. */
  private def bucket(partitionCols: Seq[String]): Column = {
    needsPartitions(partitionCols)
    val width = (hi - lo) / buckets
    F.when(F.col(col).isNotNull, F.least(F.lit(buckets - 1),
      F.greatest(F.lit(0), F.floor((F.col(col).cast("double") - lo) / width))))
  }

  protected def histogram(s: Summary, i: Int): Seq[(Seq[Any], Array[Long])] =
    s.histogram(i, buckets)
}

/**
 * C5b — TOKEN-HISTOGRAM drift (the north star's second drift target):
 * the distribution of array ELEMENTS (token ids bucketed by
 * `pmod(token, buckets)`) per partition vs globally, same PSI/KL math
 * as [[DriftCheck]]. Its per-partition sums are `buckets` columns wide,
 * too wide to ride in every row of the summary aggregate, so they keep
 * a pass of their own ([[histogram]]). `minCount` is the support floor
 * in ELEMENTS.
 */
final case class ArrayDriftCheck(
    id: String, col: String, buckets: Int,
    metric: String, threshold: Double, expected: String,
    minCount: Long = 100L)
    extends DriftBase {
  require(metric == "psi" || metric == "kl", s"unknown drift metric $metric")

  def support: Long = minCount

  private[graft] def summaryColumn(partitionCols: Seq[String],
      dims: Map[String, DataFrame]): Option[SummaryColumn] = None

  /** Per-partition element counts per bucket over `s.whole`. */
  protected def histogram(s: Summary, i: Int): Seq[(Seq[Any], Array[Long])] = {
    needsPartitions(s.partitionCols)
    val pcols = s.partitionCols.map(F.col)
    // per-row bucket counts in ONE codegen pass (no per-element rows —
    // the element-explode shape is allocation-bound and stops scaling
    // with cores), then `buckets` declarative sum() columns: the whole
    // reduction stays inside whole-stage-codegen HashAggregate with
    // map-side combine (an object-typed array-sum aggregate was tried
    // and boxes every row)
    val bc = s.whole.filter(F.col(col).isNotNull)
      .select(pcols :+
        graft.functions.BucketCounts(F.col(col), buckets).as("_bc"): _*)
    val sums = (0 until buckets).map(i =>
      F.sum(F.element_at(F.col("_bc"), i + 1)).as(s"_s$i"))
    val n = s.partitionCols.size
    bc.groupBy(pcols: _*).agg(sums.head, sums.tail: _*).collect().toSeq
      .map(r => (r.toSeq.take(n), Array.tabulate(buckets)(i => r.getLong(n + i))))
  }
}

/** The PSI/KL divergence of [[DriftBase]], on the driver. */
private[graft] object DriftMath {
  val Eps = 1e-6

  /** Per-partition divergence of a `(partition, counts per bucket)`
    * histogram against the global histogram (the sum over EVERY
    * partition, the support floor applied only at the end). A partition
    * with no counts is absent, as if it had no histogram rows. p and q
    * are epsilon-smoothed: `(c + ε) / (total + ε·buckets)`. */
  def divergence[K](hist: Seq[(K, Array[Long])], metric: String,
      minTotal: Long): Seq[(K, Double)] = {
    val present = hist.filter(_._2.sum > 0)
    if (present.isEmpty) return Nil
    val nb = present.head._2.length
    val global = Array.tabulate(nb)(b => present.map(_._2(b)).sum)
    val gt = global.sum.toDouble
    present.collect { case (k, c) if c.sum >= minTotal =>
      val pt = c.sum.toDouble
      k -> (0 until nb).map { b =>
        val p = (c(b) + Eps) / (pt + Eps * nb)
        val q = (global(b) + Eps) / (gt + Eps * nb)
        metric match {
          case "psi" => (p - q) * math.log(p / q)
          case "kl"  => p * math.log(p / q)
        }
      }.sum
    }
  }
}

/**
 * C1 — fused per-partition column profiling: ONE aggregation pass computes
 * row count plus, per column, null count and (for numeric columns)
 * min/max/mean — the reference has no analogue (single-document scope);
 * this is the `ValidationResult` metrics block generalized to a table.
 */
object ColumnStats {
  /** The shared per-field aggregate set — ONE definition so profile and
    * profileWithQuantiles cannot drift (the quantile variant silently
    * dropped the string/array stats when this was duplicated). */
  private def fieldAggs(df: DataFrame,
      partitionCols: Seq[String]): Seq[Column] =
    df.schema.fields.filterNot(f => partitionCols.contains(f.name))
      .flatMap { f =>
        val c = F.col(f.name)
        val base = Seq(
          F.sum(F.when(c.isNull, 1L).otherwise(0L)).as(s"${f.name}_nulls"))
        f.dataType match {
          case _: NumericType => base ++ Seq(
            F.min(c).as(s"${f.name}_min"),
            F.max(c).as(s"${f.name}_max"),
            F.avg(c).as(s"${f.name}_avg"))
          case StringType => base :+
            F.avg(F.length(c)).as(s"${f.name}_avg_len")
          case ArrayType(_, _) => base :+
            F.avg(F.size(c)).as(s"${f.name}_avg_size")
          case _ => base
        }
      }.toSeq

  private def run(df: DataFrame, partitionCols: Seq[String],
      aggs: Seq[Column]): DataFrame =
    if (partitionCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
    else df.groupBy(partitionCols.map(F.col): _*).agg(aggs.head, aggs.tail: _*)

  def profile(df: DataFrame, partitionCols: Seq[String]): DataFrame =
    run(df, partitionCols,
      F.count(F.lit(1)).as("n_rows") +: fieldAggs(df, partitionCols))

  /** [[profile]] plus mergeable t-digest quantile sketches for the named
    * numeric columns — the north star's "n_tok distribution via t-digest
    * sketches" fused into the SAME single aggregation pass (one scan,
    * one shuffle; the sketch is a mergeable aggregate, so map-side
    * partial aggregation applies like any other agg). Adds one
    * `<col>_q` array column per requested column, ordered like `probs`. */
  def profileWithQuantiles(
      df: DataFrame, partitionCols: Seq[String],
      quantileCols: Seq[String],
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.95, 0.99)): DataFrame = {
    val td = graft.sketch.TDigestQuantiles(probs)
    run(df, partitionCols,
      F.count(F.lit(1)).as("n_rows") +: (fieldAggs(df, partitionCols) ++
        quantileCols.map(qc =>
          td.column(F.col(qc).cast("double")).as(s"${qc}_q"))))
  }
}
