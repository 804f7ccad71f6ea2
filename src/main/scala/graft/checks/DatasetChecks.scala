package graft.checks

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/**
 * A dataset-scope validation — no per-document analogue in the reference
 * (its scope is one JSON instance, `blaze_wrapper.cpp:128-139`); these
 * generalize `uniqueItems` / `enum` / `$ref` to table scope per the north
 * rule (SURVEY.md §2.C).
 *
 * Contract: [[taggedViolations]] returns the check's violation rows —
 * exactly the violation schema `(doc_id, constraint_id, observed,
 * expected, instance_path)`, all strings, the same shape the row-local
 * detail path produces — followed by the partition columns of the
 * partition each row counts against. Table-scope checks carry no
 * partition columns: their violations count against every partition.
 * The validator builds this frame ONCE per check and derives both the
 * violation rows and the verdict counts from it.
 */
trait DatasetCheck extends Serializable {
  def id: String
  def taggedViolations(
      df: DataFrame,
      idCol: String,
      partitionCols: Seq[String],
      dims: Map[String, DataFrame]): DataFrame

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
}

object DatasetCheck {
  /** The canonical violation schema (north rule; mirrors the reference's
    * `ValidationError` fields, `ValidationError.java:18-22`). */
  val violationCols: Seq[String] =
    Seq("doc_id", "constraint_id", "observed", "expected", "instance_path")
}

/**
 * C3 — table-scope key uniqueness via a HASH-FIRST two-phase aggregate.
 *
 * Keys are near-unique by construction, so partial aggregation cannot
 * compress the shuffle — a direct `groupBy(key)` moves every key string
 * through the exchange (~10^12 × 25+ B at scale). Phase 1 therefore
 * shuffles only `xxhash64(key)` — 8 bytes/row, with map-side partial
 * aggregation collapsing any hot key to one row per map task before the
 * exchange (the skew guard) — and keeps just hashes seen more than
 * once. Phase 2 re-scans the key column, semi-joins the (small)
 * candidate-hash set (AQE broadcasts it when it fits), and recounts
 * EXACTLY on the real key — so xxhash64 collisions (≈ n²/2^65 false
 * candidates: a few ×10^4 at 10^12 rows) are filtered, never reported.
 * Violations: one row per duplicated key value (not per duplicate row) —
 * violation volume stays proportional to the number of BAD KEYS.
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
  def taggedViolations(df: DataFrame, idCol: String,
      partitionCols: Seq[String], dims: Map[String, DataFrame]): DataFrame = {
    val dupKeys =
      if (colocated)
        // raw attribute, no cast: a rewritten expression would not match
        // the scan's output partitioning and would resurrect the shuffle
        df.select(F.col(col).as("_k"))
          .groupBy("_k").agg(F.count(F.lit(1)).as("_cnt"))
          .filter(F.col("_cnt") > 1)
          .select(F.col("_k").cast("string").as("_k"), F.col("_cnt"))
      else uniqueTwoPhase(df)
    dupKeys
      .select(
        F.coalesce(F.col("_k"), F.lit("null")).as("doc_id"),
        F.lit(id).as("constraint_id"),
        F.concat(F.lit("count="), F.col("_cnt").cast("string"))
          .as("observed"),
        F.lit(expected).as("expected"),
        F.lit("/" + col.replace(".", "/")).as("instance_path"))
  }

  /** Duplicated keys `(_k string, _cnt)` via the hash-first two-phase
    * shape described in the class doc. */
  private def uniqueTwoPhase(df: DataFrame): DataFrame = {
    val keys = df.select(F.col(col).cast("string").as("_k"))
    val candidateHashes = keys
      .select(F.xxhash64(F.col("_k")).as("_h"))
      .groupBy("_h").agg(F.count(F.lit(1)).as("_hc"))
      .filter(F.col("_hc") > 1)
      .select("_h")
    keys
      .join(candidateHashes,
        F.xxhash64(F.col("_k")) === F.col("_h"), "left_semi")
      .groupBy("_k").agg(F.count(F.lit(1)).as("_cnt"))
      .filter(F.col("_cnt") > 1)
  }
}

/**
 * C4 — referential integrity of a fact column against a dimension table
 * via broadcast left-anti join (the dimension is small by construction;
 * `F.broadcast` pins the strategy so no shuffle of the 10^12-row fact side
 * ever happens). One violation row per dangling fact row.
 */
final case class RefIntegrityCheck(
    id: String, col: String, dimName: String, dimCol: String,
    expected: String)
    extends DatasetCheck {
  // dangling keys are facts about individual rows vs an EXTERNAL
  // dimension — nothing cross-partition; pending-scan scope suffices
  override def needsGlobalScope: Boolean = false
  def taggedViolations(df: DataFrame, idCol: String,
      partitionCols: Seq[String], dims: Map[String, DataFrame]): DataFrame = {
    val dim = dims.getOrElse(dimName, throw new IllegalArgumentException(
      s"referential check '$id': dimension '$dimName' not provided"))
    val keys = dim.select(F.col(dimCol).cast("string").as("_dk")).distinct()
    df.select(F.col(idCol).cast("string").as("doc_id") +:
        F.col(col).cast("string").as("_fk") +:
        partitionCols.map(F.col): _*)
      .join(F.broadcast(keys), F.col("_fk") === F.col("_dk"), "left_anti")
      .select(Seq(
        F.col("doc_id"),
        F.lit(id).as("constraint_id"),
        F.coalesce(F.col("_fk"), F.lit("null")).as("observed"),
        F.lit(expected).as("expected"),
        F.lit("/" + col.replace(".", "/")).as("instance_path")) ++
        partitionCols.map(F.col): _*)
  }
}

/**
 * C5 — distribution drift: equal-width histogram of `col` over a fixed
 * [lo, hi) range per partition, compared to the global histogram with
 * PSI (`sum((p-q)·ln(p/q))`) or KL (`sum(p·ln(p/q))`), epsilon-smoothed.
 * One aggregation pass over the data; the per-partition × per-bucket
 * grid is tiny post-aggregation, so the compare is a broadcast join.
 * Violations: one row per drifted partition (doc_id = partition key).
 */
final case class DriftCheck(
    id: String, col: String, lo: Double, hi: Double, buckets: Int,
    metric: String, threshold: Double, expected: String,
    minRows: Long = 100L)
    extends DatasetCheck {
  require(metric == "psi" || metric == "kl", s"unknown drift metric $metric")
  // a degenerate grid would silently report "no drift ever" (empty
  // bucket explode) instead of failing fast like every other misconfig
  require(buckets >= 1, s"drift check '$id': buckets must be >= 1")
  require(hi > lo, s"drift check '$id': need hi > lo")

  def taggedViolations(df: DataFrame, idCol: String,
      partitionCols: Seq[String], dims: Map[String, DataFrame]): DataFrame =
    DriftMath.violations(metrics(df, partitionCols), partitionCols, id, col,
      metric, threshold, expected)

  /** The per-partition divergence values `(partitionCols..., metric)` —
    * the inspectable face of the check (all partitions above the
    * support floor). One pass builds the scalar histogram; the
    * divergence math is shared with [[ArrayDriftCheck]] via
    * [[DriftMath.divergence]]. */
  def metrics(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty, s"drift check '$id' needs partitionCols")
    val width = (hi - lo) / buckets
    val pcols = partitionCols.map(F.col)
    val bucket = F.least(F.lit(buckets - 1), F.greatest(F.lit(0),
      F.floor((F.col(col).cast("double") - lo) / width))).as("_b")
    val hist = df.filter(F.col(col).isNotNull)
      .select(pcols :+ bucket: _*)
      .groupBy((pcols :+ F.col("_b")): _*)
      .agg(F.count(F.lit(1)).as("_c"))
    DriftMath.divergence(hist, partitionCols, buckets, metric, minRows)
  }
}

/**
 * C5b — TOKEN-HISTOGRAM drift (the north star's second drift target):
 * the distribution of array ELEMENTS (token ids bucketed by
 * `pmod(token, buckets)`) per partition vs globally, same PSI/KL math
 * as [[DriftCheck]]. The heavy step is one explode → partial-aggregated
 * count: the shuffle after map-side combine carries only
 * (partitions × buckets) rows no matter how many tokens were exploded —
 * the scale-safe shape for 10^12 × n_tok elements. `minCount` is the
 * support floor in ELEMENTS.
 */
final case class ArrayDriftCheck(
    id: String, col: String, buckets: Int,
    metric: String, threshold: Double, expected: String,
    minCount: Long = 100L)
    extends DatasetCheck {
  require(metric == "psi" || metric == "kl", s"unknown drift metric $metric")

  def taggedViolations(df: DataFrame, idCol: String,
      partitionCols: Seq[String], dims: Map[String, DataFrame]): DataFrame =
    DriftMath.violations(metrics(df, partitionCols), partitionCols, id, col,
      metric, threshold, expected)

  def metrics(df: DataFrame, partitionCols: Seq[String]): DataFrame = {
    require(partitionCols.nonEmpty,
      s"array drift check '$id' needs partitionCols")
    val pcols = partitionCols.map(F.col)
    // per-row bucket counts in ONE codegen pass (no per-element rows —
    // the element-explode shape is allocation-bound and stops scaling
    // with cores), then `buckets` declarative sum() columns: the whole
    // reduction stays inside whole-stage-codegen HashAggregate with
    // map-side combine (an object-typed array-sum aggregate was tried
    // and boxes every row). Only the per-PARTITION sums are unpivoted
    // into (partition, bucket, count) rows.
    val bc = df.filter(F.col(col).isNotNull)
      .select(pcols :+
        graft.functions.BucketCounts(F.col(col), buckets).as("_bc"): _*)
    val sums = (0 until buckets).map(i =>
      F.sum(F.element_at(F.col("_bc"), i + 1)).as(s"_s$i"))
    val summed = bc.groupBy(pcols: _*).agg(sums.head, sums.tail: _*)
    val hist = summed
      .select(pcols :+ F.posexplode(F.array(
        (0 until buckets).map(i => F.col(s"_s$i")): _*))
        .as(Seq("_b", "_c")): _*)
      .select(pcols ++ Seq(F.col("_b").cast("long").as("_b"),
        F.col("_c")): _*)
      .filter(F.col("_c") > 0) // absent buckets re-densify in the grid
    DriftMath.divergence(hist, partitionCols, buckets, metric, minCount)
  }
}

/**
 * Shared PSI/KL divergence over a per-(partition, bucket) count
 * histogram `(partitionCols..., _b, _c)`.
 *
 * SINGLE-LINEAGE construction — the 100 TB property that matters: the
 * input is scanned ONCE into the histogram; everything after
 * (per-partition totals, the dense bucket grid, global per-bucket
 * counts, the grand total) derives from that tiny aggregate via
 * collect_list/explode and window sums, never by re-joining plans that
 * re-reference the input. (DataFrame reuse does not dedupe scans — a
 * parts/global/grid self-join shape re-scans the table up to 3×,
 * observed live in the AQE plan.)
 */
private[checks] object DriftMath {
  /** One violation row per partition whose divergence exceeds
    * `threshold`, tagged with that partition; `doc_id` is its key. */
  def violations(metrics: DataFrame, partitionCols: Seq[String], id: String,
      col: String, metric: String, threshold: Double,
      expected: String): DataFrame =
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
        F.lit("/" + col.replace(".", "/")).as("instance_path")) ++
        partitionCols.map(F.col): _*)

  def divergence(hist: DataFrame, partitionCols: Seq[String],
      buckets: Int, metric: String, minTotal: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pcols = partitionCols.map(F.col)

    // one row per partition: bucket→count map + total (≤ buckets entries)
    val perPart = hist.groupBy(pcols: _*).agg(
      F.map_from_entries(F.collect_list(F.struct(F.col("_b"), F.col("_c"))))
        .as("_bm"),
      F.sum("_c").as("_pt"))

    // dense grid: every (partition, bucket) with its count (0 if absent)
    val allBuckets = F.array((0 until buckets).map(b => F.lit(b.toLong)): _*)
    val grid = perPart
      .select(pcols ++ Seq(F.col("_bm"), F.col("_pt"),
        F.explode(allBuckets).as("_b")): _*)
      .withColumn("_c",
        F.coalesce(F.try_element_at(F.col("_bm"), F.col("_b")), F.lit(0L)))
      .drop("_bm")
      // global per-bucket count and grand total: window sums over the
      // grid (ALL partitions present, so these equal sums over the raw
      // histogram — the support-floor filter applies only at the end)
      .withColumn("_gc", F.sum("_c").over(Window.partitionBy("_b")))
      .withColumn("_gt", F.sum("_c").over(Window.partitionBy()))

    val eps = 1e-6
    val p = (F.col("_c").cast("double") + eps) /
      (F.col("_pt").cast("double") + eps * buckets)
    val q = (F.col("_gc").cast("double") + eps) /
      (F.col("_gt").cast("double") + eps * buckets)
    val term = metric match {
      case "psi" => (p - q) * F.log(p / q)
      case "kl"  => p * F.log(p / q)
    }
    grid
      .select(pcols ++ Seq(F.col("_pt"), term.as("_t")): _*)
      .groupBy(pcols: _*)
      .agg(F.sum("_t").as("metric"), F.first("_pt").as("_pt"))
      // partitions below the support floor cannot evidence drift
      .filter(F.col("_pt") >= minTotal)
      .drop("_pt")
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
