package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.compile.CompiledSuite
import graft.exec.Validator

/** One streaming-dedup event: a record whose key was already seen. */
final case class DupEvent(
    key: String,
    doc_id: String,
    first_doc_id: String,
    n_seen: Long)

/**
 * Structured-Streaming face of the validator: the same compiled
 * constraint suite (row-local Catalyst predicates are stateless
 * expressions, so they apply to a streaming DataFrame unchanged —
 * compile once, validate the infinite table). Dataset-level checks
 * (uniqueness/RI/drift) are batch-scope by definition and stay on the
 * batch path; the streaming analogue of the verdict is a watermarked
 * event-time window aggregate.
 */
object StreamValidator {

  /** Violation stream: one row per failed constraint per record —
    * the batch detail path's derivation, appended continuously. */
  def violations(
      stream: DataFrame, suite: CompiledSuite, idCol: String): DataFrame =
    evaluate(stream, suite, Nil, idCol).violations

  /** The batch evaluation over a stream. Dataset-level checks would be
    * SILENTLY dropped here — reject them outright; the caller must strip
    * them deliberately (batch path owns unique/RI/drift semantics). */
  private def evaluate(stream: DataFrame, suite: CompiledSuite,
      keys: Seq[String], idCol: String) = {
    require(suite.datasetChecks.isEmpty,
      "streaming path validates row-local checks only; dataset-level " +
        "checks (unique/RI/drift) belong to the batch path")
    Validator.evaluate(stream, suite, keys, idCol, Map.empty, None)
  }

  /** Streaming exact-dedup with CUSTOM STATE — the
    * `KeyValueGroupedDataset.flatMapGroupsWithState` face of the batch
    * uniqueness check (C3): per key the state holds (first doc_id,
    * count); every later arrival emits a [[DupEvent]] (first-seen wins,
    * duplicates detected ACROSS micro-batches, which a per-batch
    * `dropDuplicates` cannot do).
    *
    * `stateTtl`: processing-time timeout bounding the state — in a
    * 10^12-key stream, unbounded first-seen state is the scale hazard;
    * expired keys simply re-admit one representative, the same trade a
    * TTL'd dedup cache makes. With a TTL the query schedules periodic
    * timeout batches, so test harnesses calling `processAllAvailable`
    * never see the stream drain — pass None there (and in genuinely
    * bounded replays).
    *
    * Input: any frame with `keyCol` and `idCol` (e.g. the normalized
    * content fingerprint and the doc id). Update mode sink. */
  def dedupEvents(
      stream: DataFrame, keyCol: String, idCol: String,
      stateTtl: Option[String] = Some("1 hour")): Dataset[DupEvent] = {
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream.select(
        F.col(keyCol).cast("string").as("_k"),
        F.col(idCol).cast("string").as("_id"))
      .as[(String, String)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState[(Option[String], Long), DupEvent](
      org.apache.spark.sql.streaming.OutputMode.Update(),
      stateTtl.fold(GroupStateTimeout.NoTimeout())(_ =>
        GroupStateTimeout.ProcessingTimeTimeout())) {
      case (key, rows, state: GroupState[(Option[String], Long)]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // Option state, not a ""-sentinel: an EMPTY-STRING doc id is
          // a legitimate first occurrence (the sentinel silently missed
          // its duplicates), and a null id must not be adopted as first
          // (the sentinel NPE'd on the key's next arrival)
          val (first0, seen) = state.getOption
            .getOrElse((Option.empty[String], 0L))
          var firstId = first0
          var n = seen
          val out = Seq.newBuilder[DupEvent]
          rows.foreach { case (_, id) =>
            n += 1
            firstId match {
              case None => firstId = Option(id)
              case Some(f) => out += DupEvent(key, id, f, n)
            }
          }
          state.update((firstId, n))
          stateTtl.foreach(state.setTimeoutDuration)
          out.result().iterator
        }
    }
  }

  /** Windowed verdicts: per (event-time window × partition) validity,
    * watermarked so state is bounded — the batch verdict derivation
    * with the event-time `window` as one more verdict key. Late data
    * beyond the watermark is dropped by Spark; the window's verdict
    * finalizes at watermark passage (append output mode). */
  def windowedVerdicts(
      stream: DataFrame,
      suite: CompiledSuite,
      timeCol: String,
      windowDuration: String,
      watermarkDelay: String,
      partitionCols: Seq[String]): DataFrame = {
    val windowed = stream
      .withWatermark(timeCol, watermarkDelay)
      .withColumn("window", F.window(F.col(timeCol), windowDuration))
    evaluate(windowed, suite, "window" +: partitionCols, "doc_id").verdicts
  }

  /** Windowed distribution drift — the streaming analogue of the batch
    * PSI check (C5): per event-time window, an equal-width histogram of
    * `col` over [lo, hi) is compared against a STATIC reference
    * distribution (e.g. the training baseline) with PSI, emitting
    * `(window, n_rows, psi, drifted)` at watermark passage.
    *
    * Shape notes for scale: ONE stateful aggregation (the histogram is
    * built as `buckets` conditional sums inside the window aggregate —
    * no per-bucket rows, no chained stateful operators, so append mode
    * + watermark bounded-state semantics hold); the PSI arithmetic runs
    * in the stateless projection AFTER the aggregate against the
    * broadcast-as-literal reference array. Windows with fewer than
    * `minRows` rows report `drifted = false` — a handful of samples
    * cannot evidence drift (same floor as the batch check). */
  def windowedDrift(
      stream: DataFrame,
      timeCol: String,
      col: String,
      lo: Double, hi: Double, buckets: Int,
      reference: Array[Double],
      threshold: Double,
      windowDuration: String,
      watermarkDelay: String,
      minRows: Long = 100L): DataFrame = {
    require(reference.length == buckets,
      s"reference histogram has ${reference.length} bins, expected $buckets")
    require(hi > lo && buckets > 0, "need hi > lo and buckets > 0")
    val refSum = reference.sum
    require(refSum > 0, "reference histogram is empty")
    val v = F.col(col).cast("double")
    // clamp into [0, buckets-1] so out-of-range values land in the edge
    // bins rather than being dropped — clamp the BIGINT directly, no int
    // cast (an extreme value would overflow it under ANSI and kill the
    // query; exactly the batch DriftCheck's shape, DatasetChecks)
    val bucket = F.least(F.lit((buckets - 1).toLong), F.greatest(F.lit(0L),
      F.floor((v - F.lit(lo)) / F.lit((hi - lo) / buckets))))
    val counts = (0 until buckets).map(i =>
      F.sum(F.when(bucket === i.toLong, 1L).otherwise(0L)).as(s"_b$i"))
    val agg = stream
      .filter(v.isNotNull)
      .withWatermark(timeCol, watermarkDelay)
      .groupBy(F.window(F.col(timeCol), windowDuration))
      .agg(F.count(F.lit(1)).as("n_rows"), counts: _*)
    // the SAME epsilon-smoothed normalization as the batch DriftMath
    // (count + 1e-6) / (total + 1e-6·buckets) — identical histograms
    // must yield identical PSI on the batch and streaming paths
    val eps = 1e-6
    val n = F.col("n_rows").cast("double")
    val psi = (0 until buckets).map { i =>
      val p = (F.col(s"_b$i").cast("double") + eps) /
        (n + eps * buckets)
      val q = F.lit((reference(i) + eps) / (refSum + eps * buckets))
      (p - q) * F.log(p / q)
    }.reduce(_ + _)
    agg.select(
      F.col("window"), F.col("n_rows"),
      F.round(psi, 6).as("psi"),
      (F.col("n_rows") >= minRows && F.round(psi, 6) > threshold)
        .as("drifted"))
  }
}
