package graft

import org.apache.spark.sql.SparkSession

/**
 * Driver-contract bench: the engine's headline metric — fast-path
 * validation throughput (sequences/sec) over a parquet-materialized
 * synthetic `input_hint` table — plus per-query times for every
 * SparkEntry query on `SPARK_GRAFT_SF_DIR`. Prints ONE JSON line (also
 * written to `BENCH_LOCAL.json`, since stdout may be wrapped by the
 * build tool).
 *
 * Measurement protocol (round-2 verdict: best-of-3 under a 3.2× rep
 * spread is a lottery):
 *  - the headline runs FIRST, before the query suite touches the page
 *    cache / GC state;
 *  - ≥5 timed reps, MEDIAN throughput reported;
 *  - if max/min rep spread exceeds 1.5× the whole batch is re-run (up
 *    to 2 retries) and all reps pool into the median;
 *  - every raw rep time and the final spread are emitted in the JSON
 *    so a noisy box is visible in the artifact, not hidden by it.
 */
object Bench {

  private val HeadlineRows = 32000000L
  private val Reps = 5
  private val MaxSpread = 1.5
  private val MaxRetries = 2

  /** Per-query timing: `reps` runs each, MEDIAN reported, every raw
    * rep kept in the artifact — a single-run loop cannot distinguish
    * ambient load from a regression (the round-4 artifact drifted
    * +8–30% uniformly across unchanged queries and could not prove it
    * was the box). A query that THROWS records `(name, -1.0, reps-so-
    * far, Some(error))` and stops repeating — never a silently-
    * plausible elapsed time. */
  private[graft] def measureQueries(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql
        .DataFrame] = SparkEntry.queries,
      reps: Int = 3): Seq[(String, Double, Seq[Double], Option[String])] =
    queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      var err: Option[String] = None
      val times = (1 to reps).flatMap { _ =>
        if (err.isDefined) None
        else {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            Some((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              err = Some(s"${e.getClass.getSimpleName}: " +
                String.valueOf(e.getMessage).take(200))
              None
          }
        }
      }
      if (err.isDefined) (name, -1.0, times, err)
      else (name, Scaling.median(times), times, None)
    }

  private[graft] def jsonEscape(s: String): String =
    s.flatMap {
      case '"'           => "\\\""
      case '\\'          => "\\\\"
      case c if c < ' '  => f"\\u${c.toInt}%04x"
      case c             => c.toString
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.defaultCores
    val spark = Session(cpus, "graft-bench")
    val loadStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    // ---- headline FIRST: fast-path validation throughput ------------
    // 32M rows: big enough that the fixed driver/stage-orchestration
    // cost (constant in data size — see BENCH/BASELINE.md) is amortized
    // and JIT steady state is reached; small-row measurements
    // structurally understate the scalable rate.
    var allReps = Vector.empty[Double]
    var lastBatch = Vector.empty[Double]
    var batch = 0
    var spread = Double.MaxValue
    while (batch == 0 ||
        (spread > MaxSpread && batch <= MaxRetries)) {
      val (_, _, times) = Scaling.validationThroughput(
        spark, nRows = HeadlineRows, reps = Reps)
      spread = times.max / times.min
      lastBatch = times.toVector
      allReps ++= times
      batch += 1
      if (spread > MaxSpread && batch <= MaxRetries)
        System.err.println(
          f"[bench] rep spread $spread%.2fx > $MaxSpread — retrying batch")
    }
    val medianSec = Scaling.median(allReps)
    val seqPerSec = HeadlineRows / medianSec
    val finalSpread = allReps.max / allReps.min
    // the FINAL batch is the last one the retry loop ran — its median/
    // spread are the protocol's acceptance numbers ONLY when the
    // spread criterion actually held (`clean_batch_accepted`): with
    // MaxRetries exhausted the loop exits and the final batch is still
    // noisy, and publishing it unmarked would dress ambient load up as
    // an accepted number. Pooled stats above keep every rep visible.
    val cleanMedianSec = Scaling.median(lastBatch)
    val cleanSpread = lastBatch.max / lastBatch.min
    val cleanAccepted = cleanSpread <= MaxSpread

    // ---- per-query suite times ---------------------------------------
    // warm the JVM/codegen once with a cheap query
    try SparkEntry.queries("v_verdict")(spark, sfDir).count()
    catch { case _: Throwable => () }
    val results = measureQueries(spark, sfDir)

    val qs = results.map { case (k, v, _, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val qreps = results.map { case (k, _, ts, _) =>
      "\"" + k + "\":" + ts.map(t => f"$t%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) =>
      "\"" + k + "\":\"" + jsonEscape(e) + "\"" }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, None) => v }.sum
    val reps = allReps.map(t => f"$t%.3f").mkString("[", ",", "]")
    // 1-min load: ambient-noise context for cross-round comparisons
    val loadEnd = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"query_rep_sec":$qreps,"query_errors":$errs,"sf":"$sfDir","validation_seq_per_sec":$seqPerSec%.0f,"validation_rows":$HeadlineRows,"validation_rep_sec":$reps,"validation_median_sec":$medianSec%.3f,"validation_spread":$finalSpread%.2f,"clean_batch_median_sec":$cleanMedianSec%.3f,"clean_batch_spread":$cleanSpread%.2f,"clean_batch_seq_per_sec":${HeadlineRows / cleanMedianSec}%.0f,"clean_batch_accepted":$cleanAccepted,"load_1m_start":$loadStart%.2f,"load_1m_end":$loadEnd%.2f}"""
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_LOCAL.json"), json + "\n")
    spark.stop()
    // the metrics line is the process's final stdout line
    println(json)
  }
}
