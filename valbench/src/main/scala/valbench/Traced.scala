package valbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.checkpoint.{CheckpointEntry, CheckpointStore}
import graft.checks.{DriftCheck, RefIntegrityCheck, UniqueCheck}
import graft.compile.ConstraintCompiler
import graft.exec.{JsonValidator, Validator}
import graft.gen.SequenceGen
import graft.table.ParquetPartitionedTable

/** The traced run: every per-layer metric, each taken from outside by
  * timing one module's public function alone, plus full calls with the
  * full listener on. Time metrics are medians of [[Reps]] calls. */
object Traced {
  val Reps = 3
  val FullCalls = 3
  /** Share of `--seconds` the local[1] JVM measures for. */
  val Level1Seconds = 0.5

  def run(a: Main.Args): Unit = {
    val spark = Session.start(Timed.Cores, a.work)
    val plan = Setup.build(spark, a.workload, s"${a.work}/setup", a.seed,
      Main.Rows, Main.Docs, withJson = true)
    val w = Setup.workload(spark, plan, a.work)
    val counters = Counters.register(spark.sparkContext)
    val loop = new Loop(w, spark, counters)

    loop.once(record = false)
    val m = new Layers(spark, plan, w, a.work).all()

    // full calls, untraced and traced in turn so both see the same warmth
    val pairs = (1 to FullCalls).map { _ =>
      val untraced = loop.once(record = true)
      counters.full = true
      val t = loop.once(record = true)
      counters.full = false
      val s = loop.lastSnapshot
      val start = loop.lastStartMs
      (untraced, (t, s, loop.lastRead - s.shuffleReadBytes,
        s.uncoveredMs(start, start + (t * 1000).toLong)))
    }
    spark.stop()
    val untraced = pairs.map(_._1)
    val full = pairs.map(_._2)
    def med(f: ((Double, Snapshot, Long, Long)) => Double) =
      Stats.median(full.map(f))
    val tracedS = med(_._1)
    val untracedS = Stats.median(untraced)
    val scanBytes = m.collectFirst { case ("table.scan_bytes", v, _) => v }.get

    val level1 = Level1.spawn(a, plan, a.seconds * Level1Seconds)
    val level4SeqPerS = w.rowsPerCall / untracedS
    val eff =
      if (level1.seqPerS > 0) level4SeqPerS / (Timed.Cores * level1.seqPerS)
      else 0.0

    val callMetrics = Seq(
      ("spark.jobs", med(_._2.jobsStarted.toDouble), "count"),
      ("spark.stages", med(_._2.stages.toDouble), "count"),
      ("spark.tasks", med(_._2.tasks.toDouble), "count"),
      ("spark.shuffle_write_bytes", med(_._2.shuffleWriteBytes.toDouble),
        "bytes"),
      ("spark.shuffle_read_bytes", med(_._2.shuffleReadBytes.toDouble),
        "bytes"),
      ("spark.spill_bytes", med(_._2.spillBytes.toDouble), "bytes"),
      ("spark.executor_cpu_s", med(_._2.executorCpuNs / 1e9), "s"),
      ("spark.gc_s", med(_._2.gcMs / 1e3), "s"),
      ("spark.driver_gap_s", med(_._4 / 1e3), "s"),
      ("spark.scan_passes", med(_._3.toDouble) / scanBytes, "ratio"),
      ("scale.level1_seq_per_s", level1.seqPerS, "1/s"),
      ("scale.eff_1to4", eff, "ratio"),
      ("trace.call_s", tracedS, "s"),
      ("trace.untraced_call_s", untracedS, "s"),
      ("trace.overhead_s", tracedS - untracedS, "s"))

    println(Json.obj(Seq("context" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "nproc" -> Host.nproc.toString,
      "load1_end" -> Json.num(Host.load1()),
      "git_sha" -> Json.str(Host.gitSha()),
      "source_sha256" -> Json.str(Host.sourceSha()),
      "rows_per_call" -> w.rowsPerCall.toString,
      "level1_call_s" -> Json.arr(level1.times.map(Json.num)),
      "mismatches" -> Json.arr((loop.mismatches.result() ++ level1.errors)
        .take(20).map(Json.str)))))))
    println(Json.result(loop.attempted + level1.attempted,
      loop.failed + level1.failed, m ++ callMetrics))
  }
}

/** Isolated calls into each module, over the workload's table and the
  * partitions one call validates (its scope); the document engine runs
  * over the JSON rendering of the table's first rows. */
final class Layers(spark: SparkSession, plan: Plan, w: Workload,
    work: String) {
  import Traced.Reps

  private val table = new ParquetPartitionedTable(spark, plan.tableDir,
    "source")
  private val docs = new ParquetPartitionedTable(spark, plan.jsonDir.get,
    "source")
  private val scope = w.scope
  private val dims = Map("sources" -> SequenceGen.sourcesDim(spark))

  private def time[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    (Stats.seconds(t0), r)
  }

  /** Median wall seconds of `Reps` runs of `body` after one warm-up run,
    * and its last result. */
  private def timed[T](body: => T): (Double, T) = {
    body
    val runs = (1 to Reps).map(_ => time(body))
    (Stats.median(runs.map(_._1)), runs.last._2)
  }

  /** Like [[timed]], plus the median bytes read. */
  private def timedBytes[T](body: => T): (Double, Double, T) = {
    body
    val runs = (1 to Reps).map { _ =>
      val r0 = Host.readBytes
      val r = time(body)
      (r, (Host.readBytes - r0).toDouble)
    }
    (Stats.median(runs.map(_._1._1)), Stats.median(runs.map(_._2)),
      runs.last._1._2)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def all(): Seq[(String, Double, String)] = {
    val (partitionsS, _) = timed(table.partitions())
    val (snapshotS, _) = timed(table.partitions().map(table.snapshotId))
    val (scanS, scanBytes, _) = timedBytes(noop(table.scan(scope)
      .select("source", "doc_id", "tokens", "n_tok")))
    val files = scope.map(p => Fs.dataFiles(s"${plan.tableDir}/$p")).sum

    val (compileS, compiled) = timed(ConstraintCompiler.compile(Suites.standard))
    val rowSuite = ConstraintCompiler.compile(Suites.rowLocal(Suites.standard))
    val (rowlocalS, _) = timed(Validator.validate(table.scan(scope),
      rowSuite, table.partitionCols).collect())
    // violation assembly under the strict suite, so ~5% of rows fail
    val strict = Suites.rowLocal(Suites.strict)
    val details = Validator.validateWithDetails(table.scan(scope),
      ConstraintCompiler.compile(strict), table.partitionCols).violations
    val (violationsS, _) = timed(noop(details))
    val violationRows = details.count().toDouble
    val strictExp = Expected.ofTable(spark, plan.tableDir, strict)
    val failShare = strictExp.badRowsIn(scope).toDouble / strictExp.rowsIn(scope)

    val docSuite = JsonValidator.compile(Suites.rowLocal(Suites.standard))
    val (docS, _) = timed(noop(
      JsonValidator.verdicts(docs.scanAll(), "doc_id", "js", docSuite)))
    val docRows = docs.scanAll().count().toDouble

    val ds = ConstraintCompiler.compile(Suites.standard).datasetChecks
    val unique = ds.collectFirst { case c: UniqueCheck => c }.get
    val ri = ds.collectFirst { case c: RefIntegrityCheck => c }.get
    val drift = ds.collectFirst { case c: DriftCheck => c }.get
    val cols = table.partitionCols
    val (uniqueS, dupKeys) = timed(
      unique.violations(table.scanAll(), "doc_id", cols, dims).collect())
    val (riS, dangling) = timed(ri.violationCountsByPartition(
      table.scan(scope), "doc_id", cols, dims).get.collect())
    val (driftS, flagged) = timed(
      drift.violations(table.scanAll(), "doc_id", cols, dims).collect())

    val hash = compiled.constraintHash
    val store = new CheckpointStore(spark,
      plan.pristineCheckpoint.getOrElse(s"$work/layers/empty-checkpoint"))
    val (pendingS, _) = timed(store.pending(table, hash))
    val entries = scope.map(p => CheckpointEntry(p, table.snapshotId(p),
      hash, valid = true, n_rows = 0L, n_bad_rows = 0L, run_id = "layers"))
    var k = 0
    val appends = (1 to Reps).map { _ =>
      k += 1
      val dir = s"$work/layers/append-$k"
      val (t, _) = time(new CheckpointStore(spark, dir).append(entries))
      (t, Fs.size(dir).toDouble)
    }

    Seq(
      ("table.partitions_s", partitionsS, "s"),
      ("table.snapshot_s", snapshotS, "s"),
      ("table.scan_s", scanS, "s"),
      ("table.scan_bytes", scanBytes, "bytes"),
      ("table.files", files.toDouble, "count"),
      ("compile.s", compileS, "s"),
      ("compile.row_checks", compiled.rowChecks.size.toDouble, "count"),
      ("compile.dataset_checks", compiled.datasetChecks.size.toDouble,
        "count"),
      ("exec.rowlocal_s", rowlocalS, "s"),
      ("exec.rowlocal_self_s", rowlocalS - scanS, "s"),
      ("exec.violations_s", violationsS, "s"),
      ("exec.violation_rows", violationRows, "count"),
      ("exec.fail_share", failShare, "ratio"),
      ("exec.doc_s", docS, "s"),
      ("exec.doc_rows", docRows, "count"),
      ("checks.unique_s", uniqueS, "s"),
      ("checks.unique_dup_keys", dupKeys.length.toDouble, "count"),
      ("checks.ri_s", riS, "s"),
      ("checks.ri_dangling", dangling.map(_.getAs[Long]("_n_ds_viol"))
        .sum.toDouble, "count"),
      ("checks.drift_s", driftS, "s"),
      ("checks.drift_flagged", flagged.length.toDouble, "count"),
      ("checkpoint.pending_s", pendingS, "s"),
      ("checkpoint.append_s", Stats.median(appends.map(_._1)), "s"),
      ("checkpoint.bytes", Stats.median(appends.map(_._2)), "bytes"))
  }
}
