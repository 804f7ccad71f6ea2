package graft.checkpoint

import org.apache.spark.sql.{DataFrame, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.storage.StorageLevel

import graft.compile.CompiledSuite
import graft.exec.{Evaluation, JsonValidator, Validator}
import graft.table.TableProvider

/** One line of per-partition lineage — the north rule's
  * `(snapshot-id, partition spec, constraint-set hash)` plus metrics, so
  * a killed job can prove which partitions were already validated against
  * exactly this data and exactly this suite. */
final case class CheckpointEntry(
    partition: String,
    snapshot_id: String,
    constraint_hash: String,
    valid: Boolean,
    n_rows: Long,
    n_bad_rows: Long,
    run_id: String)

/** The checkpoint entry a run skips a partition by: run `runId`
  * validated the partition's data at `snapshotId`, which is still its
  * current snapshot id, under the same constraint hash. */
final case class Covering(runId: String, snapshotId: String)

/** What a run plans from: one listing of the table (partition → snapshot
  * id, sorted by partition) and the entry covering each partition the
  * checkpoint already holds at its current snapshot id. */
private[graft] final case class ResumePlan(
    snapshots: Seq[(String, String)],
    covered: Map[String, Covering]) {
  def pending: Seq[String] = snapshots.map(_._1).filterNot(covered.contains)
  def skipped: Seq[String] = snapshots.map(_._1).filter(covered.contains)
}

/**
 * Append-only checkpoint table (Parquet). A partition is "done" iff an
 * entry matches its CURRENT snapshot id and the CURRENT constraint hash —
 * so editing the suite or rewriting a partition's files automatically
 * re-queues it, while a plain re-run skips it. Appends are atomic at the
 * file level (each append writes one new file), matching how an Iceberg
 * append would behave.
 */
final class CheckpointStore(spark: SparkSession, path: String) {
  import spark.implicits._

  /** Every entry, read with the known [[CheckpointEntry]] schema, so
    * reading infers nothing. */
  def load(): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      spark.read.schema(Encoders.product[CheckpointEntry].schema).parquet(path)
    else spark.emptyDataset[CheckpointEntry].toDF()
  }

  /** One parquet file per append: a local frame would otherwise write one
    * file per slice, and every later pending scan runs a task per file. */
  def append(entries: Seq[CheckpointEntry]): Unit =
    entries.toDS().coalesce(1).write.mode(SaveMode.Append).parquet(path)

  /** Partitions still needing validation, sorted: those no entry records
    * at their current snapshot id under `constraintHash`. */
  def pending(table: TableProvider, constraintHash: String): Seq[String] =
    plan(table, constraintHash).pending

  /** One listing of `table` against the entries of `constraintHash`:
    * ONE small scan with the hash pushed down collects this hash's
    * `(partition, snapshot_id, run_id)` triples, and the difference with
    * the listing is taken on the driver — no join, no shuffle. A
    * partition covered by several entries names the least run id. */
  private[graft] def plan(table: TableProvider,
      constraintHash: String): ResumePlan = {
    val snapshots = table.snapshots().sortBy(_._1)
    val current = snapshots.toSet
    val covered = load()
      .where(F.col("constraint_hash") === constraintHash)
      .select("partition", "snapshot_id", "run_id")
      .as[(String, String, String)].collect()
      .collect { case (p, snap, run) if current((p, snap)) =>
        p -> Covering(run, snap) }
      .groupMapReduce(_._1)(_._2)((a, b) => if (a.runId <= b.runId) a else b)
    ResumePlan(snapshots, covered)
  }
}

/** Result of one (possibly partial) validation run. `coveredBy` names,
  * for each skipped partition, the checkpoint entry it was skipped by. */
final case class RunResult(
    runId: String,
    processed: Seq[String],
    skipped: Seq[String],
    verdicts: DataFrame,
    violations: DataFrame,
    coveredBy: Map[String, Covering])

/**
 * The resumable whole-table validation driver (north rule C7): plan =
 * pending partitions (one listing against the checkpoint, on the driver)
 * → ONE partition-pruned scan validates all of them → violations land
 * per partition → checkpoint entries appended with metrics. Kill it
 * anywhere; the next run picks up exactly the unvalidated partitions.
 *
 * SINGLE PASS: [[run]] (Catalyst engine) and [[runJson]] (doc engine)
 * share one driver and differ only in the [[Evaluation]] they supply —
 * the narrow per-row frame and, for [[run]], the suite's dataset checks.
 * Verdicts, checkpoint entries and violations all derive from that one
 * evaluation; with dataset checks, its one summary aggregate is
 * collected once and the verdicts are a local frame. When
 * `violationsOut` is set the per-row frame persists to executor disk, so
 * the first action materializes it and the next reads the blocks: every
 * pending row is evaluated once (lineage recomputes a lost block —
 * correctness never depends on the cache). Verdict-only runs skip the
 * persist and the returned `violations` plan stays lazy (acting on it
 * re-evaluates — materialize via `violationsOut` when both outputs are
 * consumed).
 */
object PartitionedRunner {

  /** Resumable validation of a partitioned table by the Catalyst engine.
    * Dataset-level checks (uniqueness, drift baseline) evaluate over the
    * WHOLE table, not the pending subset: a duplicate key can span
    * partitions validated in different runs, and the drift baseline must
    * not depend on which partitions happened to share a run. Row-local
    * checks and verdict rows stay restricted to the pending scan. */
  def run(
      table: TableProvider,
      suite: CompiledSuite,
      checkpoint: CheckpointStore,
      runId: String,
      idCol: String = "doc_id",
      dims: Map[String, DataFrame] = Map.empty,
      violationsOut: Option[String] = None,
      maxPartitions: Int = Int.MaxValue): RunResult =
    drive(table, checkpoint, runId, suite.constraintHash, violationsOut,
        maxPartitions) { pending =>
      Validator.evaluate(table.scan(pending), suite, table.partitionCols,
        idCol, dims, globalDf = Some(table.scanAll()))
    }

  /**
   * Resumable validation of a partitioned RAW-JSON corpus — the
   * reference's literal instance shape (a JSON string per row) under
   * the north rule's checkpoint/lineage contract. The suite compiles
   * for the DOCUMENT engine once on the driver; its per-row frame
   * ([[JsonValidator.evaluate]]) gives every pending row its verdict
   * and violations (malformed → invalid, never a crash), and verdicts
   * land in the same checkpoint table `run` uses. The constraint hash
   * is prefixed (`docjson:`) so the same suite validated through the
   * typed-column engine and through this path keep distinct lineages.
   */
  def runJson(
      table: TableProvider,
      suite: graft.dsl.ConstraintSuite,
      checkpoint: CheckpointStore,
      runId: String,
      jsonCol: String = "js",
      registry: graft.registry.ConstraintRegistry =
        graft.registry.ConstraintRegistry.empty,
      idCol: String = "doc_id",
      violationsOut: Option[String] = None,
      maxPartitions: Int = Int.MaxValue): RunResult = {
    val compiled = JsonValidator.compile(suite, registry)
    val chash = "docjson:" + graft.compile.ConstraintCompiler.hashOf(
      graft.compile.ConstraintCompiler.resolve(suite, registry))
    drive(table, checkpoint, runId, chash, violationsOut,
        maxPartitions) { pending =>
      JsonValidator.evaluate(table.scan(pending), table.partitionCols,
        idCol, jsonCol, compiled)
    }
  }

  /** The one driver loop: pending partitions → one evaluation →
    * (persisted when violations are written) → violations → checkpoint.
    * Pending, skipped and every entry's snapshot id come from the one
    * listing the run planned from. A converged run evaluates nothing and
    * returns empty frames with the verdict and violation schemas. */
  private def drive(table: TableProvider, checkpoint: CheckpointStore,
      runId: String, constraintHash: String, violationsOut: Option[String],
      maxPartitions: Int)(evaluate: Seq[String] => Evaluation): RunResult = {
    val plan = checkpoint.plan(table, constraintHash)
    val pending = plan.pending.take(maxPartitions)
    val eval = evaluate(pending)
    def result(verdicts: DataFrame, violations: DataFrame) =
      RunResult(runId, pending, plan.skipped, verdicts, violations,
        plan.covered)
    if (pending.isEmpty) {
      val (verdicts, violations) = eval.empty
      return result(verdicts, violations)
    }

    val persist = violationsOut.isDefined
    if (persist) eval.rows.persist(StorageLevel.DISK_ONLY)
    try {
      violationsOut.foreach { out =>
        eval.violations.write.mode(SaveMode.Append).parquet(out)
      }
      val snapshot = plan.snapshots.toMap
      checkpoint.append(checkpointEntries(table.partitionCols, eval.verdicts,
        constraintHash, runId, pending.map(p => p -> snapshot(p))))
    } finally if (persist) eval.rows.unpersist(blocking = false)
    result(eval.verdicts, eval.violations)
  }

  /** Collect per-partition verdict rows into checkpoint entries, plus
    * vacuous entries for pending partitions whose scan produced zero
    * rows (they emit no verdict row and would otherwise be re-queued
    * and re-scanned on every run forever). `pending` pairs each pending
    * partition with the snapshot id the run planned from: a partition
    * rewritten during the run is recorded at the id it was validated
    * at, so the next run sees a new id and validates it again. */
  private def checkpointEntries(partitionCols: Seq[String],
      verdicts: DataFrame, constraintHash: String, runId: String,
      pending: Seq[(String, String)]): Seq[CheckpointEntry] = {
    // a verdict row carries DECODED partition values: match it to its
    // pending partition by the decoded values of the name
    val byValues = pending.map { case (p, snap) =>
      TableProvider.decode(p).map(_._2) -> (p, snap) }.toMap
    // Verdicts are small (one row per partition) — collect for checkpoint.
    val entries = verdicts.collect().toSeq.map { r =>
      val values =
        partitionCols.map(c => Option(r.getAs[Any](c)).map(_.toString))
      val (p, snap) = byValues.getOrElse(values,
        throw new IllegalStateException(s"verdict for " +
          s"${partitionCols.zip(values).mkString(", ")} matches no pending " +
          "partition"))
      CheckpointEntry(
        partition = p,
        snapshot_id = snap,
        constraint_hash = constraintHash,
        valid = r.getAs[Boolean]("valid"),
        n_rows = r.getAs[Long]("n_rows"),
        n_bad_rows = r.getAs[Long]("n_bad_rows"),
        run_id = runId)
    }
    val seen = entries.map(_.partition).toSet
    entries ++ pending.filterNot(e => seen(e._1)).map { case (p, snap) =>
      CheckpointEntry(p, snap, constraintHash,
        valid = true, n_rows = 0L, n_bad_rows = 0L, run_id = runId)
    }
  }
}
