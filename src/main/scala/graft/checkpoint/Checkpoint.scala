package graft.checkpoint

import java.io.IOException
import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter,
  GroupReadSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

import graft.checks.Evaluation
import graft.compile.CompiledSuite
import graft.exec.{JsonValidator, Validator}
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
 * re-queues it, while a plain re-run skips it.
 *
 * The table holds one small row per partition per run, so it is read and
 * written on the driver with parquet-hadoop, never by a Spark job: a
 * read lists the directory and reads every entry file, skipping names
 * that start with `_` or `.` as Spark does (`_SUCCESS`, `_temporary/`,
 * `.crc`, this store's own temp files). An append writes ONE file under a
 * hidden temp name and renames it into place: the rename is the commit
 * point, so an append is atomic at the file level and a failed one leaves
 * nothing a reader lists. The file has the schema Spark's writer gives
 * [[CheckpointEntry]], so checkpoints written by Spark and by this store
 * mix in one directory, and `spark.read.parquet` reads either.
 */
final class CheckpointStore(spark: SparkSession, path: String) {
  import spark.implicits._
  import CheckpointStore.{FileSchema, entry, group}

  private val dir = new Path(path)
  private def conf = spark.sparkContext.hadoopConfiguration

  /** Every entry, as a local frame with the [[CheckpointEntry]] columns. */
  def load(): DataFrame = entries().toDF()

  /** Every entry, read file by file on the driver. */
  private def entries(): Seq[CheckpointEntry] = {
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq
      .filter { f =>
        val name = f.getPath.getName
        f.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
      .sortBy(_.getPath.getName)
      .flatMap { f =>
        val reader = ParquetReader.builder(new GroupReadSupport, f.getPath)
          .withConf(conf).build()
        try Iterator.continually(reader.read()).takeWhile(_ != null)
          .map(entry).toVector
        finally reader.close()
      }
  }

  /** Writes `entries` as one `part-<uuid>.parquet`, published by a rename
    * from a hidden temp name; a failed write deletes its temp file. */
  def append(entries: Seq[CheckpointEntry]): Unit = {
    val name = s"part-${UUID.randomUUID}.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    val fs = dir.getFileSystem(conf)
    try {
      val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        tmp, conf)).withConf(conf).withType(FileSchema).build()
      try entries.foreach(e => writer.write(group(e)))
      finally writer.close()
      if (!fs.rename(tmp, new Path(dir, name)))
        throw new IOException(s"cannot publish $tmp as $name")
    } catch {
      case t: Throwable =>
        fs.delete(tmp, false)
        throw t
    }
  }

  /** Partitions still needing validation, sorted: those no entry records
    * at their current snapshot id under `constraintHash`. */
  def pending(table: TableProvider, constraintHash: String): Seq[String] =
    plan(table, constraintHash).pending

  /** One listing of `table` against this hash's entries, diffed on the
    * driver. A partition covered by several entries names the least run
    * id. */
  private[graft] def plan(table: TableProvider,
      constraintHash: String): ResumePlan = {
    val snapshots = table.snapshots().sortBy(_._1)
    val current = snapshots.toSet
    val covered = entries()
      .collect { case e if e.constraint_hash == constraintHash &&
          current((e.partition, e.snapshot_id)) =>
        e.partition -> Covering(e.run_id, e.snapshot_id) }
      .groupMapReduce(_._1)(_._2)((a, b) => if (a.runId <= b.runId) a else b)
    ResumePlan(snapshots, covered)
  }
}

private object CheckpointStore {
  /** The parquet schema Spark's writer produces for [[CheckpointEntry]]. */
  val FileSchema: MessageType = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary partition (STRING);
      |  optional binary snapshot_id (STRING);
      |  optional binary constraint_hash (STRING);
      |  required boolean valid;
      |  required int64 n_rows;
      |  required int64 n_bad_rows;
      |  optional binary run_id (STRING);
      |}""".stripMargin)

  def group(e: CheckpointEntry): Group = {
    val g = new SimpleGroup(FileSchema)
    def str(field: String, v: String): Unit = if (v != null) g.add(field, v)
    str("partition", e.partition)
    str("snapshot_id", e.snapshot_id)
    str("constraint_hash", e.constraint_hash)
    g.add("valid", e.valid)
    g.add("n_rows", e.n_rows)
    g.add("n_bad_rows", e.n_bad_rows)
    str("run_id", e.run_id)
    g
  }

  def entry(g: Group): CheckpointEntry = {
    def str(field: String): String =
      if (g.getFieldRepetitionCount(field) == 0) null else g.getString(field, 0)
    CheckpointEntry(str("partition"), str("snapshot_id"),
      str("constraint_hash"), g.getBoolean("valid", 0), g.getLong("n_rows", 0),
      g.getLong("n_bad_rows", 0), str("run_id"))
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
 * Checkpoint entries and violations derive from that one evaluation.
 *
 * When `violationsOut` is set, the violations write is the only pass
 * over the pending rows ([[Evaluation.writeViolations]]): it evaluates
 * each row once, writes the failing ones' violations and counts every
 * partition's rows, failing rows and dangling keys as it goes. Nothing
 * is cached. Before it, the summary aggregate reads only the whole-table
 * checks' columns (uniqueness, drift) and uniqueness phase 2 recounts
 * its candidates; a run without dataset checks launches the write
 * alone. A verdict-only run counts in the summary aggregate instead, and
 * the returned `violations` plan stays lazy: acting on it evaluates the
 * pending rows again.
 *
 * The verdicts are built once, on the driver, and those rows are both
 * the entries appended and the returned `verdicts`: a local frame, so
 * acting on it launches no job and reads exactly what the run
 * checkpointed.
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
        idCol, dims, Some(table.scanAll()))
    }

  /**
   * Resumable validation of a partitioned RAW-JSON corpus — the
   * reference's literal instance shape (a JSON string per row) under
   * the north rule's checkpoint/lineage contract. The suite compiles
   * for the DOCUMENT engine once on the driver; its per-row frame
   * ([[JsonValidator.evaluate]]) gives every pending row its verdict
   * and violations (malformed → invalid, never a crash), and verdicts
   * land in the same checkpoint table `run` uses, under the compiled
   * suite's `docjson:` constraint hash.
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
    drive(table, checkpoint, runId, compiled.constraintHash, violationsOut,
        maxPartitions) { pending =>
      JsonValidator.evaluate(table.scan(pending), table.partitionCols,
        idCol, jsonCol, compiled)
    }
  }

  /** The one driver loop: pending partitions → one evaluation →
    * violations written, counting the pending rows → verdicts on the
    * driver → checkpoint. Pending, skipped and every entry's snapshot
    * id come from the one listing the run planned from. A converged run
    * evaluates nothing and returns empty frames with the verdict and
    * violation schemas. */
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

    violationsOut.foreach(out =>
      eval.writeViolations(_.write.mode(SaveMode.Append).parquet(out)))
    val snapshot = plan.snapshots.toMap
    checkpoint.append(checkpointEntries(table.partitionCols,
      eval.verdicts.collect().toSeq, constraintHash, runId,
      pending.map(p => p -> snapshot(p))))
    result(eval.verdicts, eval.violations)
  }

  /** Per-partition verdict rows as checkpoint entries, plus
    * vacuous entries for pending partitions whose scan produced zero
    * rows (they emit no verdict row and would otherwise be re-queued
    * and re-scanned on every run forever). `pending` pairs each pending
    * partition with the snapshot id the run planned from: a partition
    * rewritten during the run is recorded at the id it was validated
    * at, so the next run sees a new id and validates it again. */
  private def checkpointEntries(partitionCols: Seq[String],
      verdicts: Seq[Row], constraintHash: String, runId: String,
      pending: Seq[(String, String)]): Seq[CheckpointEntry] = {
    // a verdict row carries DECODED partition values: match it to its
    // pending partition by the decoded values of the name
    val byValues = pending.map { case (p, snap) =>
      TableProvider.decode(p).map(_._2) -> (p, snap) }.toMap
    val entries = verdicts.map { r =>
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
