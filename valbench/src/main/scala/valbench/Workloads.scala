package valbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.{functions => F}

import graft.checkpoint.{CheckpointEntry, CheckpointStore, PartitionedRunner,
  RunResult}
import graft.compile.{CompiledSuite, ConstraintCompiler}
import graft.exec.Validator
import graft.gen.SequenceGen
import graft.table.ParquetPartitionedTable

/** Where one set-up left its inputs, and what they must validate to. */
final case class Plan(
    workload: String,
    tableDir: String,
    jsonDir: Option[String],
    pristineCheckpoint: Option[String],
    expected: Expected)

object Setup {
  val Workloads: Seq[String] =
    Seq("verdict_full", "run_resume_one")

  /** Sources 0..7 plus the planted `src_unknown`: 9 partitions. */
  val Sources = 8
  val GenPartitions = 8

  /** The partition `run_resume_one` leaves pending: a regular source,
    * neither the drifted `src0` nor the `src_unknown` sliver. */
  val ResumePartition = "source=src3"

  /** Generates the workload's table from `seed` under `dir`, computes the
    * expected answers and primes the resume checkpoint. `withJson` also
    * writes a JSON rendering of the first `docs` rows (one `js` string per
    * row, partitioned by `source`) for the document engine's layer. */
  def build(spark: SparkSession, workload: String, dir: String, seed: Long,
      rows: Long, docs: Long, withJson: Boolean): Plan = {
    require(Workloads.contains(workload), s"unknown workload $workload")
    val tableDir = s"$dir/table"
    SequenceGen.generate(spark, rows, Sources, seed,
      numPartitions = GenPartitions)
      .write.partitionBy("source").parquet(tableDir)
    val jsonDir = Option.when(withJson) {
      val d = s"$dir/json"
      SequenceGen.generate(spark, docs, Sources, seed,
        numPartitions = GenPartitions).toDF()
        .select(F.col("source"), F.col("doc_id"),
          F.to_json(F.struct("doc_id", "tokens", "n_tok", "source")).as("js"))
        .write.partitionBy("source").parquet(d)
      d
    }
    val expected = Expected.ofTable(spark, tableDir, Suites.standard)
    val pristine = Option.when(workload == "run_resume_one") {
      val d = s"$dir/checkpoint"
      val table = new ParquetPartitionedTable(spark, tableDir, "source")
      val hash = ConstraintCompiler.compile(Suites.standard).constraintHash
      require(expected.partitions.contains(ResumePartition),
        s"$ResumePartition has no rows")
      new CheckpointStore(spark, d).append(
        expected.partitions.filterNot(_ == ResumePartition).map(p =>
          CheckpointEntry(p, table.snapshotId(p), hash, expected.valid(p),
            expected.rows(p), expected.badRows(p), "prime")))
      d
    }
    Plan(workload, tableDir, jsonDir, pristine, expected)
  }

  /** The workload object for a plan; compiling its suite happens here. */
  def workload(spark: SparkSession, plan: Plan, work: String): Workload =
    plan.workload match {
      case "verdict_full"    => new VerdictFull(spark, plan)
      case "run_resume_one"  => new RunResume(spark, plan, work)
    }
}

/** One closed-loop call of a workload: `prepare` and `check` run outside
  * the timed region, `call` is the timed region. */
abstract class Workload(val spark: SparkSession, val plan: Plan) {
  def exp: Expected = plan.expected
  /** Partitions one call gives a verdict for. */
  def scope: Seq[String]
  def rowsPerCall: Long = exp.rowsIn(scope)
  def prepare(): Unit = ()
  def call(): Unit
  /** Mismatches between the call's outputs and the expected answers. */
  def check(): Seq[String]
  /** Bytes the call left in its output directories. */
  def leftBytes(): Long = 0L
  /** Dataset-check violations the call appended (context only). */
  def appendedDatasetViolations: Long = 0L
  def finish(): Unit = ()
  /** Untimed calls before the timed ones: the first calls of a JVM run
    * slower while the JIT compiles what they reach. */
  def warmCalls: Int = 6
  /** Timed calls a run makes at least, however short `--seconds` is. */
  def minCalls: Int = 5
}

/** `Validator.validate` over the whole table, verdict rows collected. */
final class VerdictFull(spark: SparkSession, plan: Plan)
    extends Workload(spark, plan) {
  val table = new ParquetPartitionedTable(spark, plan.tableDir, "source")
  val suite: CompiledSuite = ConstraintCompiler.compile(Suites.standard)
  private val dims = Map("sources" -> SequenceGen.sourcesDim(spark))
  private var out: Array[Row] = Array.empty

  def scope: Seq[String] = exp.partitions
  /** Call times fall through the first dozen calls; a fixed count of
    * timed calls keeps a fast run from timing a later, faster stretch. */
  override def warmCalls: Int = 8
  override def minCalls: Int = 8

  def call(): Unit =
    out = Validator.validate(table.scanAll(), suite, table.partitionCols,
      dims = dims).collect()

  def check(): Seq[String] = Checks.verdictRows(out, exp)
}

/** `PartitionedRunner.run` with violations written, every partition but
  * [[Setup.ResumePartition]] already checkpointed. */
final class RunResume(spark: SparkSession, plan: Plan, work: String)
    extends Workload(spark, plan) {
  val table = new ParquetPartitionedTable(spark, plan.tableDir, "source")
  val suite: CompiledSuite = ConstraintCompiler.compile(Suites.standard)
  private val dims = Map("sources" -> SequenceGen.sourcesDim(spark))
  private val pristine = plan.pristineCheckpoint.get
  private val pristineBytes = Fs.size(pristine)
  private var n = 0
  private var dir, runId = ""
  private var result: RunResult = _
  private var appended = 0L

  def scope: Seq[String] = Seq(Setup.ResumePartition)
  /** A resume call runs ~30 small jobs through much more of Spark than a
    * validation does; its time keeps falling for about eight calls, and
    * slowly after that, so every run times the same stretch of calls. */
  override def warmCalls: Int = 8
  override def minCalls: Int = 7

  /** Restores the pristine checkpoint; violations go to a fresh directory. */
  override def prepare(): Unit = {
    n += 1
    dir = s"$work/calls/$n"
    runId = s"call-$n"
    Fs.copy(pristine, s"$dir/checkpoint")
  }

  def call(): Unit =
    result = PartitionedRunner.run(table, suite,
      new CheckpointStore(spark, s"$dir/checkpoint"), runId, dims = dims,
      violationsOut = Some(s"$dir/violations"))

  def check(): Seq[String] = {
    val (bad, dsAppended) = Checks.runOutputs(spark, result, dir, runId,
      scope, exp, suite.constraintHash, table.snapshotId,
      priorEntries = exp.partitions.size - scope.size)
    appended = dsAppended
    bad
  }

  override def leftBytes(): Long =
    Fs.size(s"$dir/checkpoint") - pristineBytes + Fs.size(s"$dir/violations")
  override def appendedDatasetViolations: Long = appended
  override def finish(): Unit = Fs.delete(dir)
}

/** Comparisons of a call's outputs with the expected answers. Each
  * returns one message per mismatch; empty means correct. */
object Checks {

  /** The verdict rows of `Validator.validate`. */
  def verdictRows(rows: Array[Row], exp: Expected): Seq[String] = {
    val got = rows.map { r =>
      s"source=${r.getAs[String]("source")}" -> Seq[Any](
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_bad_rows"),
        r.getAs[Long]("n_partition_violations"),
        r.getAs[Long]("n_global_violations"), r.getAs[Boolean]("valid"))
    }
    val want = exp.partitions.map(p => p -> Seq[Any](exp.rows(p),
      exp.badRows(p), exp.partViolations(p), exp.globalViolations,
      exp.valid(p)))
    compare("verdict (n_rows, n_bad_rows, n_partition_violations, " +
      "n_global_violations, valid)", got.toSeq, want)
  }

  /** A runner call: its processed/skipped lists, the checkpoint entries
    * it appended, and the violations it wrote. Returns the mismatches and
    * the number of dataset-check violations appended.
    *
    * Row-local and referential-integrity violations must match exactly
    * over `pending`. Uniqueness and drift violations are recomputed over
    * the whole table on every call: each appended one must be a true
    * violation, and every one touching a pending partition must be
    * there. */
  def runOutputs(spark: SparkSession, result: RunResult, dir: String,
      runId: String, pending: Seq[String], exp: Expected,
      hash: String, snapshot: String => String,
      priorEntries: Int): (Seq[String], Long) = {
    val bad = Seq.newBuilder[String]
    if (result.processed.sorted != pending.sorted)
      bad += s"processed ${result.processed} != $pending"
    val skipped = exp.partitions.filterNot(pending.contains)
    if (result.skipped.sorted != skipped)
      bad += s"skipped ${result.skipped} != $skipped"

    val entries = spark.read.parquet(s"$dir/checkpoint").collect()
    if (entries.length != priorEntries + pending.size)
      bad += s"checkpoint holds ${entries.length} entries, want " +
        s"${priorEntries + pending.size}"
    val mine = entries.filter(_.getAs[String]("run_id") == runId)
    bad ++= compare("checkpoint (n_rows, n_bad_rows, valid)",
      mine.map(r => r.getAs[String]("partition") -> Seq[Any](
        r.getAs[Long]("n_rows"), r.getAs[Long]("n_bad_rows"),
        r.getAs[Boolean]("valid"))).toSeq,
      pending.map(p => p -> Seq[Any](exp.rows(p), exp.badRows(p),
        exp.valid(p))))
    mine.foreach { r =>
      val p = r.getAs[String]("partition")
      if (r.getAs[String]("constraint_hash") != hash)
        bad += s"$p: constraint_hash ${r.getAs[String]("constraint_hash")}" +
          s" != $hash"
      if (r.getAs[String]("snapshot_id") != snapshot(p))
        bad += s"$p: snapshot_id differs from ${snapshot(p)}"
    }

    val viol = spark.read.parquet(s"$dir/violations")
      .select("constraint_id", "doc_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val byId = viol.groupMapReduce(_._1)(_ => 1L)(_ + _)
    val rowIds = exp.rowViolations(pending)
    val riWant = exp.ids.ri.map(_ -> pending.map(exp.dangling.getOrElse(_, 0L))
      .sum).filter(_._2 > 0L)
    val dsIds = (exp.ids.unique ++ exp.ids.drift).toSet
    bad ++= compare("violations per constraint",
      byId.toSeq.filterNot(kv => dsIds(kv._1)).map { case (k, v) =>
        k -> Seq[Any](v) },
      (rowIds ++ riWant).toSeq.map { case (k, v) => k -> Seq[Any](v) })

    def globalCheck(id: String, truth: Set[String], touching: Set[String]) = {
      val got = viol.collect { case (`id`, d) => d }
      val extra = got.filterNot(truth).distinct
      if (extra.nonEmpty) bad += s"$id: not violations: ${extra.take(5)}"
      if (got.distinct.length != got.length) bad += s"$id: repeated rows"
      val missing = touching.filterNot(got.toSet)
      if (missing.nonEmpty) bad += s"$id: missing ${missing.take(5)}"
      got.length.toLong
    }
    val uniqueN = exp.ids.unique.map(globalCheck(_, exp.dupKeys.keySet,
      exp.dupKeys.collect { case (k, ps) if ps.exists(pending.contains) =>
        k }.toSet)).getOrElse(0L)
    val driftN = exp.ids.drift.map(globalCheck(_, exp.drifted,
      exp.drifted.filter(pending.contains))).getOrElse(0L)
    (bad.result(), uniqueN + driftN)
  }

  def compare(what: String, got: Seq[(String, Seq[Any])],
      want: Seq[(String, Seq[Any])]): Seq[String] = {
    val g = got.toMap
    val w = want.toMap
    val dup = got.map(_._1).diff(g.keys.toSeq)
    dup.map(k => s"$what: $k reported twice") ++
      (g.keySet ++ w.keySet).toSeq.sorted.flatMap { k =>
        if (g.get(k) == w.get(k)) None
        else Some(s"$what: $k got ${g.get(k).map(_.mkString("(", ", ", ")"))
          .getOrElse("nothing")}, want ${w.get(k)
          .map(_.mkString("(", ", ", ")")).getOrElse("nothing")}")
      }
  }
}

/** File helpers for the benchmark's own work directory. */
object Fs {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  def size(dir: String): Long =
    walk(Paths.get(dir)).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** Data files (not checksums or markers) under `dir`. */
  def dataFiles(dir: String): Int =
    walk(Paths.get(dir)).count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    }

  def delete(dir: String): Unit =
    walk(Paths.get(dir)).reverse.foreach(Files.delete)

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(to)
    walk(src).foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    }
  }
}
