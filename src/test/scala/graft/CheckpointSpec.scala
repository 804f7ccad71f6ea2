package graft

import java.io.{File, FilterOutputStream, IOException, OutputStream}
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.{Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.{functions => F}

import graft.checkpoint.{CheckpointEntry, CheckpointStore, Covering,
  PartitionedRunner, RunResult}
import graft.checks.DatasetCheck
import graft.compile.{CompiledSuite, ConstraintCompiler}
import graft.dsl.Constraint._
import graft.dsl.ConstraintSuite
import graft.gen.SequenceGen
import graft.exec.Validator
import graft.table.{ParquetPartitionedTable, TableProvider}

/** North-rule C7: per-partition lineage + resume. Mirrors the reference's
  * compile-once/reuse contract at run scope: a checkpointed partition is
  * skipped iff data (snapshot) AND suite (hash) are unchanged. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(dir: String): ParquetPartitionedTable = {
    SequenceGen.generate(spark, 20000L, nSources = 4, numPartitions = 8)
      .write.partitionBy("source").parquet(dir)
    new ParquetPartitionedTable(spark, dir, "source")
  }

  private val suite = ConstraintCompiler.compile(ConstraintSuite("cp", Seq(
    SizeConsistency("sc", "n_tok", "tokens"),
    Bounds("nt", "n_tok", Some(1), Some(8192)))))

  test("kill-resume: second run processes exactly the remaining partitions") {
    val base = Files.createTempDirectory("graft-cp").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val allParts = table.partitions()
    assert(allParts.size == 5) // src0..3 + src_unknown

    // simulated kill after 2 partitions
    val r1 = PartitionedRunner.run(table, suite, cp, "run1",
      violationsOut = Some(s"$base/violations"), maxPartitions = 2)
    assert(r1.processed.size == 2)

    val r2 = PartitionedRunner.run(table, suite, cp, "run2",
      violationsOut = Some(s"$base/violations"))
    assert(r2.processed.size == 3)
    assert(r2.skipped.toSet == r1.processed.toSet)
    assert(r2.processed.toSet.intersect(r1.processed.toSet).isEmpty)
    // each skip names the entry it rests on
    assert(r2.coveredBy == r1.processed.map(p =>
      p -> Covering("run1", table.snapshotId(p))).toMap)

    // third run: nothing pending
    val r3 = PartitionedRunner.run(table, suite, cp, "run3")
    assert(r3.processed.isEmpty)
    assert(r3.skipped.toSet == allParts.toSet)
    assert(r3.coveredBy.map { case (p, c) => p -> c.runId } ==
      (r1.processed.map(_ -> "run1") ++ r2.processed.map(_ -> "run2")).toMap)

    // union of the two partial runs == one full fresh run
    val fullCp = new CheckpointStore(spark, s"$base/checkpoint-full")
    val full = PartitionedRunner.run(table, suite, fullCp, "full",
      violationsOut = Some(s"$base/violations-full"))
    val resumed = spark.read.parquet(s"$base/violations")
      .orderBy("doc_id", "constraint_id")
    val direct = spark.read.parquet(s"$base/violations-full")
      .orderBy("doc_id", "constraint_id")
    assert(resumed.collect().toSeq == direct.collect().toSeq)
    assert(full.processed.size == 5)
  }

  test("changed constraint hash re-queues all partitions") {
    val base = Files.createTempDirectory("graft-cp2").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    PartitionedRunner.run(table, suite, cp, "run1")
    val suite2 = ConstraintCompiler.compile(ConstraintSuite("cp", Seq(
      SizeConsistency("sc", "n_tok", "tokens"),
      Bounds("nt", "n_tok", Some(1), Some(4096))))) // tightened
    assert(suite2.constraintHash != suite.constraintHash)
    assert(cp.pending(table, suite2.constraintHash).size == 5)
    assert(cp.pending(table, suite.constraintHash).isEmpty)
  }

  test("rewritten partition data re-queues just that partition") {
    val base = Files.createTempDirectory("graft-cp3").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    PartitionedRunner.run(table, suite, cp, "run1")
    // overwrite one partition with different contents
    SequenceGen.generate(spark, 123L, nSources = 1, numPartitions = 1)
      .drop("source")
      .write.mode("overwrite").parquet(s"$base/data/source=src2")
    val pending = cp.pending(table, suite.constraintHash)
    assert(pending == Seq("source=src2"))
  }

  test("global checks see the whole table on partial runs") {
    // A duplicate doc_id SPANNING partitions that are validated in
    // DIFFERENT runs must still be detected: dataset-level checks
    // evaluate over scanAll(), not the pending subset.
    val base = Files.createTempDirectory("graft-cp5").toString
    val rows = Seq(
      ("dup-x", Seq(1, 2), 2, "srcA"),
      ("a2", Seq(3), 1, "srcA"),
      ("dup-x", Seq(9), 1, "srcB"), // same key, other partition
      ("b2", Seq(4), 1, "srcB"))
      .toDF("doc_id", "tokens", "n_tok", "source")
    rows.write.partitionBy("source").parquet(s"$base/data")
    val table = new ParquetPartitionedTable(spark, s"$base/data", "source")
    val uniq = ConstraintCompiler.compile(ConstraintSuite("u", Seq(
      Unique("uq", "doc_id"))))
    val cp = new CheckpointStore(spark, s"$base/checkpoint")

    // run 1 validates only srcA — the duplicate's other half is in srcB,
    // but the global uniqueness scan must already see it
    val r1 = PartitionedRunner.run(table, uniq, cp, "r1", maxPartitions = 1)
    assert(r1.processed == Seq("source=srcA"))
    val v1 = r1.violations.collect()
    assert(v1.exists(_.getAs[String]("doc_id") == "dup-x"), v1.mkString)
    val e1 = cp.load().filter($"run_id" === "r1").collect()
    assert(e1.forall(!_.getAs[Boolean]("valid"))) // global check failed

    val r2 = PartitionedRunner.run(table, uniq, cp, "r2")
    assert(r2.processed == Seq("source=srcB"))
    assert(r2.violations.collect()
      .exists(_.getAs[String]("doc_id") == "dup-x"))
  }

  test("multi-column partition specs: names, pruning, lineage") {
    val base = Files.createTempDirectory("graft-cp6").toString
    val rows = Seq(
      ("a1", Seq(1), 1, "srcA", "2026-01-01"),
      ("a2", Seq(2), 1, "srcA", "2026-01-02"),
      ("b1", Seq(3), 1, "srcB", "2026-01-01"))
      .toDF("doc_id", "tokens", "n_tok", "source", "day")
    rows.write.partitionBy("source", "day").parquet(s"$base/data")
    val table = new ParquetPartitionedTable(
      spark, s"$base/data", Seq("source", "day"))
    assert(table.partitions() == Seq(
      "source=srcA/day=2026-01-01", "source=srcA/day=2026-01-02",
      "source=srcB/day=2026-01-01"))
    assert(table.scan(Seq("source=srcA/day=2026-01-02")).count() == 1)
    assert(table.scan(Seq("source=srcA/day=2026-01-01",
      "source=srcB/day=2026-01-01")).count() == 2)

    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val r1 = PartitionedRunner.run(table, suite, cp, "m1", maxPartitions = 2)
    assert(r1.processed.size == 2)
    val entries = cp.load().select("partition").as[String].collect().toSet
    assert(entries == r1.processed.toSet) // col1=v1/col2=v2 names round-trip
    val r2 = PartitionedRunner.run(table, suite, cp, "m2")
    assert(r2.processed.size == 1)
    assert(PartitionedRunner.run(table, suite, cp, "m3").processed.isEmpty)
  }

  test("numeric-looking partition values checkpoint and resume as written") {
    // `part=07` and `part=1.50` must not read back as 7.0 and 1.5: the
    // verdicts would match no pending partition after the violations
    // were already written
    val base = Files.createTempDirectory("graft-cp-numeric").toString
    Seq(("a", Seq(1), 1, "07"), ("b", Seq(2, 3), 1, "1.50"))
      .toDF("doc_id", "tokens", "n_tok", "part")
      .write.partitionBy("part").parquet(s"$base/data")
    val table = new ParquetPartitionedTable(spark, s"$base/data", "part")
    val parts = Seq("part=07", "part=1.50")
    assert(table.partitions() == parts)
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val viol = s"$base/violations"
    val r1 = PartitionedRunner.run(table, suite, cp, "r1",
      violationsOut = Some(viol))
    assert(r1.processed == parts)
    assert(r1.verdicts.select("part").as[String].collect().sorted.toSeq ==
      Seq("07", "1.50"))
    assert(cp.load().select("partition").as[String].collect().sorted.toSeq ==
      parts)
    val r2 = PartitionedRunner.run(table, suite, cp, "r2",
      violationsOut = Some(viol))
    assert(r2.processed.isEmpty && r2.skipped == parts)
    // b's n_tok disagrees with its two tokens: one violation, written once
    assert(spark.read.parquet(viol).select("doc_id", "constraint_id")
      .as[(String, String)].collect().toSeq == Seq(("b", "sc")))
  }

  test("checkpoint entries carry lineage + metrics") {
    val base = Files.createTempDirectory("graft-cp4").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    PartitionedRunner.run(table, suite, cp, "runX")
    val rows = cp.load().orderBy("partition").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getAs[String]("run_id") == "runX"))
    assert(rows.forall(_.getAs[String]("constraint_hash") ==
      suite.constraintHash))
    assert(rows.map(_.getAs[Long]("n_rows")).sum == 20000L)
    // partitions with planted bad rows are invalid; lineage recorded
    assert(rows.exists(!_.getAs[Boolean]("valid")))
    assert(rows.forall(_.getAs[String]("snapshot_id").nonEmpty))
  }

  test("zero-row partition checkpoints as vacuously valid and converges") {
    val base = Files.createTempDirectory("graft-cp-empty").toString
    val table = mkTable(s"$base/data")
    // plant a partition whose parquet holds ZERO rows: it produces no
    // verdict row, and without the empty-partition entries it would be
    // re-queued on every run forever
    SequenceGen.generate(spark, 100L, nSources = 1, numPartitions = 1)
      .toDF().drop("source").limit(0)
      .write.parquet(s"$base/data/source=hollow")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")

    val r1 = PartitionedRunner.run(table, suite, cp, "r1")
    assert(r1.processed.contains("source=hollow"))
    val entry = cp.load().filter($"partition" === "source=hollow").collect()
    assert(entry.length == 1)
    assert(entry(0).getAs[Boolean]("valid") &&
      entry(0).getAs[Long]("n_rows") == 0L)

    // converged: nothing pending on the next run
    val r2 = PartitionedRunner.run(table, suite, cp, "r2")
    assert(r2.processed.isEmpty)
  }

  /** The run's entries and written violations equal the one-shot
    * evaluation of the same scope: the pending partitions, with the
    * whole-table checks over the whole table. A pending partition with
    * no rows has no verdict, and its entry is vacuously valid. */
  private def sameAsOneShot(table: TableProvider, suite: CompiledSuite,
      dims: Map[String, DataFrame], r: RunResult, cp: CheckpointStore,
      violations: String): Unit = {
    val direct = Validator.evaluate(table.scan(r.processed), suite,
      table.partitionCols, "doc_id", dims, Some(table.scanAll()))
    def values(p: String) = TableProvider.decode(p).map(_._2)
    val entries = cp.load().as[CheckpointEntry].collect()
      .filter(_.run_id == r.runId)
      .map(e => values(e.partition) -> (e.n_rows, e.n_bad_rows, e.valid)).toMap
    val want = direct.verdicts.collect().map(v =>
      table.partitionCols.map(c => Option(v.getAs[String](c))) ->
        (v.getAs[Long]("n_rows"), v.getAs[Long]("n_bad_rows"),
          v.getAs[Boolean]("valid"))).toMap
    assert(entries == want ++ r.processed.map(values)
      .filterNot(want.contains).map(_ -> (0L, 0L, true)))
    def sorted(df: DataFrame) =
      df.orderBy(DatasetCheck.violationCols.map(F.col): _*).collect().toSeq
    assert(sorted(spark.read.parquet(violations)) == sorted(direct.violations))
  }

  /** The bench suite's checks over `mkTable`'s columns. */
  private def fullSuite(id: String) = ConstraintCompiler.compile(
    ConstraintSuite(id, Seq(
      SizeConsistency("sc", "n_tok", "tokens"),
      Bounds("nt", "n_tok", Some(1), Some(8192)),
      Unique("uq", "doc_id"),
      RefIntegrity("src_known", "source", "sources", "source"),
      NoDrift("nt_stable", "n_tok", 0, 2048, 32, "psi", 0.4))))

  test("run evaluates once: the verdicts come from the violations write") {
    // with violations written, the verdicts must come from the same
    // evaluation the write made — not from a second scan of the
    // pending partitions
    val base = Files.createTempDirectory("graft-cp-once").toString
    val table = mkTable(s"$base/data")
    val full = fullSuite("once")
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark, 4))
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val r = PartitionedRunner.run(table, full, cp, "once", dims = dims,
      violationsOut = Some(s"$base/violations"), maxPartitions = 3)
    assert(r.processed.size == 3)
    val scans = PlanWalk.fileScans(r.verdicts.queryExecution.executedPlan)
    assert(scans.isEmpty, scans.map(_.relation.location.rootPaths))
    sameAsOneShot(table, full, dims, r, cp, s"$base/violations")
  }

  test("a run over NULL, Hive-escaped, empty and two-column partitions matches the one-shot evaluation") {
    val base = Files.createTempDirectory("graft-cp-scoped").toString
    // doc ids repeat past 200 (uniqueness), every 7th n_tok disagrees
    // with its tokens, and source `a:b` is not in the dimension
    val rows = (0 until 240).map { i =>
      (s"d${i % 200}", Seq(i % 50), if (i % 7 == 0) 2 else 1,
        Seq("web", "a:b", "books")(i % 3), if (i % 2 == 0) null else "d1")
    }.toDF("doc_id", "tokens", "n_tok", "source", "day")
    rows.write.partitionBy("source", "day").parquet(s"$base/data")
    rows.drop("source", "day").limit(0)
      .write.parquet(s"$base/data/source=hollow/day=d1")
    val table = new ParquetPartitionedTable(spark, s"$base/data",
      Seq("source", "day"))
    val parts = table.partitions()
    assert(Seq("source=a%3Ab/day=__HIVE_DEFAULT_PARTITION__",
      "source=hollow/day=d1", "source=web/day=d1").forall(parts.contains),
      parts)
    val checked = ConstraintCompiler.compile(ConstraintSuite("scoped", Seq(
      SizeConsistency("sc", "n_tok", "tokens"),
      Unique("uq", "doc_id"),
      RefIntegrity("src_known", "source", "sources", "source"),
      NoDrift("nt_stable", "n_tok", 0, 4, 4, "psi", 0.1, minRows = 10))))
    val dims = Map("sources" -> Seq("web", "books").toDF("source"))
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    // all but `source=web/day=d1`: the whole-table checks read past the
    // pending scan
    val r = PartitionedRunner.run(table, checked, cp, "scoped", dims = dims,
      violationsOut = Some(s"$base/violations"),
      maxPartitions = parts.size - 1)
    assert(r.processed == parts.init)
    sameAsOneShot(table, checked, dims, r, cp, s"$base/violations")
  }

  test("converged run returns empty frames with the output schemas") {
    val base = Files.createTempDirectory("graft-cp-noop").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val first = PartitionedRunner.run(table, suite, cp, "r1",
      violationsOut = Some(s"$base/violations"))
    val noop = PartitionedRunner.run(table, suite, cp, "r2")
    assert(noop.processed.isEmpty)
    assert(noop.verdicts.schema == first.verdicts.schema)
    assert(noop.verdicts.select("valid").collect().isEmpty)
    assert(noop.violations.schema == first.violations.schema)
    assert(noop.violations.count() == 0L)
  }

  test("converged run reads no dimension") {
    val base = Files.createTempDirectory("graft-cp-nodim").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val riSuite = ConstraintCompiler.compile(ConstraintSuite("cp-ri", Seq(
      RefIntegrity("ri", "source", "sources", "source"))))
    val first = PartitionedRunner.run(table, riSuite, cp, "r1",
      dims = Map("sources" -> SequenceGen.sourcesDim(spark, 4)))
    assert(first.processed.size == 5)
    // a dimension that fails when read: nothing is pending, so the run
    // must not build the key set
    val unreadable = spark.range(1).select(org.apache.spark.sql.functions
      .udf((i: Long) => { if (i >= 0) sys.error("dimension read"); "x" })
      .apply($"id").as("source"))
    val noop = PartitionedRunner.run(table, riSuite, cp, "r2",
      dims = Map("sources" -> unreadable))
    assert(noop.processed.isEmpty)
    assert(noop.verdicts.count() == 0L)
  }

  test("runJson: resumable raw-JSON corpus validation with lineage") {
    val base = Files.createTempDirectory("graft-cp-json").toString
    // partitioned JSONL-shaped table: (doc_id, js) under source=…;
    // n_tok 9999 planted for src1 rows, one malformed doc whose source
    // the test DERIVES from the generator (never assumes)
    val malformedSrc =
      SequenceGen.row(42L, 42L, nSources = 4, plantViolations = true).source
    SequenceGen.generate(spark, 4000L, nSources = 4, numPartitions = 4)
      .toDF()
      .select(F.col("source"), F.col("doc_id"),
        F.when(F.col("doc_id") === "seq-000000000042",
            F.lit("totally not json {"))
          .otherwise(F.to_json(F.struct(
            F.col("doc_id"),
            F.when(F.col("source") === "src1", 9999)
              .otherwise(F.col("n_tok")).as("n_tok")))).as("js"))
      .write.partitionBy("source").parquet(s"$base/data")
    val table = new ParquetPartitionedTable(spark, s"$base/data", "source")
    val jsonSuite = ConstraintSuite("js-cp", Seq(
      NotNull("id_req", "doc_id"),
      Bounds("n_max", "n_tok", None, Some(BigDecimal(8192)))))
    val cp = new CheckpointStore(spark, s"$base/checkpoint")

    // kill after 2 partitions, resume, converge
    val rows0 = graft.exec.JsonValidator.docEngineRows.get()
    val r1 = PartitionedRunner.runJson(table, jsonSuite, cp, "j1",
      violationsOut = Some(s"$base/viol"), maxPartitions = 2)
    assert(r1.processed.size == 2)
    // SINGLE PASS: even with BOTH outputs consumed (violations written,
    // verdicts checkpointed), the doc engine evaluated each pending row
    // exactly once — a second scan would double this delta
    assert(graft.exec.JsonValidator.docEngineRows.get() - rows0 ==
      table.scan(r1.processed).count())
    val r2 = PartitionedRunner.runJson(table, jsonSuite, cp, "j2",
      violationsOut = Some(s"$base/viol"))
    assert(r2.skipped.toSet == r1.processed.toSet)
    assert((r1.processed ++ r2.processed).toSet == table.partitions().toSet)
    val r3 = PartitionedRunner.runJson(table, jsonSuite, cp, "j3")
    assert(r3.processed.isEmpty)
    assert(r3.verdicts.select("valid").collect().isEmpty)

    // verdicts: src1 (planted 9999 > 8192) invalid, malformed counted
    val rows = cp.load().collect()
    val bySrc = rows.map(r => r.getAs[String]("partition") ->
      r.getAs[Boolean]("valid")).toMap
    assert(!bySrc("source=src1"))
    assert(!bySrc(s"source=$malformedSrc"))
    assert(rows.map(_.getAs[Long]("n_rows")).sum == 4000L)
    // accumulated violations: every src1 doc gets n_max EXCEPT the
    // malformed one if it landed in src1 (unparseable rows are charged
    // to _document, not to the suite's constraints)
    val viol = spark.read.parquet(s"$base/viol")
    assert(viol.filter($"constraint_id" === "n_max").count() ==
      table.scan(Seq("source=src1")).count() -
        (if (malformedSrc == "src1") 1L else 0L))
    assert(viol.filter($"constraint_id" ===
      graft.exec.JsonValidator.DocumentConstraint).count() == 1L)

    // the docjson lineage is distinct from the typed engine's for the
    // same suite shape
    assert(rows.forall(_.getAs[String]("constraint_hash")
      .startsWith("docjson:")))
  }

  test("an entry records the snapshot id the run planned from") {
    // a partition rewritten while the run reads it must be recorded at
    // the id it was planned at, so the next run validates the new files
    val base = Files.createTempDirectory("graft-cp-midrun").toString
    val data = mkTable(s"$base/data")
    val table = new TableProvider {
      @volatile var scanned = Set.empty[String]
      def partitionCols: Seq[String] = data.partitionCols
      def partitions(): Seq[String] = data.partitions()
      def snapshotId(p: String): String =
        data.snapshotId(p) + (if (scanned(p)) "+rewritten" else "")
      def scan(parts: Seq[String]): DataFrame = {
        scanned ++= parts
        data.scan(parts)
      }
      def scanAll(): DataFrame = data.scanAll()
    }
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val r1 = PartitionedRunner.run(table, suite, cp, "r1", maxPartitions = 1)
    val p = r1.processed.head
    val entry = cp.load().as[CheckpointEntry].collect().toSeq
    assert(entry.map(e => e.partition -> e.snapshot_id) ==
      Seq(p -> data.snapshotId(p)))
    val r2 = PartitionedRunner.run(table, suite, cp, "r2")
    assert(r2.processed.contains(p), r2.processed)
  }

  test("a pinned table relation: rebuilt on any file change, no job when unchanged") {
    val base = Files.createTempDirectory("graft-cp-pin").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    PartitionedRunner.run(table, suite, cp, "r1")
    def rowsOf(verdicts: DataFrame) = verdicts.collect().map(r =>
      s"source=${r.getAs[String]("source")}" -> r.getAs[Long]("n_rows")).toMap

    // unchanged: the pinned relation comes back, no schema inference job;
    // a validation over it launches only the jobs of one over a frame
    // built beforehand
    val df = table.scanAll()
    val (again, seen) = listened(table.scanAll())
    assert((again eq df) && seen.jobs == 0, seen)
    assert(listened(table.scan(Seq("source=src1")))._2.jobs == 0)
    val (_, overScanAll) = listened(
      Validator.validate(table.scanAll(), suite, table.partitionCols).collect())
    val (_, overFrame) = listened(
      Validator.validate(df, suite, table.partitionCols).collect())
    assert(overScanAll.jobs == overFrame.jobs, (overScanAll, overFrame))

    // one partition rewritten: the same table object reads the new rows
    SequenceGen.generate(spark, 123L, nSources = 1, numPartitions = 1)
      .drop("source")
      .write.mode("overwrite").parquet(s"$base/data/source=src2")
    assert(rowsOf(Validator.validate(table.scanAll(), suite,
      table.partitionCols))("source=src2") == 123L)
    val r2 = PartitionedRunner.run(table, suite, cp, "r2")
    assert(r2.processed == Seq("source=src2"))
    assert(cp.load().as[CheckpointEntry].collect()
      .filter(_.run_id == "r2").map(_.n_rows).toSeq == Seq(123L))

    // a file added to a partition is read
    val before = rowsOf(Validator.validate(table.scanAll(), suite,
      table.partitionCols))("source=src1")
    SequenceGen.generate(spark, 77L, nSources = 1, numPartitions = 1)
      .drop("source")
      .write.mode("append").parquet(s"$base/data/source=src1")
    assert(rowsOf(Validator.validate(table.scanAll(), suite,
      table.partitionCols))("source=src1") == before + 77L)
    assert(PartitionedRunner.run(table, suite, cp, "r3").processed ==
      Seq("source=src1"))
  }

  /** The checkpoint's entry files, by path. */
  private def partFiles(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet"))
      .map(_.getPath).sorted

  test("a run appends one checkpoint file, and planning a resume launches no job") {
    val base = Files.createTempDirectory("graft-cp-files").toString
    val table = mkTable(s"$base/data")
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    PartitionedRunner.run(table, suite, cp, "run1", maxPartitions = 2)
    assert(partFiles(s"$base/checkpoint").size == 1)
    PartitionedRunner.run(table, suite, cp, "run2")
    assert(partFiles(s"$base/checkpoint").size == 2)

    val four = new CheckpointStore(spark, s"$base/four")
    four.append(cp.load().as[CheckpointEntry].collect().toSeq.take(4))
    assert(partFiles(s"$base/four").size == 1)
    val (pending, seen) = listened(four.pending(table, suite.constraintHash))
    assert(pending.size == 1)
    assert(seen.jobs == 0, seen)
  }

  /** A resume of one pending partition under the bench suite, its second
    * run listened. */
  private lazy val resumeOne = {
    val base = Files.createTempDirectory("graft-cp-jobs").toString
    val table = mkTable(s"$base/data")
    val full = ConstraintCompiler.compile(Scaling.benchSuite)
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark, 4))
    val primed = new CheckpointStore(spark, s"$base/primed")
    PartitionedRunner.run(table, full, primed, "prime", dims = dims)
    val entries = primed.load().as[CheckpointEntry].collect().toSeq
    val pending = "source=src2"
    def resume(n: Int) = {
      val dir = s"$base/checkpoint$n"
      val cp = new CheckpointStore(spark, dir)
      cp.append(entries.filterNot(_.partition == pending))
      val before = partFiles(dir)
      val (r, seen) = listened(PartitionedRunner.run(table, full, cp,
        s"r$n", dims = dims, violationsOut = Some(s"$base/violations$n")))
      (r, seen, partFiles(dir).diff(before))
    }
    resume(0)
    val (r, seen, added) = resume(1)
    assert(r.processed == Seq(pending))
    assert(r.skipped.size == entries.size - 1)
    // the pending scan's partitions: the per-row frame's
    val (_, scan) = listened(table.scan(r.processed).write.format("noop")
      .mode("overwrite").save())
    val slices = scan.perJob.map(_.tasks).sum
    (pending, seen, added, slices, spark.read.parquet(s"$base/violations1"))
  }

  test("a resume of one partition: at most 8 jobs and a one-pass violation write") {
    val (_, seen, _, slices, viol) = resumeOne
    // row-local rows from the scan, uniqueness and drift rows from the
    // driver: both halves of the write carry rows
    val ids = viol.select("constraint_id").as[String].collect().toSet
    assert(Set("doc_id_unique", "n_tok_stable").subsetOf(ids) &&
      ids.exists(id => !Set("doc_id_unique", "n_tok_stable")(id)), ids)
    // the write takes one task per slice of the pending scan plus one
    val writes = seen.perJob.filter(_.recordsWritten > 0)
    assert(writes.map(_.recordsWritten).headOption == Some(viol.count()), seen)
    assert(writes.head.tasks <= slices + 1, (slices, seen))
    assert(seen.jobs <= 8, seen)
  }

  test("a resume of one partition: at most 6 jobs and one Spark write, of the violations") {
    val (pending, seen, added, _, viol) = resumeOne
    // the checkpoint gains one file, holding the pending entry
    assert(added.size == 1, added)
    assert(spark.read.parquet(added.head).as[CheckpointEntry].collect()
      .map(e => (e.partition, e.run_id)).toSeq == Seq((pending, "r1")))
    // one job writes output: the violations (the checkpoint entry is
    // written on the driver)
    val writes = seen.perJob.filter(_.recordsWritten > 0)
    assert(writes.map(_.recordsWritten) == Seq(viol.count()), seen)
    assert(seen.jobs <= 6, seen)
  }

  test("a resume of one partition runs exactly 4 tagged jobs and caches nothing") {
    val (_, seen, _, _, _) = resumeOne
    // the summary aggregate's shuffle and result, uniqueness phase 2 and
    // the violations write, which is the only job reading the pending
    // rows
    assert(seen.perJob.map(_.layers) == Seq("summary", "summary", "phase2",
      "violations").map(l => Set(s"graft.$l")), seen)
    // no relation is cached while the run's jobs start, nor after it
    assert(!seen.perJob.exists(_.cached), seen)
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty)
  }

  test("the violations write observes the pending rows with no exchange beneath") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution,
      SparkPlan}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val base = Files.createTempDirectory("graft-cp-observed").toString
    val table = mkTable(s"$base/data")
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark, 4))
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      PartitionedRunner.run(table, fullSuite("observed"),
        new CheckpointStore(spark, s"$base/checkpoint"), "observed",
        dims = dims, violationsOut = Some(s"$base/violations"),
        maxPartitions = 2)
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val walk = PlanWalk
    val observed = plans.asScala.toSeq.flatMap(p =>
      walk.collect(p) { case m: CollectMetricsExec => (p, m) })
    assert(observed.size == 1, plans)
    val (write, metrics) = observed.head
    assert(walk.collect(write) { case w: DataWritingCommandExec => w }.nonEmpty,
      write)
    val beneath = walk.collect(metrics) {
      case e @ (_: Exchange | _: ReusedExchangeExec | _: QueryStageExec) => e
    }
    assert(beneath.isEmpty, metrics)
  }

  test("every job validate, run and runJson launch carries exactly one engine layer tag") {
    val base = Files.createTempDirectory("graft-cp-tags").toString
    val table = mkTable(s"$base/data")
    SequenceGen.generate(spark, 4000L, nSources = 4, numPartitions = 4)
      .toDF().select(F.col("source"), F.col("doc_id"), F.to_json(F.struct(
        F.col("doc_id"), F.col("n_tok"))).as("js"))
      .write.partitionBy("source").parquet(s"$base/json")
    val jsonTable = new ParquetPartitionedTable(spark, s"$base/json", "source")
    val suite = ConstraintCompiler.compile(ConstraintSuite("tagged",
      Scaling.benchSuite.constraints :+
        NoArrayDrift("tok_drift", "tokens", 16, "psi", 0.5)))
    // a dimension that is not a local relation: its keys take a job
    val dims = Map("sources" -> spark.range(4)
      .select(F.concat(F.lit("src"), F.col("id")).as("source")))
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    // both tables are new: the first scan of each infers its schema
    val calls = Seq(
      listened(Validator.validate(table.scanAll(), suite, table.partitionCols,
        dims = dims)),
      listened(PartitionedRunner.run(table, suite, cp, "written", dims = dims,
        violationsOut = Some(s"$base/violations"), maxPartitions = 2)),
      listened(PartitionedRunner.run(table, suite, cp, "verdicts",
        dims = dims)),
      listened(PartitionedRunner.runJson(jsonTable, ConstraintSuite("js",
        Seq(Bounds("n_max", "n_tok", None, Some(BigDecimal(1000))))),
        new CheckpointStore(spark, s"$base/json-checkpoint"), "json",
        violationsOut = Some(s"$base/json-violations"))))
    val jobs = calls.flatMap(_._2.perJob)
    assert(jobs.forall(_.layers.size == 1), jobs)
    assert(jobs.flatMap(_.layers).toSet == Set("table", "summary", "phase2",
      "array_drift", "dim_keys", "violations").map(l => s"graft.$l"), jobs)
    // a run without dataset checks launches the write alone, after its
    // table's schema inference
    assert(calls.last._2.perJob.map(_.layers) == Seq(Set("graft.table"),
      Set("graft.violations")), calls.last._2)
  }

  test("a checkpoint written by Spark's parquet writer plans and takes appends alike") {
    val base = Files.createTempDirectory("graft-cp-compat").toString
    val table = mkTable(s"$base/data")
    val hash = suite.constraintHash
    val driver = new CheckpointStore(spark, s"$base/driver")
    PartitionedRunner.run(table, suite, driver, "r1", maxPartitions = 3)
    val written = driver.load().as[CheckpointEntry].collect().toSeq
    assert(written.size == 3)

    // the same entries through Spark's writer, as checkpoints were
    // written before: `_SUCCESS` and `.crc` files beside the data
    val dir = s"$base/spark"
    written.toDS().coalesce(1).write.parquet(dir)
    val names = new File(dir).listFiles().map(_.getName)
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      names.toSeq)
    val old = new CheckpointStore(spark, dir)
    val (a, b) = (old.plan(table, hash), driver.plan(table, hash))
    assert(a.pending == b.pending && a.skipped == b.skipped &&
      a.covered == b.covered && a.pending.size == 2, (a, b))

    // an append lands beside the file Spark wrote, and both read back
    val before = partFiles(dir)
    val r2 = PartitionedRunner.run(table, suite, old, "r2")
    assert(r2.processed == a.pending)
    val after = partFiles(dir)
    assert(after.size == 2 && before.forall(after.contains), after)
    val all = spark.read.parquet(dir)
    assert(all.schema.map(f => f.name -> f.dataType) ==
      Encoders.product[CheckpointEntry].schema.map(f => f.name -> f.dataType))
    assert(all.as[CheckpointEntry].collect().toSet ==
      old.load().as[CheckpointEntry].collect().toSet)
    assert(all.select("run_id").as[String].collect().sorted.toSeq ==
      Seq.fill(3)("r1") ++ Seq.fill(2)("r2"))
    assert(old.pending(table, hash).isEmpty)
  }

  test("a kill during an append publishes nothing, and the partition runs again") {
    val base = Files.createTempDirectory("graft-cp-kill").toString
    val table = mkTable(s"$base/data")
    val dir = s"$base/checkpoint"
    val cp = new CheckpointStore(spark, dir)
    PartitionedRunner.run(table, suite, cp, "r1", maxPartitions = 2)
    val pending = cp.pending(table, suite.constraintHash)
    assert(pending.size == 3)

    // what a killed writer leaves behind: a hidden temp file cut short,
    // and a Spark writer's `_temporary/` directory
    Files.write(Paths.get(dir, ".part-killed.parquet.tmp"),
      "PAR1 cut short".getBytes)
    val temporary = Paths.get(dir, "_temporary", "0")
    Files.createDirectories(temporary)
    Files.write(temporary.resolve("part-00000.parquet"), "garbage".getBytes)
    assert(cp.pending(table, suite.constraintHash) == pending)
    assert(cp.load().count() == 2L)
    assert(spark.read.parquet(dir).count() == 2L)

    // an append whose write fails after its first bytes
    val files = new File(dir).list().toSet
    spark.sparkContext.hadoopConfiguration
      .set("fs.failing.impl", classOf[FailingFs].getName)
    spark.sparkContext.hadoopConfiguration
      .setBoolean("fs.failing.impl.disable.cache", true)
    val failing = new CheckpointStore(spark, s"failing:$dir")
    val err = intercept[IOException](PartitionedRunner.run(table, suite,
      failing, "r2", maxPartitions = 1))
    assert(err.getMessage == FailingFs.Message)
    assert(new File(dir).list().toSet == files)
    assert(cp.pending(table, suite.constraintHash) == pending)

    val r3 = PartitionedRunner.run(table, suite, cp, "r3")
    assert(r3.processed == pending)
    assert(cp.pending(table, suite.constraintHash).isEmpty)
  }

  test("a run returns the verdicts it checkpointed, and reading them runs no job") {
    val base = Files.createTempDirectory("graft-cp-returned").toString
    val table = mkTable(s"$base/data")
    SequenceGen.generate(spark, 4000L, nSources = 4, numPartitions = 4)
      .toDF().select(F.col("source"), F.col("doc_id"), F.to_json(F.struct(
        F.col("doc_id"), F.col("n_tok"))).as("js"))
      .write.partitionBy("source").parquet(s"$base/json")
    val jsonTable = new ParquetPartitionedTable(spark, s"$base/json", "source")
    val jsonSuite = ConstraintSuite("js-ret", Seq(
      Bounds("n_max", "n_tok", None, Some(BigDecimal(1000)))))
    def returnsItsEntries(r: graft.checkpoint.RunResult,
        cp: CheckpointStore): Unit = {
      val (rows, seen) = listened(r.verdicts.collect())
      assert(seen.jobs == 0, seen)
      val entries = cp.load().collect().toSeq
        .filter(_.getAs[String]("run_id") == r.runId)
        .map(e => (e.getAs[String]("partition"), e.getAs[Boolean]("valid"),
          e.getAs[Long]("n_rows"), e.getAs[Long]("n_bad_rows")))
      assert(entries.size == r.processed.size && entries.nonEmpty)
      assert(rows.toSeq.map(v => (s"source=${v.getAs[String]("source")}",
        v.getAs[Boolean]("valid"), v.getAs[Long]("n_rows"),
        v.getAs[Long]("n_bad_rows"))).sorted == entries.sorted)
    }
    val rowCp = new CheckpointStore(spark, s"$base/cp-row")
    returnsItsEntries(PartitionedRunner.run(table, suite, rowCp, "row",
      violationsOut = Some(s"$base/viol-row"), maxPartitions = 3), rowCp)
    val jsonCp = new CheckpointStore(spark, s"$base/cp-json")
    returnsItsEntries(PartitionedRunner.runJson(jsonTable, jsonSuite, jsonCp,
      "json", violationsOut = Some(s"$base/viol-json")), jsonCp)
  }
}

/** A local file system whose writes fail after their first
  * [[FailingFs.Bytes]] bytes: a write that dies mid-file. */
final class FailingFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failing:///")
  override def getScheme: String = "failing"
  override protected def createOutputStreamWithMode(f: HPath,
      append: Boolean, permission: FsPermission): OutputStream = {
    new FilterOutputStream(
        super.createOutputStreamWithMode(f, append, permission)) {
      private var written = 0
      override def write(b: Int): Unit = {
        written += 1
        if (written > FailingFs.Bytes) throw new IOException(FailingFs.Message)
        out.write(b)
      }
    }
  }
}

object FailingFs {
  val Bytes = 16
  val Message = "disk failed mid-write"
}
