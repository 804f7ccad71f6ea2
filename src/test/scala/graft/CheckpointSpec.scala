package graft

import java.nio.file.Files

import graft.checkpoint.{CheckpointStore, PartitionedRunner}
import graft.compile.ConstraintCompiler
import graft.dsl.Constraint._
import graft.dsl.ConstraintSuite
import graft.gen.SequenceGen
import graft.table.ParquetPartitionedTable

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

    // third run: nothing pending
    val r3 = PartitionedRunner.run(table, suite, cp, "run3")
    assert(r3.processed.isEmpty)
    assert(r3.skipped.toSet == allParts.toSet)

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

  test("run evaluates once: the verdict action reads the persisted evaluation") {
    // with violations written, the verdicts must come from the same
    // evaluation the write materialized — not from a second scan of the
    // pending partitions and of every dataset check's input
    val base = Files.createTempDirectory("graft-cp-once").toString
    val table = mkTable(s"$base/data")
    val full = ConstraintCompiler.compile(ConstraintSuite("once", Seq(
      SizeConsistency("sc", "n_tok", "tokens"),
      Bounds("nt", "n_tok", Some(1), Some(8192)),
      Unique("uq", "doc_id"),
      RefIntegrity("src_known", "source", "sources", "source"),
      NoDrift("nt_stable", "n_tok", 0, 2048, 32, "psi", 0.4))))
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark, 4))
    val cp = new CheckpointStore(spark, s"$base/checkpoint")
    val r = PartitionedRunner.run(table, full, cp, "once", dims = dims,
      violationsOut = Some(s"$base/violations"), maxPartitions = 3)
    assert(r.processed.size == 3)
    val scans = graft.tools.PlanWalk
      .fileScans(r.verdicts.queryExecution.executedPlan)
    assert(scans.isEmpty, scans.map(_.relation.location.rootPaths))

    // same answers as the one-shot detail path over the same scope
    val direct = graft.exec.Validator.validateWithDetails(
      table.scan(r.processed), full, table.partitionCols, dims = dims,
      globalDf = Some(table.scanAll()))
    val entries = cp.load().collect().map(e => e.getAs[String]("partition") ->
      (e.getAs[Long]("n_bad_rows"), e.getAs[Boolean]("valid"))).toMap
    val want = direct.verdicts.collect().map(v =>
      s"source=${v.getAs[String]("source")}" ->
        (v.getAs[Long]("n_bad_rows"), v.getAs[Boolean]("valid"))).toMap
    assert(entries == want)
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("constraint_id", "doc_id").collect().toSeq
    assert(sorted(spark.read.parquet(s"$base/violations")) ==
      sorted(direct.violations))
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
    import org.apache.spark.sql.{functions => F}
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
    val rows0 = PartitionedRunner.docEngineRows.get()
    val r1 = PartitionedRunner.runJson(table, jsonSuite, cp, "j1",
      violationsOut = Some(s"$base/viol"), maxPartitions = 2)
    assert(r1.processed.size == 2)
    // SINGLE PASS: even with BOTH outputs consumed (violations written,
    // verdicts checkpointed), the doc engine evaluated each pending row
    // exactly once — a second scan would double this delta
    assert(PartitionedRunner.docEngineRows.get() - rows0 ==
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
}
