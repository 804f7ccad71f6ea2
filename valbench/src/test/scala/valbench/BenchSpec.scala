package valbench

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.CheckpointStore
import graft.compile.ConstraintCompiler
import graft.exec.Validator
import graft.gen.SequenceGen
import graft.table.ParquetPartitionedTable

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("valbench-spec").toString
  private lazy val spark: SparkSession = Session.start(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Fs.delete(work)
  }

  test("settled counters match a job of known shape exactly, every time") {
    val sc = spark.sparkContext
    val c = Counters.register(sc)
    c.full = true
    for (i <- 1 to 200) {
      Counters.settle(sc, c)
      c.reset()
      // one job: a 4-task map stage feeding a 3-task reduce stage
      sc.parallelize(1 to 1000, 4).map(x => (x % 7, 1))
        .reduceByKey(_ + _, 3).count()
      val s = Counters.settle(sc, c)
      assert((s.jobsStarted, s.jobsEnded, s.stages, s.tasks) == (1, 1, 2, 7),
        s"iteration $i: $s")
      assert(s.stageIntervals.size == 2, s"iteration $i: $s")
      assert(s.shuffleWriteBytes > 0 &&
        s.shuffleReadBytes == s.shuffleWriteBytes, s"iteration $i: $s")
    }
    c.full = false
    sc.removeSparkListener(c)
  }

  // 25k rows: past the first planted duplicate (row 10007) and the first
  // dangling source (row 9887), so every check has something to find
  private lazy val plan = Setup.build(spark, "run_resume_one",
    s"$work/setup", seed = 7L, rows = 25000L, docs = 0L, withJson = false)

  test("expected answers see every planted violation class") {
    val e = plan.expected
    assert(e.partitions.size == Setup.Sources + 1)
    assert(e.rowsIn(e.partitions) == 25000L)
    assert(e.dupKeys.nonEmpty)
    assert(e.dangling == Map("source=src_unknown" -> e.rows("source=src_unknown")))
    assert(e.drifted == Set("source=src0"))
    val rowIds = e.rowViolations(e.partitions).keySet
    assert(Set("n_tok_consistent", "token_range").subsetOf(rowIds), rowIds)
  }

  test("the verdict check accepts the validator and rejects a wrong count") {
    val table = new ParquetPartitionedTable(spark, plan.tableDir, "source")
    val rows = Validator.validate(table.scanAll(),
      ConstraintCompiler.compile(Suites.standard), table.partitionCols,
      dims = Map("sources" -> SequenceGen.sourcesDim(spark))).collect()
    assert(Checks.verdictRows(rows, plan.expected).isEmpty)

    val i = rows.indexWhere(_.getAs[String]("source") == "src3")
    val r = rows(i)
    val field = r.schema.fieldIndex("n_bad_rows")
    val planted: Row = new GenericRowWithSchema(
      r.toSeq.updated(field, r.getLong(field) + 1).toArray, r.schema)
    val bad = Checks.verdictRows(rows.updated(i, planted), plan.expected)
    assert(bad.size == 1 && bad.head.contains("source=src3"), bad)
  }

  test("the run check accepts a resume and rejects a planted violation") {
    val table = new ParquetPartitionedTable(spark, plan.tableDir, "source")
    val store = new CheckpointStore(spark, plan.pristineCheckpoint.get)
    assert(store.pending(table, ConstraintCompiler.compile(Suites.standard)
      .constraintHash) == Seq(Setup.ResumePartition))
    val w = Setup.workload(spark, plan, work)
    for (_ <- 1 to 2) { // the pristine state is restored before each call
      w.prepare()
      w.call()
      assert(w.check().isEmpty)
      assert(w.appendedDatasetViolations ==
        plan.expected.dupKeys.size + plan.expected.drifted.size)
      w.finish()
    }
    assert(w.rowsPerCall == plan.expected.rows(Setup.ResumePartition))

    // one more n_tok_range violation than the pending partition has
    w.prepare()
    w.call()
    import spark.implicits._
    Seq(("seq-planted", "n_tok_range", "9999", "<= 8192", "/n_tok"))
      .toDF("doc_id", "constraint_id", "observed", "expected", "instance_path")
      .write.mode("append").parquet(s"$work/calls/3/violations")
    val bad = w.check()
    assert(bad.size == 1 && bad.head.contains("n_tok_range"), bad)
    w.finish()
  }
}
