package graft.tools

import java.nio.file.Files

import graft.Session
import graft.checkpoint.{CheckpointStore, PartitionedRunner}
import graft.compile.ConstraintCompiler
import graft.gen.SequenceGen
import graft.table.ParquetPartitionedTable

/**
 * Demonstrates the north rule's resumability: a validation run killed
 * mid-way (simulated via maxPartitions) resumes exactly where it left
 * off, driven by per-partition lineage (snapshot-id, partition spec,
 * constraint hash). Run: `sbt "runMain graft.tools.ResumeDemo"`.
 */
object ResumeDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session(appName = "graft-resume-demo")

    val base = Files.createTempDirectory("graft-resume").toString
    println(s"workdir: $base")
    SequenceGen.generate(spark, 50000L, nSources = 4, numPartitions = 8)
      .write.partitionBy("source").parquet(s"$base/data")
    val table = new ParquetPartitionedTable(spark, s"$base/data", "source")
    // Scala-AST construction path (Demo covers the JSON path)
    import graft.dsl.{Constraint => C, ConstraintSuite}
    val suite = ConstraintCompiler.compile(ConstraintSuite("resume-v1", Seq(
      C.NotNull("doc_id_present", "doc_id"),
      C.Bounds("n_tok_range", "n_tok", Some(1), Some(8192)),
      C.SizeConsistency("n_tok_consistent", "n_tok", "tokens"),
      C.EachElement("token_range", "tokens",
        C.Bounds("tok", "$", Some(0), Some(50256))))))
    val cp = new CheckpointStore(spark, s"$base/checkpoint")

    val r1 = PartitionedRunner.run(table, suite, cp, "run-1",
      violationsOut = Some(s"$base/violations"), maxPartitions = 2)
    println(s"run-1 (killed after 2): processed=${r1.processed}")

    val r2 = PartitionedRunner.run(table, suite, cp, "run-2",
      violationsOut = Some(s"$base/violations"))
    println(s"run-2 (resume): processed=${r2.processed} " +
      s"skipped=${r2.skipped}")

    val r3 = PartitionedRunner.run(table, suite, cp, "run-3")
    println(s"run-3 (no-op): processed=${r3.processed} " +
      s"skipped=${r3.skipped}")

    println("== checkpoint table ==")
    cp.load().orderBy("partition", "run_id").show(20, truncate = false)

    // rewrite one partition → only it re-queues
    SequenceGen.generate(spark, 999L, nSources = 1, numPartitions = 1)
      .drop("source").write.mode("overwrite")
      .parquet(s"$base/data/source=src1")
    println(s"after rewriting source=src1, pending = " +
      s"${cp.pending(table, suite.constraintHash)}")
    spark.stop()
  }
}
