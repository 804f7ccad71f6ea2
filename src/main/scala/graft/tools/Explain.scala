package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.Session
import graft.compile.ConstraintCompiler
import graft.exec.Validator
import graft.gen.SequenceGen
import graft.table.ParquetPartitionedTable

/**
 * Plan inspector: prints the physical plans of the engine's key flows so
 * pushdown / pruning / codegen spans can be eyeballed after every change
 * (`sbt "runMain graft.tools.Explain"`). The things to look for:
 * partition-pruned scans (`PartitionFilters`), column pruning
 * (`ReadSchema` containing only referenced columns), WholeStageCodegen
 * spans around the validation predicates, broadcast joins for dims.
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = Session(appName = "graft-explain")

    // `Explain queries q1,q2,...` — audit the join/exchange skeleton of
    // SparkEntry queries (cartesian products and unexpected join
    // strategies are scale bugs; catch them here, not at 100 TB)
    if (args.headOption.contains("queries")) {
      val names = args.lift(1).map(_.split(",").toSeq)
        .getOrElse(graft.SparkEntry.queries.keys.toSeq.sorted)
      names.foreach { q =>
        println(s"==== $q ====")
        val plan = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
          .queryExecution.executedPlan.toString
        plan.linesIterator
          .filter(l => l.contains("Join") || l.contains("Cartesian") ||
            l.contains("Exchange"))
          .foreach(l => println("  " + l.trim.replaceAll("^[:+\\- ]*", "")
            .take(140)))
      }
      spark.stop()
      return
    }

    val base = Files.createTempDirectory("graft-explain").toString
    SequenceGen.generate(spark, 5000L, nSources = 4, numPartitions = 4)
      .write.partitionBy("source").parquet(s"$base/data")
    val table = new ParquetPartitionedTable(spark, s"$base/data", "source")
    val suite = ConstraintCompiler.compileJson(Demo.suiteJson)
    val dims = Map("sources" -> SequenceGen.sourcesDim(spark))

    println("==== pruned scan (2 of 5 partitions) ====")
    table.scan(Seq("source=src0", "source=src2"))
      .queryExecution.executedPlan.toString.linesIterator
      .filter(l => l.contains("PartitionFilters") ||
        l.contains("PartitionCount") || l.contains("FileScan"))
      .foreach(l => println(l.trim.take(240)))

    // the verdicts are a local frame built from the collected summary
    // aggregate, so the aggregate's plan is the fast path's plan
    def evaluation = Validator.evaluate(table.scanAll(), suite, Seq("source"),
      "doc_id", dims, None)

    println("==== fast validate path (the summary aggregate) ====")
    evaluation.aggregate.explain("formatted")

    println("==== detail path (violations) ====")
    Validator.validateWithDetails(table.scanAll(), suite, Seq("source"),
        dims = dims)
      .violations.explain("formatted")

    println("==== runtime AQE plan (after execution): exchange reuse ====")
    val ev = evaluation
    ev.verdicts.collect()
    val plan = ev.aggregate.queryExecution.executedPlan
    // walk the final plan: its string also prints the initial plan, so
    // counting lines there counts every node twice
    val reused = PlanWalk.collect(plan) { case r: ReusedExchangeExec => r }.size
    val stages =
      PlanWalk.collect(plan) { case s: ShuffleQueryStageExec => s }.size
    val scans = PlanWalk.fileScans(plan)
    println(s"ReusedExchange nodes: $reused; ShuffleQueryStages: $stages; " +
      s"parquet scans: ${scans.size}")
    scans.foreach(s => println("  scan: " + s.requiredSchema.simpleString.take(160)))

    spark.stop()
  }
}
