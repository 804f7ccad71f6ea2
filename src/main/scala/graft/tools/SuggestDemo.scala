package graft.tools

import org.apache.spark.sql.{functions => F}

import graft.Session
import graft.compile.{ConstraintCompiler, SuiteSuggest}
import graft.dsl.ConstraintJson
import graft.exec.Validator

/**
 * The bootstrapping-path demo: a user with a table but NO schema
 * document profiles it with [[SuiteSuggest]], gets a suggested DSL
 * suite (serialized JSON they can check in and tighten by hand), and
 * immediately validates with it — the derived suite accepts the source
 * table and flags anything that later drifts outside the observed
 * envelope. Run: `sbt "runMain graft.tools.SuggestDemo [nRows]"`.
 */
object SuggestDemo {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(200000L)
    val spark = Session(appName = "graft-suggest-demo")

    val df = graft.gen.SequenceGen
      .generate(spark, nRows, nSources = 4, plantViolations = false).toDF()

    val t0 = System.nanoTime()
    val suggested = SuiteSuggest.suggest(df, "bootstrapped")
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"profiled $nRows rows in $secs%.1f s — suggested suite:")
    println(ConstraintJson.renderSuite(suggested))

    val suite = ConstraintCompiler.compile(suggested)
    val clean = Validator.validate(df, suite, Seq.empty)
      .select("rows_ok").head().getBoolean(0)
    println(s"self-validation (must be true): $clean")

    // drift: rows outside the observed envelope get flagged
    val drifted = df.limit(5)
      .withColumn("source", F.lit("src_new"))
      .withColumn("n_tok", F.lit(Int.MaxValue))
    val v = Validator.validateWithDetails(drifted, suite, Seq.empty)
      .violations.orderBy("doc_id", "constraint_id")
    println("violations on drifted rows:")
    v.show(10, truncate = false)
    spark.stop()
  }
}
