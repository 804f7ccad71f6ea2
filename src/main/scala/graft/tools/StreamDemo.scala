package graft.tools

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.Session
import graft.compile.ConstraintCompiler
import graft.dsl.{Constraint => C, ConstraintSuite}
import graft.streaming.StreamValidator

/**
 * Streaming validation sample: a rate source synthesizes sequence-like
 * records, the compiled suite filters them continuously, violations land
 * on the console sink. Run: `sbt "runMain graft.tools.StreamDemo"`
 * (stops itself after a few batches).
 */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session(appName = "graft-stream-demo")

    // rate source → pseudo-records; every 7th has a bad n_tok
    val records = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .select(
        F.concat(F.lit("seq-"), F.col("value")).as("doc_id"),
        F.when(F.pmod(F.col("value"), F.lit(7)) === 0, 99999)
          .otherwise(F.pmod(F.col("value"), F.lit(2048)) + 1)
          .cast("int").as("n_tok"),
        F.col("timestamp").as("ts"))

    val suite = ConstraintCompiler.compile(ConstraintSuite("stream-v1",
      Seq(C.Bounds("n_tok_range", "n_tok", Some(1), Some(8192)))))

    val q = StreamValidator.violations(records, suite, "doc_id")
      .writeStream.format("console")
      .option("truncate", "false")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()
    q.awaitTermination(15000)
    q.stop()
    spark.stop()
  }
}
