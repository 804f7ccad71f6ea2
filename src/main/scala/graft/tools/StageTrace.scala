package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Per-stage wall-time trace of any `SparkEntry.queries` entry, warm
  * (two untraced runs first): the stage/gap attribution behind the r6
  * optimization decisions. Stage walls that sum well below the total
  * indicate driver-side planning/AQE latency, not executor work.
  *
  * Run: `sbt "runMain graft.tools.StageTrace <query> [reps]"`.
  */
object StageTrace {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("d_groups")
    val reps = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.local.dir", graft.Scaling.localDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    @volatile var trace = false
    @volatile var stageWallSum = 0L
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (trace) jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (trace) {
          val si = sc.stageInfo
          val wall = (for {
            s <- si.submissionTime; c <- si.completionTime
          } yield c - s).getOrElse(-1L)
          if (wall > 0) stageWallSum += wall
          println(f"[stage] id=${si.stageId} tasks=${si.numTasks} " +
            f"wall=${wall}ms")
        }
    })
    val q = graft.SparkEntry.queries(name)
    def body(): Long = q(spark, sfDir).count()
    def drain(): Unit =
      org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    body(); body() // warm
    drain()
    trace = true
    (1 to reps).foreach { _ =>
      stageWallSum = 0L; jobs = 0
      val t0 = System.nanoTime()
      body()
      val tot = (System.nanoTime() - t0) / 1e9
      drain()
      println(f"[total] $name $tot%.3f s jobs=$jobs " +
        f"stage-wall-sum=${stageWallSum / 1000.0}%.3f s " +
        f"(gap=${tot - stageWallSum / 1000.0}%.3f s driver/planning)")
    }
    spark.stop()
  }
}
