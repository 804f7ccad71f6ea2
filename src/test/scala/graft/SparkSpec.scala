package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark's
  * getOrCreate makes this safe across suites and keeps test startup O(1)). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkSpec.{JobSeen, Listened}

  lazy val spark: SparkSession = SparkSpec.session

  /** What the listener saw while `body` ran. The bus is drained before
    * and after, so no event of an earlier action leaks in and none of
    * this one's is missed. */
  protected def listened[T](body: => T): (T, Listened) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.GraftSparkBridge.drainListenerBus
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val tasks, written = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    val layers = new java.util.concurrent.ConcurrentHashMap[Int, Set[String]]
    val cached = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.add(e.jobId)
        e.stageIds.foreach(jobOfStage.putIfAbsent(_, e.jobId))
        val tags = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
        layers.put(e.jobId, tags.toSeq.flatMap(_.split(","))
          .filter(_.startsWith("graft.")).toSet)
        if (!cache.isEmpty) cached.add(e.jobId)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val job = jobOfStage.get(e.stageId)
        tasks.merge(job, 1L, _ + _)
        Option(e.taskMetrics).foreach { m =>
          bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          written.merge(job, m.outputMetrics.recordsWritten, _ + _)
        }
      }
    }
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      drainListenerBus(sc)
      val seen = jobs.asScala.toSeq.sorted.map(j =>
        JobSeen(tasks.getOrDefault(j, 0L).toInt, written.getOrDefault(j, 0L),
          layers.getOrDefault(j, Set.empty), cached.contains(j)))
      (r, Listened(seen, bytes.get))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  /** One job: the tasks it ran, the records they wrote to output, the
    * engine layers it was tagged with (`graft.<layer>`), and whether the
    * session's cache held a relation when it started. */
  final case class JobSeen(tasks: Int, recordsWritten: Long,
      layers: Set[String], cached: Boolean)

  /** The jobs started, in order, and the shuffle bytes written. */
  final case class Listened(perJob: Seq[JobSeen], shuffleWriteBytes: Long) {
    def jobs: Int = perJob.size
  }

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
