package valbench

import java.io.{File, ObjectInputStream, ObjectOutputStream}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Command-line entry of the validation benchmark. `run.py` builds the
  * classpath and starts it; see README.md for the modes. */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      work: String,
      role: String)

  /** Table rows per set-up: enough that scanning and checking rows, not
    * Spark's per-job cost alone, sets a call's time. */
  val Rows = 120000L
  /** JSON documents the traced run renders for the document engine. */
  val Docs = 20000L

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = need("trace") match {
        case "0" => false
        case "1" => true
        case t   => throw new IllegalArgumentException(s"--trace $t")
      },
      work = need("work"),
      role = kv.getOrElse("role", "main"))
    require(Setup.Workloads.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Setup.Workloads}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv)
        a.role match {
          case "main" if a.trace => Traced.run(a)
          case "main"            => Timed.run(a)
          case "level1"          => Level1.run(a)
          case r => throw new IllegalArgumentException(s"unknown role $r")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}

/** The Spark session every role uses; only the core count differs. */
object Session {
  val ShufflePartitions = 8
  /** Generated classes Spark keeps compiled. One resume call needs more
    * than the default 100, so with the default every call compiled ~45
    * classes anew, and the JIT compiled those again; which ones depended
    * on eviction order, so call times wandered between runs. */
  val CodegenCacheEntries = 1000

  def confs(cores: Int, work: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> ShufflePartitions.toString,
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheEntries.toString,
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.ui.enabled" -> "false",
    "spark.sql.session.timeZone" -> "UTC")

  def start(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().appName("valbench")
    confs(cores, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Numbers of the run's surroundings, for the context line. */
object Host {
  def load1(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  def nproc: Int = Runtime.getRuntime.availableProcessors
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def maxHeapMb: Long = Runtime.getRuntime.maxMemory >> 20
  def jvmArgs: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  /** Bytes this JVM has read through read(2)-style calls, page-cache hits
    * included (`rchar` of /proc/self/io). */
  def readBytes: Long = procField("/proc/self/io", "rchar:")

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  private def procField(file: String, key: String): Long = {
    val line = Files.readAllLines(Paths.get(file)).asScala
      .find(_.startsWith(key)).getOrElse(
        throw new IllegalStateException(s"no $key in $file"))
    line.split("\\s+")(1).toLong
  }

  /** Cumulative CPU ticks of the machine: (steal, total), from /proc/stat.
    * Steal is time the hypervisor gave this box's CPUs to someone else. */
  def cpuTicks: (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head
      .split("\\s+").drop(1).map(_.toLong)
    (f(7), f.sum)
  }

  /** Milliseconds the JIT compilers have spent so far. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Milliseconds the collectors have spent so far. */
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def gitSha(): String = sys.env.getOrElse("VALBENCH_GIT_SHA", "none")
  /** Hash of every source file the build read (set by run.py). */
  def sourceSha(): String = sys.env.getOrElse("VALBENCH_SOURCE_SHA256", "none")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Minimal JSON rendering: values are already-rendered JSON text. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'            => "\\\""
    case '\\'           => "\\\\"
    case c if c < ' '   => f"\\u${c.toInt}%04x"
    case c              => c.toString
  } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a finite number: $d")
    d.toString
  }
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")

  /** The result line: exactly `correct`, `attempted`, `failed`, `metrics`. */
  def result(attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = obj(Seq(
    "correct" -> (failed == 0L).toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> obj(metrics.map { case (n, v, u) =>
      n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
    })))
}

/** Closed-loop measurement: one caller, each call starting when the
  * previous one returns, each call's outputs checked. */
final class Loop(w: Workload, spark: SparkSession, counters: Counters) {
  private val sc = spark.sparkContext
  var attempted = 0L
  var failed = 0L
  val times = Seq.newBuilder[Double]
  /** JIT compilation ms, GC ms and generated classes compiled during
    * each call, warm-up calls too. */
  val jitMs, gcMs, codegens = Seq.newBuilder[Long]
  val readBytes = Seq.newBuilder[Double]
  val writtenBytes = Seq.newBuilder[Double]
  val mismatches = Seq.newBuilder[String]
  var appended = 0L
  /** Wall-clock ms at which the last call started. */
  var lastStartMs = 0L
  /** Listener totals of the last call. */
  var lastSnapshot: Snapshot = _
  /** Bytes read during the last call. */
  var lastRead = 0L

  /** One call; returns its wall seconds. A call that throws or returns a
    * wrong answer counts as failed and is not recorded. */
  def once(record: Boolean): Double = {
    attempted += 1
    w.prepare()
    Counters.settle(sc, counters)
    counters.reset()
    val r0 = Host.readBytes
    lastStartMs = System.currentTimeMillis()
    val (jit0, gc0, cg0) = (Host.jitMs, Host.gcMs, BenchBus.codegens)
    val t0 = System.nanoTime()
    val ok = try { w.call(); true } catch {
      case e: Exception =>
        e.printStackTrace()
        mismatches += s"call threw: $e"
        false
    }
    val t = Stats.seconds(t0)
    jitMs += Host.jitMs - jit0
    gcMs += Host.gcMs - gc0
    codegens += BenchBus.codegens - cg0
    lastRead = Host.readBytes - r0
    lastSnapshot = Counters.settle(sc, counters)
    val bad = if (ok) w.check() else Seq("call threw")
    if (bad.nonEmpty) {
      failed += 1
      mismatches ++= bad
      System.err.println(s"[valbench] ${w.plan.workload} call failed: " +
        bad.take(10).mkString("; "))
    } else if (record) {
      times += t
      readBytes += lastRead.toDouble
      writtenBytes += (lastSnapshot.shuffleWriteBytes + w.leftBytes()).toDouble
      appended = w.appendedDatasetViolations
    }
    w.finish()
    t
  }

  /** Calls until `budgetS` has passed and at least `minCalls` are timed,
    * or until [[Loop.HardStopS]] of JVM uptime. */
  def run(budgetS: Double, minCalls: Int): Unit = {
    val t0 = System.nanoTime()
    var n = 0
    while ((Stats.seconds(t0) < budgetS || n < minCalls) &&
        !(n >= 1 && Host.uptimeS > Loop.HardStopS)) {
      once(record = true)
      n += 1
    }
  }

  /** Rows given a verdict per second of median call time. */
  def seqPerS: Double = {
    val ts = times.result()
    if (ts.isEmpty) 0.0 else w.rowsPerCall / Stats.median(ts)
  }
}

object Loop {
  /** Past this JVM uptime a loop stops after its current call, so the run
    * ends inside its time limit even on a slow box. */
  val HardStopS = 120.0
}

/** The untraced run: the end-to-end metrics. */
object Timed {
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupReps = 3
  val Cores = 4

  def run(a: Main.Args): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Host.load1()
    val spark = Session.start(Cores, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    var plan: Plan = null
    var w: Workload = null
    val setupTimes = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      plan = Setup.build(spark, a.workload, s"${a.work}/setup-$i", a.seed,
        Main.Rows, Main.Docs, withJson = false)
      w = Setup.workload(spark, plan, a.work)
      val t = Stats.seconds(t0)
      if (i > 1) Fs.delete(s"${a.work}/setup-${i - 1}")
      t
    }
    val setupS = sessionS + Stats.median(setupTimes)

    val loop = new Loop(w, spark, Counters.register(spark.sparkContext))
    (1 to w.warmCalls).foreach(_ => loop.once(record = false))
    val (steal0, ticks0) = Host.cpuTicks
    loop.run(a.seconds, w.minCalls)
    val (steal1, ticks1) = Host.cpuTicks
    val rss = Host.peakRssMb
    spark.stop()

    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    println(Json.obj(Seq("context" -> Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds),
      "nproc" -> Host.nproc.toString,
      "load1_start" -> Json.num(loadStart),
      "load1_end" -> Json.num(Host.load1()),
      "cpu_steal_share" -> Json.num(
        (steal1 - steal0).toDouble / math.max(1L, ticks1 - ticks0)),
      "xmx_mb" -> Host.maxHeapMb.toString,
      "jvm_args" -> Json.arr(Host.jvmArgs.filterNot(_.startsWith("--add-opens"))
        .map(Json.str)),
      "spark_confs" -> Json.obj(Session.confs(Cores, a.work).map {
        case (k, v) => k -> Json.str(v) }),
      "git_sha" -> Json.str(Host.gitSha()),
      "source_sha256" -> Json.str(Host.sourceSha()),
      "rows" -> Main.Rows.toString,
      "rows_per_call" -> w.rowsPerCall.toString,
      "fail_share" -> Json.num(
        plan.expected.badRowsIn(w.scope).toDouble / w.rowsPerCall),
      "appended_dataset_violations" -> loop.appended.toString,
      "session_s" -> Json.num(sessionS),
      "setup_rep_s" -> Json.arr(setupTimes.map(Json.num)),
      "call_s" -> Json.arr(loop.times.result().map(Json.num)),
      "call_jit_ms" -> Json.arr(loop.jitMs.result().map(_.toString)),
      "call_gc_ms" -> Json.arr(loop.gcMs.result().map(_.toString)),
      "call_codegens" -> Json.arr(loop.codegens.result().map(_.toString)),
      "mismatches" -> Json.arr(loop.mismatches.result().take(20)
        .map(Json.str)))))))
    println(Json.result(loop.attempted, loop.failed, Seq(
      ("seq_per_s", loop.seqPerS, "1/s"),
      ("read_bytes", med(loop.readBytes.result()), "bytes"),
      ("out_bytes", med(loop.writtenBytes.result()), "bytes"),
      ("peak_rss_mb", rss, "MiB"),
      ("setup_s", setupS, "s"))))
  }
}

/** The same workload at local[1] in a fresh JVM on the same inputs: the
  * base of the traced run's scaling efficiency. */
object Level1 {
  val MinCalls = 2

  final case class Result(seqPerS: Double, attempted: Long, failed: Long,
      times: Seq[Double], errors: Seq[String])

  /** Starts the local[1] JVM on `plan` and waits for it. */
  def spawn(a: Main.Args, plan: Plan, seconds: Double): Result = {
    val planFile = s"${a.work}/plan.bin"
    val o = new ObjectOutputStream(Files.newOutputStream(Paths.get(planFile)))
    try o.writeObject(plan) finally o.close()
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java")
    val cmd = Seq(javaBin.toString) ++
      Host.jvmArgs.filterNot(_.startsWith("-XX:ArchiveClassesAtExit")) ++ Seq(
      "-cp", System.getProperty("java.class.path"), "valbench.Main",
      "--role", "level1", "--workload", a.workload, "--seed", a.seed.toString,
      "--seconds", seconds.toString, "--trace", "1", "--work", a.work)
    val out = new File(s"${a.work}/level1.out")
    val p = new ProcessBuilder(cmd: _*)
      .redirectOutput(out)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
      .start()
    val limit = math.max(10.0, 170.0 - Host.uptimeS)
    val done = p.waitFor((limit * 1000).toLong,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    if (!done) { p.destroyForcibly(); p.waitFor() }
    val last = Files.readAllLines(out.toPath).asScala.lastOption.getOrElse("")
    val Line = ("""\{"seq_per_s":([^,]+),"attempted":(\d+),"failed":(\d+),""" +
      """"call_s":\[([^\]]*)\]\}""").r
    last match {
      case Line(s, at, f, ts) if done && p.exitValue() == 0 =>
        Result(s.toDouble, at.toLong, f.toLong,
          ts.split(",").filter(_.nonEmpty).map(_.toDouble).toSeq, Nil)
      case _ => Result(0.0, 1L, 1L, Nil, Seq("local[1] run failed (exit " +
        s"${if (done) p.exitValue().toString else "timeout"})"))
    }
  }

  /** The local[1] role. */
  def run(a: Main.Args): Unit = {
    val spark = Session.start(1, a.work)
    val i = new ObjectInputStream(
      Files.newInputStream(Paths.get(s"${a.work}/plan.bin")))
    val plan = try i.readObject().asInstanceOf[Plan] finally i.close()
    val w = Setup.workload(spark, plan, a.work)
    val loop = new Loop(w, spark, Counters.register(spark.sparkContext))
    loop.once(record = false)
    loop.run(a.seconds, MinCalls)
    spark.stop()
    println(s"""{"seq_per_s":${Json.num(loop.seqPerS)},""" +
      s""""attempted":${loop.attempted},"failed":${loop.failed},""" +
      s""""call_s":${Json.arr(loop.times.result().map(Json.num))}}""")
  }
}
