package graft

import org.apache.spark.sql.SparkSession

/**
 * The one place the engine's mains build a SparkSession (`Bench`,
 * `Scaling`, `Verify` and the `tools`), so a number from one of them is
 * measured under the same confs as a number from another.
 */
object Session {

  /** `SPARK_GRAFT_CPUS`, or the JVM's available processors when unset. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(cores: Int = defaultCores, appName: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      // one shuffle partition per core (measured best: a 2-wave layout
      // added ~20% wall clock at local[32])
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Split the scan fine enough that the widest level gets several
      // task waves: the default 128 MB packs a ~0.9 GB input into ~8 scan
      // partitions and caps parallelism at 8 whatever the core count
      // (observed: local[32] ran at ~580% CPU). At warehouse scale the
      // file count dwarfs the cores and the default is fine; this knob
      // matters exactly when input-bytes/cores < maxPartitionBytes.
      .config("spark.sql.files.maxPartitionBytes", (8L << 20).toString)
      .config("spark.local.dir", localDir)
      // the session catalog's warehouse sits beside the bench data, not in
      // the working directory
      .config("spark.sql.warehouse.dir", s"${Scaling.DataDir}/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Shuffle spill dir on tmpfs when available: a local-mode run funnels
    * every thread's shuffle files through ONE disk, which a real cluster
    * does not (each executor has its own local disks); the single-disk
    * artifact otherwise dominates the shuffle-heavy suite at high thread
    * counts and understates cluster scaling. */
  private def localDir: String =
    sys.env.get("GRAFT_LOCAL_DIR") match {
      // tmpfs shuffle is RAM: a spill-heavy run can fill /dev/shm and get
      // the JVM OOM-killed by the OS; point GRAFT_LOCAL_DIR at real disk
      // for those
      case Some(d) => d
      case None =>
        val shm = new java.io.File("/dev/shm")
        if (shm.isDirectory && shm.canWrite) {
          val d = new java.io.File(shm, "graft-shuffle")
          d.mkdirs()
          d.getAbsolutePath
        } else System.getProperty("java.io.tmpdir")
    }
}
