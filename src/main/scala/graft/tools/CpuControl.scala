package graft.tools

import graft.Session

/** Pure-CPU scaling control: hashes 2B longs with zero input I/O, no
  * shuffle beyond one partial-agg merge — calibrates this machine's
  * best-case thread-scaling so the validation numbers in
  * BENCH/BASELINE.md can be read against the box's own ceiling.
  * Run: `sbt "runMain graft.tools.CpuControl <cpus>"`. */
object CpuControl {
  def main(a: Array[String]): Unit = {
    val cpus = a(0)
    val s = Session(cpus.toInt, "graft-cpu-control")
    def once(): Double = {
      val t0 = System.nanoTime()
      s.range(0L, 2000000000L, 1L, 256)
        .selectExpr("sum(xxhash64(id) % 1000000) s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once(); once()
    val ts = (1 to 5).map(_ => once())
    println(f"CPUCONTROL cpus=$cpus best=${ts.min}%.2f " +
      s"all=${ts.map(t => f"$t%.1f").mkString(",")}")
    s.stop()
  }
}
