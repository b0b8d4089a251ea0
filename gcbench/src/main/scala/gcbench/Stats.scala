package gcbench

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Process CPU time (task and driver threads, GC) less the time the JIT
    * compilers spent, in ns. JIT compilation is a warm-up transient that
    * goes on for many iterations after wall time settles; left in, it
    * makes a run's CPU figure depend on how far the compilers have got. */
  def processCpuNs(): Long = {
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    cpu - (if (jit != null && jit.isCompilationTimeMonitoringSupported) jit.getTotalCompilationTime * 1000000L else 0L)
  }

  /** Heap occupancy right after a full collection: what the program
    * retains. The second collection follows Spark's ContextCleaner, which
    * drops broadcast and shuffle blocks only once the first has freed their
    * owners. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  @volatile var sink: Long = 0L

  /** Fixed pure-JVM work (integer mixing and a sort), no engine code. A
    * slow host window shows here next to the benchmark's numbers. Median of
    * five rounds, in ms. */
  def calibMs(): Double = {
    val rounds = (0 until 5).map { r =>
      val t0 = System.nanoTime()
      var z = r.toLong
      var i = 0
      while (i < 8000000) {
        z += 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = z ^ (z >>> 31)
        i += 1
      }
      val a = Array.tabulate(200000)(k => (k * 2654435761L) ^ z)
      java.util.Arrays.sort(a)
      sink += a(a.length / 2)
      (System.nanoTime() - t0) / 1e6
    }
    median(rounds)
  }
}
