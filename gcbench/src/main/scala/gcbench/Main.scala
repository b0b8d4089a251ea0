package gcbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload and prints, as the last line of
  * standard output, one JSON object: {"correct", "attempted", "failed",
  * "metrics"}. Untraced runs (`--trace 0`) report end-to-end metrics;
  * traced runs (`--trace 1`) report per-layer metrics. A human-readable
  * report goes to standard error.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> [--scale <f>] [--inject drop] [--lookup readrange]
  */
object Main {
  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Int = 10, trace: Boolean = false,
      work: String = "", scale: Double = 1.0, inject: Boolean = false, viaReadRange: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = v))
    case "--scale" :: v :: t => parse(t, o.copy(scale = v.toDouble))
    case "--inject" :: v :: t => parse(t, o.copy(inject = v == "drop"))
    case "--lookup" :: v :: t => parse(t, o.copy(viaReadRange = v == "readrange"))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  /** Warm-up iterations per workload (at least 1: the deep check reads
    * back the first): timed iterations only start once the JIT and Spark's
    * codegen caches have settled. */
  val warmups = Map("pip_tile" -> 8, "neardup_closure" -> 1, "convert_ingest" -> 4)
  /** Fewest timed iterations per run, whatever `--seconds` says. */
  val minIters = Map("pip_tile" -> 10, "neardup_closure" -> 3, "convert_ingest" -> 6)
  /** Fewest lookups per run: the 90th percentile has ten beyond it. */
  val minLookups = 100

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally w.close()
  }

  private def log(s: String): Unit = System.err.println(s"[gcbench] $s")

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(Workload.names.contains(o.workload), s"--workload must be one of ${Workload.names.mkString(", ")}")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tc = System.nanoTime()
    val calibBefore = Stats.calibMs()
    val calibS = (System.nanoTime() - tc) / 1e9
    val work = Paths.get(o.work).toAbsolutePath.resolve(s"${o.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"gcbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.default.parallelism", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // JVM and session start, less the calibration probe that ran in between
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calibS
    try run(o, spark, work, sessionS, calibBefore)
    finally {
      spark.stop()
      deleteTree(work)
    }
  }

  private def run(o: Opts, spark: SparkSession, work: Path, sessionS: Double, calibBefore: Double): Unit = {
    val hardStop = System.nanoTime() + 140L * 1000000000L // stay well inside 180 s
    var attempted = 0L
    var failed = 0L
    def record(out: Outcome, what: String): Unit = {
      attempted += 1
      if (!out.ok) { failed += 1; log(s"FAILED $what: ${out.note}") }
    }
    def guarded(what: String)(f: => Outcome): Outcome =
      try f catch { case e: Exception => Outcome(ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }

    // ---------------- set-up ----------------
    val t0 = System.nanoTime()
    val wl = Workload(o.workload, spark, o.seed, o.scale, o.inject, work, o.viaReadRange)
    val constructS = (System.nanoTime() - t0) / 1e9
    log(f"input digest ${wl.digest}%016x")
    val prepS = (0 until 3).map { k =>
      if (k > 0) wl.releaseInputs()
      val t = System.nanoTime(); wl.prepare(); (System.nanoTime() - t) / 1e9
    }
    val off = new Trace(spark, enabled = false)
    // the deep check reads back the output of the first warm-up iteration
    val warm = (0 until warmups(o.workload)).map { k =>
      val t = System.nanoTime()
      val out = guarded("warm-up")(wl.iterate(off))
      val s = (System.nanoTime() - t) / 1e9
      if (k > 0) record(out, s"warm-up iteration $k")
      else {
        val tCheck = System.nanoTime()
        record(guarded("deep check")(wl.deepCheck()), "deep check of warm-up iteration 0")
        log(f"deep check (untimed) ${(System.nanoTime() - tCheck) / 1e9}%.2f s")
      }
      wl.cleanup()
      s
    }
    val setupS = sessionS + constructS + Stats.median(prepS) + warm.sum
    log(f"set-up: session $sessionS%.2f s, inputs ${Stats.median(prepS)}%.2f s (median of 3) + " +
      f"$constructS%.2f s, warm-up ${warm.map(s => f"$s%.2f").mkString(" ")} s")

    // ---------------- timed iterations ----------------
    val wall = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Double]
    var heapMb = 0.0
    def loop(tr: Trace, secs: Double, minIters: Int, after: () => Unit = () => ()): ArrayBuffer[Double] = {
      val times = ArrayBuffer.empty[Double]
      val end = System.nanoTime() + (secs * 1e9).toLong
      while ((times.size < minIters || System.nanoTime() < end) && System.nanoTime() < hardStop) {
        tr.iter += 1
        val c0 = Stats.processCpuNs()
        val w0 = System.nanoTime()
        val out = guarded("iteration")(wl.iterate(tr))
        val w1 = System.nanoTime()
        val c1 = Stats.processCpuNs()
        record(out, s"iteration ${tr.iter}")
        times += (w1 - w0) / 1e9
        cpu += (c1 - c0) / 1e6
        heapMb = math.max(heapMb, Stats.liveHeapMb())
        wl.cleanup()
        after()
      }
      times
    }

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    if (!o.trace) {
      // Lookups run in a batch after each timed iteration rather than in a
      // phase of their own, so a slow window of the shared host weighs on
      // iterations and lookups alike; a lookup phase of its own made the
      // lookup percentiles swing 0.2-0.3 of their median between runs.
      val tLook = System.nanoTime()
      wl.lookupSetup()
      log(f"lookup set-up (untimed) ${(System.nanoTime() - tLook) / 1e9}%.2f s")
      val rnd = new Random(o.seed * 31 + 7)
      val lat = ArrayBuffer.empty[Double]
      val batch = (minLookups + minIters(o.workload) - 1) / minIters(o.workload)
      def lookups(): Unit = (0 until batch).foreach { _ =>
        val t = System.nanoTime()
        val out = guarded("lookup")(wl.lookup(rnd))
        lat += (System.nanoTime() - t) / 1e6
        record(out, s"lookup ${lat.size}")
      }
      wall ++= loop(off, o.seconds, minIters(o.workload), () => lookups())
      heapMb = math.max(heapMb, Stats.liveHeapMb())
      val rowsPerS = wall.map(wl.rows / _)
      val cpuPerK = cpu.map(_ / (wl.rows / 1000.0))
      metrics ++= Seq(
        ("rows_per_s", Stats.median(rowsPerS.toSeq), "rows/s"),
        ("cpu_ms_per_krow", Stats.median(cpuPerK.toSeq), "ms"),
        ("live_heap_mb", heapMb, "MB"),
        ("lookup_p50_ms", Stats.quantile(lat.toSeq, 0.5), "ms"),
        ("setup_s", setupS, "s"))
      // not a gated metric: it swings more between runs than any bound allows
      log(f"${wall.size} iterations, median ${Stats.median(wall.toSeq)}%.3f s; ${lat.size} lookups, " +
        f"p90 ${Stats.quantile(lat.toSeq, 0.9)}%.1f ms")
      log(s"iteration wall s: ${wall.map(w => f"$w%.3f").mkString(" ")}; cpu s: ${cpu.map(c => f"${c / 1e3}%.2f").mkString(" ")}")
    } else {
      val plain = loop(off, o.seconds * 0.4, 3)
      val tr = new Trace(spark, enabled = true)
      val ops = ArrayBuffer.empty[OpCounts]
      val traced = {
        val times = ArrayBuffer.empty[Double]
        val end = System.nanoTime() + (o.seconds * 0.6 * 1e9).toLong
        while ((times.size < 3 || System.nanoTime() < end) && System.nanoTime() < hardStop) {
          tr.iter += 1
          val w0 = System.nanoTime()
          val out = guarded("traced iteration")(wl.iterate(tr))
          times += (System.nanoTime() - w0) / 1e9
          record(out, s"traced iteration ${tr.iter}")
          record(guarded("traced reads")(wl.tracedExtra(tr)), s"traced reads ${tr.iter}")
          ops += wl.lastOps
          wl.cleanup()
        }
        times
      }
      val iters = tr.all.map(_.iter).distinct
      def perIter(f: Seq[Span] => Double): Double = Stats.median(iters.map(i => f(tr.all.filter(_.iter == i))))
      def q(f: QueryStats => Double): Double = perIter(ss => f(ss.map(_.query).foldLeft(QueryStats())(_ + _)))
      wl.stepNames.zipWithIndex.foreach { case (n, i) =>
        metrics += ((s"operators.step${i + 1}_s", perIter(ss => ss.filter(_.name == n).map(tr.selfSeconds).sum), "s"))
      }
      metrics ++= Seq(
        ("operators.candidates", Stats.median(ops.map(_.candidates).toSeq), "rows"),
        ("operators.hit_ratio", Stats.median(ops.map(o => if (o.candidates == 0) 0.0 else o.useful / o.candidates).toSeq), "ratio"),
        ("query.jobs", q(_.jobs), "count"),
        ("query.stages", q(_.stages), "count"),
        ("query.tasks", q(_.tasks), "count"),
        ("query.shuffle_write_mb", q(_.shuffleWriteB / 1048576.0), "MB"),
        ("query.shuffle_read_mb", q(_.shuffleReadB / 1048576.0), "MB"),
        ("query.executor_cpu_s", q(_.cpuNs / 1e9), "s"),
        ("query.gc_s", q(_.gcMs / 1e3), "s"),
        ("query.sched_delay_s", q(_.schedDelayMs / 1e3), "s"),
        ("query.task_skew", q(_.taskSkew), "ratio"),
        ("trace.overhead_pct", (Stats.median(traced.toSeq) / Stats.median(plain.toSeq) - 1) * 100, "%"))
      report(tr)
      writeSpans(tr, work.getParent.resolve(s"spans-${o.workload}-${o.seed}.jsonl"))
      val in = Panel.inputs(spark, o.seed)
      metrics ++= Panel.kernels(in)
      metrics ++= Panel.functions(spark, tr, in)
      metrics += (("host.calib_ms", (calibBefore + Stats.calibMs()) / 2, "ms"))
    }
    if (!o.trace) log(f"host.calib_ms ${(calibBefore + Stats.calibMs()) / 2}%.1f")
    log(f"fail_frac ${failed.toDouble / math.max(1L, attempted)}%.4f ($failed of $attempted operations)")
    metrics.foreach { case (k, v, u) => log(f"  $k%-32s $v%14.4f $u") }
    wl.close()
    println(json(failed == 0, attempted, failed, metrics.toSeq))
  }

  /** Span table: per span name, the median per iteration of its total and
    * self time and of its own query-layer counters. */
  private def report(tr: Trace): Unit = {
    val spans = tr.all
    log("traced spans (median per iteration): name  calls  total_s  self_s  jobs  stages  tasks  shuffle_mb  executor_cpu_s")
    spans.map(_.name).distinct.foreach { n =>
      val per = spans.filter(_.name == n).groupBy(_.iter).values.toSeq
      def med(f: Span => Double) = Stats.median(per.map(_.map(f).sum))
      log(f"  $n%-20s ${med(_ => 1)}%5.0f ${med(_.seconds)}%8.3f ${med(tr.selfSeconds)}%8.3f " +
        f"${med(_.query.jobs)}%5.0f ${med(_.query.stages)}%6.0f ${med(_.query.tasks)}%6.0f " +
        f"${med(s => (s.query.shuffleReadB + s.query.shuffleWriteB) / 1048576.0)}%10.2f " +
        f"${med(_.query.cpuNs / 1e9)}%10.3f")
    }
  }

  /** Every recorded span, one JSON object a line, kept after the run. */
  private def writeSpans(tr: Trace, out: Path): Unit = {
    val lines = tr.all.map { s =>
      val q = s.query
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "iter": ${s.iter}, """ +
        s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${num(tr.selfSeconds(s))}, """ +
        s""""jobs": ${q.jobs}, "stages": ${q.stages}, "tasks": ${q.tasks}, "shuffle_write_b": ${q.shuffleWriteB}, """ +
        s""""shuffle_read_b": ${q.shuffleReadB}, "executor_cpu_ns": ${q.cpuNs}, "gc_ms": ${q.gcMs}, """ +
        s""""sched_delay_ms": ${q.schedDelayMs}}"""
    }
    Files.write(out, lines.asJava)
    log(s"spans written to $out")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""", ", ", "}}")
}
