package graft
import org.apache.spark.sql.SparkSession

/** A/B measurement harness for optimization work — NOT the driver's bench
  * (Bench.scala is frozen; this main exists so per-query effects can be
  * separated from the host's sub-minute capacity flapping, BENCH/BASELINE.md
  * §0). Each selected query first runs once, untimed, with a `graft.obs`
  * record open — that run is also the query's warm-up — then
  * `SPARK_GRAFT_REPEATS` times (default 3) with no record open; its entry
  * reports the min and all samples plus the `record`. The min of several
  * back-to-back samples is robust against one-sided external-occupancy
  * noise. `SPARK_GRAFT_REPEATS=0` prints the records alone. Same contract as
  * Bench otherwise: data dir from `SPARK_GRAFT_SF_DIR`, cores from
  * `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_ONLY=q...,q...` filters.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // untimed fixture pre-build (e.g. q42's IVF index), as in Bench
    try SparkEntry.prepare(spark, sfDir)
    catch { case _: Throwable => () }
    finally graft.operators.CacheTracker.releaseAll()
    // a run that throws records no sample (its short elapsed time is not a
    // measurement); the query's entry then carries the error, not a min
    val results = ordered.map { case (name, fn) =>
      var error: Option[String] = None
      def run(): Boolean = {
        spark.sparkContext.setJobDescription(name)
        try { fn(spark, sfDir).count(); true }
        catch { case t: Throwable =>
          println(s"ERROR $name: ${t.getMessage}")
          error = Some(String.valueOf(t.getMessage)); false }
        finally graft.operators.CacheTracker.releaseAll()
      }
      val (_, record) = graft.obs.record(spark)(run())
      val ts = (0 until repeats).flatMap { _ =>
        val t0 = System.nanoTime()
        if (run()) Some((System.nanoTime() - t0) / 1e9) else None
      }
      (name, ts, error, record)
    }
    val qs = results.map { case (k, ts, error, record) =>
      val head = error.map(e => s"\"error\":${graft.core.Json.escape(e)},")
        .orElse(ts.minOption.map(m => s"\"min\":$m,")).getOrElse("")
      s"\"$k\":{$head\"samples\":[${ts.mkString(",")}],\"record\":${record.toJson.render}}"
    }.mkString("{", ",", "}")
    println(s"""{"metric":"benchx","repeats":$repeats,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
