package gcbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Result of one checked operation (an iteration or a lookup). */
final case class Outcome(ok: Boolean, note: String = "")

object Outcome {
  val Ok: Outcome = Outcome(ok = true)
  def check(cond: Boolean, what: => String): Outcome = if (cond) Ok else Outcome(ok = false, what)
  def all(os: Outcome*): Outcome = os.find(!_.ok).getOrElse(Ok)
}

/** Operator-layer numbers of one traced iteration. */
final case class OpCounts(candidates: Double, useful: Double)

/** Inputs the kernel and expression panels run on: samples drawn from the
  * same generators as the workloads. */
final case class PanelInputs(
    lons: Array[Double], lats: Array[Double],
    polys: Vector[Gen.Poly], docs: Vector[Gen.Doc], clusters: Vector[Gen.Cluster],
    geoDocs: Vector[Gen.GeoDoc])

/** One benchmark workload. The harness calls, in order: `prepare` (timed
  * into set-up, may be repeated after `releaseInputs`); a first `iterate`,
  * whose output `deepCheck` then checks (untimed) and which fixes the
  * expected result of every later iteration; further warm-up and timed
  * `iterate` calls, each followed by an untimed `cleanup`; `lookupSetup` and
  * `lookup` calls; and `close`. */
trait Workload {
  /** Input rows one iteration finishes. */
  def rows: Long
  def prepare(): Unit
  def releaseInputs(): Unit
  /** Independent, untimed check of the first iteration's answer; also
    * fixes the expected result of later iterations. */
  def deepCheck(): Outcome
  def iterate(tr: Trace): Outcome
  /** Operator-layer candidate/useful counts of the last iteration. */
  def lastOps: OpCounts
  def cleanup(): Unit
  /** Extra traced work after a traced iteration, outside its timing. */
  def tracedExtra(tr: Trace): Outcome = Outcome.Ok
  def lookupSetup(): Unit
  def lookup(rnd: Random): Outcome
  def close(): Unit

  /** Hash of the generated inputs: the same seed gives the same digest. */
  def digest: Long

  /** Names of this workload's three operator spans, in pipeline order. */
  def stepNames: Seq[String]

  protected def cache(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_ONLY)
    p.count()
    p
  }

  /** In a traced run an operator span forces its output over a persisted
    * input, so the span holds that operator's work and nothing later. */
  protected val forced = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  protected def stage(tr: Trace, span: String, df: => DataFrame): DataFrame =
    if (!tr.enabled) df
    else tr.span(span) {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.write.format("noop").mode("overwrite").save()
      forced += p
      p
    }
  protected def unforce(): Unit = { forced.foreach(_.unpersist(blocking = true)); forced.clear() }
}

object Workload {
  def hashOf(xs: Iterable[String]): Long =
    xs.foldLeft(17L)((h, x) => graft.core.Kernels.mix64(h ^ x.hashCode.toLong))

  def apply(name: String, spark: SparkSession, seed: Long, scale: Double, inject: Boolean,
      work: java.nio.file.Path, viaReadRange: Boolean): Workload = name match {
    case "pip_tile" => new PipTile(spark, seed, scale, inject)
    case "neardup_closure" => new NearDup(spark, seed, scale, inject)
    case "convert_ingest" => new ConvertIngest(spark, seed, scale, inject, work, viaReadRange)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val names: Seq[String] = Seq("pip_tile", "neardup_closure", "convert_ingest")
}
