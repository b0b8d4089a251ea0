package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** One structured record per query: what it cost at the Spark query layer
  * and which runtime decisions its operators took.
  *
  * {{{
  * val (n, rec) = graft.obs.record(spark)(EntryQueries.q22Simhash(spark, dir).count())
  * rec.of("bandedPairs")   // Vector(Map("nDropped" -> 0L, "dedup" -> "first-band", ...))
  * println(rec.toJson.render)
  * }}}
  *
  * One record is open at a time. While it is open, a `SparkListener` sums
  * the stages of the jobs run in the record's job group (set on the calling
  * thread, and inherited by threads it starts), a `QueryExecutionListener`
  * counts the session's final plans, and [[decision]] appends to it. Closed,
  * both listeners are removed and [[decision]] does nothing, so a timed run
  * with no record open pays for neither.
  */
package object obs {
  private val open = new AtomicReference[Recorder]()
  private val ids = new AtomicLong()

  /** Appends operator `op`'s runtime decision (key → value; values are
    * numbers, booleans, strings or sequences of them) to the open record.
    * Driver-side only; safe from any thread; a no-op when no record is
    * open. */
  def decision(op: String, kv: (String, Any)*): Unit = {
    val r = open.get()
    if (r != null) r.decide(op, kv)
  }

  /** Runs `body` with a record open and returns its result and the
    * record. Throws IllegalStateException if a record is already open. */
  def record[T](spark: SparkSession)(body: => T): (T, Record) = {
    val rec = new Recorder(s"graft-obs-${ids.incrementAndGet()}")
    if (!open.compareAndSet(null, rec))
      throw new IllegalStateException("obs.record: a record is already open")
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val saved = keys.map(sc.getLocalProperty)
    sc.addSparkListener(rec)
    spark.listenerManager.register(rec)
    try {
      sc.setJobGroup(rec.group, Option(saved(1)).getOrElse(rec.group))
      val out = body
      Bridge.drain(sc)
      (out, rec.result())
    } finally {
      open.set(null)
      keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      spark.listenerManager.unregister(rec)
      sc.removeSparkListener(rec)
    }
  }
}
