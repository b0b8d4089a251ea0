package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.SparkTestSession

class EntryQueriesSpec extends AnyFunSuite {

  test("runConcurrently: a failure stops the siblings before it is rethrown") {
    val started = new CountDownLatch(1)
    val exited = new CountDownLatch(1)
    val err = intercept[IllegalStateException] {
      EntryQueries.runConcurrently(2) { i =>
        if (i == 0) {
          started.await(30, TimeUnit.SECONDS)
          throw new IllegalStateException("batch 0 failed")
        } else {
          started.countDown()
          try Thread.sleep(60000) finally exited.countDown()
        }
      }
    }
    assert(err.getMessage == "batch 0 failed")
    assert(exited.getCount == 0, "body(1) was still running when the call threw")
  }

  test("ensureRegistered registers the functions once per session") {
    val spark = SparkTestSession.spark
    EntryQueries.ensureRegistered(spark)
    val reg = spark.sessionState.functionRegistry
    // a non-capturing builder lambda is one cached instance, so its
    // ExpressionInfo (new on every registration) is checked as well
    def entry(name: String): (AnyRef, AnyRef) = {
      val id = FunctionIdentifier(name)
      (reg.lookupFunctionBuilder(id).get, reg.lookupFunction(id).get)
    }
    val before = Seq("st_cellid", "img_phash").map(entry)
    EntryQueries.ensureRegistered(spark)
    Seq("st_cellid", "img_phash").map(entry).zip(before).foreach { case (now, was) =>
      assert((now._1 eq was._1) && (now._2 eq was._2), s"re-registered: $was -> $now")
    }
  }

  test("obs: a decision with no record open is dropped; records do not share entries") {
    val spark = SparkTestSession.spark
    obs.decision("outside", "k" -> 1)
    val (_, first) = obs.record(spark) {
      obs.decision("first", "k" -> 1L, "mode" -> "a")
      intercept[IllegalStateException](obs.record(spark)(()))
    }
    obs.decision("between", "k" -> 2)
    val (_, second) = obs.record(spark)(obs.decision("second", "flag" -> true))
    assert(first.decisions == Vector("first" -> Vector("k" -> 1L, "mode" -> "a")))
    assert(second.decisions == Vector("second" -> Vector("flag" -> true)))
    assert(first.query.jobs == 0 && second.query.actions == 0)
    assert(second.toJson.render.contains("\"decisions\":[{\"op\":\"second\",\"flag\":true}]"))
  }

  test("obs records: q22 keeps first-band dedup, q39 closes by label passes") {
    val spark = SparkTestSession.spark
    val dir = "/root/testdata/sf0.001"
    val (_, q22) = obs.record(spark)(EntryQueries.q22Simhash(spark, dir).count())
    operators.CacheTracker.releaseAll()
    val Seq(banded) = q22.of("bandedPairs")
    assert(banded("nDropped") == 0L && banded("smallOnly") == true &&
      banded("dedup") == "first-band", banded)
    assert(q22.query.exchanges > 0 && q22.query.jobs > 0 && q22.query.actions > 0, q22.query)
    val (_, q39) = obs.record(spark)(EntryQueries.q39DedupGroups(spark, dir).count())
    operators.CacheTracker.releaseAll()
    val Seq(cc) = q39.of("connectedComponents")
    assert(cc("star") == false && cc("starRounds") == 0, cc)
    val passes = cc("labelPasses").asInstanceOf[Int]
    assert(passes >= 1 && passes <= 10, cc)
  }
}
