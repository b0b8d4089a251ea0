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
}
