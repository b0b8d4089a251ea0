package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of SparkEntry queries
  * ("is the filter pushed, is the agg partial, is the join broadcast").
  * runMain graft.tools.Plans [sfDir] [query ...] (no query names: all).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.EntryQueries.ensureRegistered(spark)
    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    qs.foreach { case (name, fn) =>
      println(s"\n========== $name ==========")
      try fn(spark, dir).explain("formatted")
      catch { case e: Throwable => println(s"[plan] failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
