package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the conf every graft entry point runs on; reads the factory's
  * conf map only, so no SparkSession is started. */
class GraftSessionSpec extends AnyFunSuite {
  test("conf for 4 cpus is the Bench/Verify session conf") {
    assert(GraftSession.conf(4) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.locality.wait" -> "0",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000"))
  }

  test("cpus sets both the local master and the shuffle partitions") {
    val c = GraftSession.conf(7)
    assert(c("spark.master") == "local[7]")
    assert(c("spark.sql.shuffle.partitions") == "7")
    assert(c - "spark.master" - "spark.sql.shuffle.partitions" ==
      GraftSession.conf(4) - "spark.master" - "spark.sql.shuffle.partitions")
  }
}
