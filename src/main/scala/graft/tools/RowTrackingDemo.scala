package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftTable
import graft.delta.{RowTracking, TransactionWriter}

/** End-to-end demo of row tracking:
  * `runMain graft.tools.RowTrackingDemo [dir]` — enable (backfill),
  * append (fresh allocation), DV delete (ids preserved), and the
  * `_row_id` / `_row_commit_version` read surface.
  */
object RowTrackingDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("rt-demo").toString)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    try {
      val t = GraftTable(spark, s"$dir/rt_table")
      TransactionWriter.overwrite(t.log,
        (0L until 6L).map(i => (i, s"name_$i")).toDF("id", "name").repartition(2))
      t.enableRowTracking()
      println(s"== row tracking enabled; hwm=${RowTracking.highWaterMark(t.snapshot)} ==")
      t.append(Seq((10L, "late"), (11L, "later")).toDF("id", "name"))
      t.deleteWithDv(col("id") === 2L)
      println("== rows with ids after append + DV delete ==")
      val rows = t.readWithRowIds().orderBy("id")
      rows.show(20, truncate = false)
      val rids = rows.select("_row_id").as[Long].collect()
      require(rids.distinct.length == rids.length, "row ids must be unique")
      require(rids.length == 7, s"expected 7 live rows, got ${rids.length}")
      require(RowTracking.highWaterMark(t.snapshot) == 7L,
        s"hwm should be 7 after 8 allocations, got ${RowTracking.highWaterMark(t.snapshot)}")

      // OPTIMIZE preserves every id through the materialized columns
      val beforeOpt = t.readWithRowIds().select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
      graft.delta.Maintenance.compact(t.log)
      val afterOpt = t.readWithRowIds().select("id", "_row_id")
        .as[(Long, Long)].collect().toMap
      require(beforeOpt == afterOpt,
        s"OPTIMIZE must preserve row ids: $beforeOpt vs $afterOpt")
      println(s"== OPTIMIZE preserved all ${afterOpt.size} row ids ==")
      println("RowTrackingDemo OK")
    } finally spark.stop()
  }
}
