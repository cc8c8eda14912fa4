package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftTable
import graft.delta.TransactionWriter

/** End-to-end demo of the Change Data Feed surface:
  * `runMain graft.tools.CdfDemo [dir]` — creates a table, enables CDF,
  * runs a targeted UPDATE, a DV DELETE and a DV UPDATE, then prints the
  * full versioned change feed.
  */
object CdfDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("cdf-demo").toString)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    try {
      val t = GraftTable(spark, s"$dir/cdf_table")
      TransactionWriter.overwrite(t.log,
        (0L until 6L).map(i => (i, s"name_$i", i * 10L)).toDF("id", "name", "score"))
      t.enableChangeDataFeed()
      println(s"== CDF enabled at v${t.log.latestVersion()} ==")

      TransactionWriter.append(t.log, Seq((6L, "name_6", 60L)).toDF("id", "name", "score"))
      t.update(col("id") === 2L, Map("score" -> lit(999L)))
      t.deleteWithDv(col("id") === 3L)
      t.updateWithDv(col("id") === 6L, Map("name" -> lit("renamed")))
      println(s"== after append/UPDATE/DV-DELETE/DV-UPDATE: v${t.log.latestVersion()} ==")
      t.read().orderBy("id").show()

      println("== change feed v1.. ==")
      val feed = t.changeFeed(1)
        .orderBy("_commit_version", "id", "_change_type")
      feed.show(50, truncate = false)
      val byType = feed.groupBy("_change_type").count()
        .as[(String, Long)].collect().toMap
      require(byType == Map("insert" -> 1L, "update_preimage" -> 2L,
        "update_postimage" -> 2L, "delete" -> 1L),
        s"unexpected change-type histogram: $byType")
      println(s"change-type histogram OK: $byType")

      // Targeted-rewrite mutations also emit row-level cdc: dedup
      // commits carry exactly the dropped rows as deletes, SCD2 carries
      // close pre/post pairs plus the new versions as inserts.
      val t2 = GraftTable(spark, s"$dir/cdf_dedup")
      TransactionWriter.overwrite(t2.log,
        Seq((1L, "dup"), (2L, "dup"), (3L, "keep")).toDF("id", "v").coalesce(1))
      t2.enableChangeDataFeed()
      t2.killDuplicates(Seq("v"))
      println("== killDuplicates change feed ==")
      t2.changeFeed(2).show(10, truncate = false)
      val dedupTypes = t2.changeFeed(2).groupBy("_change_type").count()
        .as[(String, Long)].collect().toMap
      require(dedupTypes == Map("delete" -> 2L),
        s"unexpected dedup cdc: $dedupTypes")

      val t3 = GraftTable(spark, s"$dir/cdf_scd2")
      TransactionWriter.overwrite(t3.log,
        Seq((10L, "old", true, 100L, Option.empty[Long]))
          .toDF("pk", "attr", "is_current", "effective_time", "end_time")
          .coalesce(1))
      t3.enableChangeDataFeed()
      t3.type2ScdUpsert(
        Seq((10L, "new", 200L)).toDF("pk", "attr", "effective_time"),
        "pk", Seq("attr"))
      println("== SCD2 upsert change feed ==")
      t3.changeFeed(2).show(10, truncate = false)
      val scdTypes = t3.changeFeed(2).groupBy("_change_type").count()
        .as[(String, Long)].collect().toMap
      require(scdTypes == Map("update_preimage" -> 1L,
        "update_postimage" -> 1L, "insert" -> 1L),
        s"unexpected scd2 cdc: $scdTypes")
      println(s"mutation cdc histograms OK: dedup=$dedupTypes scd2=$scdTypes")

      // CDC APPLY: replicate a mutating table into a follower by
      // draining its change feed through the MERGE-apply sink
      val leader = graft.delta.DeltaLog.forPath(spark, s"$dir/cdc_leader")
      TransactionWriter.overwrite(leader,
        Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
      graft.delta.ChangeDataFeed.enable(leader)
      val follower = graft.delta.DeltaLog.forPath(spark, s"$dir/cdc_follower")
      TransactionWriter.overwrite(follower, Seq.empty[(Long, String)].toDF("k", "v"))
      val stream = spark.readStream
        .format(classOf[graft.sources.DeltaSourceProvider].getName)
        .option("path", leader.tablePath)
        .option("readChangeFeed", "true").load()
      val apply = graft.streaming.StreamingOps.deltaCdcApplySink(
        stream, follower, Seq("k"), "cdf-demo-apply", s"$dir/cdc_cp")
      apply.processAllAvailable()
      graft.delta.Mutations.delete(leader, org.apache.spark.sql.functions.col("k") === 1L)
      TransactionWriter.append(leader, Seq((3L, "c")).toDF("k", "v"))
      apply.processAllAvailable()
      apply.stop()
      val got = graft.delta.DeltaLog.forPath(spark, follower.tablePath)
        .snapshot.read().orderBy("k").as[(Long, String)].collect().toSeq
      require(got == Seq((2L, "b"), (3L, "c")),
        s"follower must mirror the leader's terminal state, got $got")
      println(s"== CDC apply: follower mirrors leader $got ==")
    } finally spark.stop()
  }
}
