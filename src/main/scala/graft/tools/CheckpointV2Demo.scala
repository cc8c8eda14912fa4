package graft.tools

import graft.delta.{DeltaLog, Maintenance, Mutations, TransactionWriter}

/** End-to-end drive of the v2-checkpoint layout:
  * `runMain graft.tools.CheckpointV2Demo [tableDir]`.
  *
  * Builds a table (overwrite + txn-append + DV delete), writes a v2
  * checkpoint (parquet manifest + 2 sidecars), deletes the commit
  * JSONs it replaced, and reads the table back THROUGH the checkpoint —
  * then repeats with a JSON manifest. Prints the `_delta_log` layout
  * and the recovered row counts so the replay path is visible.
  */
object CheckpointV2Demo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    import spark.implicits._
    try {
      for (json <- Seq(false, true)) {
        val dir = if (args.nonEmpty) args(0) + (if (json) "-json" else "-parquet")
          else java.nio.file.Files.createTempDirectory("graft-cp2-demo")
            .resolve(if (json) "tj" else "tp").toString
        val log = DeltaLog.forPath(spark, dir)
        TransactionWriter.overwrite(log,
          (1L to 1000L).map(i => (i, s"v$i")).toDF("n", "s").coalesce(2)) // v0
        TransactionWriter.appendWithTxn(log,
          Seq((2000L, "x")).toDF("n", "s"), "demo-app", 3L)               // v1
        Mutations.deleteWithDv(log, org.apache.spark.sql.functions.col("n") <= 100L) // v2
        val v = Maintenance.checkpointV2(log, sidecarParts = 2, jsonManifest = json)
        // drop the replaced commit JSONs: any successful read below can
        // only have come from the checkpoint
        (0L to v).foreach { i =>
          log.fs.delete(new org.apache.hadoop.fs.Path(log.logPath, f"$i%020d.json"), false)
        }
        val form = if (json) "json" else "parquet"
        println(s"== v2 checkpoint ($form manifest) at $dir ==")
        log.fs.listStatus(log.logPath).map(_.getPath.getName).sorted
          .foreach(n => println(s"  _delta_log/$n"))
        log.fs.listStatus(new org.apache.hadoop.fs.Path(log.logPath, "_sidecars"))
          .map(_.getPath.getName).sorted
          .foreach(n => println(s"  _delta_log/_sidecars/$n"))
        val snap = log.snapshot
        println(s"  version=${snap.version} files=${snap.numFiles} " +
          s"txn(demo-app)=${snap.setTransactions.get("demo-app").map(_.version)}")
        val n = snap.read().count()
        val minN = snap.read().agg(org.apache.spark.sql.functions.min("n")).as[Long].head()
        println(s"  rows=$n (expect 901) min_n=$minN (expect 101 — DV survived)")
        require(n == 901 && minN == 101L, "v2 checkpoint replay returned wrong rows")
        // vacuum safety: the live DV file must survive even a
        // zero-retention vacuum; after a compaction orphans it, the same
        // vacuum reclaims it — and the data stays correct throughout.
        def dvCount = log.fs.listStatus(log.rootPath).map(_.getPath.getName)
          .count(f => f.startsWith("deletion_vector_") && f.endsWith(".bin"))
        Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
        require(dvCount == 1 && log.snapshot.read().count() == 901,
          "vacuum must keep the referenced DV file")
        Maintenance.compact(log)
        Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
        require(dvCount == 0 && log.snapshot.read().count() == 901,
          "vacuum must reclaim the orphaned DV file after compaction")
        println(s"  vacuum: live DV kept, orphaned DV reclaimed, rows still 901")
      }
      println("CheckpointV2Demo OK")
    } finally spark.stop()
  }
}
