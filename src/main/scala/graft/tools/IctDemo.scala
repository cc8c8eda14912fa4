package graft.tools

import graft.delta.{DeltaLog, Maintenance, TransactionWriter}

/** End-to-end drive of in-commit timestamps:
  * `runMain graft.tools.IctDemo [tableDir]`.
  *
  * Builds a table, enables ICT, appends twice, then REWRITES every
  * commit file's modification time to 1970 — and shows that timestamp
  * time travel still resolves correctly from the commitInfo ICTs while
  * a mtime-based reader would have resolved everything to the latest
  * version. */
object IctDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local()
    import spark.implicits._
    try {
      val dir = if (args.nonEmpty) args(0)
        else java.nio.file.Files.createTempDirectory("graft-ict-demo")
          .resolve("t").toString
      val log = DeltaLog.forPath(spark, dir)
      TransactionWriter.overwrite(log, Seq((1L, "a")).toDF("n", "s"))  // v0
      val enabledAt = Maintenance.enableInCommitTimestamps(log)        // v1
      Maintenance.append(log, Seq((2L, "b")).toDF("n", "s"))           // v2
      Thread.sleep(20)
      Maintenance.append(log, Seq((3L, "c")).toDF("n", "s"))           // v3
      println(s"== ICT table at $dir (enabled at v$enabledAt) ==")
      println(s"protocol: ${log.snapshot.protocol}")
      (0L to 3L).foreach { v =>
        println(s"  v$v inCommitTimestamp=${log.inCommitTimestampOf(v)}")
      }
      // sabotage: all commit mtimes -> 1970
      (0L to 3L).foreach { v =>
        log.fs.setTimes(new org.apache.hadoop.fs.Path(
          log.logPath, f"$v%020d.json"), 1000L, -1)
      }
      val ict2 = log.inCommitTimestampOf(2L).get
      val at2 = log.snapshotAsOf(java.time.Instant.ofEpochMilli(ict2))
      println(s"snapshotAsOf(ict of v2) -> version ${at2.version}, " +
        s"rows=${at2.read().count()} (expect v2, 2 rows; mtime-based would say v3)")
      require(at2.version == 2L && at2.read().count() == 2L,
        "ICT time travel returned the wrong version")
      Maintenance.history(log).show(truncate = false)
      println("IctDemo OK")
    } finally spark.stop()
  }
}
