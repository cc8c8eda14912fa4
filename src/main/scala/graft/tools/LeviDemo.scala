package graft.tools

import graft.Levi
import graft.delta.{DeltaLog, TransactionWriter}

/** End-to-end demo of the mutation API on a scratch Delta table:
  * `runMain graft.tools.LeviDemo [dir]` — creates a table with our
  * writer, runs kill_duplicates and an SCD2 upsert, prints each state.
  */
object LeviDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("levi-demo").toString)
    val spark = graft.GraftSession.local()
    import spark.implicits._
    try {
      val path = s"$dir/demo_table"
      val log = DeltaLog.forPath(spark, path)
      TransactionWriter.overwrite(log, Seq(
        (1L, "A", "A"), (2L, "A", "B"), (3L, "A", "A"), (4L, "A", "A"),
        (5L, "B", "B"), (6L, "D", "D"), (9L, "B", "B"))
        .toDF("col1", "col2", "col3"))
      println(s"== v${log.latestVersion()} initial ==")
      log.snapshot.read().orderBy("col1").show()
      println(s"file sizes: ${Levi.deltaFileSizes(log.snapshot, Seq("<1kb", ">=1kb"))}")

      Levi.killDuplicates(log, Seq("col3", "col2"))
      println(s"== v${log.latestVersion()} after kill_duplicates(col3, col2) ==")
      log.snapshot.read().orderBy("col1").show()

      println(s"== time travel back to v0: ${log.snapshotAt(0).read().count()} rows ==")

      import org.apache.spark.sql.functions.{col, lit}
      graft.delta.Mutations.update(log, col("col2") === "A",
        Map("col3" -> lit("updated")))
      println(s"== v${log.latestVersion()} after UPDATE set col3='updated' where col2='A' ==")
      log.snapshot.read().orderBy("col1").show()
      require(log.snapshot.read().where(col("col3") === "updated").count() == 1L,
        "UPDATE must hit exactly the surviving col2='A' row")

      graft.delta.Mutations.delete(log, col("col2") === "D")
      println(s"== v${log.latestVersion()} after DELETE where col2='D' ==")
      log.snapshot.read().orderBy("col1").show()
      require(log.snapshot.read().where(col("col2") === "D").count() == 0L,
        "DELETE must remove the col2='D' row")

      graft.delta.Constraints.addCheckConstraint(log, "col2_not_e", "col2 <> 'E'")
      val violated =
        try { graft.delta.Maintenance.append(log,
          Seq((8L, "E", "X")).toDF("col1", "col2", "col3")); false }
        catch { case _: Exception => true }
      require(violated, "CHECK constraint must abort the violating append")
      println(s"== CHECK col2<>'E' enforced: violating append aborted, still v${log.latestVersion()} ==")
      graft.delta.Constraints.dropCheckConstraint(log, "col2_not_e")

      graft.delta.Maintenance.append(log, Seq((7L, "E", "E")).toDF("col1", "col2", "col3"))
      // targeted small-file OPTIMIZE first (everything here is tiny, so
      // all files coalesce), then the full-rewrite variant as a no-op-ish
      // layout reset
      val beforeFiles = log.snapshot.numFiles
      graft.delta.Maintenance.compactSmall(log, smallThresholdBytes = 10L * 1024 * 1024)
      println(s"== compactSmall: $beforeFiles file(s) -> ${log.snapshot.numFiles} ==")
      graft.delta.Maintenance.compact(log)
      val cpV = graft.delta.Maintenance.checkpoint(log)
      val vacuumed = graft.delta.Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
      println(s"== appended, compacted, checkpointed @v$cpV, vacuumed ${vacuumed.length} orphans ==")
      println(s"== final: ${log.snapshot.read().count()} rows in ${log.snapshot.numFiles} file(s) ==")
    } finally spark.stop()
  }
}
