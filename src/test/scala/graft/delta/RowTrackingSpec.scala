package graft.delta

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Row tracking: backfill-on-enable, fresh allocation per commit from
  * the domain high-water mark, id preservation under DV mutations,
  * checkpoint/time-travel survival, and uniqueness. */
class RowTrackingSpec extends SparkTestBase {
  import spark.implicits._

  private def freshLog(): DeltaLog = {
    val path = Files.createTempDirectory("graft-rt").resolve("t").toString
    DeltaLog.forPath(spark, path)
  }

  private def ids(log: DeltaLog) =
    RowTracking.readWithRowIds(log.snapshot)
      .select("id", "_row_id", "_row_commit_version")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)

  test("enable backfills, appends allocate fresh disjoint ids") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (0L until 10L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2)) // v0
    RowTracking.enable(log)                                               // v1
    assert(log.snapshot.protocol.writerFeatures.contains("rowTracking"))
    assert(RowTracking.highWaterMark(log.snapshot) == 9L)
    val initial = ids(log)
    assert(initial.map(_._2).distinct.size == 10, "row ids must be unique")
    assert(initial.map(_._2).toSet == (0L until 10L).toSet)
    assert(initial.forall(_._3 == 1L), "backfill stamps the enable version")
    // enable is idempotent
    assert(RowTracking.enable(log) == 1L)

    TransactionWriter.append(log,
      Seq((100L, "new"), (101L, "new2")).toDF("id", "v").coalesce(1))     // v2
    assert(RowTracking.highWaterMark(log.snapshot) == 11L)
    val after = ids(log)
    assert(after.map(_._2).distinct.size == 12)
    val newRows = after.filter(_._1 >= 100L)
    assert(newRows.map(_._2).toSet == Set(10L, 11L), s"fresh ids: $newRows")
    assert(newRows.forall(_._3 == 2L))
    // old rows keep their ids and commit version
    assert(after.filter(_._1 < 10L).map(r => (r._1, r._2)).toMap ==
      initial.map(r => (r._1, r._2)).toMap)
  }

  test("DV delete preserves ids; checkpoint and time travel keep them") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (0L until 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    RowTracking.enable(log)
    val before = ids(log).map { case (k, v, _) => k -> v }.toMap

    Mutations.deleteWithDv(log, col("id") < 5L)
    val after = ids(log)
    assert(after.map(_._1).toSet == (5L until 20L).toSet)
    // every surviving row keeps exactly its old id (file untouched)
    after.foreach { case (id, rid, _) => assert(before(id) == rid) }

    // ids visible at a prior version via time travel
    val atEnable = RowTracking.readWithRowIds(log.snapshotAt(1))
    assert(atEnable.count() == 20L)

    Maintenance.checkpoint(log)
    Maintenance.cleanupLog(log)
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    val bootstrapped = ids(fresh)
    assert(bootstrapped == after, "ids must survive checkpoint bootstrap")
    assert(RowTracking.highWaterMark(fresh.snapshot) == 19L)
  }

  test("OPTIMIZE and targeted DELETE/UPDATE preserve ids via materialized cols") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (0L until 8L).map(i => (i, s"v$i")).toDF("id", "v").repartition(2))
    intercept[IllegalArgumentException] {
      RowTracking.readWithRowIds(log.snapshot)
    }
    RowTracking.enable(log)
    val before = ids(log).map { case (k, v, _) => k -> v }.toMap

    Maintenance.compact(log)
    val afterCompact = ids(log)
    assert(afterCompact.map { case (k, v, _) => k -> v }.toMap == before,
      "OPTIMIZE must preserve every row id")
    // the merged file carries fresh baseRowId (spec), ids come from the
    // materialized column — hwm advanced for the rewrite's allocation
    assert(RowTracking.highWaterMark(log.snapshot) >= 7L)

    // targeted DELETE: survivors keep their ids
    Mutations.delete(log, col("id") < 3L)
    val afterDelete = ids(log)
    assert(afterDelete.map(_._1).toSet == (3L until 8L).toSet)
    afterDelete.foreach { case (id, rid, _) => assert(before(id) == rid) }

    // targeted UPDATE: updated rows keep identity, new values
    Mutations.update(log, col("id") === 5L, Map("v" -> lit("changed")))
    val afterUpdate = ids(log)
    afterUpdate.foreach { case (id, rid, _) => assert(before(id) == rid) }
    assert(log.snapshot.read().where(col("v") === "changed").count() == 1L)

    // and another OPTIMIZE still reads the materialized ids through
    Maintenance.compact(log)
    ids(log).foreach { case (id, rid, _) => assert(before(id) == rid) }
  }

  test("a multi-file append hands out row ids in file path order") {
    // the RowTrackingDemo append: two rows land in two files, and the
    // ids follow the files' sorted paths, not the order the file system
    // lists the staging directory in — the same append gets the same
    // ids on every run
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (0L until 6L).map(i => (i, s"name_$i")).toDF("id", "name").repartition(2)) // v0
    RowTracking.enable(log)                                                       // v1
    TransactionWriter.append(log,
      Seq((10L, "late"), (11L, "later")).toDF("id", "name"))                      // v2
    val added = log.snapshot.activeFiles
      .filter(_.defaultRowCommitVersion.contains(2L)).sortBy(_.path)
    assert(added.size == 2, s"precondition: one file per row, got ${added.map(_.path)}")
    assert(added.map(_.baseRowId) == Seq(Some(6L), Some(7L)))
    assert(ids(log).filter(_._1 >= 10L).map(r => r._1 -> r._2) ==
      Seq(10L -> 6L, 11L -> 7L))
  }
}
