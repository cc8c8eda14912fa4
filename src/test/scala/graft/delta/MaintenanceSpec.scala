package graft.delta

import java.nio.file.Files
import graft.SparkTestBase
import org.apache.spark.sql.functions.col

/** Checkpoint / append / compact / vacuum roundtrips against tables
  * created by our own writer. */
class MaintenanceSpec extends SparkTestBase {
  import spark.implicits._

  def freshLog(): DeltaLog = {
    val path = Files.createTempDirectory("graft-maint").resolve("t").toString
    DeltaLog.forPath(spark, path)
  }

  test("append adds files without removing") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a"), (2L, "b")).toDF("n", "s"))
    Maintenance.append(log, Seq((3L, "c")).toDF("n", "s"))
    assertSameRows(log.snapshot.read(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("n", "s"))
    assert(log.snapshot.version == 1L)
    // v0 still readable
    assert(log.snapshotAt(0).read().count() == 2L)
  }

  test("readChanges returns exactly the rows appended in the range") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a")).toDF("n", "s"))   // v0
    Maintenance.append(log, Seq((2L, "b")).toDF("n", "s"))            // v1
    Maintenance.append(log, Seq((3L, "c"), (4L, "d")).toDF("n", "s")) // v2
    assertSameRows(log.readChanges(0L, 2L),
      Seq((2L, "b"), (3L, "c"), (4L, "d")).toDF("n", "s"))
    assertSameRows(log.readChanges(1L), Seq((3L, "c"), (4L, "d")).toDF("n", "s"))
    // a compaction in the range (dataChange=false) passes through silently
    Maintenance.compact(log)                                          // v3
    assertSameRows(log.readChanges(2L, 3L),
      spark.emptyDataFrame.selectExpr("CAST(1 AS BIGINT) n", "'x' s").limit(0))
    // a dataChange rewrite poisons the range
    Mutations.killDuplicates(log, Seq("n"))                           // v4 (no dups -> still commits? guard)
    TransactionWriter.overwrite(log, Seq((9L, "z")).toDF("n", "s"))
    val e = intercept[IllegalStateException](log.readChanges(0L))
    assert(e.getMessage.contains("dataChange remove"))
  }

  test("compactSmall rewrites only sub-threshold files, keeps big ones") {
    val log = freshLog()
    // one "big" file (500 rows in one task) + four tiny appends
    TransactionWriter.overwrite(log,
      (1L to 500L).map(i => (i, s"v$i")).toDF("n", "s").coalesce(1))
    (1 to 4).foreach(i => Maintenance.append(log,
      Seq((1000L + i, s"t$i")).toDF("n", "s").coalesce(1)))
    val before = log.snapshot
    assert(before.activeFiles.size == 5)
    val big = before.activeFiles.maxBy(_.size)
    // threshold between the tiny files and the big one
    val v = Maintenance.compactSmall(log,
      targetFileBytes = 64L * 1024 * 1024, smallThresholdBytes = big.size)
    assert(v == before.version + 1)
    val after = log.snapshot
    // the big file survives untouched; the 4 tiny ones became 1
    assert(after.activeFiles.map(_.path).contains(big.path), "big file must not be rewritten")
    assert(after.activeFiles.size == 2, s"expected big + 1 compacted, got ${after.activeFiles.size}")
    assertSameRows(after.read(), before.read())
    // layout-only commit: invisible to incremental/streaming readers
    assertSameRows(log.readChanges(before.version, v),
      spark.emptyDataFrame.selectExpr("CAST(1 AS BIGINT) n", "'x' s").limit(0))
    // no-op when nothing is small enough: no new commit
    assert(Maintenance.compactSmall(log, smallThresholdBytes = 1L) == v)
  }

  test("compactSmall converges on partitioned tables (per-partition floor)") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      Seq((1L, "x"), (2L, "y")).toDF("n", "p").repartition(1),
      partitionBy = Some(Seq("p")))
    // one small file per partition value — nothing to merge anywhere
    val v0 = log.snapshot.version
    assert(Maintenance.compactSmall(log, smallThresholdBytes = 10L * 1024 * 1024) == v0,
      "a lone small file per partition must NOT trigger a rewrite")
    // two small files in partition x -> merged; y's lone file untouched
    Maintenance.append(log, Seq((3L, "x")).toDF("n", "p"))
    val before = log.snapshot
    val yFile = before.activeFiles.filter(_.partitionValues.get("p").contains("y"))
    val v = Maintenance.compactSmall(log, smallThresholdBytes = 10L * 1024 * 1024)
    assert(v == before.version + 1)
    val after = log.snapshot
    assert(after.activeFiles.count(_.partitionValues.get("p").contains("x")) == 1)
    assert(after.activeFiles.filter(_.partitionValues.get("p").contains("y"))
      .map(_.path) == yFile.map(_.path), "untouched partition keeps its file")
    assertSameRows(after.read(), before.read())
    // and now a healthy table: further passes are no-ops
    assert(Maintenance.compactSmall(log, smallThresholdBytes = 10L * 1024 * 1024) == v)
  }

  test("compactSmall splits an oversized partition value toward targetFileBytes") {
    val log = freshLog()
    // partition "hot" carries ~40x the bytes of "cold", planted as many
    // small files (1000:1-style skew); target is sized so hot needs
    // several output files while cold still collapses to one.
    val hot = (1L to 8000L).map(i => (i, "hot", "x" * 64)).toDF("n", "p", "pad")
    val cold = Seq((1L, "cold", "y"), (2L, "cold", "z")).toDF("n", "p", "pad")
    TransactionWriter.overwrite(log, hot.repartition(8).unionByName(cold.repartition(2)),
      partitionBy = Some(Seq("p")))
    val before = log.snapshot
    val hotBytes = before.activeFiles
      .filter(_.partitionValues.get("p").contains("hot")).map(_.size).sum
    val target = hotBytes / 4 // hot should split into ~4-5 files
    Maintenance.compactSmall(log,
      targetFileBytes = target, smallThresholdBytes = 10L * 1024 * 1024)
    val after = log.snapshot
    val hotFiles = after.activeFiles.filter(_.partitionValues.get("p").contains("hot"))
    val coldFiles = after.activeFiles.filter(_.partitionValues.get("p").contains("cold"))
    assert(coldFiles.size == 1, s"cold must collapse to one file, got ${coldFiles.size}")
    assert(hotFiles.size >= 3 && hotFiles.size <= 8,
      s"hot must split into ~hotBytes/target files, got ${hotFiles.size}")
    // no output file wildly above target (allow parquet overhead slack)
    assert(hotFiles.forall(_.size <= target * 2),
      s"an output file exceeds 2x target: ${hotFiles.map(_.size)}")
    assertSameRows(after.read(), before.read())
  }

  test("checkpoint lets the reader bootstrap without the JSON tail") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a")).toDF("n", "s"))
    Maintenance.append(log, Seq((2L, "b")).toDF("n", "s"))
    val cpV = Maintenance.checkpoint(log)
    assert(cpV == 1L)
    // delete the JSON commits ≤ checkpoint (the no_replay scenario)
    val fs = log.fs
    Seq(0L, 1L).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(log.logPath, f"$v%020d.json"), false)
    }
    val snap = DeltaLog.forPath(spark, log.tablePath).snapshot
    assert(snap.version == 1L)
    assert(snap.checkpointVersion.contains(1L))
    assertSameRows(snap.read(), Seq((1L, "a"), (2L, "b")).toDF("n", "s"))
    // stats + schema survived through the checkpoint
    assert(snap.schema.fieldNames.toSeq == Seq("n", "s"))
    assert(snap.addsFlat.agg(org.apache.spark.sql.functions.sum("num_records"))
      .collect()(0).get(0) != null)
  }

  test("compact merges small files and preserves content") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (1L to 100L).map(i => (i, s"v$i")).toDF("n", "s").repartition(8))
    assert(log.snapshot.numFiles == 8L)
    Maintenance.compact(log)
    val snap = log.snapshot
    assert(snap.numFiles == 1L, s"expected 1 file, got ${snap.numFiles}")
    assert(snap.read().count() == 100L)
  }

  test("compact on a partitioned table yields one file per partition") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (1L to 100L).map(i => (i, (i % 2).toString)).toDF("n", "p").repartition(8),
      partitionBy = Some(Seq("p")))
    assert(log.snapshot.numFiles > 2L) // fragmented: up to 8 per partition value
    Maintenance.compact(log)
    val snap = log.snapshot
    assert(snap.numFiles == 2L,
      s"expected 1 file per partition value, got ${snap.numFiles}")
    assertSameRows(snap.read(),
      (1L to 100L).map(i => (i, (i % 2).toString)).toDF("n", "p"))
  }

  test("distributed vacuum matches the driver walk on a partitioned table") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (1L to 20L).map(i => (i, (i % 3).toString)).toDF("n", "p"),
      partitionBy = Some(Seq("p")))
    TransactionWriter.overwrite(log,
      (1L to 20L).map(i => (i, (i % 3).toString)).toDF("n", "p"),
      partitionBy = Some(Seq("p"))) // orphans the v0 files
    val orphans = log.snapshotAt(0).activeFiles.length
    val deleted = Maintenance.vacuum(log, retentionMs = 0L,
      allowZeroRetention = true, distributed = true)
    assert(deleted.length == orphans && deleted.toSet.size == deleted.length,
      s"expected the $orphans v0 files exactly once, got $deleted")
    assertSameRows(log.snapshot.read(),
      (1L to 20L).map(i => (i, (i % 3).toString)).toDF("n", "p"))
  }

  test("zorder clustering improves multi-column stats skipping") {
    val log = freshLog()
    // two decorrelated uniform columns; random row order → every file's
    // [min,max] spans ~the full domain on both columns → no pruning
    val rows = (1 to 4096).map { i =>
      (i.toLong, (i % 64).toLong, ((i * 2654435761L) % 64))
    }
    TransactionWriter.overwrite(log,
      rows.toDF("id", "n1", "n2").repartition(8))
    assert(log.snapshot.numFiles == 8L)
    val corner = Seq(("n1", "<", 8), ("n2", "<", 8))
    val before = graft.Levi.skippedStats(log.snapshot, corner)
    val perFile = math.max(log.snapshot.activeFiles.map(_.size).sum / 8, 1L)
    Maintenance.zorder(log, Seq("n1", "n2"), targetFileBytes = perFile)
    val snap = log.snapshot
    assert(snap.numFiles >= 4L, s"expected multiple z-files, got ${snap.numFiles}")
    val after = graft.Levi.skippedStats(snap, corner)
    assert(after("num_files_skipped") > before("num_files_skipped"),
      s"zorder should increase pruning: before=$before after=$after")
    // data unchanged
    assertSameRows(snap.read(), rows.toDF("id", "n1", "n2"))
  }

  test("fsck drops entries for out-of-band-deleted files; dry run reports only") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      Seq((1L, "a"), (2L, "b")).toDF("n", "s").coalesce(1))
    Maintenance.append(log, Seq((3L, "c")).toDF("n", "s").coalesce(1))
    assert(log.snapshot.numFiles == 2L)
    // sabotage: delete one data file behind the log's back
    val victim = log.snapshot.activeFiles.minBy(_.path)
    log.fs.delete(new org.apache.hadoop.fs.Path(
      log.snapshot.absolutePath(victim)), false)
    intercept[Exception] { log.snapshot.read().count() }

    val dry = Maintenance.fsck(log, dryRun = true)
    assert(dry == Seq(victim.path))
    assert(log.snapshot.numFiles == 2L, "dry run must not commit")

    val repaired = Maintenance.fsck(log)
    assert(repaired == Seq(victim.path))
    assert(log.snapshot.numFiles == 1L)
    assert(log.snapshot.read().count() >= 1L) // scans work again
    // healthy table: no-op, no commit
    val v = log.latestVersion()
    assert(Maintenance.fsck(log).isEmpty && log.latestVersion() == v)
  }

  test("fsck on a CDF table keeps the change feed readable across the repair") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      Seq((1L, "a")).toDF("n", "s").coalesce(1))                       // v0
    ChangeDataFeed.enable(log)                                         // v1
    Maintenance.append(log, Seq((2L, "b")).toDF("n", "s").coalesce(1)) // v2
    val victim = log.snapshot.activeFiles.maxBy(_.modificationTime)
    log.fs.delete(new org.apache.hadoop.fs.Path(
      log.snapshot.absolutePath(victim)), false)
    Maintenance.fsck(log)                                              // v3
    // the repair commit itself contributes nothing and reads fine
    assert(ChangeDataFeed.tableChanges(log, 3, Some(3)).count() == 0L)
    // ranges avoiding the vanished file's own ADD also read fine
    assert(ChangeDataFeed.tableChanges(log, 0, Some(1)).count() == 1L)
    // the vanished file's insert is genuinely unrecoverable — its own
    // commit's derivation fails loudly rather than fabricating rows
    intercept[Exception] {
      ChangeDataFeed.tableChanges(log, 2, Some(2)).count()
    }
  }

  test("restore rolls back to a prior version without copying data") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a"), (2L, "b")).toDF("n", "s"))
    Maintenance.append(log, Seq((3L, "c")).toDF("n", "s"))
    TransactionWriter.overwrite(log, Seq((9L, "z")).toDF("n", "s")) // v2
    val v = Maintenance.restore(log, 1L)
    assert(v == 3L)
    assertSameRows(log.snapshot.read(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("n", "s"))
    // the restore commit re-added v1's files by path — no new data files
    assert(log.snapshot.activeFiles.map(_.path).toSet ==
      log.snapshotAt(1).activeFiles.map(_.path).toSet)
    // interim version still time-travelable
    assertSameRows(log.snapshotAt(2).read(), Seq((9L, "z")).toDF("n", "s"))
    // restoring after vacuum removed the target's files must fail
    Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
    intercept[IllegalArgumentException](Maintenance.restore(log, 2L))
  }

  test("OPTIMIZE keeps NOT NULL and generation metadata in the schema") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val log = freshLog()
    val declared = StructType(Seq(
      StructField("s", StringType, nullable = false),
      GeneratedColumns.field("s_len", LongType, "length(s)")))
    TransactionWriter.overwriteWithSchema(log, Seq("abc", "de").toDF("s"), declared)
    val schemaBefore = log.snapshot.metadata.schemaString
    assert(schemaBefore.contains("delta.generationExpression"))
    Maintenance.compact(log)
    // the layout rewrite's runtime schema has lost nullable=false and
    // field metadata; the commit must keep the stored schema verbatim
    assert(log.snapshot.metadata.schemaString == schemaBefore,
      "OPTIMIZE must not rewrite the table schema")
    // ...so later writes still enforce the generation invariant
    intercept[Exception] {
      TransactionWriter.append(log, Seq(("x", 999L)).toDF("s", "s_len"))
    }
    // ...and the NOT NULL invariant
    intercept[Exception] {
      TransactionWriter.append(log,
        Seq(Some("y"), None).toDF("s").where(col("s").isNull))
    }
    assertSameRows(log.snapshot.read(),
      Seq(("abc", 3L), ("de", 2L)).toDF("s", "s_len"))
  }

  test("restore across a DV delete reinstates the target version's rows") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("n", "s").coalesce(1)) // v0
    Mutations.deleteWithDv(log, col("n") === 2L)                       // v1: DV delete
    assert(log.snapshot.read().count() == 2L)
    val dataPathsBefore = log.snapshot.activeFiles.map(_.path).toSet
    val v = Maintenance.restore(log, 0L)                               // v2
    // the deleted row is back — the file was re-added with the target's
    // (absent) DV, not skipped because its path matched
    assertSameRows(log.snapshot.read(),
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("n", "s"))
    assert(log.snapshot.activeFiles.forall(_.deletionVector.isEmpty))
    // no data was copied: same physical paths as before the restore
    assert(log.snapshot.activeFiles.map(_.path).toSet == dataPathsBefore)
    assert(v == 2L)
  }

  test("vacuum deletes orphaned files only") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a")).toDF("n", "s"))
    TransactionWriter.overwrite(log, Seq((2L, "b")).toDF("n", "s")) // v0 files orphaned
    val before = log.fs.listFiles(log.rootPath, true)
    var dataFiles = 0
    while (before.hasNext) {
      val st = before.next()
      if (st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.toString.contains("_delta_log")) dataFiles += 1
    }
    assert(dataFiles == 2)
    val deleted = Maintenance.vacuum(log, retentionMs = 0L, allowZeroRetention = true)
    assert(deleted.length == 1)
    // table still reads fine; time travel to v0 is now broken by design
    assertSameRows(log.snapshot.read(), Seq((2L, "b")).toDF("n", "s"))
  }

  test("vacuum retention runs from the remove tombstone, not file mtime") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a")).toDF("n", "s"))      // v0
    // backdate the v0 data file far past any retention window
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    log.snapshot.activeFiles.foreach { f =>
      log.fs.setTimes(new org.apache.hadoop.fs.Path(
        log.snapshot.absolutePath(f)), old, old)
    }
    TransactionWriter.overwrite(log, Seq((2L, "b")).toDF("n", "s"))      // v1: v0 removed NOW
    // the file is ancient by mtime but its tombstone is seconds old —
    // a 1h retention must keep it (time travel to v0 still works)
    val deleted = Maintenance.vacuum(log, retentionMs = 3600L * 1000)
    assert(deleted.isEmpty,
      s"freshly-removed file must survive its retention window, deleted=$deleted")
    assertSameRows(log.snapshotAt(0).read(), Seq((1L, "a")).toDF("n", "s"))
    // zero retention reclaims it
    assert(Maintenance.vacuum(log, retentionMs = 0L,
      allowZeroRetention = true).length == 1)
  }

  test("autoCompact folds accumulated small files after a data commit") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((0L, "seed")).toDF("n", "s").coalesce(1),
      configuration = Map("delta.autoOptimize.autoCompact" -> "true"))
    (1 to 6).foreach(i => Maintenance.append(log,
      Seq((i.toLong, s"v$i")).toDF("n", "s").coalesce(1)))
    // 7 files < the floor of 8: no compaction yet
    assert(log.snapshot.activeFiles.size == 7)
    Maintenance.append(log, Seq((7L, "v7")).toDF("n", "s").coalesce(1))
    // 8th small file crossed the floor -> the append auto-compacted
    val snap = log.snapshot
    assert(snap.activeFiles.size == 1, s"got ${snap.activeFiles.map(_.path)}")
    assert(snap.read().count() == 8)
    val lastOp = Maintenance.history(log)
      .orderBy(org.apache.spark.sql.functions.desc("version"))
      .select("operation").collect().head.getString(0)
    assert(lastOp == "OPTIMIZE", s"auto-compaction must commit OPTIMIZE, got $lastOp")
    // converged: the next append folds nothing (1 big + 1 new < floor)
    Maintenance.append(log, Seq((8L, "v8")).toDF("n", "s").coalesce(1))
    assert(log.snapshot.activeFiles.size == 2)
  }

  test("autoRefresh.indexes: an append leaves every sidecar index current") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (0L until 40L).map(i => (i, s"document body number $i with words"))
        .toDF("id", "text").repartition(2, col("id")),
      configuration = Map("graft.autoRefresh.indexes" -> "true"))
    LshIndex.build(log, "id", "text")
    BloomIndex.build(log, "id")
    // plain append — NO refresh statement; the post-commit hook must
    // extend both descriptor-bearing sidecars
    TransactionWriter.append(log,
      (40L until 50L).map(i => (i, s"fresh appended doc $i"))
        .toDF("id", "text").repartition(1))
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    val inv = Indexes.describe(fresh)
      .map { case (k, c, cov, act, stale, _) => (k, cov, act, stale) }
    assert(inv.toSet == Set(("bloom", 3L, 3L, 0L), ("lsh", 3L, 3L, 0L)),
      s"auto-refresh left stale coverage: $inv")
    // descriptor round-trip
    assert(Sidecar.readMeta(spark,
      LshIndex.indexDir(fresh, "id", "text")) == Some(("lsh", Seq("id", "text"))))
    // a table WITHOUT the property does not auto-refresh
    val off = freshLog()
    TransactionWriter.overwrite(off,
      (0L until 20L).map(i => (i, s"doc $i")).toDF("id", "text")
        .repartition(2, col("id")))
    LshIndex.build(off, "id", "text")
    TransactionWriter.append(off,
      Seq((99L, "late doc")).toDF("id", "text").repartition(1))
    val offInv = Indexes.describe(DeltaLog.forPath(spark, off.tablePath))
    assert(offInv.exists { case (k, _, _, _, stale, _) => k == "lsh" && stale == 1L },
      s"without the conf the appended file must read stale: $offInv")
  }

  test("CONVERT TO DELTA onboards a parquet dir in place") {
    val dir = Files.createTempDirectory("graft-conv").resolve("t").toString
    (1L to 30L).map(i => (i, (i % 3).toString)).toDF("k", "p")
      .repartition(2).write.partitionBy("p").parquet(dir)
    val v = TransactionWriter.convertToDelta(spark, dir)
    assert(v == 0L)
    val log = DeltaLog.forPath(spark, dir)
    val snap = log.snapshot
    assert(snap.metadata.partitionColumns == Seq("p"))
    assert(snap.read().count() == 30L)
    // stats present for skipping; partition values attached typed
    assert(snap.addsFlat.where(col("num_records").isNull).isEmpty)
    assert(snap.read().where(col("p") === "1").count() == 10L)
    // mutations work on the converted table like any native one
    Mutations.delete(log, col("k") === 1L)
    assert(log.snapshot.read().count() == 29L)
    // refuses an existing delta table and an empty dir
    val err = intercept[IllegalArgumentException] {
      TransactionWriter.convertToDelta(spark, dir)
    }
    assert(err.getMessage.contains("already a Delta table"))
    // unpartitioned convert
    val d2 = Files.createTempDirectory("graft-conv2").resolve("t").toString
    (1L to 5L).map(i => (i, s"v$i")).toDF("k", "s").coalesce(1)
      .write.parquet(d2)
    TransactionWriter.convertToDelta(spark, d2)
    assert(DeltaLog.forPath(spark, d2).snapshot.read().count() == 5L)
    // multi-level partitioning: column order must follow the directory
    // nesting (a then zz), not alphabetical accident
    val d3 = Files.createTempDirectory("graft-conv3").resolve("t").toString
    (1L to 12L).map(i => (i, (i % 2).toString, (i % 3).toString))
      .toDF("k", "zz", "a").coalesce(1)
      .write.partitionBy("zz", "a").parquet(d3)
    TransactionWriter.convertToDelta(spark, d3)
    val s3 = DeltaLog.forPath(spark, d3).snapshot
    assert(s3.metadata.partitionColumns == Seq("zz", "a"),
      s"got ${s3.metadata.partitionColumns}")
    assert(s3.read().where(col("zz") === "1" && col("a") === "0").count() == 2L)
  }

  test("DROP FEATURE: full deletion-vectors retirement lifecycle") {
    val log = freshLog()
    TransactionWriter.overwrite(log,
      (1L to 10L).map(i => (i, s"v$i")).toDF("n", "s").coalesce(1))
    Mutations.deleteWithDv(log, col("n") === 3L)
    assert(log.snapshot.protocol.readerFeatures.contains("deletionVectors"))
    // refused while a live DV exists
    val e1 = intercept[IllegalStateException](
      Maintenance.dropFeature(log, "deletionVectors", truncateHistory = true))
    assert(e1.getMessage.contains("APPLY PURGE"))
    Maintenance.purgeDeletionVectors(log)
    // reader-borne: refused without history truncation
    val e2 = intercept[IllegalArgumentException](
      Maintenance.dropFeature(log, "deletionVectors"))
    assert(e2.getMessage.contains("truncateHistory"))
    val v = Maintenance.dropFeature(log, "deletionVectors", truncateHistory = true)
    val snap = DeltaLog.forPath(spark, log.tablePath).snapshot
    assert(!snap.protocol.readerFeatures.contains("deletionVectors"))
    assert(!snap.protocol.writerFeatures.contains("deletionVectors"))
    assert(snap.protocol.minReaderVersion == 1,
      s"empty reader feature set must collapse to legacy, got ${snap.protocol}")
    assert(snap.version == v)
    assert(snap.read().count() == 9)
    // pre-checkpoint history is gone (truncated)
    val (commits, _) = log.listLog()
    assert(commits.min >= v - 1, s"old commits must be truncated, got $commits")
    // unknown feature refused
    val e3 = intercept[IllegalArgumentException](
      Maintenance.dropFeature(log, "nope"))
    assert(e3.getMessage.contains("does not list"))
  }

  test("SET/UNSET TBLPROPERTIES round-trip gates a writer-feature drop") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a")).toDF("n", "s"))
    ChangeDataFeed.enable(log)
    assert(ChangeDataFeed.enabled(log.snapshot))
    // drop refused while the property is on
    val e = intercept[IllegalStateException](
      Maintenance.dropFeature(log, "changeDataFeed"))
    assert(e.getMessage.contains("enableChangeDataFeed"))
    Maintenance.setTableProperties(log,
      Map("custom.tag" -> "x"), unset = Seq("delta.enableChangeDataFeed"))
    val m = log.snapshot.metadata.configuration
    assert(m.get("custom.tag").contains("x") &&
      !m.contains("delta.enableChangeDataFeed"))
    // writer-only feature: drops without truncation
    Maintenance.dropFeature(log, "changeDataFeed")
    assert(!log.snapshot.protocol.writerFeatures.contains("changeDataFeed"))
    assert(log.snapshot.read().count() == 1)
    // no-op property change commits nothing
    val vBefore = log.latestVersion()
    Maintenance.setTableProperties(log, Map("custom.tag" -> "x"))
    assert(log.latestVersion() == vBefore)
  }

  test("vacuum USING INVENTORY deletes only inventoried orphans") {
    val log = freshLog()
    TransactionWriter.overwrite(log, Seq((1L, "a")).toDF("n", "s"))  // v0
    TransactionWriter.overwrite(log, Seq((2L, "b")).toDF("n", "s"))  // v1: v0 orphaned
    TransactionWriter.overwrite(log, Seq((3L, "c")).toDF("n", "s"))  // v2: v1 orphaned
    val fs = log.fs
    def allData(): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(log.rootPath, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet") &&
          !st.getPath.toString.contains("_delta_log"))
          out += fs.makeQualified(st.getPath).toString
      }
      out.toSeq
    }
    val before = allData()
    assert(before.size == 3)
    val active = log.snapshot.activeFiles.map(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(
        log.rootPath, DeltaLog.decodePath(f.path))).toString).toSet
    val orphans = before.filterNot(active)
    // inventory lists ONE of the two orphans (plus the active file, a
    // directory row, and a foreign path — all must be ignored/kept)
    val inv = Seq(
      (orphans.head, 0L, false),
      (active.head, 0L, false),
      (log.rootPath.toString, 0L, true),
      ("/somewhere/else/data.parquet", 0L, false)
    ).toDF("path", "modificationTime", "isDir")
    val deleted = Maintenance.vacuum(log, retentionMs = 0L,
      allowZeroRetention = true, inventory = Some(inv))
    assert(deleted == Seq(orphans.head))
    // the un-inventoried orphan survives (inventory is the candidate
    // universe), the active file survives (it's live)
    val left = allData().toSet
    assert(left == before.toSet - orphans.head)
    assertSameRows(log.snapshot.read(), Seq((3L, "c")).toDF("n", "s"))
    // relative paths, and the retention clock is the INVENTORY mtime
    // (never an fs stat): a stray tombstone-less file whose real mtime
    // is recent but whose inventoried mtime is ancient gets reclaimed
    val stray = new org.apache.hadoop.fs.Path(log.rootPath, "stray.parquet")
    fs.create(stray, false).close()
    val old = System.currentTimeMillis() - 48L * 3600 * 1000
    val inv2 = Seq(("stray.parquet", old)).toDF("path", "modificationTime")
    assert(Maintenance.vacuum(log, retentionMs = 24L * 3600 * 1000,
      inventory = Some(inv2)) == Seq(fs.makeQualified(stray).toString))
    assert(!fs.exists(stray))
    // missing modificationTime column is refused
    val e = intercept[IllegalArgumentException](Maintenance.vacuum(log,
      retentionMs = 0L, allowZeroRetention = true,
      inventory = Some(Seq("x.parquet").toDF("path"))))
    assert(e.getMessage.contains("modificationTime"))
  }

  test("optimizeWrite folds a many-partition input into few files") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-ow")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, path)
    // 64 input partitions of tiny rows -> without optimizeWrite this
    // writes ~64 files; with it, the plan-stats estimate (KBs) folds
    // to a single write task
    val df = spark.range(0, 2000, 1, 64)
      .select(col("id"), (col("id") % 7).as("v"))
    TransactionWriter.overwrite(log, df,
      configuration = Map("delta.autoOptimize.optimizeWrite" -> "true"))
    assert(log.snapshot.numFiles <= 4,
      s"expected few files, got ${log.snapshot.numFiles}")
    assert(log.snapshot.read().count() == 2000L)
    // conf off -> input partitioning passes through
    val log2 = DeltaLog.forPath(spark,
      java.nio.file.Files.createTempDirectory("graft-ow2").resolve("t").toString)
    TransactionWriter.overwrite(log2, df)
    assert(log2.snapshot.numFiles > 4)
  }

  test("compactSmall WHERE scopes the pass to matching partitions") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-optw")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, path)
    // 2 partitions x 4 tiny files each
    val df = (1L to 80L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "p").repartition(4)
    TransactionWriter.overwrite(log, df, partitionBy = Some(Seq("p")))
    val before = log.snapshot.activeFiles.groupBy(_.partitionValues("p"))
      .view.mapValues(_.size).toMap
    assert(before("a") >= 2 && before("b") >= 2)

    Maintenance.compactSmall(log, where = Some(col("p") === "a"))
    val after = log.snapshot.activeFiles.groupBy(_.partitionValues("p"))
      .view.mapValues(_.size).toMap
    assert(after("a") == 1, s"partition a must fold to 1 file, got $after")
    assert(after("b") == before("b"), "partition b must be untouched")
    assert(log.snapshot.read().count() == 80L)

    // non-partition predicate refused
    intercept[IllegalArgumentException] {
      Maintenance.compactSmall(log, where = Some(col("id") > 10L))
    }
  }

  test("zorder WHERE scopes the rewrite to matching partitions") {
    import org.apache.spark.sql.functions._
    val path = java.nio.file.Files.createTempDirectory("graft-zw")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, path)
    val df = (1L to 80L).map(i => (i, i % 7, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "n", "p").repartition(4)
    TransactionWriter.overwrite(log, df, partitionBy = Some(Seq("p")))
    val before = log.snapshot.activeFiles
      .groupBy(_.partitionValues("p")).view.mapValues(_.map(_.path).toSet).toMap

    Maintenance.zorder(log, Seq("id", "n"), where = Some(col("p") === "a"))
    val after = log.snapshot.activeFiles
      .groupBy(_.partitionValues("p")).view.mapValues(_.map(_.path).toSet).toMap
    assert(after("a").intersect(before("a")).isEmpty,
      "all partition-a files must be rewritten")
    assert(after("b") == before("b"), "partition b must be untouched")
    assert(log.snapshot.read().count() == 80L)

    // non-partition predicate refused for zorder too
    intercept[IllegalArgumentException] {
      Maintenance.zorder(log, Seq("id"), where = Some(col("id") > 10L))
    }
  }
}
