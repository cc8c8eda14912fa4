package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata => _, _}
import java.nio.file.Files

/** Scan planning at large file counts: a synthetic 10⁵-add checkpoint
  * is resolved and pruned WITHOUT collecting the full file list to the
  * driver — pruning runs as a Spark job over the metadata relation and
  * only survivors are materialized ([[Skipping.prunedFiles]],
  * [[Snapshot.collectAddFiles]], [[Snapshot.iterateAddFiles]]). */
class FileIndexSpec extends SparkTestBase {

  private val NumFiles = 100000

  /** Build a table whose state lives ONLY in a checkpoint: NumFiles
    * synthetic adds, partitioned by p (200 values), each with stats on
    * n covering [fileId*10, fileId*10+9]. */
  private def syntheticTable(numFiles: Int = NumFiles): DeltaLog = {
    val dir = Files.createTempDirectory("graft-fidx").resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    log.fs.mkdirs(log.logPath)
    val tableSchema = StructType(Seq(
      StructField("n", LongType), StructField("p", StringType)))
    val meta = Metadata(
      id = java.util.UUID.randomUUID.toString,
      schemaString = tableSchema.json,
      partitionColumns = Seq("p"),
      configuration = Map.empty,
      createdTime = Some(0L))
    // adds generated by a Spark job (the test itself must not hold 1e5
    // driver rows), written straight into the checkpoint shape
    val addT = Maintenance.checkpointSchema("add").dataType
    def nul(f: String) = lit(null).cast(Maintenance.checkpointSchema(f).dataType).as(f)
    val adds = spark.range(numFiles.toLong).select(
      struct(
        concat(lit("p="), col("id") % 200, lit("/f"), col("id"), lit(".parquet")).as("path"),
        map(lit("p"), (col("id") % 200).cast("string")).as("partitionValues"),
        lit(1024L).as("size"),
        col("id").as("modificationTime"),
        lit(false).as("dataChange"),
        concat(lit("""{"numRecords":10,"minValues":{"n":"""), col("id") * 10,
          lit("""},"maxValues":{"n":"""), col("id") * 10 + 9,
          lit("""},"nullCount":{"n":0}}""")).as("stats"),
        lit(null).cast(addT.asInstanceOf[StructType]("deletionVector").dataType)
          .as("deletionVector"),
        lit(null).cast(LongType).as("baseRowId"),
        lit(null).cast(LongType).as("defaultRowCommitVersion")).cast(addT).as("add"),
      nul("metaData"), nul("protocol"), nul("remove"), nul("txn"),
      nul("domainMetadata"))
    val metaRow = {
      import org.apache.spark.sql.Row
      val rows = new java.util.ArrayList[Row]()
      rows.add(Row(null, Row(meta.id, Row("parquet", Map.empty[String, String]),
        meta.schemaString, meta.partitionColumns, meta.configuration, 0L),
        null, null, null, null))
      rows.add(Row(null, null, Row(1, 2, null, null), null, null, null))
      spark.createDataFrame(rows, Maintenance.checkpointSchema)
    }
    val tmp = new org.apache.hadoop.fs.Path(log.logPath, ".tmp-cp")
    metaRow.unionByName(adds).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = log.fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    log.fs.rename(part,
      new org.apache.hadoop.fs.Path(log.logPath, f"${0L}%020d.checkpoint.parquet"))
    log.fs.delete(tmp, true)
    val lc = log.fs.create(new org.apache.hadoop.fs.Path(log.logPath, "_last_checkpoint"), true)
    try lc.write(s"""{"version":0,"size":${numFiles + 2}}""".getBytes("UTF-8"))
    finally lc.close()
    log
  }

  test("prunes a 100k-file snapshot in Spark; only survivors reach the driver") {
    val log = syntheticTable()
    val snap = log.snapshot
    assert(snap.version == 0L)
    assert(snap.numFiles == NumFiles.toLong)

    // partition pruning: one of 200 values -> 500 files
    val byPart = Skipping.prunedFiles(snap, Seq(("p", "=", "7")))
    assert(byPart.size == NumFiles / 200)
    assert(byPart.forall(_.partitionValues.get("p").contains("7")))

    // stats pruning: n = 123457 lives in exactly one file's [min,max]
    val byStats = Skipping.prunedFiles(snap, Seq(("n", "=", 123457)))
    assert(byStats.map(_.path) == Seq("p=145/f12345.parquet"))

    // combined partition + stats pruning composes
    val both = Skipping.prunedFiles(snap, Seq(("p", "=", "145"), ("n", "=", 123457)))
    assert(both.map(_.path) == Seq("p=145/f12345.parquet"))
    assert(Skipping.prunedFiles(snap, Seq(("p", "=", "144"), ("n", "=", 123457))).isEmpty)

    // predicate-collected files: Spark-side filter, tiny driver result
    val collected = snap.collectAddFiles(col("size_bytes") === 1024L &&
      element_at(col("partition_values"), "p") === "199")
    assert(collected.size == NumFiles / 200)

    // streaming iteration pages through without a full collect
    val it = snap.iterateAddFiles()
    assert(it.take(1000).size == 1000)

    // end-to-end on the pruned plan: plant ONLY the surviving file and
    // scan it — 1 of 100k files is ever touched
    import spark.implicits._
    val survivorAbs = new org.apache.hadoop.fs.Path(snap.absolutePath(byStats.head))
    val tmp = new org.apache.hadoop.fs.Path(log.rootPath, ".one")
    Seq(123457L).toDF("n").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = log.fs.listStatus(tmp).map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    log.fs.mkdirs(survivorAbs.getParent)
    log.fs.rename(part, survivorAbs)
    val planned = snap.readFiles(byStats)
    assert(planned.columns.toSeq == Seq("n", "p"))
    val got = planned.collect()
    assert(got.length == 1 && got(0).getLong(0) == 123457L && got(0).getString(1) == "145")
  }

  test("pruningPredicate translates row predicates; untranslatable parts prune nothing") {
    val log = syntheticTable()
    val snap = log.snapshot
    // AND of stats + partition conjuncts → exactly one survivor
    val p = Skipping.pruningPredicate(snap, col("n") === 123457L && col("p") === "145")
    assert(p.nonEmpty)
    assert(snap.addsFlat.where(p.get).select("path").collect()
      .map(_.getString(0)).toSeq == Seq("p=145/f12345.parquet"))
    // OR of two point predicates → union of straddling files
    val p2 = Skipping.pruningPredicate(snap, col("n") === 5L || col("n") === 123457L)
    assert(snap.addsFlat.where(p2.get).count() == 2L)
    // range predicate
    val p3 = Skipping.pruningPredicate(snap, col("n") >= (NumFiles.toLong * 10 - 25))
    assert(snap.addsFlat.where(p3.get).count() == 3L)
    // untranslatable predicate → None (caller falls back to all files)
    assert(Skipping.pruningPredicate(snap, length(col("p")) > lit(1)).isEmpty)
    // untranslatable conjunct inside an AND still prunes on the other side
    val p4 = Skipping.pruningPredicate(snap,
      length(col("p")) > lit(1) && col("n") === 123457L)
    assert(snap.addsFlat.where(p4.get).count() == 1L)
    // IN list; != excludes single-value files only (here: none)
    val p5 = Skipping.pruningPredicate(snap, col("n").isin(7L, 123457L))
    assert(snap.addsFlat.where(p5.get).count() == 2L)
  }

  test("batched planning streams a 10⁶-add index with bounded peak batch") {
    // the past-driver-memory posture: even when NOTHING prunes, the
    // planner must never materialize more than one batch of AddFiles —
    // the peak-batch gauge is the observable
    val log = syntheticTable(numFiles = 1000000)
    val snap = log.snapshot
    assert(snap.numFiles == 1000000L)
    val batchFiles = 65536
    Snapshot.driverPlanPeakBatch.set(0L)
    var total = 0L
    var maxBatch = 0
    snap.planFileBatches(batchFiles = batchFiles).foreach { b =>
      total += b.size
      maxBatch = math.max(maxBatch, b.size)
      // spot-check the rows materialized correctly (slim: stats nulled)
      assert(b.head.stats.isEmpty && b.head.path.endsWith(".parquet"))
    }
    assert(total == 1000000L, s"batches covered $total of 1e6 adds")
    assert(maxBatch <= batchFiles, s"a batch held $maxBatch > $batchFiles")
    assert(Snapshot.driverPlanPeakBatch.get() <= batchFiles.toLong,
      s"peak planning batch ${Snapshot.driverPlanPeakBatch.get()} " +
        s"exceeded $batchFiles")
    // pruned batching composes: one partition value → 5000 files in
    // bounded batches
    val pruned = snap.planFileBatches(
      Some(element_at(col("partition_values"), "p") === "7"),
      batchFiles = 1024).map(_.size).toSeq
    assert(pruned.sum == 5000 && pruned.forall(_ <= 1024))
  }

  test("readBatched composes sub-scans identical to read()") {
    // executable scale: a real 64-file table read in 16-file batches
    // must return exactly read()'s rows (DVs included)
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fidx-rb").resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      spark.range(1000).select(col("id"), (col("id") % 7).as("g"))
        .repartition(64, col("id")),
      configuration = Map("delta.enableDeletionVectors" -> "true"))
    Mutations.delete(log, col("id") % 10 === 3) // DV routing per batch
    val snap = DeltaLog.forPath(spark, dir).snapshot
    val want = snap.read().select("id").as[Long].collect().sorted.toSeq
    val got = snap.readBatched(batchFiles = 16)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want, "batched scan diverged from the plain scan")
    // predicate-pruned batched scan: only matching files feed the
    // union, rows still equal the plain pruned read
    val pred = Some(col("size_bytes") > 0L)
    val gotPred = snap.readBatched(pred, batchFiles = 16)
      .select("id").as[Long].collect().sorted.toSeq
    assert(gotPred == want, "pruned batched scan diverged")
  }

  test("auto-batched read engages past the autoBatchFiles threshold via the .crc") {
    // house-written tables carry a .crc checksum, so read() can learn
    // the active-file count for FREE (no Spark job) and auto-engage
    // bounded planning past the threshold — the 10⁶⁺-file posture by
    // default. Threshold lowered to make a 64-file table "very many".
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-fidx-ab").resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      spark.range(1000).select(col("id"), (col("id") % 7).as("g"))
        .repartition(64, col("id")))
    val snap = DeltaLog.forPath(spark, dir).snapshot
    assert(Checksum.read(log, snap.version).exists(_.numFiles == 64L),
      "precondition: the write path must have produced a .crc")
    val want = snap.read().select("id").as[Long].collect().sorted.toSeq
    Snapshot.driverPlanPeakBatch.set(0L)
    val got = DeltaLog.forPath(spark, dir).snapshot.read(autoBatchFiles = 32L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == want, "auto-batched scan diverged from the plain scan")
    val peak = Snapshot.driverPlanPeakBatch.get()
    assert(peak > 0L && peak <= 65536L,
      s"auto path did not engage batched planning (peak batch $peak)")
    // below the threshold the direct path is kept (no batched gauge)
    Snapshot.driverPlanPeakBatch.set(0L)
    DeltaLog.forPath(spark, dir).snapshot.read(autoBatchFiles = 100000L).count()
    assert(Snapshot.driverPlanPeakBatch.get() == 0L,
      "direct path must not batch below the threshold")
  }

  test("targeted DELETE plans via stats pruning: bounded collect, 1 of 100k files touched") {
    val log = syntheticTable()
    val snap = log.snapshot
    // plant ONLY the straddling file (10 rows); the other 99,999 paths
    // do not exist — the DELETE can succeed only if planning pruned
    // down to this file before any scan or collect
    import spark.implicits._
    val target = "p=145/f12345.parquet"
    val targetAbs = new org.apache.hadoop.fs.Path(
      log.rootPath.toString + "/" + target)
    val tmp = new org.apache.hadoop.fs.Path(log.rootPath, ".plant")
    (123450L to 123459L).toDF("n").coalesce(1)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = log.fs.listStatus(tmp).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).head
    log.fs.mkdirs(targetAbs.getParent)
    log.fs.rename(part, targetAbs)
    log.fs.delete(tmp, true)

    Snapshot.driverFileRowsCollected.set(0L)
    val v = Mutations.delete(log, col("n") === 123457L)
    val collected = Snapshot.driverFileRowsCollected.get()
    assert(v == 1L)
    assert(collected < 100L,
      s"DELETE planning collected $collected add rows to the driver — " +
        "full add-set collect regression")
    val actions = log.commitActions(1L)
    assert(actions.collect { case RemoveAction(r) => r.path } == Seq(target))
    val newAdds = actions.collect { case AddAction(a) => a }
    assert(newAdds.size == 1)
    // the rewritten file carries fresh stats: skipping still works on it
    val snap2 = log.snapshot
    val after = Skipping.prunedFiles(snap2, Seq(("n", "=", 123455)))
    assert(after.map(_.path) == Seq(newAdds.head.path))
    val rows = snap2.readFiles(after).select("n").as[Long].collect().sorted
    assert(rows.toSeq == ((123450L to 123459L).filterNot(_ == 123457L)))
  }

  test("OPTIMIZE / REORG planning prunes in Spark: a healthy 100k-file table no-ops with zero collect") {
    val log = syntheticTable()
    Snapshot.driverFileRowsCollected.set(0L)
    // every synthetic add is 1024 bytes and none is below the 500-byte
    // small-file threshold; no add carries a DV — both passes must
    // no-op WITHOUT materializing any of the 100k add rows
    assert(Maintenance.compactSmall(log, smallThresholdBytes = 500) == 0L)
    assert(Maintenance.purgeDeletionVectors(log) == 0L)
    assert(Snapshot.driverFileRowsCollected.get() == 0L,
      s"no-op maintenance collected ${Snapshot.driverFileRowsCollected.get()} add rows")
  }
}
