package graft.tools

/** End-to-end demo of the GRAFT SQL command surface:
  * `runMain graft.tools.SqlDemo [dir]` — builds a table through the
  * graftdelta DataSource, then drives UPDATE / DELETE / constraint /
  * CLONE / OPTIMIZE / HISTORY entirely via `spark.sql`.
  */
object SqlDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("sql-demo").toString)
    val spark = graft.GraftSession.local(extensions = new graft.GraftExtensions)
    import spark.implicits._
    try {
      val path = s"$dir/sql_table"
      (1L to 5L).map(i => (i, s"row_$i")).toDF("n", "s")
        .write.format("graftdelta").mode("overwrite").save(path)

      spark.sql(s"GRAFT UPDATE '$path' SET s = concat(s, '_upd') WHERE n <= 2")
      spark.sql(s"GRAFT DELETE FROM '$path' WHERE n = 5")
      spark.sql(s"GRAFT DELETE FROM '$path' USING DV WHERE n = 4")
      spark.sql(s"GRAFT ALTER '$path' ADD CONSTRAINT n_pos CHECK (n > 0)")
      println("== table after SQL UPDATE/DELETE/DV-DELETE, constraint added ==")
      spark.read.format("graftdelta").load(path).orderBy("n").show()
      require(spark.read.format("graftdelta").load(path).count() == 3L)

      // REORG APPLY PURGE retires the DV debt left by the DV DELETE
      val dvBefore = graft.delta.DeltaLog.forPath(spark, path).snapshot
        .activeFiles.count(_.deletionVector.exists(_.cardinality > 0))
      require(dvBefore > 0, "expected DV debt before REORG")
      spark.sql(s"GRAFT REORG '$path' APPLY PURGE")
      val dvAfter = graft.delta.DeltaLog.forPath(spark, path).snapshot
        .activeFiles.count(_.deletionVector.exists(_.cardinality > 0))
      require(dvAfter == 0, "REORG must clear all deletion vectors")
      require(spark.read.format("graftdelta").load(path).count() == 3L)
      println(s"== REORG APPLY PURGE: $dvBefore DV'd file(s) -> $dvAfter ==")

      // RESTORE across a DV delete: the file's path is unchanged but its
      // DV is — restore must re-add the target version's DV-free entry
      val restorePath = s"$dir/restore_table"
      (1L to 5L).map(i => (i, s"r_$i")).toDF("n", "s").coalesce(1)
        .write.format("graftdelta").mode("overwrite").save(restorePath)      // v0
      spark.sql(s"GRAFT DELETE FROM '$restorePath' USING DV WHERE n = 3")    // v1
      require(spark.read.format("graftdelta").load(restorePath).count() == 4L)
      spark.sql(s"GRAFT RESTORE '$restorePath' TO VERSION 0")                // v2
      val rsnap = graft.delta.DeltaLog.forPath(spark, restorePath).snapshot
      require(spark.read.format("graftdelta").load(restorePath).count() == 5L,
        "RESTORE across a DV delete must reinstate the deleted rows")
      require(rsnap.activeFiles.forall(_.deletionVector.isEmpty),
        "restored snapshot must carry the target version's (absent) DV state")
      println("== RESTORE TO VERSION 0 across a DV delete: 4 -> 5 rows ==")

      // RESTORE TO TIMESTAMP: the same restore through the time-travel
      // clock (v1's commit mtime resolves the post-delete state)
      val rlog = graft.delta.DeltaLog.forPath(spark, restorePath)
      val v1Ts = rlog.fs.getFileStatus(new org.apache.hadoop.fs.Path(
        rlog.logPath, "00000000000000000001.json")).getModificationTime
      spark.sql(s"GRAFT RESTORE '$restorePath' TO TIMESTAMP " +
        s"'${java.time.Instant.ofEpochMilli(v1Ts)}'")
      require(spark.read.format("graftdelta").load(restorePath).count() == 4L,
        "RESTORE TO TIMESTAMP must land on the version live at that instant")
      spark.sql(s"GRAFT RESTORE '$restorePath' TO VERSION 0")
      require(spark.read.format("graftdelta").load(restorePath).count() == 5L)
      println("== RESTORE TO TIMESTAMP: resolved through the travel clock ==")

      // CONVERT TO DELTA: onboard a plain parquet dir in place
      val convDir = s"$dir/plain_parquet"
      (1L to 20L).map(i => (i, (i % 2).toString)).toDF("k", "p")
        .repartition(2).write.partitionBy("p").parquet(convDir)
      spark.sql(s"GRAFT CONVERT TO DELTA '$convDir'")
      require(spark.read.format("graftdelta").load(convDir).count() == 20L,
        "converted table must read through the log")
      spark.sql(s"GRAFT DELETE FROM '$convDir' WHERE k = 1")
      require(spark.read.format("graftdelta").load(convDir).count() == 19L,
        "mutations must work on the converted table")
      println("== CONVERT TO DELTA: parquet dir onboarded in place ==")

      // VACUUM retention runs from the remove tombstone: the DV-delete
      // rewrite just orphaned files seconds ago, so RETAIN 1 HOURS must
      // reclaim nothing and time travel inside the window must survive
      spark.sql(s"GRAFT VACUUM '$restorePath' RETAIN 1 HOURS")
      require(spark.read.format("graftdelta")
          .option("versionAsOf", "1").load(restorePath).count() == 4L,
        "time travel within the retention window must survive VACUUM")
      println("== VACUUM RETAIN 1 HOURS: kept the retention window intact ==")

      val clonePath = s"$dir/sql_clone"
      spark.sql(s"GRAFT CLONE '$path' TO '$clonePath'")
      spark.sql(s"GRAFT OPTIMIZE '$clonePath'")
      require(spark.read.format("graftdelta").load(clonePath).count() == 3L,
        "clone must read the source snapshot")

      println("== clone history ==")
      spark.sql(s"GRAFT HISTORY '$clonePath'").show(truncate = false)

      // clustered table: CLUSTER BY then plain OPTIMIZE Z-orders
      val clusterPath = s"$dir/clustered"
      (1 to 2048).map(i => (i.toLong, (i % 32).toLong, ((i * 2654435761L) % 32)))
        .toDF("id", "n1", "n2").repartition(4)
        .write.format("graftdelta").mode("overwrite").save(clusterPath)
      spark.sql(s"GRAFT ALTER '$clusterPath' CLUSTER BY (n1, n2)")
      val clog = graft.delta.DeltaLog.forPath(spark, clusterPath)
      require(graft.delta.Clustering.clusteringColumns(clog.snapshot) == Seq("n1", "n2"))
      spark.sql(s"GRAFT OPTIMIZE '$clusterPath'")
      val fresh = graft.delta.DeltaLog.forPath(spark, clusterPath)
      // the full pass also persists its clustering state in a trailing
      // SET DOMAIN METADATA commit (round 9: the incremental-pass
      // watermark), so look for the latest OPTIMIZE op, not the head
      val lastOp = graft.delta.Maintenance.history(fresh)
        .orderBy(org.apache.spark.sql.functions.desc("version"))
        .select("operation").as[String].collect()
        .find(_.startsWith("OPTIMIZE")).getOrElse("none")
      require(lastOp == "OPTIMIZE ZORDER BY",
        s"clustered OPTIMIZE must Z-order, got $lastOp")
      println(s"== clustered OPTIMIZE ran: $lastOp on ${fresh.snapshot.numFiles} file(s) ==")
      require(spark.read.format("graftdelta").load(clusterPath).count() == 2048L)

      // FSCK repairs a table whose data file vanished out-of-band
      val fsckPath = s"$dir/fsck_table"
      Seq((1L, "x"), (2L, "y")).toDF("n", "s").coalesce(1)
        .write.format("graftdelta").mode("overwrite").save(fsckPath)
      Seq((3L, "z")).toDF("n", "s").coalesce(1)
        .write.format("graftdelta").mode("append").save(fsckPath)
      val flog = graft.delta.DeltaLog.forPath(spark, fsckPath)
      val victim = flog.snapshot.activeFiles.minBy(_.path)
      flog.fs.delete(new org.apache.hadoop.fs.Path(
        flog.snapshot.absolutePath(victim)), false)
      val repaired = spark.sql(s"GRAFT FSCK '$fsckPath'").count()
      require(repaired == 1L, s"expected 1 repaired file, got $repaired")
      require(spark.read.format("graftdelta").load(fsckPath).count() >= 1L)
      println(s"== FSCK repaired $repaired missing file(s); table readable again ==")

      // name-addressed table: CREATE TABLE ... USING graftdelta, then
      // plain SQL reads/writes through the session catalog — no temp view
      spark.sql(s"CREATE TABLE demo_named USING graftdelta LOCATION '$restorePath'")
      require(spark.sql("SELECT count(*) FROM demo_named")
        .collect()(0).getLong(0) == 5L)
      spark.sql("INSERT INTO demo_named VALUES (6, 'r_6')")
      require(spark.sql("SELECT count(*) FROM demo_named")
        .collect()(0).getLong(0) == 6L)
      spark.sql(s"GRAFT DELETE FROM '$restorePath' WHERE n = 6")
      require(spark.sql("SELECT count(*) FROM demo_named")
        .collect()(0).getLong(0) == 5L,
        "catalog-cached relation must see out-of-band commits")
      println("== named table: CREATE/SELECT/INSERT via session catalog ==")

      // persistent catalog: the registration survives catalog loss via
      // the registry file; GRAFT RESTORE TABLES re-creates the name
      spark.conf.set("spark.graft.catalog.path", s"$dir/_graft_catalog.json")
      spark.sql(s"GRAFT REGISTER TABLE demo_persisted LOCATION '$restorePath'")
      spark.sql("DROP TABLE demo_persisted") // simulate a fresh session
      require(spark.sql("GRAFT RESTORE TABLES").collect()(0).getLong(0) == 1L)
      require(spark.sql("SELECT count(*) FROM demo_persisted")
        .collect()(0).getLong(0) == 5L)
      spark.sql("GRAFT UNREGISTER TABLE demo_persisted")
      require(graft.delta.GraftCatalog.entries(spark).isEmpty)
      println("== persistent catalog: REGISTER / RESTORE TABLES / UNREGISTER ==")

      // inventory-sourced VACUUM: candidates from a parquet relation
      // (the object-store shape — no recursive listing), inventory
      // mtime as the orphan clock
      val invTable = s"$dir/inv_table"
      Seq((1L, "a")).toDF("n", "s").coalesce(1)
        .write.format("graftdelta").mode("overwrite").save(invTable)
      val strayP = new org.apache.hadoop.fs.Path(invTable, "stray.parquet")
      val invFs = strayP.getFileSystem(spark.sessionState.newHadoopConf())
      invFs.create(strayP, false).close()
      val invPath = s"$dir/inventory.parquet"
      Seq(("stray.parquet", System.currentTimeMillis() - 200L * 3600 * 1000, false))
        .toDF("path", "modificationTime", "isDir").write.parquet(invPath)
      val reclaimed = spark.sql(
        s"GRAFT VACUUM '$invTable' RETAIN 168 HOURS USING INVENTORY '$invPath'")
        .collect()(0).getLong(0)
      require(reclaimed == 1L && !invFs.exists(strayP),
        s"inventory vacuum must reclaim exactly the inventoried stray, got $reclaimed")
      require(spark.read.format("graftdelta").load(invTable).count() == 1L)
      println("== VACUUM USING INVENTORY: reclaimed the inventoried stray ==")

      // minor log compaction: replay splices the compacted range
      val lcLog = graft.delta.DeltaLog.forPath(spark, invTable)
      (2 to 4).foreach(i => Seq((i.toLong, s"a$i")).toDF("n", "s")
        .write.format("graftdelta").mode("append").save(invTable))   // v1..v3
      graft.delta.Maintenance.compactLog(lcLog, 1, 3)
      require(lcLog.compactedRanges() == Seq((1L, 3L)))
      require(spark.read.format("graftdelta").load(invTable).count() == 4L)
      println("== compactLog [1,3]: replay through the compacted range OK ==")

      // feature enablement via SQL
      spark.sql(s"GRAFT ALTER '$fsckPath' ENABLE CHANGE DATA FEED")
      spark.sql(s"GRAFT ALTER '$fsckPath' ENABLE ROW TRACKING")
      val fsnap = graft.delta.DeltaLog.forPath(spark, fsckPath).snapshot
      require(graft.delta.ChangeDataFeed.enabled(fsnap))
      require(graft.delta.RowTracking.supported(fsnap.protocol))
      println(s"== ENABLE CHANGE DATA FEED / ROW TRACKING: " +
        s"protocol=${fsnap.protocol.minWriterVersion} ==")

      // property management + feature retirement via SQL: turn the
      // flag off, then drop the feature from the protocol
      spark.sql(s"GRAFT ALTER '$fsckPath' SET TBLPROPERTIES ('custom.owner' = 'demo')")
      spark.sql(s"GRAFT ALTER '$fsckPath' UNSET TBLPROPERTIES ('delta.enableChangeDataFeed')")
      spark.sql(s"GRAFT ALTER '$fsckPath' DROP FEATURE changeDataFeed")
      val dsnap = graft.delta.DeltaLog.forPath(spark, fsckPath).snapshot
      require(dsnap.metadata.configuration.get("custom.owner").contains("demo"))
      require(!dsnap.protocol.writerFeatures.contains("changeDataFeed"),
        s"changeDataFeed must be dropped, got ${dsnap.protocol}")
      require(spark.read.format("graftdelta").load(fsckPath).count() >= 1L)
      println(s"== SET/UNSET TBLPROPERTIES + DROP FEATURE changeDataFeed: " +
        s"writerFeatures=${dsnap.protocol.writerFeatures} ==")

      // type widening: int table -> bigint, old file read upcast
      val widenPath = s"$dir/widen_table"
      Seq((1, 10), (2, 20)).toDF("k", "v")
        .write.format("graftdelta").save(widenPath)
      spark.sql(s"GRAFT ALTER '$widenPath' ALTER COLUMN v TYPE bigint")
      val wsnap = graft.delta.DeltaLog.forPath(spark, widenPath).snapshot
      require(wsnap.metadata.schema("v").dataType ==
        org.apache.spark.sql.types.LongType)
      require(wsnap.protocol.readerFeatures.contains("typeWidening"))
      require(spark.read.format("graftdelta").load(widenPath)
        .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 30L)
      println(s"== ALTER COLUMN v TYPE bigint: typeWidening on, " +
        s"narrow files upcast ==")

      // OPTIMIZE WHERE: partition-scoped small-file pass
      val optwPath = s"$dir/optw_table"
      (1L to 40L).map(i => (i, if (i % 2 == 0) "x" else "y"))
        .toDF("id", "p").repartition(4)
        .write.format("graftdelta").partitionBy("p").save(optwPath)
      spark.sql(s"GRAFT OPTIMIZE '$optwPath' WHERE p = 'x'")
      val optwFiles = graft.delta.DeltaLog.forPath(spark, optwPath)
        .snapshot.activeFiles.groupBy(_.partitionValues("p"))
        .view.mapValues(_.size).toMap
      require(optwFiles("x") == 1 && optwFiles("y") > 1,
        s"OPTIMIZE WHERE must fold only partition x: $optwFiles")
      println(s"== OPTIMIZE WHERE p='x': files per partition $optwFiles ==")

      // ZORDER BY + WHERE: partition-scoped Z-order (round-7; the WHERE
      // was silently dropped before) — y files rewritten, x untouched
      val zwBefore = graft.delta.DeltaLog.forPath(spark, optwPath)
        .snapshot.activeFiles.groupBy(_.partitionValues("p"))
        .view.mapValues(_.map(_.path).toSet).toMap
      spark.sql(s"GRAFT OPTIMIZE '$optwPath' ZORDER BY (id) WHERE p = 'y'")
      val zwAfter = graft.delta.DeltaLog.forPath(spark, optwPath)
        .snapshot.activeFiles.groupBy(_.partitionValues("p"))
        .view.mapValues(_.map(_.path).toSet).toMap
      require(zwAfter("y").intersect(zwBefore("y")).isEmpty,
        "ZORDER WHERE must rewrite the matching partition")
      require(zwAfter("x") == zwBefore("x"),
        "ZORDER WHERE must not touch non-matching partitions")
      require(spark.read.format("graftdelta").load(optwPath).count() == 40L)
      println(s"== OPTIMIZE ZORDER BY (id) WHERE p='y': scoped rewrite OK ==")

      // DESCRIBE DETAIL: one-row table summary from the log plane
      val detail = spark.sql(s"GRAFT DESCRIBE DETAIL '$widenPath'").head()
      require(detail.getAs[String]("format") == "delta")
      require(detail.getAs[Long]("numFiles") >= 1L)
      require(detail.getAs[String]("tableFeatures").contains("typeWidening"))
      println(s"== DESCRIBE DETAIL: numFiles=${detail.getAs[Long]("numFiles")} " +
        s"sizeInBytes=${detail.getAs[Long]("sizeInBytes")} ==")

      // CREATE BLOOM INDEX: point-lookup file skipping on the scattered
      // id column of the partition-scoped OPTIMIZE table
      spark.sql(s"GRAFT CREATE BLOOM INDEX ON '$optwPath' (id)")
      val blog = graft.delta.DeltaLog.forPath(spark, optwPath)
      val (bFiles, bPruned) = graft.delta.BloomIndex
        .candidateFiles(blog, "id", Seq(7L))
      require(graft.delta.BloomIndex.readIn(blog, "id", Seq(7L)).count() ==
        spark.read.format("graftdelta").load(optwPath)
          .where("id = 7").count(),
        "bloom-pruned read must equal the full-scan filter")
      spark.sql(s"GRAFT DROP BLOOM INDEX ON '$optwPath' (id)")
      println(s"== CREATE/DROP BLOOM INDEX: ${bFiles.size} candidates, " +
        s"$bPruned pruned, lookup parity OK ==")

      // ANALYZE: stats backfill on a zero-indexed-cols table
      val anlPath = s"$dir/analyze_table"
      graft.delta.TransactionWriter.overwrite(
        graft.delta.DeltaLog.forPath(spark, anlPath),
        (1L to 40L).map(i => (i, i * 2)).toDF("k", "v")
          .repartitionByRange(4, org.apache.spark.sql.functions.col("v")),
        configuration = Map("delta.dataSkippingNumIndexedCols" -> "0"))
      spark.sql(s"GRAFT ANALYZE '$anlPath'")
      val anlSnap = graft.delta.DeltaLog.forPath(spark, anlPath).snapshot
      val anlPruned = graft.delta.Skipping
        .prunedFiles(anlSnap, Seq(("v", ">", 60L))).size
      require(anlPruned < anlSnap.planFiles().size,
        s"ANALYZE-backfilled stats must prune: $anlPruned files")
      require(graft.delta.Skipping.readWhere(anlSnap, Seq(("v", ">", 60L)))
        .count() == 10L, "pruned read must return exactly the matches")
      println(s"== ANALYZE: backfilled stats prune to $anlPruned of " +
        s"${anlSnap.planFiles().size} files ==")

      // OPTIMIZE HILBERT BY: locality clustering, content preserved
      spark.sql(s"GRAFT OPTIMIZE '$widenPath' HILBERT BY (k, v)")
      require(spark.read.format("graftdelta").load(widenPath)
        .agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 30L,
        "HILBERT BY must preserve content")
      println("== OPTIMIZE HILBERT BY (k, v): content preserved ==")

      // 3-D HILBERT BY (Skilling d-dim transform) on a fresh 3-col table
      val h3Path = s"$dir/hilbert3_table"
      graft.delta.TransactionWriter.overwrite(
        graft.delta.DeltaLog.forPath(spark, h3Path),
        (0L until 512L).map(i => (i % 8, (i / 8) % 8, i / 64, i))
          .toDF("x", "y", "z", "id"))
      spark.sql(s"GRAFT OPTIMIZE '$h3Path' HILBERT BY (x, y, z)")
      require(spark.read.format("graftdelta").load(h3Path)
        .agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0)
        == 512L * 511L / 2, "3-D HILBERT BY must preserve content")
      println("== OPTIMIZE HILBERT BY (x, y, z): 3-D curve, content preserved ==")

      // MATVIEW lifecycle with non-invertible aggregates: CREATE with
      // SUM+MIN+MAX, mutate (delete a group maximum), REFRESH via
      // changed-key rederive, DESCRIBE the definition + watermark
      val mvSrc = s"$dir/mv_src"
      val mvPath = s"$dir/mv_view"
      val srcLog = graft.delta.DeltaLog.forPath(spark, mvSrc)
      graft.delta.TransactionWriter.overwrite(srcLog,
        Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("k", "v"))
      graft.delta.ChangeDataFeed.enable(srcLog)
      spark.sql(s"GRAFT CREATE MATVIEW '$mvPath' FROM '$mvSrc' " +
        "KEYS (k) SUM (v) MIN (v) MAX (v)")
      graft.delta.Mutations.delete(srcLog,
        org.apache.spark.sql.functions.col("v") === 20L)
      spark.sql(s"GRAFT REFRESH MATVIEW '$mvPath'")
      val mvRow = spark.read.format("graftdelta").load(mvPath)
        .where("k = 'a'").head()
      require(mvRow.getAs[Long]("max_v") == 10L &&
        mvRow.getAs[Long]("n_rows") == 1L,
        s"rederive refresh must retract the deleted maximum, got $mvRow")
      val desc = spark.sql(s"GRAFT DESCRIBE MATVIEW '$mvPath'").head()
      require(desc.getAs[String]("aggs") == "sum(v),min(v),max(v)" &&
        desc.getAs[Long]("source_version") == 2L, // v0 write, v1 CDF, v2 delete
        s"DESCRIBE MATVIEW definition/watermark wrong: $desc")
      println("== MATVIEW SUM+MIN+MAX: rederive refresh + DESCRIBE OK ==")

      // r13: SUM full-retraction exactness — a single-SUM view keeps a
      // hidden non-null count, so deleting a mixed group's last
      // non-null rows folds the sum back to NULL (direct-SUM
      // semantics), and the visible read hides the helper
      val srSrc = s"$dir/mv_sr_src"
      val srPath = s"$dir/mv_sr_view"
      val srLog = graft.delta.DeltaLog.forPath(spark, srSrc)
      graft.delta.TransactionWriter.overwrite(srLog,
        Seq(("a", java.lang.Long.valueOf(3L)),
          ("a", null.asInstanceOf[java.lang.Long]),
          ("b", java.lang.Long.valueOf(9L))).toDF("k", "v"))
      graft.delta.ChangeDataFeed.enable(srLog)
      spark.sql(s"GRAFT CREATE MATVIEW '$srPath' FROM '$srSrc' " +
        "KEYS (k) SUM (v)")
      graft.delta.Mutations.delete(srLog,
        org.apache.spark.sql.functions.col("k") === "a" &&
          org.apache.spark.sql.functions.col("v").isNotNull)
      spark.sql(s"GRAFT REFRESH MATVIEW '$srPath'")
      val srRead = graft.delta.MatView.read(spark, srPath)
      val srRow = srRead.where("k = 'a'").head()
      require(srRow.isNullAt(srRow.fieldIndex("sum_v")) &&
        srRow.getAs[Long]("n_rows") == 1L,
        s"full retraction must report NULL sum over the surviving " +
          s"all-null rows, got $srRow")
      require(!srRead.columns.exists(_.startsWith("__")),
        "MatView.read must hide maintenance helper columns")
      println("== MATVIEW SUM full-retraction → NULL (hidden non-null count) OK ==")

      // round-9 surface: INCREMENTAL clustering maintenance — full
      // HILBERT pass persists curve bounds + watermark; after an
      // append, the INCREMENTAL pass rewrites ONLY the new files
      val incPath = s"$dir/inc_cluster"
      (0L until 512L).map(i => (i % 16L, i / 16L, i)).toDF("a", "b", "id")
        .repartition(4).write.format("graftdelta").mode("overwrite")
        .save(incPath)
      spark.sql(s"GRAFT OPTIMIZE '$incPath' HILBERT BY (a, b)")
      val clustered = graft.delta.DeltaLog.forPath(spark, incPath)
        .snapshot.planFiles().map(_.path).toSet
      // in-bounds append: a wholesale-drifted one would now correctly
      // route to a FULL pass via the round-10 drift gauge
      (512L until 640L).map(i => (i % 16L, (i / 16L) % 32L, i))
        .toDF("a", "b", "id")
        .write.format("graftdelta").mode("append").save(incPath)
      spark.sql(s"GRAFT OPTIMIZE '$incPath' HILBERT BY (a, b) INCREMENTAL")
      val afterInc = graft.delta.DeltaLog.forPath(spark, incPath)
        .snapshot.planFiles().map(_.path).toSet
      require(clustered.subsetOf(afterInc),
        "incremental pass must keep previously-clustered files")
      require(spark.read.format("graftdelta").load(incPath).count() == 640L)
      println("== OPTIMIZE HILBERT BY ... INCREMENTAL: old files kept ==")

      // round-9 surface: REFRESH BLOOM INDEX — only uncovered files scan
      spark.sql(s"GRAFT CREATE BLOOM INDEX ON '$incPath' (id)")
      (640L until 660L).map(i => (i % 16L, i / 16L, i)).toDF("a", "b", "id")
        .write.format("graftdelta").mode("append").save(incPath)
      spark.sql(s"GRAFT REFRESH BLOOM INDEX ON '$incPath' (id)")
      val probed = graft.delta.BloomIndex.readIn(
        graft.delta.DeltaLog.forPath(spark, incPath), "id", Seq(650L)).count()
      require(probed == 1L, s"bloom-pruned probe must find the new row, got $probed")
      println("== REFRESH BLOOM INDEX: refreshed sidecar answers new keys ==")

      // round-9 surface: JOIN matview + AVG/WHERE/expression keys
      val jfPath = s"$dir/jv_fact"; val jdPath = s"$dir/jv_dim"
      val jvPath = s"$dir/jv_view"; val avPath = s"$dir/av_view"
      (0L until 40L).map(i => (i, i % 4, i * 2)).toDF("pk", "fk", "x")
        .write.format("graftdelta").mode("overwrite").save(jfPath)
      spark.sql(s"GRAFT ALTER '$jfPath' ENABLE CHANGE DATA FEED")
      (0L until 4L).map(i => (i, s"d$i")).toDF("dk", "name")
        .write.format("graftdelta").mode("overwrite").save(jdPath)
      spark.sql(s"GRAFT ALTER '$jdPath' ENABLE CHANGE DATA FEED")
      spark.sql(s"GRAFT CREATE MATVIEW '$jvPath' FROM '$jfPath' " +
        s"JOIN '$jdPath' ON (fk = dk) KEYS (pk) COLS (name)")
      spark.sql(s"GRAFT DELETE FROM '$jdPath' WHERE dk = 1")
      spark.sql(s"GRAFT REFRESH MATVIEW '$jvPath'")
      require(spark.read.format("graftdelta").load(jvPath).count() == 30L,
        "join view must drop rows whose dim vanished")
      spark.sql(s"GRAFT CREATE MATVIEW '$avPath' FROM '$jfPath' " +
        "KEYS (shard = pk % 2, fk) AVG (x) WHERE x < 60")
      val av = spark.read.format("graftdelta").load(avPath)
      // shard = pk % 2 is determined by fk = pk % 4 → exactly 4 groups
      require(av.columns.contains("avg_x") && av.count() == 4L,
        s"expr-keyed AVG+WHERE view wrong: ${av.columns.toSeq} ${av.count()}")
      println("== CREATE MATVIEW JOIN / AVG + WHERE + expression keys OK ==")

      // round-10 surface: aggregate-over-join matview in ONE view —
      // KEYS may come from the dim side, SUM from the fact side; one
      // refresh folds BOTH feeds (the dim delete above already removed
      // dk=1 from the dim)
      val jrPath = s"$dir/jr_view"
      spark.sql(s"GRAFT CREATE MATVIEW '$jrPath' FROM '$jfPath' " +
        s"JOIN '$jdPath' ON (fk = dk) KEYS (name) SUM (x)")
      spark.sql(s"GRAFT DELETE FROM '$jfPath' WHERE pk = 0")
      spark.sql(s"GRAFT REFRESH MATVIEW '$jrPath'")
      val jr = spark.read.format("graftdelta").load(jrPath)
        .collect().map(r => r.getAs[String]("name") ->
          (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_x"))).toMap
      // fks 0,2,3 survive (dk=1 deleted pre-create); pk=0 (fk 0) left
      require(jr.keySet == Set("d0", "d2", "d3") &&
        jr("d0") == ((9L, 2L * (4 + 8 + 12 + 16 + 20 + 24 + 28 + 32 + 36))),
        s"join-rollup view wrong: $jr")
      println("== CREATE MATVIEW ... JOIN ... KEYS SUM: one-view rollup OK ==")

      // round-11 surface: join-rollup beyond SUM — AVG folds through a
      // hidden (sum, non-null count) pair, MIN/MAX re-derive the
      // changed keys from the pinned join. The DELETE below removes
      // d2's current-MIN fact row (pk=2, x=4): a fold cannot raise a
      // MIN, only the rederive can
      val jmPath = s"$dir/jm_view"
      spark.sql(s"GRAFT CREATE MATVIEW '$jmPath' FROM '$jfPath' " +
        s"JOIN '$jdPath' ON (fk = dk) KEYS (name) MIN (x) MAX (x) AVG (x)")
      spark.sql(s"GRAFT DELETE FROM '$jfPath' WHERE pk = 2")
      spark.sql(s"GRAFT REFRESH MATVIEW '$jmPath'")
      val jm = spark.read.format("graftdelta").load(jmPath)
        .collect().map(r => r.getAs[String]("name") ->
          ((r.getAs[Long]("min_x"), r.getAs[Long]("max_x"),
            r.getAs[Double]("avg_x")))).toMap
      // d2 rows were pk ∈ {2,6,...,38}, x = 2·pk; pk=2 deleted → min 12
      require(jm("d2")._1 == 12L && jm("d2")._2 == 76L,
        s"join-rollup MIN must rise after deleting the min row: $jm")
      require(math.abs(jm("d2")._3 -
        (6 to 38 by 4).map(_ * 2).sum.toDouble / 9) < 1e-9,
        s"join-rollup AVG wrong: $jm")
      println("== CREATE MATVIEW ... JOIN ... MIN/MAX/AVG: rederive + pair fold OK ==")

      // round-10 surface: staleness — DESCRIBE lag + REFRESH IF STALE.
      // The MIN/MAX/AVG section above deleted from the shared fact
      // table after jrPath's last refresh — fold that first so the
      // "fresh view" observation starts from lag 0.
      spark.sql(s"GRAFT REFRESH MATVIEW '$jrPath'")
      val lag0 = spark.sql(s"GRAFT DESCRIBE MATVIEW '$jrPath'")
        .head().getAs[Long]("lag")
      require(lag0 == 0L, s"fresh view must report lag 0, got $lag0")
      spark.sql(s"GRAFT DELETE FROM '$jfPath' WHERE pk = 39")
      val lag1 = spark.sql(s"GRAFT DESCRIBE MATVIEW '$jrPath'")
        .head().getAs[Long]("lag")
      require(lag1 == 1L, s"one unfolded fact commit must read lag 1, got $lag1")
      spark.sql(s"GRAFT REFRESH MATVIEW '$jrPath' IF STALE")
      val vAfter = graft.delta.DeltaLog.forPath(spark, jrPath).latestVersion()
      spark.sql(s"GRAFT REFRESH MATVIEW '$jrPath' IF STALE") // free no-op
      require(graft.delta.DeltaLog.forPath(spark, jrPath)
        .latestVersion() == vAfter, "IF STALE on a fresh view must not commit")
      println("== DESCRIBE MATVIEW lag / REFRESH IF STALE OK ==")

      // round-10 surface: persisted LSH signature index lifecycle
      val lshPath = s"$dir/lsh_corpus"
      Seq((1L, "the quick brown fox jumps over the lazy dog today"),
        (2L, "an entirely different sentence about delta tables and logs"))
        .toDF("id", "text")
        .write.format("graftdelta").mode("overwrite").save(lshPath)
      spark.sql(s"GRAFT CREATE LSH INDEX ON '$lshPath' (id, text)")
      Seq((3L, "yet another unrelated document mentioning parquet files"))
        .toDF("id", "text")
        .write.format("graftdelta").mode("append").save(lshPath)
      spark.sql(s"GRAFT REFRESH LSH INDEX ON '$lshPath' (id, text)")
      val lshLog = graft.delta.DeltaLog.forPath(spark, lshPath)
      val deduped = graft.delta.LshIndex.dedupBatch(lshLog,
        Seq((10L, "the quick brown fox jumps over the lazy dog today"),
          (11L, "completely novel content that matches no prior document"))
          .toDF("id", "text"), "id", "text", threshold = 0.5)
        .select("id").collect().map(_.getLong(0)).toSeq
      require(deduped == Seq(11L),
        s"indexed dedup must drop the near-dup of prior doc 1, got $deduped")
      spark.sql(s"GRAFT DROP LSH INDEX ON '$lshPath' (id, text)")
      require(graft.delta.LshIndex.entries(lshLog, "id", "text").isEmpty,
        "DROP LSH INDEX must remove the sidecar")
      println("== CREATE/REFRESH/DROP LSH INDEX: indexed dedup OK ==")

      // round-10 surface: persisted IVF-PQ index lifecycle (codes at
      // rest; search through the sidecar equals the ivfPqTopK operator
      // under the sidecar's own quantizers)
      val pqPath = s"$dir/ivfpq_corpus"
      import org.apache.spark.sql.functions.{array, col, lit}
      spark.range(0, 64).select(col("id").as("vec_id"),
          array((0 until 8).map(j =>
            (((col("id") * (17 + j) + j * 101) % 100) / lit(25.0)) - 2.0): _*)
            .as("embedding"))
        .write.format("graftdelta").mode("overwrite").save(pqPath)
      spark.sql(
        s"GRAFT CREATE IVFPQ INDEX ON '$pqPath' (vec_id, embedding) " +
          "CELLS 4 M 4 K 8")
      spark.range(64, 80).select(col("id").as("vec_id"),
          array((0 until 8).map(j =>
            (((col("id") * (17 + j) + j * 101) % 100) / lit(25.0)) - 2.0): _*)
            .as("embedding"))
        .write.format("graftdelta").mode("append").save(pqPath)
      spark.sql(s"GRAFT REFRESH IVFPQ INDEX ON '$pqPath' (vec_id, embedding)")
      val pqLog = graft.delta.DeltaLog.forPath(spark, pqPath)
      val pqQueries = pqLog.snapshot.read().where(col("vec_id") % 20 === 0)
      val viaPq = graft.delta.PqIndex.search(pqLog, pqQueries,
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (pqC, pqB) = graft.delta.PqIndex
        .quantizers(pqLog, "vec_id", "embedding").get
      val dirPq = graft.operators.Pq.ivfPqTopK(pqLog.snapshot.read(),
          pqQueries, "vec_id", "embedding", pqC, pqB,
          kNeighbors = 3, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(viaPq == dirPq && viaPq.nonEmpty,
        "indexed IVF-PQ SQL search diverged from the operator path")
      // SHOW INDEXES inventory + generic REFRESH INDEXES before the drop
      val inv0 = spark.sql(s"GRAFT SHOW INDEXES ON '$pqPath'").collect()
        .map(r => (r.getString(0), r.getLong(4))).toMap
      require(inv0 == Map("ivfpq" -> 0L),
        s"SHOW INDEXES must report the refreshed ivfpq sidecar current: $inv0")
      spark.range(80, 90).selectExpr("id AS vec_id",
          "transform(sequence(0, 7), j -> CAST((id * (17 + j) + j * 101) % 100 AS DOUBLE) / 25.0 - 2.0) AS embedding")
        .coalesce(1)
        .write.format("graftdelta").mode("append").save(pqPath)
      require(spark.sql(s"GRAFT SHOW INDEXES ON '$pqPath'")
        .collect().head.getLong(4) == 1L, "append must read 1 stale file")
      require(spark.sql(s"GRAFT REFRESH INDEXES ON '$pqPath'")
        .collect().head.getLong(0) == 1L, "REFRESH INDEXES must refresh 1")
      require(spark.sql(s"GRAFT SHOW INDEXES ON '$pqPath'")
        .collect().head.getLong(4) == 0L, "generic refresh must clear staleness")
      println("== SHOW INDEXES / REFRESH INDEXES: inventory + generic refresh OK ==")
      // entry-count invariant: hand-corrupt one count in the live
      // generation's _coverage summary — SHOW INDEXES must flag the
      // file (invalid_files), probes must compute it live, and a
      // refresh must rescan it back to a clean inventory
      locally {
        val idxDir = graft.delta.PqIndex.indexDir(pqLog, "vec_id", "embedding")
        val base = new org.apache.hadoop.fs.Path(idxDir)
        val hfs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val gen = {
          val in = hfs.open(new org.apache.hadoop.fs.Path(base, "_current"))
          try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        }
        val covPath = new org.apache.hadoop.fs.Path(base, s"$gen/_coverage")
        val lines = {
          val in = hfs.open(covPath)
          try scala.io.Source.fromInputStream(in).mkString.split("\n").toSeq
          finally in.close()
        }
        // corrupt the first NON-MARKER line's count
        val i = lines.indexWhere(l => !l.startsWith("__"))
        val parts = lines(i).split("\t")
        val corrupted = lines.updated(i,
          s"${parts(0)}\t${parts(1)}\t${parts(2).toLong + 5}")
        val out = hfs.create(covPath, true)
        try out.write(corrupted.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        graft.delta.Sidecar.invalidateCoverage(spark, idxDir)
        require(spark.sql(s"GRAFT SHOW INDEXES ON '$pqPath'")
          .collect().head.getLong(5) == 1L,
          "SHOW INDEXES must flag the corrupted count as invalid_files=1")
        require(spark.sql(s"GRAFT REFRESH INDEXES ON '$pqPath'")
          .collect().head.getLong(0) == 1L, "refresh must pick the index up")
        val healed = spark.sql(s"GRAFT SHOW INDEXES ON '$pqPath'").collect().head
        require(healed.getLong(5) == 0L && healed.getLong(4) == 0L,
          s"refresh must rescan the flagged file clean: $healed")
        println("== entry-count invariant: corrupt → flagged → healed OK ==")
      }
      spark.sql(s"GRAFT DROP IVFPQ INDEX ON '$pqPath' (vec_id, embedding)")
      require(graft.delta.PqIndex.entries(pqLog, "vec_id", "embedding").isEmpty,
        "DROP IVFPQ INDEX must remove the sidecar")
      // ROTATE: rebuild the index with the OPQ-surrogate permutation —
      // the marker must persist and search must still equal the
      // operator path run in permuted space
      spark.sql(
        s"GRAFT CREATE IVFPQ INDEX ON '$pqPath' (vec_id, embedding) " +
          "CELLS 4 M 4 K 8 ROTATE")
      val perm = graft.delta.PqIndex.permutation(pqLog, "vec_id", "embedding")
        .getOrElse(throw new IllegalStateException(
          "CREATE ... ROTATE must persist a __perm marker"))
      val permute = (df: org.apache.spark.sql.DataFrame) =>
        df.withColumn("embedding",
          graft.operators.Pq.permute(col("embedding"), perm))
      val viaRot = graft.delta.PqIndex.search(pqLog, pqQueries,
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val (rotC, rotB) = graft.delta.PqIndex
        .quantizers(pqLog, "vec_id", "embedding").get
      val dirRot = graft.operators.Pq.ivfPqTopK(
          permute(pqLog.snapshot.read()), permute(pqQueries),
          "vec_id", "embedding", rotC, rotB, kNeighbors = 3, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      require(viaRot == dirRot && viaRot.nonEmpty,
        "rotated indexed search diverged from the permuted operator path")
      spark.sql(s"GRAFT DROP IVFPQ INDEX ON '$pqPath' (vec_id, embedding)")
      println("== CREATE/REFRESH/DROP IVFPQ INDEX (+ ROTATE): indexed search OK ==")
      println("SqlDemo OK")
    } finally spark.stop()
  }
}
