package graft.tools

import org.apache.spark.sql.types.{LongType, StructType}

import graft.delta._

/** Log-plane scale rehearsal at ~10⁶ files — the direct measurement
  * behind the 100 TB planning claims that sf0.1 file counts cannot
  * exercise: snapshot resolution, slim `planFiles`, stats pruning
  * (`q_skipped_stats` shape), the SHOW-INDEXES/refresh coverage +
  * entry-count-invariant engine, and a compaction remap walk must all
  * stay DRIVER-BOUNDED (wall and heap) when the table has a million
  * active files.
  *
  * The probe synthesizes the table's LOG ONLY — a metadata commit plus
  * `batches` streamed add-commits of `batchSize` files each, every add
  * carrying real per-file stats (disjoint `v` ranges, so a point
  * predicate must prune to exactly one file) — then checkpoints,
  * drops the snapshot caches, and measures each surface cold. No data
  * parquet exists and none is needed: every measured code path is
  * log-plane by design, which is itself the claim under test.
  *
  * Self-checking: correctness assertions (file counts, prune
  * exactness, invariant hit counts, remap attribution) throw on
  * violation; wall/heap figures print for SCALE.md. A generous heap
  * ceiling guards against silent O(files)-driver-bytes regressions.
  *
  * `runMain graft.tools.LogScaleProbe [nFiles] [workDir]`
  */
object LogScaleProbe {
  private def usedMb(): Long = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1L << 20)
  }

  private def timed[T](label: String)(f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = f
    val s = (System.nanoTime() - t0) / 1e9
    println(f"  $label%-42s ${s}%8.2f s   heap=${usedMb()}%6d MB")
    (out, s)
  }

  def main(args: Array[String]): Unit = {
    val nFiles = if (args.nonEmpty) args(0).toInt else 1000000
    val workDir = if (args.length > 1) args(1)
      else s"/tmp/graft_logscale_${System.currentTimeMillis()}"
    val batches = 10
    val batchSize = nFiles / batches
    val rowsPerFile = 1000L
    val spark = graft.GraftSession.local()

    val tablePath = s"$workDir/table"
    new java.io.File(tablePath).mkdirs()
    val log = DeltaLog.forPath(spark, tablePath)
    val schema = new StructType().add("id", LongType).add("v", LongType)
    println(s"LogScaleProbe: $nFiles files ($batches x $batchSize), table=$tablePath")
    println(f"  baseline heap=${usedMb()}%d MB")

    def pathOf(g: Int) = f"part-$g%08d.parquet"
    def statsOf(g: Long, rows: Long) = {
      val lo = g * rowsPerFile
      val hi = lo + rows - 1
      s"""{"numRecords":$rows,"minValues":{"id":$lo,"v":$lo},""" +
        s""""maxValues":{"id":$hi,"v":$hi},"nullCount":{"id":0,"v":0}}"""
    }
    def addOf(g: Int): AddFile = AddFile(
      path = pathOf(g), partitionValues = Map.empty, size = 1L << 20,
      modificationTime = 1700000000000L + g,
      stats = Some(statsOf(g.toLong, rowsPerFile)))

    // ---- synthesis: 1 metadata commit + `batches` add commits ------------
    val meta = Metadata("logscale-probe", schema.json, Nil, Map.empty, Some(0L))
    val (_, tSynth) = timed(s"synthesize log ($batches commits)") {
      log.commit(0L, Seq(
        CommitInfoAction(CommitInfo(1700000000000L, "CREATE TABLE")),
        ProtocolAction(Protocol(1, 2)), MetadataAction(meta)))
      (0 until batches).foreach { b =>
        val head = Seq[Action](
          CommitInfoAction(CommitInfo(1700000000000L + b, "WRITE")))
        val files = (b * batchSize until (b + 1) * batchSize).iterator
          .map(g => AddAction(addOf(g)): Action)
        log.commitStreamed(b + 1L, head, files)
      }
    }

    // ---- checkpoint: distributed job, O(1) driver rows -------------------
    val (_, tCkpt) = timed("checkpoint (classic, 1 part)") {
      Maintenance.checkpoint(log)
    }

    // ---- cold snapshot resolution + slim planFiles ------------------------
    DeltaLog.clearSnapshotCaches()
    val log2 = DeltaLog.forPath(spark, tablePath)
    val (snap, tResolve) = timed("cold snapshot resolve (post-ckpt)") {
      log2.snapshot
    }
    require(snap.version == batches.toLong,
      s"resolved v${snap.version}, expected $batches")
    val h0 = usedMb()
    val (files, tPlan) = timed("planFiles (slim collect)") {
      snap.planFiles()
    }
    val hPlan = usedMb() - h0
    require(files.size == nFiles, s"planFiles=${files.size}, want $nFiles")
    require(files.forall(_.stats.isEmpty),
      "slim planning must null the stats JSON")
    require(files.head.numRecordsStat.contains(rowsPerFile),
      "slim planning must keep numRecords for the count invariant")
    println(f"    planFiles heap delta ≈ $hPlan%d MB for $nFiles%d slim adds")
    // repeated planning is memoized per immutable snapshot (coverage,
    // probe coverage, and scan build all plan in one operation)
    val (files2, tPlan2) = timed("planFiles again (memo)") {
      snap.planFiles()
    }
    require(files2 eq files, "second planFiles must serve the memo")
    require(tPlan2 < 0.5, f"memoized planFiles took ${tPlan2}%.2f s")

    // ---- stats pruning (q_skipped_stats shape) ----------------------------
    val needle = (nFiles / 2) * rowsPerFile + 17
    val (point, tPoint) = timed("stats prune: point predicate") {
      Skipping.prunedFiles(snap, Seq(("v", "=", needle)))
    }
    require(point.map(_.path) == Seq(pathOf(nFiles / 2)),
      s"point prune hit ${point.size} files: ${point.take(3).map(_.path)}")
    val lo = 100L * rowsPerFile
    val hi = 200L * rowsPerFile - 1 // 100 disjoint files exactly
    val (range, tRange) = timed("stats prune: 100-file range") {
      Skipping.prunedFiles(snap,
        Seq(("v", ">=", lo), ("v", "<=", hi)))
    }
    require(range.size == 100, s"range prune hit ${range.size} files")

    // ---- SHOW-INDEXES / refresh coverage engine ---------------------------
    // full coverage in the QUALIFIED spelling real sidecars store
    // (`_metadata.file_path`), 100 corrupted entry counts: the
    // invariant must flag EXACTLY those (demoted to missing) in one
    // log-plane pass
    val storedPaths = files.map(f => snap.pathCandidates(f).head)
    val badIdx = (0 until 100).map(_ * (nFiles / 100))
    val corruptedStored = badIdx.map(storedPaths)
    val corruptedRel = badIdx.map(files(_).path)
    val counts: Map[String, Long] = {
      val bad = corruptedStored.toSet
      storedPaths.iterator
        .map(p => p -> (if (bad(p)) rowsPerFile + 1 else rowsPerFile)).toMap
    }
    val (cov, tCov) = timed("coverage + count invariant (1e6 stored)") {
      IncrementalSidecar.coverage(snap, storedPaths,
        coverDvFiles = false, storedCounts = counts, countsExact = true)
    }
    require(cov.invalidStored.sorted == corruptedStored.sorted,
      s"invariant flagged ${cov.invalidStored.size} files, want 100")
    require(cov.missing.map(_.path).sorted == corruptedRel.sorted,
      "corrupted slices must demote to missing (rescan, not serve)")
    require(cov.liveStored.size == nFiles - 100,
      s"liveStored=${cov.liveStored.size}, want ${nFiles - 100}")
    // the active-file normalization pass is snapshot-memoized: a
    // second sidecar's coverage in the same maintenance sweep pays
    // only the stored-path views, not the file normalization
    val (cov2, tCov2) = timed("coverage again (shared norm memo)") {
      IncrementalSidecar.coverage(snap, storedPaths,
        coverDvFiles = false, storedCounts = counts, countsExact = true)
    }
    require(cov2.invalidStored.size == 100 && tCov2 < tCov,
      f"repeat coverage ${tCov2}%.2f s should undercut the first ${tCov}%.2f s")

    // ---- compaction + remap walk ------------------------------------------
    // batch 0 (100k files) compacts into 1k merged files in one
    // dataChange=false commit; remapGroups must attribute every merged
    // file back to stored sources via ONE driver commit-JSON read
    val mergeFactor = 100
    val nMerged = batchSize / mergeFactor
    val (_, tCompact) = timed(s"compaction commit ($batchSize -> $nMerged)") {
      val head = Seq[Action](
        CommitInfoAction(CommitInfo(1700000100000L, "OPTIMIZE")))
      val removes = (0 until batchSize).iterator.map(g =>
        RemoveAction(RemoveFile(pathOf(g), 1700000100000L,
          dataChange = false)): Action)
      val adds = (0 until nMerged).iterator.map { j =>
        val rows = rowsPerFile * mergeFactor
        AddAction(AddFile(f"compact-$j%06d.parquet", Map.empty,
          (1L << 20) * mergeFactor, 1700000100000L + j,
          dataChange = false,
          stats = Some(statsOf(j.toLong * mergeFactor, rows)))): Action
      }
      log2.commitStreamed(batches + 1L, head, removes ++ adds)
    }
    DeltaLog.clearSnapshotCaches()
    val log3 = DeltaLog.forPath(spark, tablePath)
    val (snap2, tResolve2) = timed("cold re-resolve (ckpt + 1-commit tail)") {
      log3.snapshot
    }
    require(snap2.version == batches + 1L)
    val missing = snap2.planFiles().filter(_.path.startsWith("compact-"))
    require(missing.size == nMerged)
    val coveredNorm = storedPaths.map(Mutations.normalize).toSet
    val ((groups, leftover), tRemap) = timed("remapGroups walk") {
      IncrementalSidecar.remapGroups(log3, snap2, missing, coveredNorm,
        storedPaths, sinceVersion = batches.toLong)
    }
    require(groups.size == 1 && leftover.isEmpty,
      s"remap: ${groups.size} groups, ${leftover.size} leftover")
    require(groups.head.newFiles.size == nMerged &&
      groups.head.sourcePaths.size == batchSize && groups.head.sourcesDvFree,
      "remap group must attribute all merged files to all sources")

    val heapFinal = usedMb()
    // generous ceiling: ~1e6 slim adds + coverage maps + remap registry
    // must fit in single-digit GB; a regression that re-grows stats or
    // materializes per-row state blows straight through this
    require(heapFinal < 16384, s"driver heap $heapFinal MB >= 16 GB ceiling")

    println(f"""
      |LogScaleProbe PASS at $nFiles%d files:
      |  synth=${tSynth}%.1fs ckpt=${tCkpt}%.1fs resolve=${tResolve}%.2fs
      |  plan=${tPlan}%.2fs prunePoint=${tPoint}%.2fs pruneRange=${tRange}%.2fs
      |  coverage=${tCov}%.2fs compactCommit=${tCompact}%.2fs
      |  resolve2=${tResolve2}%.2fs remapWalk=${tRemap}%.2fs heap=${heapFinal}%d MB
      |""".stripMargin)
    // best-effort cleanup of the synthetic log (~GB of JSON)
    try {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(workDir)).deleteRecursively()
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
