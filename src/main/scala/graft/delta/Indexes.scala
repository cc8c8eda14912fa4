package graft.delta

import org.apache.hadoop.fs.Path

/** Generic machinery over the sidecar indexes (Bloom / LSH / IVF /
  * IVF-PQ): inventory for `GRAFT SHOW INDEXES` and the write-path
  * auto-refresh dispatcher. Both run off each sidecar's `_meta`
  * descriptor ([[Sidecar.writeMeta]]) — directory names alone cannot
  * be parsed back into column lists. */
object Indexes {

  /** One row per sidecar index under `_graft_index/`:
    * `(kind, columns, covered_files, active_files, stale_files,
    * invalid_files)`. Coverage compares the sidecar's distinct file
    * paths (markers excluded) against the snapshot's active set — the
    * operational "how stale am I" surface, log-plane + sidecar-plane
    * only (no data scan). `invalid_files` counts covered files whose
    * ENTRY COUNT contradicts the add's `numRecords` (row-keyed kinds
    * only — one entry per logical row; bloom stores one filter row per
    * file, so the invariant does not apply): non-zero means a
    * corrupted or wrongly-attributed sidecar slice, which refresh
    * rescans and probes never serve. Pre-descriptor sidecars report
    * their directory name as the columns string. */
  def describe(log: DeltaLog): Seq[(String, String, Long, Long, Long, Long)] = {
    val spark = log.spark
    val snap = log.snapshot
    val active = snap.planFiles()
    // the LSH/IVF/IVF-PQ maintenance contract never covers files
    // carrying live deletion vectors (the probe computes those LIVE) —
    // counting them as "stale" would make stale_files > 0 forever on
    // DV-bearing tables, so the denominator is each kind's COVERABLE
    // set; bloom covers everything
    val dvFree = active.filterNot(_.deletionVector.exists(_.cardinality > 0))
    // candidate spellings normalize ONCE for the whole inventory — the
    // per-file URI work is the driver cost at large file counts
    // (LogScaleProbe); snapshot-memoized, so refreshes in the same
    // maintenance sweep share the pass too
    val (activeByNorm, dvFreeByNorm) = snap.candNormIndexes()
    val activeNorm: Set[String] = activeByNorm.keySet
    val base = new Path(log.rootPath, "_graft_index")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return Seq.empty
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName).toSeq.flatMap { dir =>
        Sidecar.read(spark, dir.toString).map { df =>
          val (kind, cols) = Sidecar.readMeta(spark, dir.toString)
            .map { case (k, cs) => (k, cs.mkString(", ")) }
            .getOrElse(("unknown", dir.getName))
          val coverableSize =
            if (kind == "bloom") active.size else dvFree.size
          val coverableNorm =
            if (kind == "bloom") activeNorm else dvFreeByNorm.keySet
          // planned from the generation's coverage summary when
          // present (no entry-relation job); markers are "__"-prefixed
          val (storedRaw, _, counts) = IncrementalSidecar.storedSummaryFull(
            spark, dir.toString, df, Set.empty)
          val stored = storedRaw.filterNot(_.startsWith("__"))
          val storedNorm = stored.map(p => p -> Mutations.normalize(p))
          val rowKeyed = kind != "bloom" && kind != "unknown"
          // entry-count invariant — THE shared predicate
          // (IncrementalSidecar.invalidStoredPaths), so SHOW INDEXES
          // and refresh can never disagree; exactness per kind (IVF
          // collapses duplicate ids, LSH/PQ store one entry per row)
          val byNorm = if (kind == "bloom") activeByNorm else dvFreeByNorm
          val invalid =
            if (!rowKeyed) Nil
            else IncrementalSidecar.invalidStoredPathsNorm(byNorm,
              storedNorm, counts, exact = kind != "ivf")
          val invalidSet = invalid.toSet
          val covered = storedNorm.count { case (p, n) =>
            !invalidSet.contains(p) && coverableNorm.contains(n) }
          (kind, cols, covered.toLong, coverableSize.toLong,
            (coverableSize - covered).toLong, invalid.size.toLong)
        }
      }
  }

  /** Incrementally refresh every descriptor-bearing sidecar index on
    * the table; returns the refreshed index count. Each refresh is
    * O(uncovered files) by the sidecar maintenance contract, and an
    * up-to-date index is a free no-op — which is what makes this safe
    * to run from the write path on every commit
    * (`graft.autoRefresh.indexes`). Unknown kinds and pre-descriptor
    * sidecars are skipped, never failed: index maintenance must not
    * break the data commit that triggered it.
    *
    * `deferDriftRebuild` (the write-path-hook posture): the IVF/IVF-PQ
    * drift gauges must not route a post-commit refresh into an
    * O(corpus) quantizer retrain — the hook's contract is O(uncovered
    * files) per commit. Deferred drift is logged loudly by the index
    * and picked up by the next EXPLICIT refresh. */
  def refreshAll(log: DeltaLog, deferDriftRebuild: Boolean = false): Int = {
    val spark = log.spark
    val base = new Path(log.rootPath, "_graft_index")
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) return 0
    fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName).toSeq.count { dir =>
        Sidecar.readMeta(spark, dir.toString) match {
          case Some(("bloom", Seq(c))) =>
            BloomIndex.buildIncremental(log, c); true
          case Some(("lsh", Seq(id, text))) =>
            LshIndex.refresh(log, id, text); true
          case Some(("ivf", Seq(id, vec))) =>
            IvfIndex.refresh(log, id, vec,
              deferRebuild = deferDriftRebuild); true
          case Some(("ivfpq", Seq(id, vec))) =>
            PqIndex.refresh(log, id, vec,
              deferRebuild = deferDriftRebuild); true
          case _ => false
        }
      }
  }
}
