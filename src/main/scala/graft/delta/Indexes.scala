package graft.delta

import org.apache.hadoop.fs.Path

/** Generic machinery over the sidecar indexes (Bloom / LSH / IVF /
  * IVF-PQ): inventory for `GRAFT SHOW INDEXES` and the write-path
  * auto-refresh dispatcher. Both run off each sidecar's `_meta`
  * descriptor ([[Sidecar.writeMeta]]) — directory names alone cannot
  * be parsed back into column lists. */
object Indexes {

  /** The sidecar kinds by `_meta` name — each kind's coverage policy
    * and auto-refresh entry point ([[IncrementalSidecar.Kind]]). */
  private val kinds: Map[String, IncrementalSidecar.Kind] =
    Seq(BloomIndex.kind, LshIndex.kind, IvfIndex.kind, PqIndex.kind)
      .map(k => k.name -> k).toMap

  /** Every sidecar directory under the table's `_graft_index/`, by name. */
  private def indexDirs(log: DeltaLog): Seq[Path] = {
    val base = new Path(log.rootPath, "_graft_index")
    val fs = base.getFileSystem(log.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).filter(_.isDirectory).map(_.getPath)
      .sortBy(_.getName).toSeq
  }

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
    indexDirs(log).flatMap { dir =>
      Sidecar.read(spark, dir.toString).map { df =>
        val meta = Sidecar.readMeta(spark, dir.toString)
        val kind = meta.flatMap(m => kinds.get(m._1))
        // a kind that covers DV'd files counts against the whole
        // active set; unknown and pre-descriptor sidecars count
        // against the DV-free set and skip the entry-count invariant
        val coverDv = kind.exists(_.coverDvFiles)
        val coverableSize = if (coverDv) active.size else dvFree.size
        val byNorm = if (coverDv) activeByNorm else dvFreeByNorm
        // planned from the generation's coverage summary when
        // present (no entry-relation job)
        val (stored, _, counts) = IncrementalSidecar.storedSummaryFull(
          spark, dir.toString, df, kind.map(_.markers.toSet)
            .getOrElse(Set.empty))
        val storedNorm = stored.map(p => p -> Mutations.normalize(p))
        // entry-count invariant — THE shared predicate
        // (IncrementalSidecar.invalidStoredPaths), so SHOW INDEXES
        // and refresh can never disagree
        val invalid = kind.filter(_.rowKeyed).map(k =>
          IncrementalSidecar.invalidStoredPathsNorm(byNorm, storedNorm,
            counts, k.countsExact)).getOrElse(Nil)
        val invalidSet = invalid.toSet
        val covered = storedNorm.count { case (p, n) =>
          !invalidSet.contains(p) && byNorm.contains(n) }
        val (name, cols) = meta.map { case (k, cs) => (k, cs.mkString(", ")) }
          .getOrElse(("unknown", dir.getName))
        (name, cols, covered.toLong, coverableSize.toLong,
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
  def refreshAll(log: DeltaLog, deferDriftRebuild: Boolean = false): Int =
    indexDirs(log).count { dir =>
      Sidecar.readMeta(log.spark, dir.toString).exists { case (name, cols) =>
        kinds.get(name).exists(
          _.refreshCols.lift((log, cols, deferDriftRebuild)).isDefined)
      }
    }
}
