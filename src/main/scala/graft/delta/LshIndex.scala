package graft.delta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.MinHashLsh

/** Persisted MinHash-LSH signature index: makes INCREMENTAL fuzzy
  * dedup O(batch + candidates) instead of O(corpus) per ingest.
  *
  * [[MinHashLsh.dedupAgainstCorpus]] is already map-only and
  * shuffle-bounded on its prior side, but it re-runs the md5 shingle +
  * minhash pipeline over the ENTIRE prior corpus's TEXT on every
  * batch — at 100 TB that's a full-corpus read (and the dominant CPU
  * cost, measured) per daily ingest. This sidecar persists the
  * pipeline's OUTPUT per corpus file — `(file_path, id, hs, ks,
  * version)`, where `hs` is the hashed-shingle set (the exact-Jaccard
  * re-verify handle) and `ks` the `Bands` band-bucket keys — so a
  * dedup probe reads a few narrow columns instead of recomputing from
  * text, and index maintenance after a 1% ingest scans 1% of the
  * corpus, not all of it (the [[BloomIndex.buildIncremental]]
  * economics, applied to signatures).
  *
  * Coverage contract — advisory, never wrong:
  *  - entries are keyed by FILE; only files WITHOUT a live deletion
  *    vector are coverable (an entry must describe exactly the file's
  *    logical rows — indexing physical rows of a DV'd file would
  *    resurrect deleted docs as phantom dedup hits). DV'd files are
  *    computed LIVE by the probe; purge DVs (GRAFT REORG) to restore
  *    full coverage.
  *  - the probe uses an entry only while its file is in the active
  *    DV-free set; uncovered active files fall back to the live
  *    streaming pipeline ([[MinHashLsh.priorBands]]). A stale index
  *    therefore costs recompute IO, never a wrong row.
  *  - refresh scans ONLY uncovered coverable files; surviving entries
  *    are carried VERBATIM (their `version` stamp — the snapshot that
  *    scanned them — is the observable proving covered files were not
  *    rescanned), and entries of departed files are dropped.
  *
  * Both the persisted rows and the live fallback evaluate the same
  * expressions ([[MinHashLsh.priorBands]]), so indexed and direct
  * dedup agree bit-for-bit — `q_dedup_incremental_indexed` pins
  * equivalence against [[MinHashLsh.dedupAgainstCorpus]] AND the
  * engine-independent oracle.
  *
  * Scale shape: the build/refresh scan is the one streaming
  * signature pass (2× kernel per row, nothing pinned — see
  * [[MinHashLsh.priorBands]]) over MISSING files only, written
  * straight to parquet via [[Sidecar.swapIn]] (generation-swapped:
  * probes racing a refresh see one complete generation). The probe is
  * a columnar (id, hs, ks) scan semi-joined to the batch's bucket
  * keys before any exchange; at extreme corpus scale the refinement is
  * an `id IN candidates` pushdown on the hs-attachment read — noted,
  * not needed at the scales measured, since the scan is already
  * text-free. Driver footprint: one distinct-file-path collect,
  * file-count-sized (the BloomIndex posture).
  */
object LshIndex {

  /** Most candidate ids the two-phase probe pushes down as an `IN`
    * list; past it the probe keeps the single-pass shape. */
  private val ProbeIdPushdownMax = 10000

  private[delta] val kind = IncrementalSidecar.Kind("lsh")(
    { case (log, Seq(id, text), _) => refresh(log, id, text) })

  /** Shingle width is pinned to [[MinHashLsh]]'s default (word
    * 3-grams): the index stores derived signatures, so every consumer
    * must hash identically. */
  def indexDir(log: DeltaLog, idCol: String, textCol: String): String =
    kind.indexDir(log, Seq(idCol, textCol))

  /** The live sidecar relation (file_path, id, hs, ks, version), None
    * when no index is built. */
  def entries(log: DeltaLog, idCol: String, textCol: String): Option[DataFrame] =
    kind.entries(log, Seq(idCol, textCol))

  private[delta] def validate(snap: Snapshot, idCol: String, textCol: String): Unit = {
    IncrementalSidecar.validate(snap, Seq(idCol, textCol))
    require(snap.schema(textCol).dataType ==
      org.apache.spark.sql.types.StringType,
      s"text column $textCol must be STRING, is " +
        snap.schema(textCol).dataType.simpleString)
  }

  /** ONE streaming signature pass over `files` → (file_path, id, hs,
    * ks, version) — the build primitive full and incremental refresh
    * share; callers pass DV-free files only. The expensive kernel sits
    * above the widening repartition so narrow inputs still parallelize
    * (the round-8 lesson). */
  private def scanEntries(log: DeltaLog, snap: Snapshot,
      files: Seq[AddFile], idCol: String, textCol: String): DataFrame = {
    val raw = IncrementalSidecar.physicalRead(log, snap, files,
      Seq(idCol, textCol))
    // size-derived widen target (see graft.operators.Adaptive): full
    // width at scale, fewer fuller kernel tasks at bench scale
    val wide = graft.operators.Adaptive.widen(raw)
    // the same streaming shape as the live prior side (hs output +
    // state-carried sig for the band keys — 2× kernel, no pinned
    // corpus checkpoint), just with file_path carried and hs/ks stored
    val sigCol = graft.functions.VectorExpressions.minhashSignatures(
      graft.functions.VectorExpressions.hashedShingles(col(textCol), 3),
      graft.queries.Queries.MinhashA, graft.queries.Queries.MinhashB,
      graft.queries.Queries.MinhashP)
    wide.select(col("file_path"), col(idCol),
      graft.functions.VectorExpressions.hashedShingles(col(textCol), 3).as("hs"),
      MinHashLsh.bandKeysOf(sigCol).as("ks"),
      lit(snap.version).as("version"))
  }

  /** Build (or rebuild) the index over every coverable active file at
    * the current snapshot. Returns the indexed version. Generations are
    * id-sorted: the probe's second phase reads `hs` through a pushed
    * `id IN (candidates)` filter, which then skips row groups. */
  def build(log: DeltaLog, idCol: String, textCol: String): Long =
    IncrementalSidecar.build(log, kind, Seq(idCol, textCol),
      validate(_, idCol, textCol), IncrementalSidecar.sortedBy(idCol))(
      scanEntries(log, _, _, idCol, textCol))

  /** Incrementally extend the index to the current snapshot
    * ([[IncrementalSidecar.refresh]]): shingle ONLY the coverable
    * files the sidecar does not cover yet, keep every still-coverable
    * entry VERBATIM, drop entries whose file left the coverable set.
    * No sidecar yet → full [[build]]. Idle refresh writes nothing.
    * Returns the indexed version.
    *
    * Files rewritten by `dataChange = false` commits (OPTIMIZE,
    * clustering) are REMAPPED, not re-shingled: a narrow id-only read
    * of the new files joins the old entries by id and carries hs/ks
    * byte-verbatim ([[IncrementalSidecar.remapRowEntries]]) — refresh
    * cost stays O(genuinely-new bytes) under routine compaction. */
  def refresh(log: DeltaLog, idCol: String, textCol: String): Long =
    IncrementalSidecar.refresh(log, kind, Seq(idCol, textCol),
      validate = validate(_, idCol, textCol),
      build = () => build(log, idCol, textCol),
      scan = (snap, _, files) => scanEntries(log, snap, files, idCol, textCol),
      remap = IncrementalSidecar.remapById(log, kind, idCol),
      layout = IncrementalSidecar.sortedBy(idCol))

  /** Index-backed containment screen: every CROSS pair (batch id,
    * corpus id) with Broder containment ≥ `threshold` — result ≡
    * [[MinHashLsh.containmentAgainstCorpus]](newBatch, corpus.read()),
    * with the prior side's (id, hs) rows served from the sidecar:
    * covered files contribute persisted shingle sets (columnar read —
    * no text, no md5 kernel, the operator's dominant cost),
    * uncovered/DV'd files are shingled live, and with no index at all
    * the call degrades to the direct operator. Candidate generation
    * and verification are [[MinHashLsh.containmentCrossPairs]] —
    * shared line-for-line with the direct path, so indexed ≡ direct
    * by construction (q_containment_indexed pins it end-to-end).
    *
    * Probe economics vs [[dedupBatch]]'s two-phase trick: containment
    * candidates need the prior's SHINGLE CONTENTS (the posting side is
    * the hs column itself), so the probe reads the wide hs column of
    * covered entries once — the kernel CPU is saved, the hs bytes are
    * not. Bounding the IO too would take an anchor column plus an
    * h-sorted posting generation (noted as the next increment; the
    * refresh economics are unchanged either way). */
  def containmentBatch(log: DeltaLog, newBatch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.9,
      broadcastKeys: Boolean = true, anchorK: Int = MinHashLsh.AnchorK,
      maxBucketSize: Int = 0,
      hashedBatch: Option[DataFrame] = None): DataFrame = {
    val spark = log.spark
    val snap = log.snapshot
    validate(snap, idCol, textCol)
    val idx = entries(log, idCol, textCol).getOrElse(
      return MinHashLsh.containmentAgainstCorpus(newBatch, snap.read(),
        idCol, textCol, threshold, broadcastKeys, anchorK, maxBucketSize,
        hashedBatch))
    val (usableStored, liveFiles, _) = IncrementalSidecar.probeCoverage(
      log, snap, kind, Seq(idCol, textCol), idx)
    val covered = IncrementalSidecar.keepStored(spark, idx, usableStored)
      .select(col(idCol), col("hs"))
    def priorHashed: DataFrame =
      if (liveFiles.isEmpty) covered
      else covered.unionByName(
        MinHashLsh.hashedShingles(snap.readFiles(liveFiles), idCol, textCol))
    val hNew = hashedBatch.getOrElse(
      MinHashLsh.hashedShingles(newBatch, idCol, textCol).localCheckpoint())
    MinHashLsh.containmentCrossPairs(hNew, idCol, threshold, anchorK,
      maxBucketSize, broadcastKeys,
      priorHashed,
      // verify attach: one more columnar (id, hs) pass semi-joined to
      // the candidate ids (id-sorted generation → row-group pruning
      // does the work under AQE's broadcast of the small id set). The
      // LIVE side semi-joins BEFORE the shingle kernel — the direct
      // twin's contract (shingle only candidate rows); above the
      // kernel the filter would not push down and every uncovered
      // file's rows would re-shingle
      ids => {
        val b = if (broadcastKeys)
          org.apache.spark.sql.functions.broadcast(ids) else ids
        val cov = covered.join(b, Seq(idCol), "left_semi")
        if (liveFiles.isEmpty) cov
        else cov.unionByName(MinHashLsh.hashedShingles(
          snap.readFiles(liveFiles).join(b, Seq(idCol), "left_semi"),
          idCol, textCol))
      })
  }

  /** Index-backed incremental fuzzy dedup: drop from `newBatch` every
    * doc that near-duplicates (exact Jaccard ≥ `threshold` on hashed
    * 3-gram shingle sets) ANY doc in the indexed corpus table —
    * result ≡ [[MinHashLsh.dedupAgainstCorpus]](newBatch,
    * corpus.read()), with the prior side served from the sidecar:
    * covered files contribute their persisted (id, hs, ks) rows
    * (columnar read, no text, no kernel), uncovered/DV'd files are
    * computed live, and with no index at all the whole call degrades
    * to the direct operator. `maxBucketSize` follows
    * [[MinHashLsh.candidatePairs]] (≤ 0 = off). */
  def dedupBatch(log: DeltaLog, newBatch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      broadcastKeys: Boolean = true, maxBucketSize: Int = 0,
      hashedBatch: Option[DataFrame] = None): DataFrame = {
    val spark = log.spark
    val snap = log.snapshot
    validate(snap, idCol, textCol)
    val idx = entries(log, idCol, textCol).getOrElse(
      return MinHashLsh.dedupAgainstCorpus(newBatch, snap.read(),
        idCol, textCol, threshold, broadcastKeys, maxBucketSize, hashedBatch))
    // live side: active files the index cannot serve — not yet
    // indexed, re-incarnated with a DV, entry-count invariant failed,
    // or index entries gone stale
    val (usableStored, liveFiles, counts) = IncrementalSidecar.probeCoverage(
      log, snap, kind, Seq(idCol, textCol), idx)
    MinHashLsh.dedupAgainstPrior(newBatch, idCol, textCol, threshold,
      broadcastKeys, maxBucketSize,
      newKeys => {
        // TWO-PHASE candidate-bounded probe: the hs arrays (the wide
        // column — roughly token-count longs per row) must not be read
        // for the whole corpus when only bucket-mates of the batch are
        // candidates. Phase 1 scans the NARROW (id, ks) columns,
        // explodes, and semi-joins the batch's bucket keys → the
        // candidate id set (batch-bucket-sized). Phase 2 re-reads the
        // sidecar with a pushed `id IN (candidates)` filter — the
        // generation is id-sorted, so parquet row-group stats skip
        // everything else — and only THOSE rows' hs bytes load.
        // Above the literal-pushdown cap ([[ProbeIdPushdownMax]]) the
        // probe keeps the single-pass shape (a huge IN list costs more
        // in filter evaluation than the wide scan saves). BELOW
        // spark.graft.lsh.probeTwoPhaseMinRows (default 100000) stored
        // rows — known for free from the `_coverage` counts — phase 1
        // is skipped too: collecting candidate ids costs a whole job,
        // and under ~10⁵ entries the wide hs scan it would save is
        // cheaper than the job (measured +38% on the sf0.1 refresh
        // gate). The probe-bytes win two-phase buys only shows at
        // larger corpora (IndexProbe pins the conf to 0 to measure it).
        val covered = IncrementalSidecar.keepStored(spark, idx, usableStored)
        val minRows = spark.conf
          .getOption("spark.graft.lsh.probeTwoPhaseMinRows")
          .flatMap(_.trim.toLongOption).getOrElse(100000L)
        // unknown counts (legacy generation) → assume large
        val storedRows =
          if (counts.isEmpty) Long.MaxValue else counts.valuesIterator.sum
        val indexed = {
          val candIds =
            if (storedRows < minRows) null
            else {
              val ids = covered
                .select(col(idCol), posexplode(col("ks")).as(Seq("band", "k")))
                .join(newKeys, Seq("band", "k"), "left_semi")
                .select(idCol).distinct().limit(ProbeIdPushdownMax + 1).collect()
              if (ids.length > ProbeIdPushdownMax) null else ids.map(_.get(0))
            }
          val src =
            if (candIds == null) covered
            else {
              // isin(null) is never true — a null-id candidate (ids
              // are not required non-null) must keep its entries
              // through an explicit IS NULL arm, or the pushdown
              // would silently drop a real duplicate
              val nonNull = candIds.filter(_ != null)
              val in = col(idCol).isin(nonNull.toIndexedSeq: _*)
              covered.where(
                if (nonNull.length == candIds.length) in
                else in || col(idCol).isNull)
            }
          src.select(col(idCol), col("hs"),
              posexplode(col("ks")).as(Seq("band", "k")))
            .join(newKeys, Seq("band", "k"), "left_semi")
        }
        if (liveFiles.isEmpty) indexed
        else indexed.unionByName(
          MinHashLsh.priorBands(snap.readFiles(liveFiles), idCol, textCol)
            .join(newKeys, Seq("band", "k"), "left_semi"))
      }, hashedBatch)
  }
}
