package graft.delta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions
import graft.operators.Similarity

/** Persisted IVF (inverted-file) index over an embedding column —
  * incremental ANN-index maintenance for a growing corpus, the vector
  * sibling of [[LshIndex]].
  *
  * [[Similarity.ivfTopK]] is the right SEARCH shape (per-cell
  * candidate bounding, broadcast centroids) but re-assigns the ENTIRE
  * corpus to cells on every query batch — one broadcast pass, yet at
  * 100 TB that's a full-corpus read (and k dot products per row) per
  * search. This sidecar persists the quantizer and the assignments:
  *
  *   (file_path, id, cell, vec, nrm, version)   — one row per doc,
  *     SORTED BY cell (the inverted-list layout: a probe of nprobe
  *     cells reads only matching row groups via the pushed `cell IN`
  *     filter, never the whole index);
  *   file_path = "__centroids" rows carry the trained quantizer
  *     (cell, vec) — riding the SAME relation keeps the
  *     centroids/assignments pair atomic under [[Sidecar]] generation
  *     swaps (two pointer files could be observed half-updated).
  *
  * Maintenance contract: [[refresh]] assigns ONLY uncovered coverable
  * files against the PERSISTED centroids — the quantizer is
  * deliberately never retrained by a refresh (retraining moves cell
  * boundaries and would force a full re-assignment; heavy distribution
  * drift is the cue to [[build]] anew). Surviving entries are carried
  * VERBATIM with their original scan `version` — the observable that
  * proves covered files were not rescanned. Files with live deletion
  * vectors are never covered (an entry must describe exact logical
  * rows — a deleted vector must not resurface as a neighbor) and are
  * assigned LIVE by the probe, so a stale index costs IO, never a
  * wrong neighbor.
  *
  * Search semantics are expression-identical to
  * [[Similarity.ivfTopK]] given the same centroids (same round-4
  * cosine, same max-cosine/min-cid assignment, same probe ranking,
  * self-excluded, same rerank) — q_embedding_ivf_indexed pins
  * indexed ≡ operator ≡ DuckDB-oracle.
  *
  * Scale shape: build/refresh is one broadcast-centroid pass over the
  * missing files (k dot products per row, map-only) + a cell range
  * partition; search reads k centroid rows, prunes the index scan to
  * the probed cells, and reranks candidates only. Driver footprint:
  * the k centroids and one distinct-file-path collect. */
object IvfIndex {

  private val CentroidsMarker = "__centroids"

  /** Assignment groups by (file, id), collapsing duplicate ids per
    * file: entry counts may legitimately sit below `numRecords`. */
  private[delta] val kind = IncrementalSidecar.Kind("ivf",
    markers = Seq(CentroidsMarker), countsExact = false)(
    { case (log, Seq(id, vec), defer) =>
      refresh(log, id, vec, deferRebuild = defer) })

  def indexDir(log: DeltaLog, idCol: String, vecCol: String): String =
    kind.indexDir(log, Seq(idCol, vecCol))

  /** The live sidecar relation, None when no index is built. */
  def entries(log: DeltaLog, idCol: String, vecCol: String): Option[DataFrame] =
    kind.entries(log, Seq(idCol, vecCol))

  /** The persisted quantizer as a (idCol, vecCol) frame — the same
    * shape [[Similarity.ivfTopK]] takes, so callers can cross-check
    * the index against the operator path. */
  def centroids(log: DeltaLog, idCol: String, vecCol: String): Option[DataFrame] =
    entries(log, idCol, vecCol).map(
      _.where(col("file_path") === CentroidsMarker)
        .select(col("cell").cast("long").as(idCol), col("vec").as(vecCol)))

  /** Assign rows to their max-cosine cell — the EXACT expressions of
    * [[Similarity.ivfTopK]]'s assignment (round-4 cosine, max_by with
    * -cid tiebreak), so persisted and live assignments agree
    * bit-for-bit. Also carries the chosen cell's similarity (`asim`) —
    * the per-row assignment-quality figure the drift gauge reads.
    * `cents` columns: (cell0, cv, cnrm). */
  private def assignCells(rows: DataFrame, cents: DataFrame): DataFrame = {
    val passthrough = rows.columns.filterNot(Set("v", "nrm"))
    rows.crossJoin(broadcast(cents))
      .withColumn("csim", round(
        VectorExpressions.dot(col("v"), col("cv")) /
          (col("nrm") * col("cnrm")), 4))
      .groupBy(passthrough.map(col).toIndexedSeq: _*)
      .agg(max_by(col("cell0"), struct(col("csim"), -col("cell0"))).as("cell"),
        max(col("csim")).as("asim"),
        first(col("v")).as("vec"), first(col("nrm")).as("nrm"))
  }

  private def centFrame(spark: org.apache.spark.sql.SparkSession,
      cs: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    cs.toDF("cell0", "cv").withColumn("cnrm",
      VectorExpressions.l2Norm(col("cv")))
  }

  /** Assignment entries for `files` under `cs`, cell-sorted. */
  private def scanEntries(log: DeltaLog, snap: Snapshot, files: Seq[AddFile],
      idCol: String, vecCol: String, cs: Seq[(Long, Seq[Double])]): DataFrame =
    assignCells(
      IncrementalSidecar.physicalRead(log, snap, files, Seq(idCol, vecCol))
        .select(col("file_path"), col(idCol),
          col(vecCol).cast("array<double>").as("v"))
        .withColumn("nrm", VectorExpressions.l2Norm(col("v"))),
      centFrame(log.spark, cs))
      .select(col("file_path"), col(idCol), col("cell").cast("int").as("cell"),
        col("asim"), col("vec"), col("nrm"), lit(snap.version).as("version"))

  /** The inverted-list layout: cell-range-partitioned and cell-sorted,
    * so a probe's pushed `cell IN (...)` filter prunes row groups. The
    * centroid rows ride along (they sort into the low cells — k rows,
    * noise-free). */
  private val layout: DataFrame => DataFrame =
    IncrementalSidecar.sortedBy("cell")

  private def centroidRows(log: DeltaLog, snap: Snapshot, idCol: String,
      cs: Seq[(Long, Seq[Double])], trainedVersion: Long): DataFrame = {
    import log.spark.implicits._
    val idType = snap.schema(idCol).dataType
    cs.toDF("cell0", "vec")
      .select(lit(CentroidsMarker).as("file_path"),
        lit(null).cast(idType).as(idCol),
        col("cell0").cast("int").as("cell"),
        lit(null).cast("double").as("asim"), col("vec"),
        VectorExpressions.l2Norm(col("vec")).as("nrm"),
        lit(trainedVersion).as("version"))
  }

  /** Train the quantizer (deterministic md5-anchored k-means,
    * [[Similarity.trainKMeans]]) on the current corpus and assign
    * every coverable file. Returns the indexed version. */
  def build(log: DeltaLog, idCol: String, vecCol: String,
      k: Int = 16, iterations: Int = 3): Long =
    IncrementalSidecar.build(log, kind, Seq(idCol, vecCol),
      IncrementalSidecar.validate(_, Seq(idCol, vecCol)), layout,
      Map("k" -> k.toString, "iterations" -> iterations.toString)) {
      (snap, files) =>
        val cs = Similarity.trainKMeans(snap.read(), idCol, vecCol, k,
          iterations).map { case (cid, arr) => (cid, arr.toSeq) }
        centroidRows(log, snap, idCol, cs, snap.version)
          .unionByName(scanEntries(log, snap, files, idCol, vecCol, cs))
    }

  private def storedCentroids(idx: DataFrame): Seq[(Long, Seq[Double])] =
    idx.where(col("file_path") === CentroidsMarker)
      .select(col("cell"), col("vec")).collect()
      .map(r => (r.getInt(0).toLong, r.getSeq[Double](1))).toSeq

  /** Incrementally extend the index ([[IncrementalSidecar.refresh]]):
    * assign ONLY uncovered coverable files against the PERSISTED
    * centroids, keep surviving entries verbatim, drop entries of
    * departed files; compaction rewrites carry (cell, asim, vec, nrm)
    * verbatim via a narrow id read, so the drift gauge sees only
    * genuinely-new rows. Idle refresh publishes nothing. Returns the
    * indexed version.
    *
    * QUANTIZER DRIFT GAUGE (the IVF analogue of the clustering
    * bounds-drift gauge, [[IncrementalSidecar.Drift]]): every entry
    * carries its assignment similarity (`asim` — the chosen cell's
    * round-4 cosine), so the index itself is the quality baseline.
    * When the NEW files' mean asim falls more than `driftThreshold`
    * below the existing entries' mean, the incoming distribution no
    * longer fits the frozen quantizer — new points would pile into
    * ill-fitting cells and probe recall would silently rot — and the
    * refresh routes to a full [[build]], which retrains with the
    * ORIGINAL build's (k, iterations) from the sidecar `_meta`. The
    * default is 0.2 cosine; ≥ 2 can never trigger (cosine spans 4 ⇒
    * forced incremental); a negative threshold is refused.
    * `deferRebuild` (the write-path-hook posture) logs the trip and
    * keeps the incremental path. */
  def refresh(log: DeltaLog, idCol: String, vecCol: String,
      driftThreshold: Double = 0.2,
      deferRebuild: Boolean = false): Long =
    IncrementalSidecar.refresh(log, kind, Seq(idCol, vecCol),
      validate = IncrementalSidecar.validate(_, Seq(idCol, vecCol)),
      build = () => build(log, idCol, vecCol),
      scan = (snap, idx, files) =>
        scanEntries(log, snap, files, idCol, vecCol, storedCentroids(idx)),
      remap = IncrementalSidecar.remapById(log, kind, idCol),
      layout = layout,
      drift = Some(IncrementalSidecar.Drift("asim", driftThreshold,
        (oldMean, newMean) => oldMean - newMean > driftThreshold,
        deferRebuild,
        // centroid count is the fallback for a param-less `_meta`
        (idx, params) => build(log, idCol, vecCol,
          k = params.get("k").flatMap(_.toIntOption)
            .getOrElse(storedCentroids(idx).size),
          iterations = params.get("iterations")
            .flatMap(_.toIntOption).getOrElse(3)))))

  /** ANN top-k THROUGH the index: per query (a frame carrying idCol +
    * vecCol), rank its nprobe max-cosine cells, read ONLY those cells'
    * entries (pushed `cell IN` filter over the cell-sorted sidecar;
    * uncovered/DV'd active files assigned live against the persisted
    * centroids), exact-cosine rerank, top-k per query with the
    * operator path's exact tie-breaks. Output:
    * (query_id, neighbor_id, sim, rnk) — [[Similarity.ivfTopK]]'s
    * schema. No index → falls back to the operator (trains nothing:
    * requires the caller to have built one; refuses loudly). */
  def search(log: DeltaLog, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 2): DataFrame = {
    val spark = log.spark
    val snap = log.snapshot
    IncrementalSidecar.validate(snap, Seq(idCol, vecCol))
    val idx = entries(log, idCol, vecCol).getOrElse(
      throw new IllegalStateException(
        s"no IVF index on ${log.tablePath} for ($idCol, $vecCol): run " +
          "GRAFT CREATE IVF INDEX first (or use Similarity.ivfTopK)"))
    val cs = storedCentroids(idx)
    val cents = centFrame(spark, cs)
    // query-side cell ranking (round-4 cosine, cid tiebreak — ivfTopK's)
    val q = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .dropDuplicates("query_id")
      .withColumn("qn", VectorExpressions.l2Norm(col("qv")))
    val qsims = q.crossJoin(broadcast(cents))
      .withColumn("csim", round(
        VectorExpressions.dot(col("qv"), col("cv")) /
          (col("qn") * col("cnrm")), 4))
    val qw = Window.partitionBy("query_id")
      .orderBy(col("csim").desc, col("cell0"))
    val probe = qsims.withColumn("cr", row_number().over(qw))
      .where(col("cr") <= nprobe)
      .select(col("query_id"), col("qv"), col("qn"),
        col("cell0").cast("int").as("cell"))
    // the probed cells, collected (≤ k values — the centroids already
    // live on the driver) so the index scan gets a PUSHED `cell IN`
    val probedCells = probe.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    // covered entries of still-active DV-free files only — planned
    // from the generation's coverage summary, not an entry-relation job
    val (usable, liveFiles, _) = IncrementalSidecar.probeCoverage(
      log, snap, kind, Seq(idCol, vecCol), idx)
    import spark.implicits._
    val indexed = idx
      .where(col("cell").isin(probedCells: _*)) // pushed: cell-sorted files
      .join(broadcast(usable.toDF("file_path")), Seq("file_path"), "left_semi")
      .select(col(idCol).as("neighbor_id"), col("cell"),
        col("vec").as("cv2"), col("nrm").as("cn"))
    val live =
      if (liveFiles.isEmpty) indexed.limit(0)
      else {
        // LOGICAL read, not the raw-parquet build primitive: the live
        // set exists precisely because these files carry DVs (or are
        // not yet indexed) — a physical read would resurface deleted
        // vectors as phantom neighbors
        val liveRows = snap.readFiles(liveFiles)
          .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
          .withColumn("nrm", VectorExpressions.l2Norm(col("v")))
        assignCells(liveRows, cents)
          .where(col("cell").cast("int").isin(probedCells: _*))
          .select(col(idCol).as("neighbor_id"),
            col("cell").cast("int").as("cell"),
            col("vec").as("cv2"), col("nrm").as("cn"))
      }
    // NO dedup on (query, neighbor): a same-id row in two files is two
    // candidate rows in Similarity.ivfTopK too — the indexed/live sides
    // are disjoint by construction (covered vs not), so dedup could
    // only nondeterministically drop a legitimate duplicate-id row
    val rer = probe.join(indexed.unionByName(live), Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(
        VectorExpressions.dot(col("qv"), col("cv2")) /
          (col("qn") * col("cn")), 4))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("neighbor_id"))
    rer.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("query_id", "neighbor_id", "sim", "rnk")
  }
}
