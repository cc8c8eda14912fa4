package graft.delta

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions
import graft.operators.Pq

/** Persisted IVF-PQ index over an embedding column — the ANN sidecar
  * that actually fits 100 TB at rest.
  *
  * [[IvfIndex]] persists the inverted-list layout but stores RAW
  * vectors per entry, so the sidecar is corpus-sized (KBs per row at
  * dim 1k+). Here an entry is `(cell, codes)` — one small int plus `m`
  * byte-sized code values — so the index is ~`dim·8 / m` times smaller
  * and a probe's candidate scan reads codes, not vectors
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011; the operator-path semantics live in
  * [[graft.operators.Pq.ivfPqTopK]]).
  *
  * Sidecar relation (one [[Sidecar]] generation, cell-sorted):
  *
  *   data rows    (file_path, id, cell, codes, qerr, version)
  *   "__coarse"   (sub = 0, cid, vec)  — the coarse quantizer
  *   "__books"    (sub = j, cid, vec)  — the m PQ codebooks
  *
  * Quantizers ride the SAME relation so the (coarse, books,
  * assignments) triple is atomic under generation swaps. Every
  * expression — coarse cell, code assignment, reconstruction, ADC —
  * is [[graft.operators.Pq]]'s verbatim, so search through the index
  * equals `ivfPqTopK` given the same quantizers, row for row.
  *
  * Maintenance contract (the [[LshIndex]]/[[IvfIndex]] economics):
  * [[refresh]] encodes ONLY uncovered coverable files under the
  * PERSISTED quantizers; surviving entries are carried VERBATIM with
  * their original scan `version` (the no-rescan observable); departed
  * files drop; files with live deletion vectors are never covered and
  * are encoded LIVE by the probe — a stale index costs IO, never a
  * phantom neighbor.
  *
  * QUANTIZATION-DRIFT GAUGE: every entry carries its round-4 PQ
  * reconstruction error (`qerr = ||v − recon||²`). When the new files'
  * mean error exceeds the stored entries' mean by more than
  * `driftThreshold` RELATIVELY (error is scale-ful, unlike the IVF
  * gauge's bounded cosine, so the test is `new > old · (1+t)`), the
  * frozen codebooks no longer describe the incoming distribution —
  * ADC distances would silently rot — and the refresh routes to a full
  * [[build]] retrain with the same (kCoarse, m, k). The default 1.0
  * trips when the new mean error is more than double the old;
  * `Double.PositiveInfinity` forces the incremental path.
  *
  * Scale shape: build/refresh is one map-only encode pass over the
  * missing files (m·k + kCoarse small distance evaluations per row) +
  * a cell range partition; search reads the driver-sized quantizer
  * rows, prunes the index scan to the probed cells (pushed `cell IN`
  * over cell-sorted parquet), reconstructs candidates once, and ranks
  * by ADC. Driver footprint: kCoarse + m·k codebook rows and one
  * distinct-file-path collect. */
object PqIndex {

  private val CoarseMarker = "__coarse"
  private val BooksMarker = "__books"
  /** OPQ-surrogate coordinate permutation ([[Pq.trainPermutation]]):
    * rows (sub = new position, cid = old dim, vec = null). Optional —
    * absent on unrotated indexes; when present, EVERY vector (corpus
    * encode, live encode, query) permutes before slicing, so the
    * stored quantizers and codes live entirely in permuted space.
    * L2 is permutation-invariant: ADC distances are unchanged as
    * distances, only the subspace partition (and hence recall at
    * fixed m) improves on axis-skewed corpora. */
  private val PermMarker = "__perm"

  /** One entry per row (no duplicate-id collapse, unlike IVF's grouped
    * assignment): entry counts must equal `numRecords`. */
  private[delta] val kind = IncrementalSidecar.Kind("ivfpq",
    markers = Seq(CoarseMarker, BooksMarker, PermMarker))(
    { case (log, Seq(id, vec), defer) =>
      refresh(log, id, vec, deferRebuild = defer) })

  def indexDir(log: DeltaLog, idCol: String, vecCol: String): String =
    kind.indexDir(log, Seq(idCol, vecCol))

  /** The live sidecar relation, None when no index is built. */
  def entries(log: DeltaLog, idCol: String, vecCol: String): Option[DataFrame] =
    kind.entries(log, Seq(idCol, vecCol))

  /** The persisted quantizers in [[Pq.trainCodebooks]]'s shape:
    * (coarse m=1 book, PQ books). */
  def quantizers(log: DeltaLog, idCol: String, vecCol: String)
      : Option[(Seq[(Int, Long, Array[Double])], Seq[(Int, Long, Array[Double])])] =
    entries(log, idCol, vecCol).map(storedQuantizers)

  /** The persisted OPQ-surrogate permutation (`perm(newPos) = oldDim`),
    * None when the index has one built without `rotate` — quantizers
    * and codes of a rotated index live in this permuted space. */
  def permutation(log: DeltaLog, idCol: String, vecCol: String): Option[Seq[Int]] =
    entries(log, idCol, vecCol).flatMap(storedPerm)

  private def storedQuantizers(idx: DataFrame)
      : (Seq[(Int, Long, Array[Double])], Seq[(Int, Long, Array[Double])]) = {
    def load(marker: String) = idx.where(col("file_path") === marker)
      .select(col("sub"), col("cid"), col("vec")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      .toSeq.sortBy(x => (x._1, x._2))
    (load(CoarseMarker), load(BooksMarker))
  }

  /** The persisted coordinate permutation, None on unrotated indexes. */
  private def storedPerm(idx: DataFrame): Option[Seq[Int]] = {
    val rows = idx.where(col("file_path") === PermMarker)
      .select(col("sub"), col("cid")).collect()
      .map(r => (r.getInt(0), r.getLong(1).toInt)).toSeq.sortBy(_._1)
    if (rows.isEmpty) None else Some(rows.map(_._2))
  }

  private def maybePermute(rows: DataFrame, vecCol: String,
      perm: Option[Seq[Int]]): DataFrame =
    perm.map(p => rows.withColumn(vecCol, Pq.permute(col(vecCol), p)))
      .getOrElse(rows)

  /** Per-row (cell, codes, qerr) under the given quantizers — the
    * EXACT expressions of [[Pq.ivfPqTopK]]'s corpus pass (round-4
    * squared-L2, lowest-cid ties), plus the reconstruction error the
    * drift gauge reads. Input rows carry (vecCol, passthrough...). */
  private def encodeRows(rows: DataFrame, vecCol: String,
      coarse: Seq[(Int, Long, Array[Double])],
      books: Seq[(Int, Long, Array[Double])]): DataFrame = {
    val m = books.map(_._1).max + 1
    val coarseDists = Pq.bookDists(col(vecCol), coarse, 0)
    val codeCols = (0 until m).map { j =>
      val dists = Pq.bookDists(col(vecCol), books, j)
      array_position(dists, array_min(dists)).cast("int")
    }
    val recon = (0 until m).map { j =>
      element_at(Pq.bookLit(books, j), element_at(col("codes"), j + 1))
    }.reduce(concat(_, _))
    rows
      .withColumn("cell",
        array_position(coarseDists, array_min(coarseDists)).cast("int"))
      .withColumn("codes", array(codeCols: _*))
      .withColumn("qerr",
        round(Pq.l2sq(Pq.asDouble(col(vecCol)), recon), 4))
      .drop(vecCol)
  }

  /** Encoded entries for `files`, in sidecar row shape. */
  private def scanEntries(log: DeltaLog, snap: Snapshot, files: Seq[AddFile],
      idCol: String, vecCol: String,
      coarse: Seq[(Int, Long, Array[Double])],
      books: Seq[(Int, Long, Array[Double])],
      perm: Option[Seq[Int]]): DataFrame =
    encodeRows(
      maybePermute(
        IncrementalSidecar.physicalRead(log, snap, files, Seq(idCol, vecCol)),
        vecCol, perm),
      vecCol, coarse, books)
      .select(col("file_path"), col(idCol), col("cell"), col("codes"),
        col("qerr"),
        lit(null).cast("int").as("sub"), lit(null).cast("long").as("cid"),
        lit(null).cast("array<double>").as("vec"),
        lit(snap.version).as("version"))

  private def quantizerRows(log: DeltaLog, snap: Snapshot, idCol: String,
      coarse: Seq[(Int, Long, Array[Double])],
      books: Seq[(Int, Long, Array[Double])], trainedVersion: Long,
      perm: Option[Seq[Int]]): DataFrame = {
    import log.spark.implicits._
    val idType = snap.schema(idCol).dataType
    (coarse.map { case (j, cid, cv) => (CoarseMarker, j, cid, Some(cv.toSeq)) } ++
      books.map { case (j, cid, cv) => (BooksMarker, j, cid, Some(cv.toSeq)) } ++
      perm.toSeq.flatMap(_.zipWithIndex.map { case (oldDim, newPos) =>
        (PermMarker, newPos, oldDim.toLong, Option.empty[Seq[Double]]) }))
      .toDF("file_path", "sub", "cid", "vec")
      .select(col("file_path"), lit(null).cast(idType).as(idCol),
        lit(null).cast("int").as("cell"),
        lit(null).cast("array<int>").as("codes"),
        lit(null).cast("double").as("qerr"),
        col("sub"), col("cid"), col("vec"),
        lit(trainedVersion).as("version"))
  }

  /** The inverted-list layout: cell-range-partitioned + cell-sorted so
    * a probe's pushed `cell IN (...)` prunes row groups; the quantizer
    * rows (null cell) sort into the first partition, noise-free. */
  private val layout: DataFrame => DataFrame =
    IncrementalSidecar.sortedBy("cell")

  /** Train both quantizers (deterministic md5-anchored k-means,
    * [[Pq.trainCodebooks]]) on the current corpus and encode every
    * coverable file. Returns the indexed version.
    *
    * `rotate = true` trains an OPQ-surrogate coordinate permutation
    * first ([[Pq.trainPermutation]] — one aggregation pass) and builds
    * the whole index in permuted space: quantizers train on permuted
    * vectors, entries store permuted-space codes, the permutation
    * persists as `__perm` marker rows so search/refresh/retrain apply
    * it transparently. Worth it when corpus variance concentrates in
    * few dimensions (recall at fixed m improves); a no-op permutation
    * costs one extra array projection per encoded/queried row. */
  def build(log: DeltaLog, idCol: String, vecCol: String,
      kCoarse: Int = 8, m: Int = 4, k: Int = 16, iterations: Int = 2,
      rotate: Boolean = false): Long =
    IncrementalSidecar.build(log, kind, Seq(idCol, vecCol),
      IncrementalSidecar.validate(_, Seq(idCol, vecCol)), layout,
      Map("kCoarse" -> kCoarse.toString, "m" -> m.toString,
        "k" -> k.toString, "iterations" -> iterations.toString,
        "rotate" -> (if (rotate) "1" else "0"))) { (snap, files) =>
      val corpus = snap.read()
      val perm =
        if (rotate) Some(Pq.trainPermutation(corpus, vecCol, m))
        else None
      val trainCorpus = maybePermute(corpus, vecCol, perm)
      // both quantizers in ONE shared job chain (identical results to
      // two trainCodebooks calls — the training is job-overhead-bound)
      val Seq(coarse, books) = Pq.trainCodebooksMulti(trainCorpus, idCol,
        vecCol, Seq((1, kCoarse), (m, k)), iterations = iterations)
      quantizerRows(log, snap, idCol, coarse, books, snap.version, perm)
        .unionByName(
          scanEntries(log, snap, files, idCol, vecCol, coarse, books, perm))
    }

  /** Incrementally extend the index ([[IncrementalSidecar.refresh]]):
    * encode ONLY uncovered coverable files under the PERSISTED
    * quantizers, keep surviving entries verbatim, drop entries of
    * departed files; compaction rewrites carry (cell, codes, qerr)
    * verbatim via a narrow id read, so the drift gauge sees only
    * genuinely-new rows. Idle refresh publishes nothing. Routes to a
    * full retraining [[build]] when the drift gauge trips (scaladoc
    * above; a negative `driftThreshold` is refused), reusing the
    * ORIGINAL build's (kCoarse, m, k, iterations, rotate) from the
    * sidecar `_meta` — unless `deferRebuild` (the write-path-hook
    * posture), which logs the drift loudly and takes the incremental
    * path; an explicit user REFRESH picks the retrain up. Returns the
    * indexed version. */
  def refresh(log: DeltaLog, idCol: String, vecCol: String,
      driftThreshold: Double = 1.0,
      deferRebuild: Boolean = false): Long =
    IncrementalSidecar.refresh(log, kind, Seq(idCol, vecCol),
      validate = IncrementalSidecar.validate(_, Seq(idCol, vecCol)),
      build = () => build(log, idCol, vecCol),
      scan = (snap, idx, files) => {
        val (coarse, books) = storedQuantizers(idx)
        scanEntries(log, snap, files, idCol, vecCol, coarse, books,
          storedPerm(idx))
      },
      remap = IncrementalSidecar.remapById(log, kind, idCol),
      layout = layout,
      drift = Some(IncrementalSidecar.Drift("qerr", driftThreshold,
        (oldMean, newMean) => newMean > oldMean * (1.0 + driftThreshold),
        deferRebuild,
        (idx, params) => {
          // stored quantizer shapes are the fallback for a param-less
          // `_meta`; a rotated index retrains rotated (fresh
          // permutation for the drifted distribution)
          lazy val (coarse, books) = storedQuantizers(idx)
          val m = params.get("m").flatMap(_.toIntOption)
            .getOrElse(books.map(_._1).max + 1)
          build(log, idCol, vecCol,
            kCoarse = params.get("kCoarse").flatMap(_.toIntOption)
              .getOrElse(coarse.size),
            m = m,
            k = params.get("k").flatMap(_.toIntOption)
              .getOrElse(books.size / m),
            iterations = params.get("iterations")
              .flatMap(_.toIntOption).getOrElse(2),
            rotate = params.get("rotate")
              .map(_ == "1").getOrElse(storedPerm(idx).nonEmpty))
        })))

  /** ANN top-k THROUGH the index: per query, rank its nprobe coarse
    * cells ([[Pq.probeCells]] against the persisted coarse book), read
    * ONLY those cells' code entries (pushed `cell IN` over the
    * cell-sorted sidecar; uncovered/DV'd active files encoded live
    * against the persisted quantizers), reconstruct each candidate
    * once, rank by asymmetric distance with the operator path's exact
    * rounding and tie-breaks. Output: (query_id, neighbor_id, adist,
    * rnk) — [[Pq.ivfPqTopK]]'s schema, row-identical to it given the
    * same quantizers. No index → refuses loudly.
    *
    * `rerankTopC` > 0 adds an EXACT re-rank tail: the top-C candidates
    * by ADC (per query) have their RAW vectors read back from the
    * table — a narrow id-pushdown read bounded by |queries|·C rows,
    * never a corpus scan — and the final top-k ranks by exact squared
    * L2 (round-4, id tie-break). Output then is (query_id,
    * neighbor_id, dist, rnk) with TRUE distances: ADC quantization
    * error cannot reorder the returned neighbors. With C at least the
    * probed cells' population the result equals the exact brute-force
    * top-k over the probed cells by construction; at bounded C it
    * equals it whenever the ADC top-C contains the exact top-k (the
    * standard IVF-PQ re-rank contract — Jégou et al. §V). */
  def search(log: DeltaLog, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 2,
      rerankTopC: Int = 0): DataFrame = {
    val spark = log.spark
    val snap = log.snapshot
    IncrementalSidecar.validate(snap, Seq(idCol, vecCol))
    val idx = entries(log, idCol, vecCol).getOrElse(
      throw new IllegalStateException(
        s"no IVF-PQ index on ${log.tablePath} for ($idCol, $vecCol): run " +
          "GRAFT CREATE IVFPQ INDEX first (or use Pq.ivfPqTopK)"))
    val (coarse, books) = storedQuantizers(idx)
    val perm = storedPerm(idx)
    val m = books.map(_._1).max + 1
    // query side: probe cells + raw-vector norms ([[Pq.ivfPqTopK]]'s
    // q). A rotated index stores everything in permuted space, so the
    // queries permute ONCE here — distances are unchanged as
    // distances (L2 is permutation-invariant)
    val pQueries = maybePermute(queries, vecCol, perm)
    val q = pQueries
      .select(col(idCol).as("query_id"), Pq.asDouble(col(vecCol)).as("__qv"))
      .dropDuplicates("query_id")
      .withColumn("__qn2", VectorExpressions.dot(col("__qv"), col("__qv")))
      .join(Pq.probeCells(pQueries, idCol, vecCol, coarse, nprobe),
        Seq("query_id"))
    // the probed cells, collected (≤ kCoarse values — the coarse book
    // already lives on the driver) so the index scan gets a pushed IN
    val probedCells = q.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    // covered entries of still-active DV-free files only — planned
    // from the generation's coverage summary, not an entry-relation job
    val (usable, liveFiles, _) = IncrementalSidecar.probeCoverage(
      log, snap, kind, Seq(idCol, vecCol), idx)
    import spark.implicits._
    val recon = (0 until m).map { j =>
      element_at(Pq.bookLit(books, j), element_at(col("codes"), j + 1))
    }.reduce(concat(_, _))
    val indexed = idx
      .where(col("cell").isin(probedCells: _*)) // pushed: cell-sorted files
      .join(broadcast(usable.toDF("file_path")), Seq("file_path"), "left_semi")
      .select(col(idCol).as("neighbor_id"), col("cell"), col("codes"))
    val live =
      if (liveFiles.isEmpty) indexed.limit(0)
      else {
        // LOGICAL read, not the raw-parquet build primitive: these
        // files carry DVs (or are not yet indexed) — a physical read
        // would resurface deleted vectors as phantom neighbors
        val liveRows = maybePermute(
          snap.readFiles(liveFiles).select(col(idCol), col(vecCol)),
          vecCol, perm)
        encodeRows(liveRows, vecCol, coarse, books)
          .where(col("cell").isin(probedCells: _*))
          .select(col(idCol).as("neighbor_id"), col("cell"), col("codes"))
      }
    // widen before the per-pair ADC loop (see Pq.ivfPqTopK's note:
    // parallelism + a small JIT-able pair stage; no-op at scale)
    val cand = graft.operators.Adaptive.widen(indexed.unionByName(live))
      .withColumn("__rv", recon)
      .withColumn("__rn2", VectorExpressions.dot(col("__rv"), col("__rv")))
    // NO dedup on (query, neighbor): a same-id row in two files is two
    // candidate rows in Pq.ivfPqTopK too — deduping would pick one
    // nondeterministically and break the row-identical guarantee; the
    // indexed/live sides are disjoint by construction (covered vs not)
    val adc = cand.join(broadcast(q.withColumnRenamed("cell", "qcell")),
        col("cell") === col("qcell") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("__qn2") -
          lit(2.0) * VectorExpressions.dot(col("__qv"), col("__rv")) +
          col("__rn2"), 4).as("adist"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("adist"), col("neighbor_id"))))
    if (rerankTopC <= 0) adc.where(col("rnk") <= k)
    else {
      // exact re-rank tail: the ADC top-C candidate set (per query),
      // then ONE narrow read of just those ids' raw vectors. The id
      // list is |queries|·C-bounded, so it collects to the driver and
      // pushes into the scan as an IN filter (stats-pruned); beyond
      // the literal cap the filter applies as a join (same rows, no
      // row-group skip).
      val topC = adc.where(col("rnk") <= math.max(k, rerankTopC))
        .select("query_id", "neighbor_id").localCheckpoint()
      val candIds = topC.select(col("neighbor_id")).distinct()
        .limit(100001).collect().map(_.get(0))
      // permuted like __qv so the exact-distance fold walks both
      // vectors in the same coordinate order (the value is the true
      // distance either way — permutation-invariant)
      val corpus = maybePermute(snap.read(), vecCol, perm).select(
        col(idCol).as("neighbor_id"),
        Pq.asDouble(col(vecCol)).as("__nv"))
      val vecsOf =
        if (candIds.length <= 100000)
          corpus.where(col("neighbor_id").isin(candIds.toIndexedSeq: _*))
        else corpus.join(
          topC.select(col("neighbor_id")).distinct(), Seq("neighbor_id"))
      topC.join(vecsOf, Seq("neighbor_id"))
        .join(broadcast(q.select(col("query_id"), col("__qv")).distinct()),
          Seq("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(Pq.l2sq(col("__qv"), col("__nv")), 4).as("dist"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id")
            .orderBy(col("dist"), col("neighbor_id"))))
        .where(col("rnk") <= k)
    }
  }
}
