package graft.tools

import org.apache.spark.sql.functions._

/** Index-sidecar economics probe (LSH + IVF): at growing corpus sizes,
  * build the index, append a fixed 10% delta, refresh, and verify the
  * claim the sidecars make — REFRESH COST TRACKS THE INGEST, NOT THE
  * CORPUS. Two observables per size:
  *
  *  - the sidecar itself: entries of pre-existing files keep their
  *    original scan `version` verbatim (covered files were not
  *    re-read) and exactly the delta files gain entries;
  *  - wall-clock: the refresh stays ~flat as the base grows while a
  *    full rebuild tracks the table.
  *
  * Plus the correctness anchor at every size: dedup/search THROUGH the
  * refreshed index equals the direct operator on the grown corpus.
  * Self-checking: exits non-zero if any invariant fails. */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val maxFactor = if (args.nonEmpty) args(0).toInt else 4
    val spark = graft.GraftSession.local()
    // this probe MEASURES the two-phase candidate-bounded probe, so
    // disable the small-corpus shortcut that would route the 30k run
    // through the single-pass shape and skew the bytes ratio
    spark.conf.set("spark.graft.lsh.probeTwoPhaseMinRows", "0")
    import spark.implicits._
    import graft.delta.{DeltaLog, LshIndex, IvfIndex, PqIndex, TransactionWriter}
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    var failures = 0

    // deterministic text: ~20 tokens/doc drawn from a 4k vocabulary,
    // ~0.5% of batch docs near-duplicating a prior doc
    def docs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 20).map(j =>
          concat(lit("w"), ((col("id") * (31 + j) + j * 7919) % 4096)
            .cast("string"))): _*).as("text"))

    def vecs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((0 until 8).map(j =>
          (((col("id") * (17 + j) + j * 101) % 1000) / lit(250.0)) -
            lit(2.0)): _*).as("embedding"))

    val lshProbeBytes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var factor = 1
    while (factor <= maxFactor) {
      val n = 30000L * factor
      val delta = n / 10

      // ---- LSH ------------------------------------------------------------
      val ldir = java.nio.file.Files.createTempDirectory("graft_iprobe_l_")
        .resolve("t").toString
      val llog = DeltaLog.forPath(spark, ldir)
      TransactionWriter.overwrite(llog,
        docs(0, n).repartition(16, col("doc_id")))
      val (_, tBuild) = t(LshIndex.build(llog, "doc_id", "text"))
      val before = LshIndex.entries(llog, "doc_id", "text").get
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      TransactionWriter.append(llog,
        docs(n, n + delta).repartition(2, col("doc_id")))
      val lfresh = DeltaLog.forPath(spark, ldir)
      val (_, tRefresh) = t(LshIndex.refresh(lfresh, "doc_id", "text"))
      val after = LshIndex.entries(llog, "doc_id", "text").get
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val verbatim = before.forall { case (p, v) => after.get(p).contains(v) }
      val newFiles = after.size - before.size
      // correctness anchor: indexed dedup ≡ direct on a small batch
      // (the batch contains one exact dup of a prior doc)
      val batch = docs(0, 1).unionByName(
        spark.range(10000000L, 10000050L).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 20).map(j =>
            concat(lit("z"), ((col("id") * (13 + j)) % 997).cast("string"))
          ): _*).as("text")))
      var viaIdx: Seq[Long] = Nil
      // probe IO with a FIXED batch as the corpus grows: the two-phase
      // probe reads hs only for candidate ids (pushed `id IN` over the
      // id-sorted generation), so bytes must grow far slower than the
      // corpus — only the narrow (id, ks) phase tracks corpus size
      val probeBytes = org.apache.spark.sql.graftshims.SqlShims
        .measureBytesRead(spark.sparkContext) {
          viaIdx = LshIndex.dedupBatch(lfresh, batch, "doc_id", "text", 0.5)
            .select("doc_id").as[Long].collect().sorted.toSeq
        }
      lshProbeBytes += ((n, probeBytes))
      val direct = graft.operators.MinHashLsh.dedupAgainstCorpus(
        batch, lfresh.snapshot.read(), "doc_id", "text", 0.5)
        .select("doc_id").as[Long].collect().sorted.toSeq
      // the honest scale metric (local wall-clock is fixed-overhead-
      // bound at these sizes): BYTES the refresh had to scan — the
      // appended files only — vs the whole corpus a rebuild reads
      def ioOf(log: graft.delta.DeltaLog,
          covered: Set[String]): (Long, Long) = {
        val snap = log.snapshot
        val files = snap.planFiles()
          .filterNot(_.deletionVector.exists(_.cardinality > 0))
        val scanned = files.filterNot(f => snap.pathCandidates(f)
          .map(graft.delta.Mutations.normalize).exists(covered))
        (scanned.map(_.size).sum, files.map(_.size).sum)
      }
      val lCovered = before.keySet.map(graft.delta.Mutations.normalize)
      val (lScan, lTotal) = ioOf(lfresh, lCovered)
      val lshOk = verbatim && newFiles == 2 && viaIdx == direct &&
        !viaIdx.contains(0L) && lScan * 5 <= lTotal
      println(f"[indexprobe] LSH rows=$n%8d delta=$delta%7d " +
        f"build=$tBuild%6.2f s refresh=$tRefresh%6.2f s " +
        f"scanMB=${lScan / 1e6}%6.2f of ${lTotal / 1e6}%7.2f " +
        f"(ioRatio=${lTotal.toDouble / math.max(lScan, 1)}%5.1fx) " +
        f"probeMB=${probeBytes / 1e6}%6.2f " +
        f"verbatim=$verbatim newFiles=$newFiles dedupEq=${viaIdx == direct}")
      if (!lshOk) failures += 1

      // ---- IVF ------------------------------------------------------------
      val vdir = java.nio.file.Files.createTempDirectory("graft_iprobe_v_")
        .resolve("t").toString
      val vlog = DeltaLog.forPath(spark, vdir)
      TransactionWriter.overwrite(vlog,
        vecs(0, n).repartition(16, col("vec_id")))
      val (_, tVBuild) = t(IvfIndex.build(vlog, "vec_id", "embedding", k = 16))
      val vBefore = IvfIndex.entries(vlog, "vec_id", "embedding").get
        .where(col("file_path") =!= "__centroids")
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      TransactionWriter.append(vlog,
        vecs(n, n + delta).repartition(2, col("vec_id")))
      val vfresh = DeltaLog.forPath(spark, vdir)
      val (_, tVRefresh) = t(IvfIndex.refresh(vfresh, "vec_id", "embedding"))
      val vAfter = IvfIndex.entries(vlog, "vec_id", "embedding").get
        .where(col("file_path") =!= "__centroids")
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val vVerbatim = vBefore.forall { case (p, v) => vAfter.get(p).contains(v) }
      val queries = vecs(0, n + delta).where(col("vec_id") % 5000 === 3)
      val sIdx = IvfIndex.search(vfresh, queries, "vec_id", "embedding", 3, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val sOp = graft.operators.Similarity.ivfTopK(
        vfresh.snapshot.read(), queries,
        IvfIndex.centroids(vfresh, "vec_id", "embedding").get,
        "vec_id", "embedding", 3, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val vCovered = vBefore.keySet.map(graft.delta.Mutations.normalize)
      val (vScan, vTotal) = ioOf(vfresh, vCovered)
      val ivfOk = vVerbatim && vAfter.size - vBefore.size == 2 &&
        sIdx == sOp && vScan * 5 <= vTotal
      println(f"[indexprobe] IVF rows=$n%8d delta=$delta%7d " +
        f"build=$tVBuild%6.2f s refresh=$tVRefresh%6.2f s " +
        f"scanMB=${vScan / 1e6}%6.2f of ${vTotal / 1e6}%7.2f " +
        f"(ioRatio=${vTotal.toDouble / math.max(vScan, 1)}%5.1fx) " +
        f"verbatim=$vVerbatim newFiles=${vAfter.size - vBefore.size} " +
        f"searchEq=${sIdx == sOp}")
      if (!ivfOk) failures += 1

      // bytes of a sidecar's CURRENT generation (the pointer-named dir)
      def sidecarBytes(dir: String): Long = {
        val base = new org.apache.hadoop.fs.Path(dir)
        val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(new org.apache.hadoop.fs.Path(base, "_current"))
        val gen = try scala.io.Source.fromInputStream(in).mkString.trim
          finally in.close()
        fs.getContentSummary(new org.apache.hadoop.fs.Path(base, gen))
          .getLength
      }

      // ---- IVF-PQ ----------------------------------------------------------
      // same lifecycle on its own table, plus the AT-REST claim: the
      // PQ-coded sidecar over the same corpus is smaller than the
      // raw-vector IVF sidecar (codes, not embeddings — the gap widens
      // linearly with dimension; these probe vectors are only 8-D)
      val pdir = java.nio.file.Files.createTempDirectory("graft_iprobe_p_")
        .resolve("t").toString
      val plog = DeltaLog.forPath(spark, pdir)
      TransactionWriter.overwrite(plog,
        vecs(0, n).repartition(16, col("vec_id")))
      val (_, tPBuild) = t(PqIndex.build(plog, "vec_id", "embedding",
        kCoarse = 16, m = 4, k = 16))
      val pMarkers = Seq("__coarse", "__books")
      val pBefore = PqIndex.entries(plog, "vec_id", "embedding").get
        .where(!col("file_path").isin(pMarkers: _*))
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      TransactionWriter.append(plog,
        vecs(n, n + delta).repartition(2, col("vec_id")))
      val pfresh = DeltaLog.forPath(spark, pdir)
      val (_, tPRefresh) = t(PqIndex.refresh(pfresh, "vec_id", "embedding"))
      val pAfter = PqIndex.entries(plog, "vec_id", "embedding").get
        .where(!col("file_path").isin(pMarkers: _*))
        .select("file_path", "version").distinct()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val pVerbatim = pBefore.forall { case (p, v) => pAfter.get(p).contains(v) }
      val (pqCoarse, pqBooks) = PqIndex
        .quantizers(pfresh, "vec_id", "embedding").get
      val pIdx = PqIndex.search(pfresh, queries, "vec_id", "embedding", 3, 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val pOp = graft.operators.Pq.ivfPqTopK(
        pfresh.snapshot.read(), queries, "vec_id", "embedding",
        pqCoarse, pqBooks, kNeighbors = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val pCovered = pBefore.keySet.map(graft.delta.Mutations.normalize)
      val (pScan, pTotal) = ioOf(pfresh, pCovered)
      val pqBytes = sidecarBytes(PqIndex.indexDir(plog, "vec_id", "embedding"))
      val ivfBytes = sidecarBytes(IvfIndex.indexDir(vlog, "vec_id", "embedding"))
      val pqOk = pVerbatim && pAfter.size - pBefore.size == 2 &&
        pIdx == pOp && pScan * 5 <= pTotal && pqBytes < ivfBytes
      println(f"[indexprobe] PQ  rows=$n%8d delta=$delta%7d " +
        f"build=$tPBuild%6.2f s refresh=$tPRefresh%6.2f s " +
        f"scanMB=${pScan / 1e6}%6.2f of ${pTotal / 1e6}%7.2f " +
        f"(ioRatio=${pTotal.toDouble / math.max(pScan, 1)}%5.1fx) " +
        f"atRestMB=${pqBytes / 1e6}%6.2f vs IVF ${ivfBytes / 1e6}%6.2f " +
        f"(${ivfBytes.toDouble / math.max(pqBytes, 1)}%4.2fx) " +
        f"verbatim=$pVerbatim searchEq=${pIdx == pOp}")
      if (!pqOk) failures += 1

      factor *= 2
    }
    // candidate-bounded probe shape: with a FIXED batch, dedup-probe
    // bytes must grow well under the corpus growth — the wide hs phase
    // is candidate-bounded (pushed id IN over id-sorted row groups);
    // only the narrow (id, ks) bucket phase tracks the corpus
    if (lshProbeBytes.size >= 2) {
      val first = lshProbeBytes.head
      val last = lshProbeBytes.last
      val byteGrowth = last._2.toDouble / math.max(1L, first._2)
      val corpusGrowth = last._1.toDouble / first._1
      println(f"[indexprobe] LSH probe bytes ${first._2 / 1e6}%6.2fMB -> " +
        f"${last._2 / 1e6}%6.2fMB (${byteGrowth}%4.2fx) while corpus " +
        f"grew ${corpusGrowth}%4.2fx")
      if (byteGrowth > corpusGrowth * 0.6) {
        failures += 1
        println(f"[indexprobe] FAIL: probe bytes grew ${byteGrowth}%4.2fx — " +
          "not candidate-bounded")
      }
    }
    println(if (failures == 0) "INDEX PROBE PASSED" else s"$failures FAILED")
    if (failures > 0) sys.exit(1)
  }
}
