package graft.tools

import org.apache.spark.sql.functions._

/** Compaction-remap economics probe: at growing corpus sizes, build
  * the LSH and IVF-PQ sidecars, OPTIMIZE the table (dataChange=false —
  * every file path changes, no row changes), REFRESH, and verify the
  * remap claim — REFRESH AFTER COMPACTION COSTS O(id bytes), NOT
  * O(kernel over all data). Observables per size:
  *
  *  - the sidecar itself: the (id, content, version) multiset is
  *    UNCHANGED through compact+refresh (remap carries source scan
  *    versions; a kernel rescan would stamp the refresh version);
  *  - wall-clock + task input bytes: the remap refresh vs a FORCED
  *    full rebuild — the refresh must stay well under the rebuild as
  *    the corpus grows (the kernels are the dominant cost);
  *  - correctness anchor: dedup/search through the remapped index
  *    equals the direct operator.
  *
  * Self-checking: exits non-zero if any invariant fails. */
object RemapProbe {
  def main(args: Array[String]): Unit = {
    val maxFactor = if (args.nonEmpty) args(0).toInt else 4
    val spark = graft.GraftSession.local()
    import graft.delta.{DeltaLog, LshIndex, PqIndex, Maintenance, TransactionWriter}
    val shims = org.apache.spark.sql.graftshims.SqlShims
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    var failures = 0
    val lshTimes = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val pqTimes = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]

    // ~120 tokens/doc: realistic enough that the shingle+minhash
    // kernel (the thing remap avoids) dominates the rebuild — at
    // 20-token toy docs the kernel is cheaper than the sidecar
    // rewrite's fixed cost and the comparison is meaningless
    def docs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 120).map(j =>
          concat(lit("w"), ((col("id") * (31 + j) + j * 7919) % 4096)
            .cast("string"))): _*).as("text"))

    def vecs(from: Long, until: Long) =
      spark.range(from, until).select(col("id").as("vec_id"),
        array((0 until 8).map(j =>
          (((col("id") * (17 + j) + j * 101) % 1000) / lit(250.0)) -
            lit(2.0)): _*).as("embedding"))

    var factor = 1
    while (factor <= maxFactor) {
      val n = 30000L * factor

      // ---- LSH ------------------------------------------------------------
      val ldir = java.nio.file.Files.createTempDirectory("graft_rprobe_l_")
        .resolve("t").toString
      val llog = DeltaLog.forPath(spark, ldir)
      TransactionWriter.overwrite(llog,
        docs(0, n).repartition(16, col("doc_id")))
      LshIndex.build(llog, "doc_id", "text")
      val before = LshIndex.entries(llog, "doc_id", "text").get
        .select("doc_id", "hs", "ks", "version").localCheckpoint()
      Maintenance.compactSmall(llog, targetFileBytes = 1L << 30,
        minSmallFiles = 2)
      val lfresh = DeltaLog.forPath(spark, ldir)
      var bRemap = 0L
      val (_, tRemap) = t {
        bRemap = shims.measureBytesRead(spark.sparkContext) {
          LshIndex.refresh(lfresh, "doc_id", "text"); ()
        }
      }
      val after = LshIndex.entries(lfresh, "doc_id", "text").get
        .select("doc_id", "hs", "ks", "version").localCheckpoint()
      val carried = after.exceptAll(before).isEmpty &&
        before.exceptAll(after).isEmpty
      var bRebuild = 0L
      val (_, tRebuild) = t {
        bRebuild = shims.measureBytesRead(spark.sparkContext) {
          LshIndex.build(lfresh, "doc_id", "text"); ()
        }
      }
      if (!carried) { failures += 1
        println(s"FAIL lsh n=$n: entries not carried verbatim") }
      lshTimes += ((n, tRemap, tRebuild))
      println(f"lsh    n=$n%7d  remap ${tRemap}%6.2fs ${bRemap / 1e6}%8.1fMB" +
        f"  rebuild ${tRebuild}%6.2fs ${bRebuild / 1e6}%8.1fMB" +
        f"  carried=$carried")

      // ---- IVF-PQ ---------------------------------------------------------
      val pdir = java.nio.file.Files.createTempDirectory("graft_rprobe_p_")
        .resolve("t").toString
      val plog = DeltaLog.forPath(spark, pdir)
      TransactionWriter.overwrite(plog,
        vecs(0, n).repartition(16, col("vec_id")))
      PqIndex.build(plog, "vec_id", "embedding")
      val pBefore = PqIndex.entries(plog, "vec_id", "embedding").get
        .where(!col("file_path").isin("__coarse", "__books"))
        .select("vec_id", "cell", "codes", "qerr", "version").localCheckpoint()
      Maintenance.compactSmall(plog, targetFileBytes = 1L << 30,
        minSmallFiles = 2)
      val pfresh = DeltaLog.forPath(spark, pdir)
      var pbRemap = 0L
      val (_, ptRemap) = t {
        pbRemap = shims.measureBytesRead(spark.sparkContext) {
          PqIndex.refresh(pfresh, "vec_id", "embedding"); ()
        }
      }
      val pAfter = PqIndex.entries(pfresh, "vec_id", "embedding").get
        .where(!col("file_path").isin("__coarse", "__books"))
        .select("vec_id", "cell", "codes", "qerr", "version").localCheckpoint()
      val pCarried = pAfter.exceptAll(pBefore).isEmpty &&
        pBefore.exceptAll(pAfter).isEmpty
      var pbRebuild = 0L
      val (_, ptRebuild) = t {
        pbRebuild = shims.measureBytesRead(spark.sparkContext) {
          PqIndex.build(pfresh, "vec_id", "embedding"); ()
        }
      }
      if (!pCarried) { failures += 1
        println(s"FAIL ivfpq n=$n: entries not carried verbatim") }
      pqTimes += ((n, ptRemap, ptRebuild))
      println(f"ivfpq  n=$n%7d  remap ${ptRemap}%6.2fs ${pbRemap / 1e6}%8.1fMB" +
        f"  rebuild ${ptRebuild}%6.2fs ${pbRebuild / 1e6}%8.1fMB" +
        f"  carried=$pCarried")

      factor *= 2
    }
    // economics shape, judged across sizes (a per-size time comparison
    // is fixed-cost noise at the smallest corpora): at the LARGEST
    // size the remap must beat the rebuild, and the remap must stay
    // ~flat while the corpus grew (its cost is a sidecar rewrite, not
    // a kernel pass)
    for ((name, ts) <- Seq(("lsh", lshTimes.toSeq), ("ivfpq", pqTimes.toSeq))
        if ts.size >= 2) {
      val (nL, remapL, rebuildL) = ts.last
      if (remapL >= rebuildL) { failures += 1
        println(f"FAIL $name: at n=$nL remap $remapL%.2fs not under " +
          f"rebuild $rebuildL%.2fs") }
      val growth = remapL / math.max(0.05, ts.head._2)
      val corpusGrowth = nL.toDouble / ts.head._1
      if (growth > corpusGrowth / 2) { failures += 1
        println(f"FAIL $name: remap grew ${growth}%.1fx while corpus grew " +
          f"${corpusGrowth}%.0fx — not flat") }
    }
    spark.stop()
    if (failures > 0) {
      println(s"RemapProbe: $failures FAILURES"); sys.exit(1)
    } else println("RemapProbe: all checks passed")
  }
}
