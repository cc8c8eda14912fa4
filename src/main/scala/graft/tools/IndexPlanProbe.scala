package graft.tools

import org.apache.spark.sql.functions._

/** Index-planning economics probe: the refresh/search planning step —
  * "which files does the sidecar cover, and up to which version" —
  * must NOT run a job over the corpus-row-sized entry relation per
  * call. Since round 11 each generation persists a `_coverage` summary
  * ([[graft.delta.Sidecar.readCoverage]]; file-count-sized, memoized
  * per immutable generation), and planning reads that.
  *
  * A/B at growing corpus sizes, same file count:
  *  - `summary` — the production path ([[graft.delta.IncrementalSidecar
  *    .storedSummaryFull]] via `_coverage`): must stay ~FLAT as rows grow;
  *  - `cached`  — the second call on the same generation: ~zero;
  *  - `legacy`  — the pre-summary derivation (distinct+max over the
  *    entry relation, forced by deleting `_coverage`): grows with the
  *    corpus — the cost every refresh AND every search used to pay.
  *
  * Self-checking: exits non-zero when the summary path scales with
  * rows or disagrees with the legacy derivation. */
object IndexPlanProbe {
  def main(args: Array[String]): Unit = {
    val maxFactor = if (args.nonEmpty) args(0).toInt else 4
    val spark = graft.GraftSession.local()
    import graft.delta.{DeltaLog, LshIndex, IncrementalSidecar, TransactionWriter}
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    var failures = 0
    val summaryTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val legacyTimes = scala.collection.mutable.ArrayBuffer.empty[Double]

    def docs(n: Long) =
      spark.range(0, n).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 40).map(j =>
          concat(lit("w"), ((col("id") * (31 + j) + j * 7919) % 4096)
            .cast("string"))): _*).as("text"))

    var factor = 1
    while (factor <= maxFactor) {
      val n = 60000L * factor
      val dir = java.nio.file.Files.createTempDirectory("graft_plan_")
        .resolve("t").toString
      val log = DeltaLog.forPath(spark, dir)
      TransactionWriter.overwrite(log, docs(n).repartition(32, col("doc_id")))
      LshIndex.build(log, "doc_id", "text")
      val idxDir = LshIndex.indexDir(log, "doc_id", "text")
      val idx = LshIndex.entries(log, "doc_id", "text").get
      val ((sPaths, sVer, _), tSummary) = t(
        IncrementalSidecar.storedSummaryFull(spark, idxDir, idx, Set.empty))
      val (_, tCached) = t(
        IncrementalSidecar.storedSummaryFull(spark, idxDir, idx, Set.empty))
      // force the legacy derivation: drop the generation's _coverage
      val base = new org.apache.hadoop.fs.Path(idxDir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(base).filter(_.isDirectory).foreach { g =>
        fs.delete(new org.apache.hadoop.fs.Path(g.getPath, "_coverage"), false)
      }
      graft.delta.Sidecar.invalidateCoverage(spark, idxDir)
      val ((lPaths, lVer, _), tLegacy) = t(
        IncrementalSidecar.storedSummaryFull(spark, idxDir, idx, Set.empty))
      if (sPaths.toSet != lPaths.toSet || sVer != lVer) {
        failures += 1
        println(s"FAIL n=$n: summary (${sPaths.size}, $sVer) != " +
          s"legacy (${lPaths.size}, $lVer)")
      }
      summaryTimes += tSummary; legacyTimes += tLegacy
      println(f"n=$n%8d files=${sPaths.size}%4d  summary ${tSummary * 1000}%7.1fms" +
        f"  cached ${tCached * 1000}%7.1fms  legacy ${tLegacy * 1000}%7.1fms")
      factor *= 2
    }
    // shape: the summary path must not scale with the corpus (file
    // count is constant across sizes), while legacy tracks it
    if (summaryTimes.size >= 2) {
      val growth = summaryTimes.last / math.max(0.001, summaryTimes.head)
      if (growth > 3.0) { failures += 1
        println(f"FAIL: summary planning grew ${growth}%.1fx across sizes") }
      if (summaryTimes.last >= legacyTimes.last) { failures += 1
        println(f"FAIL: summary ${summaryTimes.last}%.3fs not under " +
          f"legacy ${legacyTimes.last}%.3fs at the largest size") }
    }
    spark.stop()
    if (failures > 0) { println(s"IndexPlanProbe: $failures FAILURES"); sys.exit(1) }
    else println("IndexPlanProbe: all checks passed")
  }
}
