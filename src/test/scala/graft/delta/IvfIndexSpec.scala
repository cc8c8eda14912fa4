package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic synthetic embeddings: 3 loose clusters in 6-D
  private def vec(i: Long): Seq[Double] = {
    val base = (i % 3).toInt
    (0 until 6).map(j =>
      (if (j % 3 == base) 4.0 else 0.5) + ((i * 31 + j * 7) % 5) * 0.1)
  }

  private def rows(from: Long, until: Long) =
    (from until until).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def scratch(): DeltaLog = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfidx_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      rows(0, 48).repartition(4, col("vec_id")))
    log
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getInt(3))).toSet

  test("indexed search ≡ ivfTopK under the same persisted quantizer") {
    val log = scratch()
    IvfIndex.build(log, "vec_id", "embedding", k = 4)
    val queries = rows(0, 48).where(col("vec_id") % 7 === 0)
    val viaIdx = IvfIndex.search(log, queries, "vec_id", "embedding",
      k = 3, nprobe = 2)
    val cents = IvfIndex.centroids(log, "vec_id", "embedding").get
    val direct = graft.operators.Similarity.ivfTopK(
      log.snapshot.read(), queries, cents, "vec_id", "embedding",
      k = 3, nprobe = 2)
    assert(asSet(viaIdx) == asSet(direct) && viaIdx.count() > 0,
      s"indexed ${asSet(viaIdx).size} vs direct ${asSet(direct).size}")
  }

  test("refresh assigns ONLY uncovered files; quantizer untouched; search exact") {
    val log = scratch()
    IvfIndex.build(log, "vec_id", "embedding", k = 4)
    def fileVersions() = IvfIndex.entries(log, "vec_id", "embedding").get
      .where(col("file_path") =!= "__centroids")
      .select("file_path", "version").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = fileVersions()
    val centsBefore = IvfIndex.centroids(log, "vec_id", "embedding").get
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    TransactionWriter.append(log, rows(48, 60).repartition(2, col("vec_id")))
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    IvfIndex.refresh(fresh, "vec_id", "embedding")
    val after = fileVersions()
    before.foreach { case (p, v) =>
      assert(after.get(p).contains(v), s"entry $p was rebuilt or lost") }
    assert(after.size > before.size, "appended files not covered")
    val centsAfter = IvfIndex.centroids(log, "vec_id", "embedding").get
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(centsAfter == centsBefore, "refresh must never retrain the quantizer")
    // search over the grown corpus still matches the operator path
    val queries = rows(0, 60).where(col("vec_id") % 7 === 0)
    val viaIdx = IvfIndex.search(fresh, queries, "vec_id", "embedding", 3, 2)
    val direct = graft.operators.Similarity.ivfTopK(
      fresh.snapshot.read(), queries,
      IvfIndex.centroids(log, "vec_id", "embedding").get,
      "vec_id", "embedding", 3, 2)
    assert(asSet(viaIdx) == asSet(direct))
    // idle refresh publishes nothing
    val ptr = new org.apache.hadoop.fs.Path(
      IvfIndex.indexDir(log, "vec_id", "embedding"), "_current")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen() = { val in = fs.open(ptr)
      try scala.io.Source.fromInputStream(in).mkString finally in.close() }
    val g0 = gen()
    IvfIndex.refresh(DeltaLog.forPath(spark, log.tablePath), "vec_id", "embedding")
    assert(gen() == g0, "idle refresh must not publish a new generation")
  }

  test("a DV'd file leaves coverage: deleted vectors stop being neighbors") {
    val log = scratch()
    IvfIndex.build(log, "vec_id", "embedding", k = 4)
    // vec 3 shares cluster (i%3==0) with query 0 — delete it via DV
    Mutations.deleteWithDv(log, col("vec_id") === 3L)
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    val queries = rows(0, 48).where(col("vec_id") === 0L)
    val viaIdx = IvfIndex.search(fresh, queries, "vec_id", "embedding", 10, 4)
    assert(!viaIdx.select("neighbor_id").as[Long].collect().contains(3L),
      "a DV-deleted vector must not resurface as a neighbor")
    val direct = graft.operators.Similarity.ivfTopK(
      fresh.snapshot.read(), queries,
      IvfIndex.centroids(log, "vec_id", "embedding").get,
      "vec_id", "embedding", 10, 4)
    assert(asSet(viaIdx) == asSet(direct))
  }

  test("quantizer drift gauge: a shifted ingest routes to a retraining rebuild") {
    // the appended vectors point away from every trained centroid
    // (alternating signs vs the clusters' positive directions), so
    // their mean assignment cosine collapses — the gauge must notice
    def shifted() = (100L until 124L).map(i =>
      (i, (0 until 6).map(j =>
        (if (j % 2 == 0) 1.0 else -1.0) * (3.0 + (i + j) % 3))))
      .toDF("vec_id", "embedding")
    def centroidsOf(log: DeltaLog) =
      IvfIndex.centroids(log, "vec_id", "embedding").get
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // FORCED incremental (threshold can never trigger): quantizer kept,
    // drifted files clamp into ill-fitting cells
    val forced = scratch()
    IvfIndex.build(forced, "vec_id", "embedding", k = 4)
    val cForced = centroidsOf(forced)
    TransactionWriter.append(forced, shifted().repartition(2, col("vec_id")))
    IvfIndex.refresh(DeltaLog.forPath(spark, forced.tablePath),
      "vec_id", "embedding", driftThreshold = 10.0)
    assert(centroidsOf(forced) == cForced,
      "forced-incremental refresh must keep the quantizer")
    // DEFAULT gauge: the same ingest routes to a full rebuild — the
    // quantizer retrains and every file is re-assigned at the new
    // version (the rebuild observable)
    val routed = scratch()
    IvfIndex.build(routed, "vec_id", "embedding", k = 4)
    val cBefore = centroidsOf(routed)
    TransactionWriter.append(routed, shifted().repartition(2, col("vec_id")))
    val fresh = DeltaLog.forPath(spark, routed.tablePath)
    val v = IvfIndex.refresh(fresh, "vec_id", "embedding")
    assert(centroidsOf(routed) != cBefore,
      "drift past the threshold must retrain the quantizer")
    val versions = IvfIndex.entries(routed, "vec_id", "embedding").get
      .where(col("file_path") =!= "__centroids")
      .select("version").distinct().collect().map(_.getLong(0)).toSet
    assert(versions == Set(v), s"rebuild must re-assign everything, got $versions")
    // and search through the retrained index still matches the operator
    val queries = rows(0, 4)
    val viaIdx = IvfIndex.search(fresh, queries, "vec_id", "embedding", 3, 2)
    val direct = graft.operators.Similarity.ivfTopK(
      fresh.snapshot.read(), queries,
      IvfIndex.centroids(routed, "vec_id", "embedding").get,
      "vec_id", "embedding", 3, 2)
    assert(asSet(viaIdx) == asSet(direct))
  }

  test("a negative driftThreshold is refused, even by an idle refresh") {
    val log = scratch()
    IvfIndex.build(log, "vec_id", "embedding", k = 4)
    val err = intercept[IllegalArgumentException] {
      IvfIndex.refresh(DeltaLog.forPath(spark, log.tablePath),
        "vec_id", "embedding", driftThreshold = -1.0)
    }
    assert(err.getMessage.contains("driftThreshold"))
  }

  test("search without an index refuses loudly") {
    val log = scratch()
    val err = intercept[IllegalStateException] {
      IvfIndex.search(log, rows(0, 4), "vec_id", "embedding", 3)
    }
    assert(err.getMessage.contains("CREATE IVF INDEX"))
  }
}
