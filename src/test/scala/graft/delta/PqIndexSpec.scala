package graft.delta

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class PqIndexSpec extends SparkTestBase {
  import spark.implicits._

  // deterministic synthetic embeddings: 3 loose clusters in 8-D
  // (8 divides into m=4 subspaces of 2)
  private def vec(i: Long): Seq[Double] = {
    val base = (i % 3).toInt
    (0 until 8).map(j =>
      (if (j % 3 == base) 4.0 else 0.5) + ((i * 31 + j * 7) % 5) * 0.1)
  }

  private def rows(from: Long, until: Long) =
    (from until until).map(i => (i, vec(i))).toDF("vec_id", "embedding")

  private def scratch(): DeltaLog = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqidx_")
      .resolve("t").toString
    val log = DeltaLog.forPath(spark, dir)
    TransactionWriter.overwrite(log,
      rows(0, 48).repartition(4, col("vec_id")))
    log
  }

  private def asSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getDouble(2), r.getInt(3))).toSet

  private def booksOf(log: DeltaLog) =
    PqIndex.quantizers(log, "vec_id", "embedding").get match {
      case (coarse, books) =>
        (coarse.map { case (j, c, v) => (j, c, v.toSeq) },
          books.map { case (j, c, v) => (j, c, v.toSeq) })
    }

  test("indexed search ≡ ivfPqTopK under the same persisted quantizers") {
    val log = scratch()
    PqIndex.build(log, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    val queries = rows(0, 48).where(col("vec_id") % 7 === 0)
    val viaIdx = PqIndex.search(log, queries, "vec_id", "embedding",
      k = 3, nprobe = 2)
    val (coarse, books) = PqIndex.quantizers(log, "vec_id", "embedding").get
    val direct = graft.operators.Pq.ivfPqTopK(
      log.snapshot.read(), queries, "vec_id", "embedding",
      coarse, books, kNeighbors = 3, nprobe = 2)
    assert(asSet(viaIdx) == asSet(direct) && viaIdx.count() > 0,
      s"indexed ${asSet(viaIdx).size} vs direct ${asSet(direct).size}")
  }

  test("entries store codes, not vectors — the at-rest economics") {
    val log = scratch()
    PqIndex.build(log, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    val data = PqIndex.entries(log, "vec_id", "embedding").get
      .where(!col("file_path").isin("__coarse", "__books"))
    // every data row: m=4 codes, NO vector payload
    assert(data.where(size(col("codes")) =!= 4 || col("vec").isNotNull)
      .isEmpty, "data entries must carry exactly m codes and a null vec")
    // codes are 1-based codebook positions within [1, k]
    val bad = data.where(exists(col("codes"),
      c => c < 1 || c > 8)).count()
    assert(bad == 0, s"$bad rows with out-of-range codes")
  }

  test("refresh encodes ONLY uncovered files; books untouched; search exact") {
    val log = scratch()
    PqIndex.build(log, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    def fileVersions() = PqIndex.entries(log, "vec_id", "embedding").get
      .where(!col("file_path").isin("__coarse", "__books"))
      .select("file_path", "version").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = fileVersions()
    val booksBefore = booksOf(log)
    TransactionWriter.append(log, rows(48, 60).repartition(2, col("vec_id")))
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    PqIndex.refresh(fresh, "vec_id", "embedding")
    val after = fileVersions()
    before.foreach { case (p, v) =>
      assert(after.get(p).contains(v), s"entry $p was rebuilt or lost") }
    assert(after.size > before.size, "appended files not covered")
    assert(booksOf(log) == booksBefore,
      "refresh must never retrain the quantizers")
    // search over the grown corpus still matches the operator path
    val queries = rows(0, 60).where(col("vec_id") % 7 === 0)
    val viaIdx = PqIndex.search(fresh, queries, "vec_id", "embedding", 3, 2)
    val (coarse, books) = PqIndex.quantizers(log, "vec_id", "embedding").get
    val direct = graft.operators.Pq.ivfPqTopK(
      fresh.snapshot.read(), queries, "vec_id", "embedding",
      coarse, books, 3, 2)
    assert(asSet(viaIdx) == asSet(direct))
    // idle refresh publishes nothing
    val ptr = new org.apache.hadoop.fs.Path(
      PqIndex.indexDir(log, "vec_id", "embedding"), "_current")
    val fs = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def gen() = { val in = fs.open(ptr)
      try scala.io.Source.fromInputStream(in).mkString finally in.close() }
    val g0 = gen()
    PqIndex.refresh(DeltaLog.forPath(spark, log.tablePath), "vec_id", "embedding")
    assert(gen() == g0, "idle refresh must not publish a new generation")
  }

  test("rotated build: permuted-space search ≡ operator path; refresh keeps the perm") {
    val log = scratch()
    PqIndex.build(log, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8,
      rotate = true)
    val perm = PqIndex.permutation(log, "vec_id", "embedding")
      .getOrElse(fail("rotated build must persist a __perm marker"))
    assert(perm.sorted == (0 until 8), s"not an 8-dim permutation: $perm")
    // search THROUGH the rotated index equals the operator path run
    // entirely in permuted space under the same persisted quantizers
    val queries = rows(0, 48).where(col("vec_id") % 7 === 0)
    val viaIdx = PqIndex.search(log, queries, "vec_id", "embedding",
      k = 3, nprobe = 2)
    val (coarse, books) = PqIndex.quantizers(log, "vec_id", "embedding").get
    def permuted(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("embedding",
        graft.operators.Pq.permute(col("embedding"), perm))
    val direct = graft.operators.Pq.ivfPqTopK(
      permuted(log.snapshot.read()), permuted(queries),
      "vec_id", "embedding", coarse, books, kNeighbors = 3, nprobe = 2)
    assert(asSet(viaIdx) == asSet(direct) && viaIdx.count() > 0,
      s"indexed ${asSet(viaIdx).size} vs permuted-direct ${asSet(direct).size}")
    // incremental refresh: old entries verbatim, perm unchanged, new
    // files encoded under the SAME permutation
    def fileVersions() = PqIndex.entries(log, "vec_id", "embedding").get
      .where(!col("file_path").startsWith("__"))
      .select("file_path", "version").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val before = fileVersions()
    TransactionWriter.append(log, rows(48, 60).repartition(2, col("vec_id")))
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    PqIndex.refresh(fresh, "vec_id", "embedding")
    val after = fileVersions()
    before.foreach { case (p, v) =>
      assert(after.get(p).contains(v), s"entry $p was rebuilt or lost") }
    assert(after.size > before.size, "appended files not covered")
    assert(PqIndex.permutation(fresh, "vec_id", "embedding").contains(perm),
      "refresh must carry the permutation verbatim")
    val viaIdx2 = PqIndex.search(fresh, queries, "vec_id", "embedding", 3, 2)
    val direct2 = graft.operators.Pq.ivfPqTopK(
      permuted(fresh.snapshot.read()), permuted(queries),
      "vec_id", "embedding", coarse, books, 3, 2)
    assert(asSet(viaIdx2) == asSet(direct2))
  }

  test("a DV'd file leaves coverage: deleted vectors stop being neighbors") {
    val log = scratch()
    PqIndex.build(log, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    // vec 3 shares cluster (i%3==0) with query 0 — delete it via DV
    Mutations.deleteWithDv(log, col("vec_id") === 3L)
    val fresh = DeltaLog.forPath(spark, log.tablePath)
    val queries = rows(0, 48).where(col("vec_id") === 0L)
    val viaIdx = PqIndex.search(fresh, queries, "vec_id", "embedding", 10, 4)
    assert(!viaIdx.select("neighbor_id").as[Long].collect().contains(3L),
      "a DV-deleted vector must not resurface as a neighbor")
    val (coarse, books) = PqIndex.quantizers(fresh, "vec_id", "embedding").get
    val direct = graft.operators.Pq.ivfPqTopK(
      fresh.snapshot.read(), queries, "vec_id", "embedding",
      coarse, books, 10, 4)
    assert(asSet(viaIdx) == asSet(direct))
  }

  test("quantization-drift gauge: a shifted ingest routes to a retraining rebuild") {
    // the appended vectors live far from every trained subspace
    // centroid (×10 scale), so their reconstruction error explodes
    // relative to the stored entries' — the gauge must notice
    def shifted() = (100L until 124L).map(i =>
      (i, (0 until 8).map(j =>
        (if (j % 2 == 0) 10.0 else -10.0) * (3.0 + (i + j) % 3))))
      .toDF("vec_id", "embedding")
    // FORCED incremental (infinite threshold): books kept, drifted
    // files coded under the ill-fitting frozen quantizers
    val forced = scratch()
    PqIndex.build(forced, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    val bForced = booksOf(forced)
    TransactionWriter.append(forced, shifted().repartition(2, col("vec_id")))
    PqIndex.refresh(DeltaLog.forPath(spark, forced.tablePath),
      "vec_id", "embedding", driftThreshold = Double.PositiveInfinity)
    assert(booksOf(forced) == bForced,
      "forced-incremental refresh must keep the quantizers")
    // DEFAULT gauge: the same ingest routes to a full rebuild — both
    // quantizers retrain and every file re-encodes at the new version
    val routed = scratch()
    PqIndex.build(routed, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    val bBefore = booksOf(routed)
    TransactionWriter.append(routed, shifted().repartition(2, col("vec_id")))
    val fresh = DeltaLog.forPath(spark, routed.tablePath)
    val v = PqIndex.refresh(fresh, "vec_id", "embedding")
    assert(booksOf(routed) != bBefore,
      "drift past the threshold must retrain the quantizers")
    val versions = PqIndex.entries(routed, "vec_id", "embedding").get
      .where(!col("file_path").isin("__coarse", "__books"))
      .select("version").distinct().collect().map(_.getLong(0)).toSet
    assert(versions == Set(v), s"rebuild must re-encode everything, got $versions")
    // rebuild keeps the original (kCoarse, m, k) shape
    val (coarse, books) = PqIndex.quantizers(routed, "vec_id", "embedding").get
    assert(coarse.size == 4 && books.map(_._1).distinct.size == 4 &&
      books.size == 4 * 8, "rebuild must preserve the quantizer shape")
    // and search through the retrained index still matches the operator
    val queries = rows(0, 4)
    val viaIdx = PqIndex.search(fresh, queries, "vec_id", "embedding", 3, 2)
    val direct = graft.operators.Pq.ivfPqTopK(
      fresh.snapshot.read(), queries, "vec_id", "embedding",
      coarse, books, 3, 2)
    assert(asSet(viaIdx) == asSet(direct))
  }

  test("a negative driftThreshold is refused, even by an idle refresh") {
    val log = scratch()
    PqIndex.build(log, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    val err = intercept[IllegalArgumentException] {
      PqIndex.refresh(DeltaLog.forPath(spark, log.tablePath),
        "vec_id", "embedding", driftThreshold = -1.0)
    }
    assert(err.getMessage.contains("driftThreshold"))
  }

  test("search without an index refuses loudly") {
    val log = scratch()
    val err = intercept[IllegalStateException] {
      PqIndex.search(log, rows(0, 4), "vec_id", "embedding", 3)
    }
    assert(err.getMessage.contains("CREATE IVFPQ INDEX"))
  }

  test("exact re-rank: full-C rerank equals brute force over the probed cells") {
    val log = scratch()
    PqIndex.build(log, "vec_id", "embedding", kCoarse = 4, m = 4, k = 8)
    val queries = rows(0, 48).where(col("vec_id") % 7 === 0)
    val rr = PqIndex.search(log, queries, "vec_id", "embedding",
      k = 3, nprobe = 2, rerankTopC = 1 << 20)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    // exact baseline: corpus cells from the index's own entries (full
    // DV-free coverage here), probe cells from the persisted coarse
    // book, TRUE squared L2 over raw vectors, same tie-breaks
    val (coarse, _) = PqIndex.quantizers(log, "vec_id", "embedding").get
    val cells = PqIndex.entries(log, "vec_id", "embedding").get
      .where(!col("file_path").isin("__coarse", "__books"))
      .select(col("vec_id").as("neighbor_id"), col("cell"))
    val corpus = log.snapshot.read()
      .select(col("vec_id").as("neighbor_id"),
        graft.operators.Pq.asDouble(col("embedding")).as("nv"))
      .join(cells, Seq("neighbor_id"))
    val probe = graft.operators.Pq.probeCells(
      queries, "vec_id", "embedding", coarse, nprobe = 2)
    val qv = queries.select(col("vec_id").as("query_id"),
      graft.operators.Pq.asDouble(col("embedding")).as("qv"))
    val exact = probe.join(qv, Seq("query_id"))
      .join(corpus, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.operators.Pq.l2sq(col("qv"), col("nv")), 4).as("dist"))
      .withColumn("rnk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("dist"), col("neighbor_id"))))
      .where(col("rnk") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(rr == exact,
      s"rerank diff: ${(rr diff exact).take(3)} / ${(exact diff rr).take(3)}")
  }
}
