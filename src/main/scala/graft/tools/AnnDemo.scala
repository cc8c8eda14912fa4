package graft.tools

import org.apache.spark.sql.functions._

/** Self-checking drive of the whole ANN family on the real embeddings
  * table: `runMain graft.tools.AnnDemo [sfDir]`.
  *
  * Computes the EXACT squared-L2 top-3 for a sampled query set on the
  * driver (corpus is testdata-sized), then runs the three quantized
  * pipelines that share that metric — PQ full-ADC, IVF-PQ, IVF-SQ —
  * and reports recall@3 of each. Asserts structural invariants (k
  * rows per query, self excluded, integer SQ distances) and a recall
  * floor, so a silent ranking regression fails the run instead of
  * printing plausible nonsense. */
object AnnDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local()
    try {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.where(col("vec_id") % 25 === 0)

      // exact squared-L2 top-3 on the driver (testdata-sized corpus);
      // the collect also supplies the corpus/query counts — no extra
      // count() jobs
      val all = emb.select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      val qs = all.filter(_._1 % 25 == 0)
      println(s"== corpus ${all.length} vectors, ${qs.length} queries ==")
      def l2sq(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val exact: Map[Long, Set[Long]] = qs.map { case (qid, qv) =>
        qid -> all.filter(_._1 != qid)
          .map { case (id, v) => (l2sq(qv, v), id) }
          .sortBy { case (d, id) => (d, id) }.take(3).map(_._2).toSet
      }.toMap

      def recallOf(name: String,
          rows: Array[(Long, Long)], floor: Double): Unit = {
        val byQ = rows.groupBy(_._1)
        require(byQ.keySet == exact.keySet,
          s"$name: missing queries ${exact.keySet -- byQ.keySet}")
        require(byQ.values.forall(_.length == 3),
          s"$name: expected 3 rows per query")
        require(rows.forall { case (q, n) => q != n },
          s"$name: a query returned itself")
        val hits = byQ.map { case (q, ns) =>
          ns.map(_._2).count(exact(q)) }.sum
        val recall = hits.toDouble / (3 * exact.size)
        println(f"$name%-12s recall@3 = $recall%.3f")
        require(recall >= floor, f"$name recall $recall%.3f below floor $floor")
      }

      import graft.operators.{Pq, Sq}
      val Seq(coarse, books) = Pq.trainCodebooksMulti(emb,
        "vec_id", "embedding", Seq((1, 8), (4, 16)), iterations = 2)

      val adc = Pq.adcTopK(Pq.encode(emb, "vec_id", "embedding", books),
          queries, "vec_id", "embedding", books, kNeighbors = 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      recallOf("PQ full-ADC", adc, 0.05) // random embeddings: no cluster structure; chance is ~0.006

      val ivfpq = Pq.ivfPqTopK(emb, queries, "vec_id", "embedding",
          coarse, books, kNeighbors = 3, nprobe = 8) // all cells: ADC parity
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      recallOf("IVF-PQ", ivfpq, 0.05)

      val (mns, mxs) = Sq.trainBounds(emb, "embedding")
      val sqDf = Sq.ivfSqTopK(emb, queries, "vec_id", "embedding",
        coarse, mns, mxs, kNeighbors = 3, nprobe = 8)
      require(sqDf.schema("idist").dataType ==
        org.apache.spark.sql.types.LongType, "SQ distances must be int64")
      val sq = sqDf.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // SQ8 at full probe is near-exact: 256 steps/dim loses little
      recallOf("IVF-SQ", sq, 0.60)

      // round-13: OPQ-surrogate permutation — on a corpus whose
      // variance concentrates in dims 0..15 (exact binary scalings),
      // the variance-balanced permutation must STRICTLY beat plain PQ
      // recall at equal (m, k); the drive check behind
      // q_embedding_opq_knn
      val skew = emb.select(col("vec_id"),
        expr("transform(embedding, (x, i) -> x * " +
          "(CASE WHEN i < 16 THEN 4.0D ELSE 0.25D END))").as("embedding"))
        .localCheckpoint()
      val skewAll = all.map { case (id, v) =>
        id -> v.zipWithIndex.map { case (x, i) =>
          if (i < 16) x * 4.0 else x * 0.25 }
      }
      val skewExact: Map[Long, Set[Long]] =
        skewAll.filter(_._1 % 25 == 0).map { case (qid, qv) =>
          qid -> skewAll.filter(_._1 != qid)
            .map { case (id, v) => (l2sq(qv, v), id) }
            .sortBy { case (d, id) => (d, id) }.take(3).map(_._2).toSet
        }.toMap
      def skewRecall(rows: Array[(Long, Long)]): Double = {
        val byQ = rows.groupBy(_._1)
        byQ.map { case (q, ns) => ns.map(_._2).count(skewExact(q)) }
          .sum.toDouble / (3 * skewExact.size)
      }
      val plainBooks = Pq.trainCodebooks(skew, "vec_id", "embedding",
        m = 4, k = 16, iterations = 2)
      val rPlain = skewRecall(
        Pq.adcTopK(Pq.encode(skew, "vec_id", "embedding", plainBooks),
          skew.where(col("vec_id") % 25 === 0),
          "vec_id", "embedding", plainBooks, kNeighbors = 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      val perm = Pq.trainPermutation(skew, "embedding", m = 4)
      val permuted = skew.select(col("vec_id"),
        Pq.permute(col("embedding"), perm).as("embedding")).localCheckpoint()
      val opqBooks = Pq.trainCodebooks(permuted, "vec_id", "embedding",
        m = 4, k = 16, iterations = 2)
      val rOpq = skewRecall(
        Pq.adcTopK(Pq.encode(permuted, "vec_id", "embedding", opqBooks),
          permuted.where(col("vec_id") % 25 === 0),
          "vec_id", "embedding", opqBooks, kNeighbors = 3)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      println(f"OPQ perm     recall@3 = $rOpq%.3f vs plain $rPlain%.3f (skewed corpus)")
      require(rOpq > rPlain,
        f"OPQ $rOpq%.3f must beat plain PQ $rPlain%.3f on the skewed corpus")

      // round-10: the PERSISTED IVF index — incremental ANN-index
      // maintenance drive: build on a scratch Delta corpus, append new
      // vectors, refresh (only the new files are assigned under the
      // unchanged quantizer), then search THROUGH the index and
      // require row-parity with the operator path on the same
      // centroids (the gold equivalence, stronger than a recall floor)
      val dir = java.nio.file.Files.createTempDirectory("graft_anndemo_")
        .resolve("t").toString
      val log = graft.delta.DeltaLog.forPath(spark, dir)
      graft.delta.TransactionWriter.overwrite(log,
        emb.where(col("vec_id") % 10 =!= 0).select("vec_id", "embedding")
          .repartition(4, col("vec_id")))
      graft.delta.IvfIndex.build(log, "vec_id", "embedding", k = 16)
      graft.delta.TransactionWriter.append(log,
        emb.where(col("vec_id") % 10 === 0).select("vec_id", "embedding"))
      val fresh = graft.delta.DeltaLog.forPath(spark, dir)
      graft.delta.IvfIndex.refresh(fresh, "vec_id", "embedding")
      val viaIdx = graft.delta.IvfIndex.search(
          fresh, queries, "vec_id", "embedding", 3, 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val direct = graft.operators.Similarity.ivfTopK(
          fresh.snapshot.read(), queries,
          graft.delta.IvfIndex.centroids(fresh, "vec_id", "embedding").get,
          "vec_id", "embedding", k = 3, nprobe = 2)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      require(viaIdx.toSet == direct.toSet && viaIdx.nonEmpty,
        "indexed IVF search diverged from the operator path")
      recallOf("IVF-index", viaIdx, 0.05)

      // round-10: the PERSISTED IVF-PQ index — same lifecycle, but the
      // sidecar stores (cell, codes) instead of raw vectors, so the
      // at-rest entry is m+1 small ints; search must row-match the
      // ivfPqTopK operator under the sidecar's own quantizers, and the
      // data entries must prove the economics (codes, null vec)
      graft.delta.PqIndex.build(log, "vec_id", "embedding",
        kCoarse = 8, m = 4, k = 16)
      graft.delta.PqIndex.refresh(fresh, "vec_id", "embedding")
      val idxRows = graft.delta.PqIndex.entries(fresh, "vec_id", "embedding").get
      require(idxRows.where(!col("file_path").isin("__coarse", "__books"))
        .where(size(col("codes")) =!= 4 || col("vec").isNotNull).isEmpty,
        "IVF-PQ entries must store exactly m codes and no vector payload")
      val (pqCoarse, pqBooks) = graft.delta.PqIndex
        .quantizers(fresh, "vec_id", "embedding").get
      val viaPqIdx = graft.delta.PqIndex.search(
          fresh, queries, "vec_id", "embedding", 3, 8) // all cells: ADC parity
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val directPq = graft.operators.Pq.ivfPqTopK(
          fresh.snapshot.read(), queries, "vec_id", "embedding",
          pqCoarse, pqBooks, kNeighbors = 3, nprobe = 8)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      require(viaPqIdx.toSet == directPq.toSet && viaPqIdx.nonEmpty,
        "indexed IVF-PQ search diverged from the operator path")
      recallOf("IVFPQ-index", viaPqIdx, 0.05)

      // round-13: ROTATED IVF-PQ index on the skewed corpus — the
      // persisted permutation must beat the unrotated index's recall
      // at equal (kCoarse, m, k), searched entirely through sidecars
      val skewDir = java.nio.file.Files
        .createTempDirectory("graft_anndemo_opq_").resolve("t").toString
      def buildAndRecall(rotate: Boolean): Double = {
        val d = s"${skewDir}_${if (rotate) "rot" else "flat"}"
        val l = graft.delta.DeltaLog.forPath(spark, d)
        graft.delta.TransactionWriter.overwrite(l,
          skew.repartition(4, col("vec_id")))
        graft.delta.PqIndex.build(l, "vec_id", "embedding",
          kCoarse = 8, m = 4, k = 16, rotate = rotate)
        require(graft.delta.PqIndex.permutation(l, "vec_id", "embedding")
          .nonEmpty == rotate, s"rotate=$rotate perm-marker mismatch")
        skewRecall(graft.delta.PqIndex.search(l,
            skew.where(col("vec_id") % 25 === 0), "vec_id", "embedding",
            k = 3, nprobe = 8)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      }
      val rFlatIdx = buildAndRecall(rotate = false)
      val rRotIdx = buildAndRecall(rotate = true)
      println(f"OPQ index    recall@3 = $rRotIdx%.3f vs flat $rFlatIdx%.3f (skewed corpus)")
      require(rRotIdx > rFlatIdx,
        f"rotated index $rRotIdx%.3f must beat unrotated $rFlatIdx%.3f")

      println("AnnDemo: all recall floors and invariants held")
    } finally spark.stop()
  }
}
