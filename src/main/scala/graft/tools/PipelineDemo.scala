package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{MinHashLsh, Similarity}

/** End-to-end training-data pipeline demo over the synthetic corpus:
  * fingerprint → exact dedup → quality/lang annotate → MinHash-LSH
  * near-dup removal → embedding kNN.
  * `runMain graft.tools.PipelineDemo [sfDir]`
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val n0 = docs.count()

      val annotated = docs
        .withColumn("fingerprint", TextFunctions.fingerprint(col("text")))
        .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
        .withColumn("quality_e6", TextFunctions.qualityScoreE6(col("text")))
        .withColumn("lang_pred", TextFunctions.langIdHeuristic(col("text")))
      val exact = annotated.dropDuplicates("fingerprint")
      val n1 = exact.count()

      val nearPairs = MinHashLsh.nearDupPairs(docs, "doc_id", "text", 0.5)
      val deduped = MinHashLsh.dedup(exact, "doc_id", "text")
      val n2 = deduped.count()

      val quality = deduped.where(col("quality_e6") >= 500000L)
      val n3 = quality.count()

      println(s"corpus         : $n0 docs")
      println(s"after exact    : $n1 (${n0 - n1} exact dups)")
      println(s"near-dup pairs : ${nearPairs.count()} (jaccard>=0.5 via LSH)")
      println(s"after lsh dedup: $n2")
      println(s"quality>=0.5   : $n3")
      annotated.select("doc_id", "lang_pred", "n_tokens", "quality_e6")
        .orderBy("doc_id").show(5)

      // asymmetric containment: a deterministic 80%-prefix derivation
      // of one doc must pair with its source at containment 1.0 while
      // the symmetric Jaccard verify misses it at the same threshold
      val base = docs.orderBy("doc_id").limit(5)
        .select(col("doc_id"), col("text"))
      val incl = base.select((col("doc_id") + 9000000L).as("doc_id"),
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.slice(
            org.apache.spark.sql.functions.split(col("text"), " "),
            org.apache.spark.sql.functions.lit(1),
            org.apache.spark.sql.functions.greatest(
              org.apache.spark.sql.functions.lit(1),
              org.apache.spark.sql.functions.floor(
                (org.apache.spark.sql.functions.size(
                  org.apache.spark.sql.functions.split(col("text"), " ")) * 4)
                  / org.apache.spark.sql.functions.lit(5)).cast("int"))),
          " ").as("text"))
      val contained = MinHashLsh.containmentPairs(
        base.select("doc_id", "text").unionByName(incl),
        "doc_id", "text", threshold = 0.95)
      // bottom-k anchor candidates make TRUE subsets deterministic:
      // all five prefix derivations must pair (pre-r13, the
      // Jaccard-banded stage alone caught them with ~80% probability
      // per pair)
      val nContained = contained.count()
      require(nContained >= 5L,
        s"containmentPairs must catch all five 80%-prefix inclusions, got $nContained")
      println(s"containment    : $nContained/5 prefix inclusions caught at >=0.95")

      // EXTREME size skew (the r13 completion): a 5%-prefix doc has
      // Jaccard < 0.1 against its source — a j⁴ band never fires — but
      // the anchor scheme pairs it deterministically
      val tiny = base.select((col("doc_id") + 9500000L).as("doc_id"),
        org.apache.spark.sql.functions.array_join(
          org.apache.spark.sql.functions.slice(
            org.apache.spark.sql.functions.split(col("text"), " "),
            org.apache.spark.sql.functions.lit(1),
            org.apache.spark.sql.functions.greatest(
              org.apache.spark.sql.functions.lit(4),
              org.apache.spark.sql.functions.floor(
                (org.apache.spark.sql.functions.size(
                  org.apache.spark.sql.functions.split(col("text"), " ")) * 5)
                  / org.apache.spark.sql.functions.lit(100)).cast("int"))),
          " ").as("text"))
      val skewPairs = MinHashLsh.containmentPairs(
        base.select("doc_id", "text").unionByName(tiny),
        "doc_id", "text", threshold = 0.9)
        .where(col("id_b") >= 9500000L)
      val nSkew = skewPairs.count()
      require(nSkew >= 5L,
        s"extreme-skew inclusions must be caught deterministically, got $nSkew")
      println(s"extreme skew   : $nSkew/5 5%-prefix inclusions caught at >=0.9")

      // incremental form: screen a batch of derived docs against the
      // corpus as the PRIOR side (what the LSH sidecar serves at scale)
      val crossPairs = MinHashLsh.containmentAgainstCorpus(
        tiny, base.select("doc_id", "text"), "doc_id", "text", threshold = 0.9)
      val nCross = crossPairs.count()
      require(nCross >= 5L,
        s"containmentAgainstCorpus must find the cross inclusions, got $nCross")
      println(s"cross screen   : $nCross batch-vs-corpus inclusions at >=0.9")

      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val knn = Similarity.bruteForceTopK(
        emb, emb.where(col("vec_id") % 100 === 0), "vec_id", "embedding", 3)
      println("kNN sample:")
      knn.orderBy("query_id", "rnk").show(6)
    } finally spark.stop()
  }
}
