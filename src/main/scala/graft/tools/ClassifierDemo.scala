package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{Classifier, SkewJoin}

/** Self-checking demo of the model-based curation family: NB source
  * classifier (held-out confusion + accuracy), hashing-trick features,
  * PMI co-occurrence, vocabulary export + re-encoding, and the
  * skew-salted join proven equal to the plain join.
  * `runMain graft.tools.ClassifierDemo [sfDir]`
  */
object ClassifierDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.local()
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")

      // hash-based split: the synthetic source is a function of doc_id,
      // so a modulo split would put whole classes exclusively in test
      val isTest = graft.functions.TextFunctions
        .hash28(col("doc_id").cast("string")) % 5 === 0
      val cm = Classifier.naiveBayesConfusion(
        docs.where(!isTest), docs.where(isTest),
        "source", "doc_id", "text").cache()
      val total = cm.agg(sum("n_docs")).first().getLong(0)
      val correct = cm.where(col("label") === col("predicted"))
        .agg(coalesce(sum("n_docs"), lit(0L))).first().getLong(0)
      println(f"[nb] held-out docs=$total correct=$correct " +
        f"accuracy=${100.0 * correct / total}%.1f%%")
      assert(total > 0, "no held-out docs scored")

      val feats = Classifier.hashedFeatures(docs, "doc_id", "text", 1024)
      println(s"[hash] nonzero features=${feats.count()} " +
        s"buckets=${feats.select("bucket").distinct().count()}")

      val pmi = Classifier.pmiCooccurrence(docs, "text", 2, 5L)
      println("[pmi] top-5 pairs by pmi_e6:")
      pmi.orderBy(col("pmi_e6").desc, col("w1"), col("w2")).limit(5)
        .collect().foreach(r => println(s"  ${r.mkString(" ")}"))

      val vocab = Classifier.vocabIndex(docs, "text").cache()
      val enc = Classifier.encodeTokens(docs, "doc_id", "text", vocab)
      val vSize = vocab.count()
      val idBound = enc.select(max(expr("array_max(token_ids)"))).first().getLong(0)
      println(s"[vocab] size=$vSize max_id=$idBound encoded_docs=${enc.count()}")
      assert(idBound == vSize - 1, s"ids not dense: max $idBound vs V=$vSize")

      val probe = docs.select(col("doc_id"), col("source"), col("n_chars"))
      val build = docs.groupBy("source").agg(count(lit(1)).as("src_docs"))
      val saltedCount = SkewJoin.saltedJoin(probe, build, "source", "doc_id", 8).count()
      val plainCount = probe.join(build, "source").count()
      println(s"[salt] salted=$saltedCount plain=$plainCount")
      assert(saltedCount == plainCount, "salted join diverged from plain join")

      println("[classifier-demo] OK")
    } finally spark.stop()
  }
}
