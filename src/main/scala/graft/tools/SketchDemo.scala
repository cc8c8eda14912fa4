package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.Sketches

/** Self-checking drive surface for the sketch-profiling family
  * (Sketches.scala): Count-Min heavy hitters, HyperLogLog distinct,
  * range-partition boundaries — each run against the corpus testdata
  * and checked against its exact counterpart, which is the accuracy
  * contract a 100 TB deployment relies on (where the exact counterpart
  * is the thing you can no longer afford).
  *
  * `runMain graft.tools.SketchDemo [sfDir]`
  */
object SketchDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local()

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val grams = docs.select(explode(
      graft.functions.TextFunctions.wordNgrams(col("text"), 3)).as("tk"))

    // --- Count-Min: estimates vs exact for the true top grams --------------
    val sketch = Sketches.cmsSketch(grams, col("tk"), depth = 4, width = 2048)
    val exactTop = grams.groupBy("tk").count()
      .orderBy(col("count").desc, col("tk")).limit(10)
    val est = Sketches.cmsEstimate(exactTop.select("tk"), sketch, 4, 2048)
      .withColumnRenamed("key", "tk")
    val cmp = exactTop.join(est, "tk")
      .orderBy(col("count").desc).collect()
    println("CMS top-10 grams (exact vs sketch estimate):")
    cmp.foreach(r => println(f"  ${r.getString(0)}%-30s exact=${r.getLong(1)}%6d est=${r.getLong(2)}%6d"))
    val under = cmp.count(r => r.getLong(2) < r.getLong(1))
    require(under == 0, s"CMS undercounted $under keys — impossible by construction")

    // --- HyperLogLog: estimate vs exact distinct ---------------------------
    val hll = Sketches.hllSummary(grams, col("tk"), b = 10).collect().head
    val exactDistinct = grams.select("tk").distinct().count()
    val estD = hll.getLong(3)
    val errPct = math.abs(estD - exactDistinct).toDouble / exactDistinct * 100
    println(f"HLL: est=$estD exact=$exactDistinct err=$errPct%.2f%% " +
      s"(zero_buckets=${hll.getLong(1)})")
    require(errPct < 10.0, s"HLL error $errPct% exceeds 10%")

    // --- Range bounds: census balance --------------------------------------
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val rb = Sketches.rangeBounds(orders, "o_orderkey", "o_totalprice",
      buckets = 16, rate = 0.25).orderBy("bucket").collect()
    val total = orders.count()
    val censusSum = rb.map(_.getLong(3)).sum
    val maxBucket = rb.map(_.getLong(3)).max
    println(f"Range bounds: 16 buckets over $total rows; census sums to " +
      f"$censusSum; largest bucket $maxBucket (${maxBucket * 100.0 / total}%.1f%% " +
      f"vs ideal ${100.0 / 16}%.1f%%)")
    require(censusSum == total, "bucket census lost rows")
    require(maxBucket < total / 4, "sampled boundaries produced extreme skew")

    // --- Bottom-k quantile sketch: estimate vs exact percentile ------------
    val qdocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("source"), col("doc_id"), col("n_chars").cast("long").as("v"))
    val qsk = Sketches.quantileSketch(qdocs, Seq("source"), "doc_id", "v", k = 64)
    val p50 = Sketches.quantileFromSketch(qsk, Seq("source"), "doc_id", "v",
        Seq(50)).select("source", "value").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println("Quantile sketch p50 per source (true percentile of the estimate):")
    p50.toSeq.sortBy(_._1).foreach { case (src, est) =>
      val grp = qdocs.where(col("source") === src)
      val pct = grp.where(col("v") <= est).count().toDouble /
        grp.count().toDouble * 100
      println(f"  $src%-12s est=$est%6d sits at true pct $pct%.1f")
      require(pct > 30 && pct < 70,
        f"sketch p50 for $src at true pct $pct%.1f — outside [30, 70]")
    }

    println("SketchDemo: all checks passed")
    spark.stop()
  }
}
