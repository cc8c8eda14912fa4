package graft.tools

import graft.SparkEntry

/** Dump the formatted physical plan of every SparkEntry query to a
  * markdown file: `runMain graft.tools.ExplainAll [sfDir] [outFile]`.
  * The artifact is the plan-review evidence: pushdown, broadcast,
  * partial aggregation, exchange placement.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "docs/PLANS.md"
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical plans (sf0.01, AQE initial plans)\n\n")
    sb.append("Generated by `graft.tools.ExplainAll`. Things to check per plan:\n")
    sb.append("`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` for\n")
    sb.append("small sides, partial `HashAggregate` before every exchange.\n")
    // Standing annotations, re-emitted on every regeneration. The two
    // brute-force baselines are CORRECTNESS anchors, not scale paths —
    // each is named next to its green scale-shaped sibling so nobody
    // promotes an O(n²) plan by accident.
    val notes: Map[String, String] = Map(
      "q_embedding_knn" -> ("**BASELINE ONLY — not a scale path.** " +
        "BroadcastNestedLoopJoin is O(|corpus|·|queries|); correctness anchor " +
        "for the verified scale siblings `q_embedding_knn_lsh` (banded " +
        "sign-LSH top-k) and `q_embedding_ivf_knn` (IVF-Flat)."),
      "q_embedding_neardup" -> ("**BASELINE ONLY — not a scale path.** " +
        "Label-blocked all-pairs is O(n²/|labels|) with fixed label " +
        "cardinality; correctness anchor for the verified scale sibling " +
        "`q_embedding_lsh_neardup` (banded sign-LSH near-dup)."))
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
      val note = notes.get(name).map(n => s"$n\n\n").getOrElse("")
      sb.append(s"\n## $name\n\n$note```\n$plan```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
