package graft.tools

import org.apache.spark.sql.functions._

/** Self-checking drive of the graph-kernel family on the real
  * supplier co-occurrence graph: `runMain graft.tools.GraphDemo [sfDir]`.
  *
  * Builds the ≥5-shared-orders supplier graph from lineitem, then:
  * ConnectedComponents (component labels must be closed under the edge
  * relation and equal each component's minimum id), PageRank (two
  * independent runs must agree EXACTLY — the fixed-point arithmetic
  * claim — and total mass must stay within the flooring envelope),
  * Triangles (per-node counts must sum to 3× the triangle total AND
  * match a driver-side brute count over the full testdata-sized
  * graph). */
object GraphDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local()
    try {
      val si = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_suppkey").distinct()
      val edges = si.as("x").join(si.as("y"),
          col("x.l_orderkey") === col("y.l_orderkey") &&
            col("x.l_suppkey") < col("y.l_suppkey"))
        .groupBy(col("x.l_suppkey").as("a"), col("y.l_suppkey").as("b"))
        .agg(count(lit(1)).as("n"))
        .where(col("n") >= 5)
        .select("a", "b")
        // five downstream actions (CC, 2× PageRank, triangles, the
        // brute check) each replay the self-join otherwise
        .persist()
      val edgeList = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      println(s"== supplier graph: ${nodes.length} nodes, ${edgeList.length} edges ==")

      // -- connected components: labels closed under edges, label = min id --
      val comp = graft.operators.ConnectedComponents
        .components(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      require(edgeList.forall { case (a, b) => comp(a) == comp(b) },
        "an edge crosses two components")
      val byComp = comp.groupBy(_._2).view.mapValues(_.keys.min).toMap
      require(byComp.forall { case (label, minId) => label == minId },
        s"component label is not the member minimum: $byComp")
      println(s"components: ${byComp.size} (labels are member minima)")

      // -- pagerank: exact determinism + flooring-envelope mass --
      def run() = graft.operators.PageRank.pageRank(edges
          .select(col("a").as("src"), col("b").as("dst"))
          .unionByName(edges.select(col("b").as("src"), col("a").as("dst"))),
          "src", "dst", iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (r1, r2) = (run(), run())
      require(r1 == r2, "PageRank is not bit-deterministic across runs")
      val mass = r1.values.sum
      val n = r1.size.toLong
      // each round floors at most 1 per contribution per node + the
      // damping division: mass stays in (n·base, n·scale]
      require(mass <= n * 1000000L && mass > n * 150000L,
        s"total mass $mass outside the flooring envelope for $n nodes")
      val top = r1.maxBy { case (id, s) => (s, -id) }
      println(s"pagerank: n=$n totalMass=$mass top=(node ${top._1}, ${top._2})")

      // -- triangles: 3x identity + driver-side brute equality --
      val tri = graft.operators.Triangles.perNode(edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val adj = edgeList.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
        .toMap.withDefaultValue(Set.empty[Long])
      val brute = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      for ((a, b) <- edgeList; c <- adj(b) if adj(a)(c)) {
        brute(a) += 1; brute(b) += 1; brute(c) += 1
      }
      require(tri == brute.toMap,
        s"distributed per-node counts diverge from the brute count " +
          s"(distributed ${tri.size} nodes, brute ${brute.size})")
      val total = tri.values.sum
      require(total % 3 == 0, s"per-node sum $total is not divisible by 3")
      println(s"triangles: ${total / 3} total, ${tri.size} participating nodes")

      // -- k-core: fixpoint peel vs driver-side brute peel --
      val kk = 30
      val kcore = graft.operators.KCore.core(edges, "a", "b", kk)
        .collect().map(_.getLong(0)).toSet
      val sym = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      for ((a, b) <- edgeList) { sym(a) += b; sym(b) += a }
      var aliveB = nodes.toSet
      var changed = true
      while (changed) {
        val next = aliveB.filter(n => (sym(n) & aliveB).size >= kk)
        changed = next != aliveB
        aliveB = next
      }
      require(kcore == aliveB,
        s"distributed $kk-core (${kcore.size}) diverges from brute (${aliveB.size})")
      println(s"kcore(k=$kk): ${kcore.size} nodes (brute-verified)")

      println("GraphDemo: all invariants held")
      edges.unpersist()
    } finally spark.stop()
  }
}
