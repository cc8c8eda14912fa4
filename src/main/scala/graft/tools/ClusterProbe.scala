package graft.tools

import org.apache.spark.sql.functions._

/** Incremental-clustering economics probe: at growing base sizes,
  * cluster fully, append a fixed 10% delta, and time the INCREMENTAL
  * pass against a FULL re-cluster of the same post-append table. The
  * claim under test is the 100 TB OPTIMIZE story — the incremental
  * cost must track the DELTA (stay ~flat as the base grows) while the
  * full pass tracks the TABLE; the probe also re-verifies that old
  * files keep their add entries and content is preserved at every
  * size. Self-checking: exits non-zero if the invariants fail. */
object ClusterProbe {
  def main(args: Array[String]): Unit = {
    val maxFactor = if (args.nonEmpty) args(0).toInt else 8
    val spark = graft.GraftSession.local()
    import graft.delta.{DeltaLog, Maintenance, TransactionWriter}
    def t[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    var failures = 0
    var factor = 1
    while (factor <= maxFactor) {
      val n = 200000L * factor
      val delta = n / 10
      val dir = java.nio.file.Files.createTempDirectory("graft_cprobe_")
        .resolve("t").toString
      val log = DeltaLog.forPath(spark, dir)
      def rows(from: Long, until: Long) =
        spark.range(from, until).select(
          (col("id") % 4096L).as("a"),
          ((col("id") * 2654435761L) % 4096L).as("b"),
          col("id"))
      TransactionWriter.overwrite(log,
        rows(0, n).repartition(32, expr("hash(id)")))
      val (_, tFull0) = t(Maintenance.hilbertCluster(log, Seq("a", "b"),
        targetFileBytes = 4L * 1024 * 1024))
      val clustered = DeltaLog.forPath(spark, dir).snapshot
        .planFiles().map(_.path).toSet
      TransactionWriter.append(log,
        rows(n, n + delta).repartition(4, expr("hash(id)")))
      // bytes ADDED by a commit = what that pass physically rewrote —
      // the scale metric that stays honest when local wall-clock is
      // fixed-overhead-bound (at 100 TB the rewrite IO is the cost)
      def addedBytes(v: Long): Long = log.commitActions(v).collect {
        case graft.delta.AddAction(a) => a.size }.sum
      val (vIncr, tIncr) = t(Maintenance.clusterIncremental(log,
        Seq("a", "b"), "hilbert", targetFileBytes = 4L * 1024 * 1024))
      val incrBytes = addedBytes(vIncr)
      val snap = DeltaLog.forPath(spark, dir).snapshot
      // the gauge the pass persisted: in-bounds appends must read 0.0
      // (any nonzero here would mean the probe data or the gauge lies)
      val drift = graft.delta.Domains
        .get(snap, Maintenance.ClusterStateDomain)
        .map(s => graft.delta.JsonUtil.mapper.readTree(s)
          .path("drift").asDouble()).getOrElse(-1.0)
      val kept = clustered.subsetOf(snap.planFiles().map(_.path).toSet)
      val total = n + delta
      val sumOk = snap.read().agg(count(lit(1)), sum("id")).head() ==
        org.apache.spark.sql.Row(total, total * (total - 1) / 2)
      // a FULL pass over the same post-append table, for the ratio
      val (vFull1, tFull1) = t(Maintenance.hilbertCluster(log, Seq("a", "b"),
        targetFileBytes = 4L * 1024 * 1024))
      val fullBytes = addedBytes(vFull1)
      println(f"[clusterprobe] rows=$n%9d delta=$delta%8d " +
        f"full0=$tFull0%6.2f s incr=$tIncr%6.2f s full1=$tFull1%6.2f s " +
        f"incrMB=${incrBytes / 1e6}%7.2f fullMB=${fullBytes / 1e6}%7.2f " +
        f"ioRatio=${fullBytes.toDouble / math.max(incrBytes, 1)}%5.1fx " +
        f"drift=$drift%4.2f oldKept=$kept content=$sumOk")
      if (!kept || !sumOk || incrBytes * 5 > fullBytes || drift != 0.0)
        failures += 1
      factor *= 2
    }
    println(if (failures == 0) "CLUSTER PROBE PASSED" else s"$failures FAILED")
    if (failures > 0) sys.exit(1)
  }
}
