package graft
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** The local SparkSession every graft entry point (Bench, Verify and
  * the `graft.tools` mains) starts from, so they all run on one conf. */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, or 4 when unset. */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** The session conf for `cpus` local cores. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // Older testdata wrote events.ts as TIMESTAMP(NANOS), which Spark 4
    // rejects unless read as raw nanos longs; a no-op for µs files.
    // Queries pick their accessor from the actual read schema.
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.locality.wait" -> "0",
    "spark.ui.enabled" -> "false",
    // The default whole-stage-codegen compile cache (100 entries)
    // thrashes under a 177-query suite: most stages re-Janino-compile
    // INSIDE their first task while the stage's other tasks block on
    // the cache entry — measured ~400 ms per task at ~20-40% CPU,
    // uniformly, and q_containment_indexed's warm executor time dropped
    // 93 s → 42 s when the cache fits. Static conf, JVM-wide; a
    // production driver running a query catalog wants the same.
    "spark.sql.codegen.cache.maxEntries" -> "10000")

  /** Get or create the session for `cpus` local cores, log level WARN.
    * `extensions` injects SQL extensions (e.g. [[GraftExtensions]]). */
  def local(cpus: Int = defaultCpus,
      extensions: SparkSessionExtensions => Unit = _ => ()): SparkSession = {
    val spark = SparkSession.builder().config(conf(cpus))
      .withExtensions(extensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
